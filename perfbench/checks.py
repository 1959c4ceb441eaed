"""Ground truth and correctness checks, in DuckDB over the generated input
alone (never through graft).

Truth = the base tables with the incremental batches applied last-wins per
identity; lineitems accumulate across batches, because edges are
insert-only. Results on both sides are compared in one canonical form: a
sorted list of `|`-joined lines, doubles printed with four decimals.
"""
import json
import os
import random
import re

import duckdb

FIELDS = {
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"],
    "part": ["p_partkey", "p_name", "p_brand", "p_size", "p_retailprice"],
}
STATUSES = ["F", "O", "P"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
SCAN_PRICE = 250000.0
SCAN_LIMIT = 50
MAX_ELEMENTS = 5000  # QueryCaps.Hard.maxElements: every chosen anchor's result fits
PR_SCALE = 10 ** 12  # GraphAlgos.pageRankFixed default scale
STORED_COLLECTIONS = [
    "region", "nation", "customer", "supplier", "part", "orders", "user", "event",
    "nation__in_region__region", "customer__in_nation__nation", "supplier__in_nation__nation",
    "orders__placed_by__customer", "orders__contains__part", "part__supplied_by__supplier",
    "event__by_user__user"]

# One block of the closed-loop query mix: node 50 %, agg 20 %, and one
# each of 1-hop, 2-hop and traverse (10 % each). Blocks alternate hot and
# cold neighbor anchors; a traverse walks 1 hop from one hot and two cold
# customers.
BLOCK = ["node"] * 5 + ["agg"] * 2 + ["nbr1", "nbr2", "traverse"]


def fmt(v):
    if v is None:
        return "null"
    if isinstance(v, float):
        return f"{v:.4f}"
    return str(v)


def line(row):
    return "|".join(fmt(v) for v in row)


class Truth:
    def __init__(self, base, batches):
        self.con = duckdb.connect()
        self.batches = batches

        def pq(d, t):
            return f"read_parquet('{d}/{t}.parquet/*.parquet')"

        for t, k in (("customer", "c_custkey"), ("orders", "o_orderkey")):
            parts = [f"SELECT *, 0 AS _b FROM {pq(base, t)}"] + [
                f"SELECT *, {i + 1} AS _b FROM {pq(d, t)}" for i, d in enumerate(batches)]
            self.con.execute(f"""CREATE VIEW t_{t} AS SELECT * EXCLUDE (_b, _rk) FROM (
                SELECT *, row_number() OVER (PARTITION BY {k} ORDER BY _b DESC) AS _rk
                FROM ({' UNION ALL '.join(parts)})) WHERE _rk = 1""")
        self.con.execute("CREATE VIEW t_lineitem AS " + " UNION ALL ".join(
            f"SELECT * FROM {pq(d, 'lineitem')}" for d in [base] + batches))
        for t in ("region", "nation", "supplier", "part", "events"):
            self.con.execute(f"CREATE VIEW t_{t} AS SELECT * FROM {pq(base, t)}")
        for t in ("customer", "orders", "events"):
            self.con.execute(f"CREATE VIEW b_{t} AS SELECT * FROM {pq(base, t)}")

    def rows(self, q):
        return self.con.execute(q).fetchall()

    def lines(self, q):
        return sorted(line(r) for r in self.rows(q))

    # -------------------------------------------------------------- ingest

    def collection_counts(self):
        """Distinct identities per stored collection, edges by declared identity."""
        q = {
            "region": "count(DISTINCT r_regionkey) FROM t_region",
            "nation": "count(DISTINCT n_nationkey) FROM t_nation",
            "customer": "count(DISTINCT c_custkey) FROM t_customer",
            "supplier": "count(DISTINCT s_suppkey) FROM t_supplier",
            "part": "count(DISTINCT p_partkey) FROM t_part",
            "orders": "count(DISTINCT o_orderkey) FROM t_orders",
            "user": "count(DISTINCT user_id) FROM t_events",
            "event": "count(DISTINCT event_id) FROM t_events",
            "nation__in_region__region": "count(DISTINCT (n_nationkey, n_regionkey)) FROM t_nation",
            "customer__in_nation__nation": "count(DISTINCT (c_custkey, c_nationkey)) FROM t_customer",
            "supplier__in_nation__nation": "count(DISTINCT (s_suppkey, s_nationkey)) FROM t_supplier",
            "orders__placed_by__customer": "count(DISTINCT (o_orderkey, o_custkey)) FROM t_orders",
            # contains is deduplicated on (source, target, l_quantity, l_extendedprice)
            "orders__contains__part": "count(DISTINCT (l_orderkey, l_partkey, l_quantity, "
                                      "l_extendedprice)) FROM t_lineitem",
            "part__supplied_by__supplier": "count(DISTINCT (l_partkey, l_suppkey)) FROM t_lineitem",
            "event__by_user__user": "count(DISTINCT (event_id, user_id)) FROM t_events",
        }
        assert sorted(q) == sorted(STORED_COLLECTIONS)
        return {k: self.rows("SELECT " + v)[0][0] for k, v in q.items()}

    def bulk_documents(self):
        """Documents per vertex type in the bulk load: its distinct identities
        in the base input (the pipeline merges duplicate observations)."""
        q = {"region": ("r_regionkey", "t_region"), "nation": ("n_nationkey", "t_nation"),
             "customer": ("c_custkey", "b_customer"), "supplier": ("s_suppkey", "t_supplier"),
             "part": ("p_partkey", "t_part"), "orders": ("o_orderkey", "b_orders"),
             "event": ("event_id", "b_events"), "user": ("user_id", "b_events")}
        return {k: self.rows(f"SELECT count(DISTINCT {c}) FROM {t}")[0][0] for k, (c, t) in q.items()}

    def batch_rows(self, b, vertex, key):
        f = FIELDS[vertex]
        d = self.batches[b - 1]
        return self.lines(f"SELECT {', '.join(f)} FROM read_parquet('{d}/{vertex}.parquet/*.parquet') "
                          f"WHERE {f[0]} = {key}")

    # -------------------------------------------------------------- queries

    def customer_sizes(self):
        """customer → max(elements of its 2-hop result, edge budget it uses)."""
        return {c: max(2 * n_o + n_l + n_p, 2 * n_o + n_l) for c, n_o, n_l, n_p in self.rows(
            """SELECT o.o_custkey, count(DISTINCT o.o_orderkey),
                 count(DISTINCT (l.l_orderkey, l.l_partkey, l.l_quantity, l.l_extendedprice)),
                 count(DISTINCT l.l_partkey)
               FROM t_orders o LEFT JOIN t_lineitem l ON l.l_orderkey = o.o_orderkey
               GROUP BY 1""")}

    def part_sizes(self):
        """part → elements of its 1-hop result."""
        return dict(self.rows(
            """SELECT l_partkey, count(DISTINCT (l_orderkey, l_quantity, l_extendedprice))
                 + count(DISTINCT l_orderkey) + 2 * count(DISTINCT l_suppkey)
               FROM t_lineitem GROUP BY 1"""))

    def expected(self, op):
        t = op["type"]
        if t == "node_by_id":
            f = FIELDS[op["vertex"]]
            return self.lines(f"SELECT {', '.join(f)} FROM t_{op['vertex']} WHERE {f[0]} = {op['key']}")
        if t == "node_scan":
            return self.lines(f"""SELECT {', '.join(FIELDS['orders'])} FROM t_orders
                WHERE o_orderstatus = '{op['status']}' AND o_totalprice > {op['min_price']}
                ORDER BY o_orderkey LIMIT {op['limit']}""")
        if t == "agg_count":
            return self.lines(f"SELECT {op['disc']}, count(*) FROM t_{op['vertex']} GROUP BY 1")
        if t == "agg_max":
            return self.lines(f"SELECT max({op['field']}) FROM t_{op['vertex']} "
                              f"WHERE {op['by']} = '{op['value']}'")
        if t == "nbr" and op["vertex"] == "customer" and op["hops"] == 2:
            return self.customer_hop2([op["key"]])
        if t == "nbr" and op["vertex"] == "part" and op["hops"] == 1:
            return self.part_hop1(op["key"])
        if t == "traverse":
            return self.customer_hop1(op["keys"])
        raise ValueError(f"no expectation for {op}")

    def customer_hop1(self, cs):
        """1 hop over every relation from the customers in cs."""
        ins = "(" + ", ".join(str(c) for c in cs) + ")"
        return sorted(
            self.lines(f"SELECT 'V orders', o_orderkey FROM t_orders WHERE o_custkey IN {ins}")
            + self.lines(f"SELECT DISTINCT 'V nation', c_nationkey FROM t_customer WHERE c_custkey IN {ins}")
            + self.lines(f"SELECT 'E orders__placed_by__customer', o_orderkey, o_custkey "
                         f"FROM t_orders WHERE o_custkey IN {ins}")
            + self.lines(f"SELECT 'E customer__in_nation__nation', c_custkey, c_nationkey "
                         f"FROM t_customer WHERE c_custkey IN {ins}"))

    def customer_hop2(self, cs):
        ins = "(" + ", ".join(str(c) for c in cs) + ")"
        orders = f"(SELECT o_orderkey FROM t_orders WHERE o_custkey IN {ins})"
        return sorted(
            self.lines(f"SELECT 'V orders', o_orderkey FROM t_orders WHERE o_custkey IN {ins}")
            + self.lines(f"SELECT DISTINCT 'V part', l_partkey FROM t_lineitem "
                         f"WHERE l_orderkey IN {orders}")
            + self.lines(f"SELECT 'E orders__placed_by__customer', o_orderkey, o_custkey "
                         f"FROM t_orders WHERE o_custkey IN {ins}")
            + self.lines(f"SELECT DISTINCT 'E orders__contains__part', l_orderkey, l_partkey, "
                         f"l_quantity, l_extendedprice FROM t_lineitem WHERE l_orderkey IN {orders}"))

    def part_hop1(self, p):
        return sorted(
            self.lines(f"SELECT DISTINCT 'V orders', l_orderkey FROM t_lineitem WHERE l_partkey = {p}")
            + self.lines(f"SELECT DISTINCT 'V supplier', l_suppkey FROM t_lineitem WHERE l_partkey = {p}")
            + self.lines(f"SELECT DISTINCT 'E orders__contains__part', l_orderkey, l_partkey, "
                         f"l_quantity, l_extendedprice FROM t_lineitem WHERE l_partkey = {p}")
            + self.lines(f"SELECT DISTINCT 'E part__supplied_by__supplier', l_partkey, l_suppkey "
                         f"FROM t_lineitem WHERE l_partkey = {p}"))


def store_counts(root):
    """Rows of each collection's current version, read from graft's store
    layout: <root>/{vertices,edges}/<name>/v<N>/ with N in `_CURRENT`."""
    out = {}
    for kind in ("vertices", "edges"):
        top = os.path.join(root, kind)
        for name in sorted(os.listdir(top)) if os.path.isdir(top) else []:
            with open(os.path.join(top, name, "_CURRENT")) as f:
                v = f.read().strip()
            out[name] = duckdb.sql(
                f"SELECT count(*) FROM read_parquet('{top}/{name}/v{v}/*.parquet')").fetchone()[0]
    return out


def anchors(sizes, rnd):
    """Hot: the four highest-degree anchors whose result fits the element
    cap. Cold: four seeded picks among anchors below the median degree."""
    fits = sorted(((n, k) for k, n in sizes.items() if n <= MAX_ELEMENTS), key=lambda x: (-x[0], x[1]))
    median = sorted(n for n, _ in fits)[len(fits) // 2]
    lows = sorted(k for n, k in fits if n < median)
    return [k for _, k in fits[:4]], rnd.sample(lows, min(4, len(lows)))


def query_sequence(truth, seed, sizes, n_blocks):
    """The seeded closed-loop sequence: n_blocks blocks of BLOCK's kinds,
    each in seeded order. Returns the calls and the hottest customer (the
    SSSP source)."""
    rnd = random.Random(seed)
    cs = truth.customer_sizes()
    hot_c, cold_c = anchors(cs, rnd)
    hot_p, cold_p = anchors(truth.part_sizes(), rnd)
    travs = [[h, cold_c[i % len(cold_c)], cold_c[(i + 1) % len(cold_c)]] for i, h in enumerate(hot_c)]
    travs = [t for t in travs if sum(cs[k] for k in t) <= MAX_ELEMENTS]
    keys = {"customer": sizes["customers"], "orders": sizes["orders"], "part": sizes["parts"]}
    counts = [("customer", "c_mktsegment"), ("orders", "o_orderstatus"),
              ("orders", "o_orderpriority"), ("part", "p_brand")]
    maxes = [("orders", "o_totalprice", "o_orderstatus", s) for s in STATUSES] + \
            [("customer", "c_acctbal", "c_mktsegment", s) for s in SEGMENTS]
    ops = []
    for b in range(n_blocks):
        hot = b % 2 == 0
        block = BLOCK[:]
        rnd.shuffle(block)
        nodes = iter(rnd.sample(["customer", "orders", "part", "scan", "scan"], 5))
        aggs = iter(["count", "max"])
        for kind in block:
            if kind == "node":
                v = next(nodes)
                if v == "scan":
                    op = {"type": "node_scan", "status": rnd.choice(STATUSES),
                          "min_price": SCAN_PRICE, "limit": SCAN_LIMIT}
                else:
                    op = {"type": "node_by_id", "vertex": v, "key": rnd.randrange(keys[v])}
            elif kind == "agg":
                if next(aggs) == "count":
                    v, d = rnd.choice(counts)
                    op = {"type": "agg_count", "vertex": v, "disc": d}
                else:
                    v, f, by, x = rnd.choice(maxes)
                    op = {"type": "agg_max", "vertex": v, "field": f, "by": by, "value": x}
            elif kind == "nbr1":
                op = {"type": "nbr", "vertex": "part", "key": rnd.choice(hot_p if hot else cold_p),
                      "hops": 1, "hot": hot}
            elif kind == "nbr2":
                op = {"type": "nbr", "vertex": "customer", "key": rnd.choice(hot_c if hot else cold_c),
                      "hops": 2, "hot": hot}
            else:
                op = {"type": "traverse", "keys": rnd.choice(travs)}
            op["kind"] = kind
            ops.append(op)
    return ops, f"customer/{hot_c[0]}"


def pagerank_mass_error(total, n, e, iterations):
    """PageRank keeps its mass up to integer floors: the first share loses
    under one unit per node, each round under one unit per node and edge
    plus one per node in the teleport share."""
    tol = n + iterations * (e + 2 * n)
    if PR_SCALE - tol <= total <= PR_SCALE:
        return None
    return f"PageRank mass {total}, want {PR_SCALE} within {tol}"


def oracle_pairs(oracle_dir):
    """(DuckDB oracle rows, graft rows) per algorithm, from the `*OracleSql`
    texts graft generates for its own algorithms."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE edges AS SELECT * FROM read_parquet('{oracle_dir}/edges.parquet/*.parquet')")
    with open(f"{oracle_dir}/oracle.json") as f:
        sqls = json.load(f)
    pairs = {}
    for name, sql in sorted(sqls.items()):
        # each round's CTE is read twice by the next one; materializing it
        # keeps DuckDB from re-deriving every round (same result)
        sql = re.sub(r"^(WITH )?(\w+) AS \(", r"\1\2 AS MATERIALIZED (", sql, flags=re.M)
        want = sorted(tuple(r) for r in con.execute(sql).fetchall())
        got = sorted(tuple(r) for r in con.execute(
            f"SELECT * FROM read_parquet('{oracle_dir}/{name}.parquet/*.parquet')").fetchall())
        pairs[name] = (want, got)
    con.close()
    return pairs


def oracle_mismatches(pairs):
    return [f"{name}: {len(got)} rows differ from the DuckDB oracle's {len(want)}"
            for name, (want, got) in pairs.items() if want != got]
