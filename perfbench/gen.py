"""Seeded input generator for the eight tables graft's TpchGraph manifest
reads: region, nation, customer, supplier, part, orders, lineitem, events,
with the column names and parquet types of the TPC-H-shaped test data
(int32 small keys, int64 keys, doubles, strings, naive microsecond
timestamps).

Every value is a pure function of (seed, column salt, row key) through
splitmix64, so the same seed writes the same rows and another seed other
rows. Row counts follow the sf0.1 shape scaled by `sf`: 15 000 customers,
1 000 suppliers, 20 000 parts, 150 000 orders with 1 to 7 lines each
(about 600 000) and 100 000 events at sf 0.1.

`zipf` draws the foreign keys o_custkey, l_partkey and user_id from a
bounded power law (exponent ZIPF_S) over a seed-permuted key order, so a
few customers and parts are hot; `uniform` draws them evenly.

    python3 perfbench/gen.py --selfcheck    # determinism self-check
"""
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]
BATCH_TABLES = ["customer", "orders", "lineitem"]
ZIPF_S = 0.7
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH_1992 = 694224000  # 1992-01-01T00:00:00Z
EPOCH_2024 = 1704067200
PERMUTE = 2147483647  # prime above every key range: rank -> key is a bijection
_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def sizes(sf):
    def n(at_sf01, lo):
        return max(lo, round(at_sf01 * sf * 10))
    return {"customers": n(15000, 20), "suppliers": n(1000, 5), "parts": n(20000, 20),
            "orders": n(150000, 50), "users": n(10000, 10), "events": n(100000, 50)}


def _splitmix(x):
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & _M64
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _M64
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _M64
    return x ^ (x >> np.uint64(31))


def u(seed, salt, keys):
    """Uniform doubles in [0, 1), one per key."""
    tag = int.from_bytes(hashlib.sha256(f"{seed}/{salt}".encode()).digest()[:8], "little")
    with np.errstate(over="ignore"):
        h = _splitmix(np.asarray(keys, dtype=np.int64).astype(np.uint64) ^ np.uint64(tag))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def uniform_key(seed, salt, keys, n):
    return np.minimum((u(seed, salt, keys) * n).astype(np.int64), n - 1)


def key(dist, seed, salt, keys, n):
    """Key in [0, n) drawn by `dist`; Zipf inverts the CDF of x^-s on [1, n+1)."""
    if dist == "uniform":
        return uniform_key(seed, salt, keys, n)
    a = 1.0 - ZIPF_S
    x = (1.0 + u(seed, salt, keys) * ((n + 1.0) ** a - 1.0)) ** (1.0 / a)
    rank = np.clip(np.floor(x).astype(np.int64) - 1, 0, n - 1)
    return (rank * PERMUTE + (seed * 7919) % n) % n


def pick(seed, salt, keys, xs):
    return np.asarray(xs, dtype=object)[uniform_key(seed, salt, keys, len(xs))]


def money(seed, salt, keys, lo, hi):
    return np.round(lo + u(seed, salt, keys) * (hi - lo), 2)


def ts(seconds):
    return pa.array(np.asarray(seconds, dtype=np.int64) * 1_000_000, pa.timestamp("us"))


def region():
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})


def nation():
    k = np.arange(25)
    return pa.table({"n_nationkey": pa.array(k, pa.int32()),
                     "n_name": [f"NATION_{i}" for i in k],
                     "n_regionkey": pa.array(k % 5, pa.int32())})


def customers(seed, keys, salt=""):
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(uniform_key(seed, "c_nation", keys, 25), pa.int32()),
        "c_acctbal": money(seed, "c_bal" + salt, keys, -999.99, 9999.99),
        "c_mktsegment": pick(seed, "c_seg" + salt, keys, SEGMENTS)})


def supplier(seed, n):
    k = np.arange(n)
    return pa.table({
        "s_suppkey": pa.array(k, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": pa.array(uniform_key(seed, "s_nation", k, 25), pa.int32()),
        "s_acctbal": money(seed, "s_bal", k, -999.99, 9999.99)})


def part(seed, n):
    k = np.arange(n)
    names = [f"{a} {b}" for a, b in zip(
        pick(seed, "p_n1", k, ["small", "red", "large", "blue", "steel"]),
        pick(seed, "p_n2", k, ["ring", "widget", "bolt", "gear", "valve"]))]
    return pa.table({
        "p_partkey": pa.array(k, pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{b + 1}" for b in uniform_key(seed, "p_brand", k, 25)],
        "p_type": pick(seed, "p_type", k, ["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"]),
        "p_size": pa.array(uniform_key(seed, "p_size", k, 50) + 1, pa.int32()),
        "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 2)})


def orders(seed, dist, n_cust, keys, salt=""):
    keys = np.asarray(keys, dtype=np.int64)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(key(dist, seed, "o_cust", keys, n_cust), pa.int64()),
        "o_orderstatus": pick(seed, "o_status" + salt, keys, STATUSES),
        "o_totalprice": money(seed, "o_price" + salt, keys, 1000.0, 500000.0),
        "o_orderdate": ts(EPOCH_1992 + uniform_key(seed, "o_date", keys, 2400) * 86400),
        "o_orderpriority": pick(seed, "o_prio", keys, PRIORITIES)})


def lineitems(seed, dist, s, order_keys, salt=""):
    ok = np.asarray(order_keys, dtype=np.int64)
    n_lines = uniform_key(seed, "l_n", ok, 7) + 1
    lo = np.repeat(ok, n_lines)
    ln = np.concatenate([np.arange(1, c + 1) for c in n_lines]) if len(ok) else np.array([], np.int64)
    lid = lo * 8 + ln
    pk = key(dist, seed, "l_part", lid, s["parts"])
    qty = (uniform_key(seed, "l_qty" + salt, lid, 50) + 1).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(lo, pa.int64()),
        "l_partkey": pa.array(pk, pa.int64()),
        "l_suppkey": pa.array(uniform_key(seed, "l_supp", lid, s["suppliers"]), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (pk % 1000) / 10.0), 2),
        "l_discount": uniform_key(seed, "l_disc", lid, 11) / 100.0,
        "l_tax": uniform_key(seed, "l_tax", lid, 9) / 100.0,
        "l_returnflag": pick(seed, "l_rf", lid, ["A", "N", "R"]),
        "l_linestatus": pick(seed, "l_ls", lid, ["F", "O"]),
        "l_shipdate": ts(EPOCH_1992 + uniform_key(seed, "l_ship", lid, 2500) * 86400)})


def events(seed, dist, s):
    k = np.arange(s["events"])
    return pa.table({
        "event_id": pa.array(k, pa.int64()),
        "ts": ts(EPOCH_2024 + k * 7 + uniform_key(seed, "e_ts", k, 7)),
        "user_id": pa.array(key(dist, seed, "e_user", k, s["users"]), pa.int64()),
        "event_type": pick(seed, "e_type", k, ["click", "view", "purchase", "error"]),
        "value": money(seed, "e_value", k, 0.0, 100.0),
        "props": [f'{{"k": {v}}}' for v in uniform_key(seed, "e_k", k, 100)]})


def _write(dir_, name, table):
    os.makedirs(f"{dir_}/{name}.parquet", exist_ok=True)
    pq.write_table(table, f"{dir_}/{name}.parquet/part-0.parquet")


def write_base(dir_, seed, dist, sf):
    """Write the eight tables under dir_ as <table>.parquet/ directories."""
    s = sizes(sf)
    tables = {
        "region": region(), "nation": nation(),
        "customer": customers(seed, np.arange(s["customers"])),
        "supplier": supplier(seed, s["suppliers"]), "part": part(seed, s["parts"]),
        "orders": orders(seed, dist, s["customers"], np.arange(s["orders"])),
        "lineitem": lineitems(seed, dist, s, np.arange(s["orders"])),
        "events": events(seed, dist, s)}
    for name, t in tables.items():
        _write(dir_, name, t)
    return s


def _update_keys(seed, b, m, n):
    """m distinct existing keys in [0, n) for batch b (1000003 is prime)."""
    off = (seed * 31 + b * 104729) % n
    return (off + np.arange(min(m, n)) * 1000003) % n


def write_batch(dir_, seed, dist, s, b, m, probes):
    """Incremental batch b (1-based): m customer and 10·m order keys, half
    updating existing keys with new payload values and half new keys past
    every earlier batch; the touched orders bring their lineitems, so an
    updated order gains lines with new quantities."""
    half = max(1, m // 2)
    salt = f"_b{b}"
    ck = np.concatenate([_update_keys(seed, b, half, s["customers"]),
                         s["customers"] + np.arange((b - 1) * half, b * half)])
    oh = half * 10
    okeys = np.concatenate([_update_keys(seed + 1, b, oh, s["orders"]),
                            s["orders"] + np.arange((b - 1) * oh, b * oh)])
    _write(dir_, "customer", customers(seed, ck, salt))
    _write(dir_, "orders", orders(seed, dist, s["customers"], okeys, salt))
    _write(dir_, "lineitem", lineitems(seed, dist, s, okeys, salt))
    # `probes` updated and `probes` new keys of each, for the reads after the batch
    p = min(probes, half)
    return {"customer": [int(k) for k in (*ck[:p], *ck[half:half + p])],
            "orders": [int(k) for k in (*okeys[:p], *okeys[oh:oh + p])]}


def parquet_bytes(dir_, tables):
    total = 0
    for t in tables:
        for d, _, files in os.walk(f"{dir_}/{t}.parquet"):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    return total


def digests(dir_):
    """Per-table sha256 of the table's rows (Arrow IPC stream)."""
    out = {}
    for t in TABLES:
        sink = pa.BufferOutputStream()
        table = pq.read_table(f"{dir_}/{t}.parquet")
        with pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table)
        out[t] = hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()
    return out


def selfcheck(tmp):
    """Same seed → identical per-table digests; another seed → different
    digests for every table that draws from the seed (region and nation are
    fixed tables)."""
    ok = True
    for dist in ("uniform", "zipf"):
        d = []
        for i, seed in enumerate((7, 7, 8)):
            write_base(f"{tmp}/{dist}{i}", seed, dist, 0.002)
            d.append(digests(f"{tmp}/{dist}{i}"))
        same = d[0] == d[1]
        other = all(d[0][t] != d[2][t] for t in TABLES if t not in ("region", "nation"))
        print(f"{'ok  ' if same else 'FAIL'} gen.{dist}.same_seed_same_digests")
        print(f"{'ok  ' if other else 'FAIL'} gen.{dist}.other_seed_other_digests")
        ok = ok and same and other
    return ok


if __name__ == "__main__":
    import tempfile
    if sys.argv[1:] != ["--selfcheck"]:
        sys.exit(__doc__)
    with tempfile.TemporaryDirectory(dir=os.path.dirname(os.path.abspath(__file__))) as t:
        sys.exit(0 if selfcheck(t) else 1)
