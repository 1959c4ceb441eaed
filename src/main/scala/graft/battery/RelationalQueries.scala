package graft
package battery

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.fixtures.TpchGraph

import BatteryFixtures._

/** Relational/SQL surface: multi-aggregates, grouping sets, windows, set
  * operations, join shapes and the TPC-H-shaped analytics rows.
  */
object RelationalQueries extends Family("relational") {

  val specs: Seq[QuerySpec] = Seq(

    // §2.7 aggregation surface: multi-agg pricing summary
    QuerySpec("q1_agg", { (s, d) =>
      t(s, d)("lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
        |round(sum(l_extendedprice),2) AS sum_price, round(avg(l_discount),4) AS avg_disc,
        |count(*) AS cnt FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin),

    // §2.7 extension: ROLLUP subtotals (free from Catalyst; the reference
    // has no grouping sets — SURVEY notes these as in-scope extensions)
    QuerySpec("q_rollup", { (s, d) =>
      t(s, d)("lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),

    // §2.7 extension: explicit GROUPING SETS (the general form rollup and
    // cube compile to) — Spark plans one Expand + one aggregate, not one
    // scan per set
    QuerySpec("q_grouping_sets", { (s, d) =>
      t(s, d)("orders").createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
          |  (o_orderstatus, o_orderpriority))
          |ORDER BY o_orderstatus ASC NULLS FIRST,
          |  o_orderpriority ASC NULLS FIRST""".stripMargin)
    },
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus),
        |  (o_orderpriority), (o_orderstatus, o_orderpriority))
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin),

    // §2.7 extension: CUBE over two dimensions
    QuerySpec("q_cube", { (s, d) =>
      t(s, d)("orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin),

    // §2.8 extension: ranked window (the reference has no SQL window
    // functions — row_number is its ambiguity-ordering idea generalized)
    QuerySpec("q_window_rank", { (s, d) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d)("orders")
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rk")
    },
      """SELECT o_custkey, CAST(row_number() OVER w AS BIGINT) AS rk,
        |o_orderkey, o_totalprice
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |QUALIFY row_number() OVER w <= 3
        |ORDER BY o_custkey, rk""".stripMargin),

    // §2.6 existence joins: semi
    QuerySpec("q_semi_join", { (s, d) =>
      val probe = t(s, d)("orders").select(col("o_custkey").as("c_custkey"))
      t(s, d)("customer").join(probe, Seq("c_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    // §2.6 existence joins: anti
    QuerySpec("q_anti_join", { (s, d) =>
      // probe = customers with RECENT orders; every customer has SOME
      // order in this data, so an unfiltered probe made the anti-join
      // vacuously empty (a weak artifact) without exercising anything
      val probe = t(s, d)("orders")
        .where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey").as("c_custkey"))
      t(s, d)("customer").join(probe, Seq("c_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= TIMESTAMP '2000-01-01')
        |ORDER BY c_custkey""".stripMargin),

    // §2.9 set ops: union of collections
    QuerySpec("q_union_set", { (s, d) =>
      t(s, d)("region").select(col("r_name").as("name"))
        .unionByName(t(s, d)("nation").select(col("n_name").as("name")))
        .orderBy("name")
    },
      """SELECT r_name AS name FROM region UNION ALL SELECT n_name FROM nation
        |ORDER BY name""".stripMargin),

    // §2.9 set-ops completeness: INTERSECT / EXCEPT (distinct semantics)
    QuerySpec("q_intersect_except", { (s, d) =>
      val lo = t(s, d)("orders").where(col("o_totalprice") < 50000)
        .select(col("o_custkey").as("ck"))
      val hi = t(s, d)("orders").where(col("o_totalprice") >= 150000)
        .select(col("o_custkey").as("ck"))
      lo.intersect(hi).withColumn("op", lit("both"))
        .unionByName(lo.except(hi).withColumn("op", lit("low_only")))
        .orderBy("op", "ck")
    },
      """WITH lo AS (SELECT o_custkey AS ck FROM orders WHERE o_totalprice < 50000),
        |hi AS (SELECT o_custkey AS ck FROM orders WHERE o_totalprice >= 150000)
        |SELECT ck, 'both' AS op FROM (SELECT ck FROM lo INTERSECT SELECT ck FROM hi)
        |UNION ALL
        |SELECT ck, 'low_only' FROM (SELECT ck FROM lo EXCEPT SELECT ck FROM hi)
        |ORDER BY op, ck""".stripMargin),

    // §2.7 analytic-window completeness: ntile / percent_rank /
    // cume_dist / lag / lead over one keyed partition
    QuerySpec("q_window_suite", { (s, d) =>
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      t(s, d)("customer").where(col("c_custkey") <= 200)
        .select(col("c_mktsegment"), col("c_custkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 4).as("pct_rank"),
          round(cume_dist().over(w), 4).as("cume"),
          lag(col("c_custkey"), 1).over(w).as("prev_key"),
          lead(col("c_custkey"), 1).over(w).as("next_key"))
        .orderBy("c_mktsegment", "c_custkey")
    },
      """SELECT c_mktsegment, c_custkey,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w, 4) AS pct_rank,
        |  round(cume_dist() OVER w, 4) AS cume,
        |  lag(c_custkey, 1) OVER w AS prev_key,
        |  lead(c_custkey, 1) OVER w AS next_key
        |FROM customer WHERE c_custkey <= 200
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_mktsegment, c_custkey""".stripMargin),

    // §2.4 native SQL PIVOT (the declarative face of dress pivot)
    QuerySpec("q_pivot_sql", { (s, d) =>
      t(s, d)("orders").createOrReplaceTempView("orders_pv")
      s.sql(
        """SELECT * FROM (SELECT o_orderpriority, o_orderstatus FROM orders_pv)
          |PIVOT (count(*) AS n FOR o_orderstatus IN ('O' AS o, 'F' AS f, 'P' AS p))
          |ORDER BY o_orderpriority""".stripMargin)
        // a status absent from some priority pivots to NULL; the oracle's
        // FILTER count yields 0 — align regardless of data density
        .select(col("o_orderpriority"),
          coalesce(col("o"), lit(0L)).cast("long").as("n_o"),
          coalesce(col("f"), lit(0L)).cast("long").as("n_f"),
          coalesce(col("p"), lit(0L)).cast("long").as("n_p"))
    },
      """SELECT o_orderpriority,
        |  CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_o,
        |  CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f,
        |  CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_p
        |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin),

    // extension: bucketized point-in-interval range join — equi-join on
    // fixed-width buckets + residual BETWEEN, not a nested loop
    QuerySpec("q_range_join", { (s, d) =>
      val epoch = lit("1970-01-01").cast("date")
      val iv = t(s, d)("orders").where(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"),
          datediff(col("o_orderdate").cast("date"), epoch).cast("long").as("s_day"))
        .withColumn("e_day", col("s_day") + col("o_orderkey") % 20)
      val pts = t(s, d)("lineitem").where(col("l_orderkey") % 97 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          datediff(col("l_shipdate").cast("date"), epoch).cast("long").as("p_day"))
      graft.ext.RangeJoin.pointInInterval(pts, iv, "p_day", "s_day", "e_day",
        bucketWidth = 32)
        .select("o_orderkey", "l_orderkey", "l_linenumber", "p_day")
        .orderBy("o_orderkey", "l_orderkey", "l_linenumber")
    },
      """WITH iv AS (SELECT o_orderkey,
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS s_day
        |  FROM orders WHERE o_orderkey % 100 = 0),
        |iv2 AS (SELECT o_orderkey, s_day, s_day + (o_orderkey % 20) AS e_day FROM iv),
        |pts AS (SELECT l_orderkey, l_linenumber,
        |    datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS p_day
        |  FROM lineitem WHERE l_orderkey % 97 = 0)
        |SELECT o_orderkey, l_orderkey, l_linenumber, p_day
        |FROM pts JOIN iv2 ON p_day BETWEEN s_day AND e_day
        |ORDER BY 1, 2, 3""".stripMargin),

    // extension: as-of (temporal) join — union + keyed forward-fill, no
    // range join; oracle is DuckDB's native ASOF JOIN
    QuerySpec("q_asof_join", { (s, d) =>
      val ev = TpchGraph.eventsTable(s, d)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"))
      val purchases0 = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("event_id").as("purchase_id"))
      // dedupe equal (user, ts) purchase rows so the as-of pick is unique
      val wDedup = Window.partitionBy("user_id", "pts").orderBy("purchase_id")
      val purchases = purchases0.withColumn("_rn", row_number().over(wDedup))
        .where(col("_rn") === 1).drop("_rn")
      graft.ext.AsOfJoin.asOf(clicks, purchases, Seq("user_id"), "ts", "pts")
        .select("user_id", "event_id", "purchase_id")
        .orderBy("user_id", "event_id")
    },
      """WITH ev AS (SELECT event_id, user_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts FROM events),
        |clicks AS (SELECT user_id, event_id, ts FROM ev WHERE event_type = 'click'),
        |p0 AS (SELECT user_id, ts AS pts, event_id AS purchase_id,
        |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
        |  FROM ev WHERE event_type = 'purchase'),
        |p AS (SELECT user_id, pts, purchase_id FROM p0 WHERE rn = 1)
        |SELECT c.user_id, c.event_id, p.purchase_id
        |FROM clicks c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts >= p.pts
        |ORDER BY 1, 2""".stripMargin),

    // extension: skew-salted join — result equals the plain equi-join (the
    // salt only re-shards the hot keys; the oracle is the unsalted join)
    QuerySpec("q_skew_join", { (s, d) =>
      graft.ext.SkewJoin.saltedJoin(
        t(s, d)("orders").select("o_orderkey", "o_custkey"),
        t(s, d)("customer").select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        Seq("o_custkey"), saltFactor = 8)
        .select("o_orderkey", "o_custkey", "c_mktsegment")
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_custkey, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin),

    // extension: rendezvous (HRW) shard routing — stable under
    // resharding, narrow argmax over md5 weights, no shuffle
    QuerySpec("q_rendezvous", { (s, d) =>
      import graft.ext.Layout
      t(s, d)("customer").select(col("c_custkey"),
        Layout.rendezvousShard(col("c_custkey"),
          Seq("shard-a", "shard-b", "shard-c", "shard-d")).as("shard"))
        .orderBy("c_custkey")
    },
      """WITH s AS (SELECT unnest(['shard-a','shard-b','shard-c','shard-d']) AS shard),
        |w AS (SELECT c_custkey, shard,
        |    md5(shard || ':' || c_custkey) AS w
        |  FROM customer, s)
        |SELECT c_custkey, shard FROM w
        |QUALIFY row_number() OVER (PARTITION BY c_custkey
        |  ORDER BY w DESC, shard DESC) = 1
        |ORDER BY c_custkey""".stripMargin),

    // flagship join-heavy aggregation (bench headline)
    QuerySpec("q_revenue_by_nation", { (s, d) =>
      val li = t(s, d)("lineitem"); val o = t(s, d)("orders")
      val c = t(s, d)("customer"); val n = t(s, d)("nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // extension: interval × interval overlap join (bucketed equi-join,
    // pair emitted only in the max-start bucket — no distinct pass)
    QuerySpec("q_interval_overlap", { (s, d) =>
      val ev = TpchGraph.eventsTable(s, d)
      def win(ty: String, pfx: String) = ev
        .where(col("event_type") === ty && col("user_id") < 30)
        .groupBy(col("user_id").as(s"${pfx}_user"))
        .agg(min(unix_micros(col("ts"))).as(s"${pfx}_s"),
          max(unix_micros(col("ts"))).as(s"${pfx}_e"))
      graft.ext.RangeJoin.intervalOverlap(
        win("click", "l"), win("purchase", "r"),
        "l_s", "l_e", "r_s", "r_e", bucketWidth = 86400L * 1000000L)
        .select(col("l_user"), col("r_user"),
          floor((least(col("l_e"), col("r_e")) -
            greatest(col("l_s"), col("r_s"))) / lit(1000000.0)).as("overlap_s"))
        .orderBy("l_user", "r_user")
    },
      """WITH cw AS (SELECT user_id AS l_user, min(epoch_us(ts)) AS l_s,
        |    max(epoch_us(ts)) AS l_e
        |  FROM events WHERE event_type = 'click' AND user_id < 30 GROUP BY 1),
        |pw AS (SELECT user_id AS r_user, min(epoch_us(ts)) AS r_s,
        |    max(epoch_us(ts)) AS r_e
        |  FROM events WHERE event_type = 'purchase' AND user_id < 30 GROUP BY 1)
        |SELECT l_user, r_user,
        |  CAST(floor((least(l_e, r_e) - greatest(l_s, r_s)) / 1000000.0) AS BIGINT)
        |    AS overlap_s
        |FROM cw JOIN pw ON l_s <= r_e AND r_s <= l_e
        |ORDER BY l_user, r_user""".stripMargin),

    // extension: point-in-time dimension lookup — each lineitem gets the
    // ordering customer's order status AS OF its ship date (backward
    // as-of against the per-(customer, day) latest-status stream)
    QuerySpec("q_pit_lookup", { (s, d) =>
      import graft.ext.AsOfJoin
      val ord = t(s, d)("orders").where(col("o_custkey") <= 50)
      val chg = ord.groupBy(col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("status_ts"))
        .agg(max(struct(col("o_orderkey"), col("o_orderstatus").as("v")))
          .getField("v").as("status_at_ship"))
      val facts = ord.select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, d)("lineitem"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), col("l_orderkey"), col("l_linenumber"),
          unix_micros(col("l_shipdate").cast("timestamp")).as("ship_us"))
      AsOfJoin.asOf(facts, chg, Seq("o_custkey"), "ship_us", "status_ts")
        .select(col("o_custkey"), col("l_orderkey"), col("l_linenumber"),
          col("status_at_ship"))
        .orderBy("o_custkey", "l_orderkey", "l_linenumber")
    },
      // DuckDB native ASOF JOIN replays the backward as-of lookup
      """WITH chg AS (SELECT o_custkey, epoch_us(o_orderdate) AS status_ts,
        |    arg_max(o_orderstatus, o_orderkey) AS status_at_ship
        |  FROM orders WHERE o_custkey <= 50 GROUP BY 1, 2),
        |facts AS (SELECT o.o_custkey, l.l_orderkey, l.l_linenumber,
        |    epoch_us(l.l_shipdate) AS ship_us
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_custkey <= 50)
        |SELECT f.o_custkey, f.l_orderkey, f.l_linenumber, c.status_at_ship
        |FROM facts f ASOF LEFT JOIN chg c
        |  ON f.o_custkey = c.o_custkey AND f.ship_us >= c.status_ts
        |ORDER BY f.o_custkey, f.l_orderkey, f.l_linenumber""".stripMargin),

    // extension: order-free table checksum (integrity fingerprint)
    QuerySpec("q_table_checksum", { (s, d) =>
      import graft.ext.Sketch
      Sketch.tableChecksum(
        t(s, d)("orders")
          .withColumn("o_totalprice", col("o_totalprice").cast("decimal(18,2)")),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
          "o_totalprice"))
    },
      // same md5-hex8 integer as the Spark conv(substring(md5, 1, 8)) path
      """WITH o AS (SELECT
        |    coalesce(CAST(o_orderkey AS VARCHAR), chr(2) || 'NULL') || chr(1) ||
        |    coalesce(CAST(o_custkey AS VARCHAR), chr(2) || 'NULL') || chr(1) ||
        |    coalesce(o_orderstatus, chr(2) || 'NULL') || chr(1) ||
        |    coalesce(o_orderpriority, chr(2) || 'NULL') || chr(1) ||
        |    coalesce(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
        |      chr(2) || 'NULL') AS canon
        |  FROM orders),
        |h AS (SELECT CAST(list_sum(list_transform(generate_series(1, 8),
        |    p -> (strpos('0123456789abcdef', substring(md5(canon), p, 1)) - 1)
        |         * CAST(power(16, 8 - p) AS BIGINT))) AS BIGINT) AS rh
        |  FROM o)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(rh) AS BIGINT) AS checksum FROM h""".stripMargin),

    // extension: trig-free planar proximity join — customers vs
    // suppliers at arithmetic pseudo-coordinates, grid-cell candidates
    QuerySpec("q_geo_join", { (s, d) =>
      val cust = t(s, d)("customer").select(col("c_custkey"),
        (col("c_nationkey") * 3 + (col("c_custkey") % 100) / lit(100.0))
          .as("lat"),
        (col("c_nationkey") * 7 + (col("c_custkey") % 53) / lit(53.0))
          .as("lon"))
      val supp = t(s, d)("supplier").select(col("s_suppkey"),
        (col("s_nationkey") * 3 + (col("s_suppkey") % 41) / lit(41.0))
          .as("slat"),
        (col("s_nationkey") * 7 + (col("s_suppkey") % 29) / lit(29.0))
          .as("slon"))
      graft.ext.Geo.proximityJoin(cust, supp, "lat", "lon", "slat", "slon",
        radiusMicroDeg = 250000L)
        .select(col("c_custkey"), col("s_suppkey"), col("dist_q"))
        .orderBy("c_custkey", "s_suppkey")
    },
      // brute-force replay of the grid join (the oracle may go quadratic;
      // the engine may not) — identical micro-degree quantization
      """WITH cust AS (SELECT c_custkey,
        |    CAST(round((c_nationkey * 3 + (c_custkey % 100) / 100.0) * 1000000,
        |      0) AS BIGINT) AS qlat,
        |    CAST(round((c_nationkey * 7 + (c_custkey % 53) / 53.0) * 1000000,
        |      0) AS BIGINT) AS qlon
        |  FROM customer),
        |supp AS (SELECT s_suppkey,
        |    CAST(round((s_nationkey * 3 + (s_suppkey % 41) / 41.0) * 1000000,
        |      0) AS BIGINT) AS qslat,
        |    CAST(round((s_nationkey * 7 + (s_suppkey % 29) / 29.0) * 1000000,
        |      0) AS BIGINT) AS qslon
        |  FROM supplier)
        |SELECT c_custkey, s_suppkey,
        |  (qlat - qslat) * (qlat - qslat) + (qlon - qslon) * (qlon - qslon)
        |    AS dist_q
        |FROM cust, supp
        |WHERE (qlat - qslat) * (qlat - qslat) + (qlon - qslon) * (qlon - qslon)
        |  <= CAST(250000 AS BIGINT) * 250000
        |ORDER BY c_custkey, s_suppkey""".stripMargin),

    // extension: per-user state-run compression (gaps-and-islands over
    // data rows — consecutive same-type events collapse to segments)
    QuerySpec("q_state_runs", { (s, d) =>
      graft.ext.Events.stateRuns(TpchGraph.eventsTable(s, d),
        "user_id", "ts", "event_type", "event_id")
        .select(col("user_id"), col("run"), col("state"),
          expr("unix_micros(run_start)").as("start_us"),
          expr("unix_micros(run_end)").as("end_us"), col("n_events"))
        .orderBy("user_id", "run")
    },
      """WITH base AS (SELECT user_id, event_id, event_type AS st,
        |    CAST(ts AS TIMESTAMP) AS ts FROM events),
        |chg AS (SELECT user_id, event_id, st, ts,
        |    CASE WHEN lag(st) OVER w IS NULL OR lag(st) OVER w <> st
        |      THEN 1 ELSE 0 END AS c
        |  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |runs AS (SELECT user_id, st, ts,
        |    sum(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS run
        |  FROM chg)
        |SELECT user_id, CAST(run AS BIGINT) AS run, min(st) AS state,
        |  CAST(epoch_us(min(ts)) AS BIGINT) AS start_us,
        |  CAST(epoch_us(max(ts)) AS BIGINT) AS end_us,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM runs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // extension: exact weighted median (quantity-weighted price center per
    // return flag) — cents and long weights, lower-median convention
    QuerySpec("q_weighted_median", { (s, d) =>
      graft.ext.Stats.weightedMedian(t(s, d)("lineitem"), "l_returnflag",
        "l_extendedprice", "l_quantity")
        .orderBy("l_returnflag")
    },
      """WITH base AS (SELECT l_returnflag AS g,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
        |    CAST(l_quantity AS BIGINT) AS w
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
        |mass AS (SELECT g, v, CAST(sum(w) AS BIGINT) AS m FROM base GROUP BY 1, 2),
        |tot AS (SELECT g, CAST(sum(m) AS BIGINT) AS t FROM mass GROUP BY 1),
        |cum AS (SELECT g, v, sum(m) OVER (PARTITION BY g ORDER BY v
        |  ROWS UNBOUNDED PRECEDING) AS c FROM mass),
        |sel AS (SELECT cum.g, cum.v, tot.t FROM cum JOIN tot ON cum.g = tot.g
        |  WHERE cum.c * 2 >= tot.t)
        |SELECT g AS l_returnflag, round(min(v) / 100.0, 2) AS weighted_median,
        |  CAST(min(t) AS BIGINT) AS total_weight
        |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin),

    // extension: deterministic mode per group (most frequent order
    // priority per market segment, ties to the smallest value)
    QuerySpec("q_mode", { (s, d) =>
      val o = t(s, d)("orders"); val c = t(s, d)("customer")
      graft.ext.Stats.modePerGroup(
        o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .select(col("c_mktsegment"), col("o_orderpriority")),
        "c_mktsegment", "o_orderpriority")
        .orderBy("c_mktsegment")
    },
      """WITH j AS (SELECT c_mktsegment AS g, o_orderpriority AS v
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_orderpriority IS NOT NULL),
        |counts AS (SELECT g, v, CAST(count(*) AS BIGINT) AS n FROM j GROUP BY 1, 2),
        |top AS (SELECT g, max(n) AS n FROM counts GROUP BY 1)
        |SELECT counts.g AS c_mktsegment, min(counts.v) AS mode,
        |  CAST(max(counts.n) AS BIGINT) AS n_mode
        |FROM counts JOIN top ON counts.g = top.g AND counts.n = top.n
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // classic large-volume-customer analytics (TPC-H Q18 shape): orders
    // whose total quantity clears a threshold, hydrated with the customer
    // dim via broadcast; HAVING-style post-aggregate filter then join-back
    QuerySpec("q_big_orders", { (s, d) =>
      val li = t(s, d)("lineitem"); val o = t(s, d)("orders")
      val c = t(s, d)("customer")
      val big = li.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("_q")).where(col("_q") > 300)
      o.join(big, o("o_orderkey") === big("l_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          col("o_totalprice"), round(col("_q"), 2).as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(20)
    },
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS q FROM lineitem
        |  GROUP BY 1 HAVING sum(l_quantity) > 300)
        |SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice,
        |  round(q, 2) AS total_qty
        |FROM orders JOIN big ON o_orderkey = big.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin),

    // extension: gaps-and-islands id-completeness probe — maximal missing
    // orderkey ranges in lineitem (orders that never shipped a line)
    QuerySpec("q_id_gaps", { (s, d) =>
      graft.ext.Quality.gapRanges(t(s, d)("lineitem"), "l_orderkey")
        .orderBy("gap_start")
    },
      """WITH ids AS (SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS i FROM lineitem
        |  WHERE l_orderkey IS NOT NULL),
        |mm AS (SELECT min(i) AS lo, max(i) AS hi FROM ids),
        |starts AS (SELECT a.i + 1 AS gs FROM ids a, mm
        |  WHERE NOT EXISTS (SELECT 1 FROM ids b WHERE b.i = a.i + 1)
        |    AND a.i + 1 <= mm.hi),
        |ends AS (SELECT a.i - 1 AS ge FROM ids a, mm
        |  WHERE NOT EXISTS (SELECT 1 FROM ids b WHERE b.i = a.i - 1)
        |    AND a.i - 1 >= mm.lo),
        |rs AS (SELECT gs, row_number() OVER (ORDER BY gs) AS k FROM starts),
        |re AS (SELECT ge, row_number() OVER (ORDER BY ge) AS k FROM ends)
        |SELECT rs.gs AS gap_start, re.ge AS gap_end,
        |  re.ge - rs.gs + 1 AS gap_len
        |FROM rs JOIN re ON rs.k = re.k ORDER BY gap_start""".stripMargin),

    // classic promo-share analytics (TPC-H Q14 shape): per ship month, the
    // revenue share of PROMO-type parts — broadcast dim join, conditional
    // aggregate, one divide over the rounded sums
    QuerySpec("q_promo_share", { (s, d) =>
      val li = t(s, d)("lineitem"); val p = t(s, d)("part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
        .agg(
          round(sum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1) - col("l_discount")))
            .otherwise(lit(0.0))), 2).as("promo_revenue"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("total_revenue"))
        .withColumn("promo_share",
          round(col("promo_revenue") / col("total_revenue"), 6))
        .orderBy("ship_month")
    },
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  round(sum(CASE WHEN p_type = 'PROMO'
        |    THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END), 2) AS promo_revenue,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue,
        |  round(round(sum(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END), 2) /
        |    round(sum(l_extendedprice * (1 - l_discount)), 2), 6) AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // TPC-H Q10 shape: top-20 customers by returned-item revenue — the
    // global top-k compiles to TakeOrderedAndProject (per-partition heaps,
    // never a full sort); customer/nation dims join after the aggregate
    QuerySpec("q_tpch_returned_topk", { (s, d) =>
      val rev = t(s, d)("lineitem").where(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("rev_c"))
        .join(t(s, d)("orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(sum("rev_c").as("revenue_cents"))
      rev.join(t(s, d)("customer").select("c_custkey", "c_name", "c_nationkey"),
          Seq("c_custkey"))
        .join(broadcast(t(s, d)("nation")
          .select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
          Seq("c_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          col("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("c_custkey")).limit(20)
    },
      """WITH rev AS (SELECT o.o_custkey AS c_custkey,
        |    sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
        |      AS BIGINT))::BIGINT AS revenue_cents
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  WHERE l.l_returnflag = 'R' GROUP BY 1)
        |SELECT r.c_custkey, c.c_name, n.n_name, r.revenue_cents
        |FROM rev r JOIN customer c ON c.c_custkey = r.c_custkey
        |JOIN nation n ON n.n_nationkey = c.c_nationkey
        |ORDER BY r.revenue_cents DESC, r.c_custkey LIMIT 20""".stripMargin),

    // TPC-H Q19 shape: revenue under an OR-of-ANDs compound predicate
    // (brand × quantity-band × size-band) — the disjunction stays inside
    // ONE broadcast-join filter pass, no unions
    QuerySpec("q_tpch_compound_pred", { (s, d) =>
      val li = t(s, d)("lineitem").select(col("l_partkey"),
        col("l_quantity"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long").as("rev_c"))
      val p = t(s, d)("part").select("p_partkey", "p_brand", "p_size")
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11)
            && col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20)
            && col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#34" && col("l_quantity").between(20, 30)
            && col("p_size").between(1, 15)))
        .agg(count(lit(1)).as("n_items"), sum("rev_c").as("revenue_cents"))
    },
      """SELECT count(*)::BIGINT AS n_items,
        |  sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
        |    AS BIGINT))::BIGINT AS revenue_cents
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#12' AND l.l_quantity BETWEEN 1 AND 11
        |    AND p.p_size BETWEEN 1 AND 5)
        |  OR (p.p_brand = 'Brand#23' AND l.l_quantity BETWEEN 10 AND 20
        |    AND p.p_size BETWEEN 1 AND 10)
        |  OR (p.p_brand = 'Brand#34' AND l.l_quantity BETWEEN 20 AND 30
        |    AND p.p_size BETWEEN 1 AND 15)""".stripMargin),

    // TPC-H Q7 shape: bilateral shipping volume between two nations by
    // year — fact joins customer+supplier dims (shuffle) and nation twice
    // (broadcast); the pair filter applies right after the dim joins
    QuerySpec("q_tpch_nation_volume", { (s, d) =>
      val li = t(s, d)("lineitem").select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("l_year"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long").as("rev_c"))
      val o = t(s, d)("orders").select("o_orderkey", "o_custkey")
      val c = t(s, d)("customer").select("c_custkey", "c_nationkey")
      val sup = t(s, d)("supplier").select("s_suppkey", "s_nationkey")
      val n = t(s, d)("nation").select("n_nationkey", "n_name")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n.select(col("n_nationkey").as("c_nationkey"),
          col("n_name").as("cust_nation"))), Seq("c_nationkey"))
        .join(broadcast(n.select(col("n_nationkey").as("s_nationkey"),
          col("n_name").as("supp_nation"))), Seq("s_nationkey"))
        .where(col("cust_nation").isin("NATION_1", "NATION_2", "NATION_3") &&
          col("supp_nation").isin("NATION_1", "NATION_2", "NATION_3") &&
          col("cust_nation") =!= col("supp_nation"))
        .groupBy("cust_nation", "supp_nation", "l_year")
        .agg(count(lit(1)).as("n_items"), sum("rev_c").as("revenue_cents"))
        .orderBy("cust_nation", "supp_nation", "l_year")
    },
      """SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
        |  year(l.l_shipdate)::INT AS l_year,
        |  count(*)::BIGINT AS n_items,
        |  sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
        |    AS BIGINT))::BIGINT AS revenue_cents
        |FROM lineitem l
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        |JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        |WHERE cn.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        |  AND sn.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        |  AND cn.n_name <> sn.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // TPC-H Q9 shape: product profit by supplier nation × year — profit =
    // discounted revenue − 60%-of-retail supply cost (the partsupp-free
    // adaptation); fact joins part (broadcast) + supplier + nation
    // (broadcast), exact cents end-to-end
    QuerySpec("q_tpch_profit", { (s, d) =>
      val li = t(s, d)("lineitem").select(col("l_partkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("o_year"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long").as("rev_c"), col("l_quantity"))
      val p = t(s, d)("part").select(col("p_partkey"), col("p_retailprice"))
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .withColumn("cost_c",
          round(col("l_quantity") * col("p_retailprice") * lit(0.6) * 100)
            .cast("long"))
        .join(t(s, d)("supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d)("nation")
          .select(col("n_nationkey").as("s_nationkey"), col("n_name"))),
          Seq("s_nationkey"))
        .groupBy(col("n_name").as("nation"), col("o_year"))
        .agg(sum(col("rev_c") - col("cost_c")).as("profit_cents"),
          count(lit(1)).as("n_items"))
        .orderBy("nation", "o_year")
    },
      """SELECT n.n_name AS nation, year(l.l_shipdate)::INT AS o_year,
        |  sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
        |        AS BIGINT)
        |    - CAST(round(l.l_quantity * p.p_retailprice * 0.6 * 100)
        |        AS BIGINT))::BIGINT AS profit_cents,
        |  count(*)::BIGINT AS n_items
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // TPC-H Q2 shape: cheapest supplier per part — exact integer unit
    // price (price_c·100 div q100), per-part struct-min argmin (ties to
    // the smallest suppkey), supplier dim joined AFTER the argmin
    QuerySpec("q_tpch_min_cost_supp", { (s, d) =>
      val unit = t(s, d)("lineitem").select(col("l_partkey"), col("l_suppkey"),
          round(col("l_extendedprice") * 100).cast("long").as("price_c"),
          round(col("l_quantity") * 100).cast("long").as("q100"))
        .where(col("q100") > 0)
        .withColumn("unit_c",
          ((col("price_c") * 100 - pmod(col("price_c") * 100, col("q100"))) /
            col("q100")).cast("long"))
      unit.groupBy("l_partkey")
        .agg(min(struct(col("unit_c"), col("l_suppkey"))).as("_m"))
        .select(col("l_partkey").as("p_partkey"),
          col("_m.l_suppkey").as("s_suppkey"),
          col("_m.unit_c").as("min_unit_cents"))
        .join(t(s, d)("supplier").select("s_suppkey", "s_name"),
          Seq("s_suppkey"))
        .orderBy("p_partkey").limit(50)
        .select("p_partkey", "s_suppkey", "s_name", "min_unit_cents")
    },
      """WITH unit AS (SELECT l_partkey, l_suppkey,
        |    (CAST(round(l_extendedprice * 100) AS BIGINT) * 100)
        |      // CAST(round(l_quantity * 100) AS BIGINT) AS unit_c
        |  FROM lineitem WHERE CAST(round(l_quantity * 100) AS BIGINT) > 0),
        |am AS (SELECT l_partkey AS p_partkey,
        |    min(struct_pack(unit_c := unit_c, sk := l_suppkey)) AS m
        |  FROM unit GROUP BY 1)
        |SELECT am.p_partkey, am.m.sk AS s_suppkey, s.s_name,
        |  am.m.unit_c AS min_unit_cents
        |FROM am JOIN supplier s ON s.s_suppkey = am.m.sk
        |ORDER BY am.p_partkey LIMIT 50""".stripMargin),

    // TPC-H Q16 shape: supplier diversity per brand/size band — distinct
    // supplier counting after a broadcast part join
    QuerySpec("q_tpch_supplier_cnt", { (s, d) =>
      t(s, d)("lineitem").select("l_partkey", "l_suppkey")
        .join(broadcast(t(s, d)("part")
          .select(col("p_partkey"), col("p_brand"),
            (col("p_size") - pmod(col("p_size"), lit(10))).as("size_band"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "size_band")
        .agg(count_distinct(col("l_suppkey")).as("n_suppliers"),
          count(lit(1)).as("n_items"))
        .orderBy("p_brand", "size_band")
    },
      """SELECT p.p_brand, (p.p_size - p.p_size % 10)::INT AS size_band,
        |  count(DISTINCT l.l_suppkey)::BIGINT AS n_suppliers,
        |  count(*)::BIGINT AS n_items
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // TPC-H Q21 shape: the sole late supplier — multi-supplier orders
    // where EXACTLY ONE supplier shipped > 60 days after the order date;
    // the correlated EXISTS/NOT-EXISTS pair becomes one per-(order,
    // supplier) aggregate + one per-order rollup, then a per-supplier
    // count (no correlated subqueries, two keyed aggregates)
    QuerySpec("q_tpch_sole_late", { (s, d) =>
      val perOS = t(s, d)("lineitem")
        .join(t(s, d)("orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max((col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 60 DAY")).cast("int"))
          .as("late"))
      val perO = perOS.groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_supp"), sum("late").as("n_late"))
      perOS.where(col("late") === 1)
        .join(perO.where(col("n_supp") > 1 && col("n_late") === 1),
          Seq("l_orderkey"))
        .groupBy(col("l_suppkey").as("s_suppkey"))
        .agg(count(lit(1)).as("n_waiting_orders"))
        .orderBy(col("n_waiting_orders").desc, col("s_suppkey")).limit(20)
    },
      """WITH pos AS (SELECT l.l_orderkey, l.l_suppkey,
        |    max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |      THEN 1 ELSE 0 END)::INT AS late
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2),
        |po AS (SELECT l_orderkey, count(*)::BIGINT AS n_supp,
        |    sum(late)::BIGINT AS n_late FROM pos GROUP BY 1)
        |SELECT pos.l_suppkey AS s_suppkey,
        |  count(*)::BIGINT AS n_waiting_orders
        |FROM pos JOIN po ON po.l_orderkey = pos.l_orderkey
        |WHERE pos.late = 1 AND po.n_supp > 1 AND po.n_late = 1
        |GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 20""".stripMargin),

    // TPC-H Q4 shape: late-shipment order-priority census — orders with
    // any lineitem shipped > 30 days after the order date, counted per
    // priority; the EXISTS becomes a conditioned left-semi join (one
    // shuffle on orderkey, no row duplication before the aggregate)
    QuerySpec("q_tpch_late_priority", { (s, d) =>
      val o = t(s, d)("orders")
      val li = t(s, d)("lineitem").select(col("l_orderkey"), col("l_shipdate"))
      o.join(li,
          o("o_orderkey") === li("l_orderkey") &&
            li("l_shipdate") > o("o_orderdate") + expr("INTERVAL 30 DAY"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_late_orders"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, count(*)::BIGINT AS n_late_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // TPC-H Q13 shape: customer order-count distribution — left join keeps
    // zero-order customers, two cascaded counting aggregates; the histogram
    // that powers "how engaged is the customer base"
    QuerySpec("q_tpch_cust_dist", { (s, d) =>
      t(s, d)("customer").select("c_custkey")
        .join(t(s, d)("orders").select("o_custkey", "o_orderkey"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("n_customers"))
        .orderBy(col("n_customers").desc, col("c_count").desc)
    },
      """SELECT c_count, count(*)::BIGINT AS n_customers FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
        |  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |  GROUP BY 1)
        |GROUP BY 1 ORDER BY 2 DESC, 1 DESC""".stripMargin),

    // TPC-H Q17 shape: small-quantity revenue — lineitems below 20% of
    // their part's average quantity; the per-part aggregate joins back on
    // the SAME key it grouped on, so Catalyst reuses the exchange (one
    // lineitem shuffle total); the avg comparison is the exact integer
    // cross-multiplication 5·q·n < Σq, no division
    QuerySpec("q_tpch_small_qty", { (s, d) =>
      val li = t(s, d)("lineitem").select(col("l_partkey"),
        round(col("l_quantity") * 100).cast("long").as("q100"),
        round(col("l_extendedprice") * 100).cast("long").as("price_c"))
      val byPart = li.groupBy("l_partkey")
        .agg(count(lit(1)).as("n"), sum("q100").as("sq"))
      li.join(byPart, Seq("l_partkey"))
        .where(col("q100") * lit(5L) * col("n") < col("sq"))
        .agg(count(lit(1)).as("n_small"), sum("price_c").as("revenue_cents"))
    },
      """WITH li AS (SELECT l_partkey,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS q100,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
        |  FROM lineitem),
        |a AS (SELECT l_partkey, count(*)::BIGINT AS n, sum(q100)::BIGINT AS sq
        |  FROM li GROUP BY 1)
        |SELECT count(*)::BIGINT AS n_small,
        |  sum(li.price_c)::BIGINT AS revenue_cents
        |FROM li JOIN a USING (l_partkey)
        |WHERE li.q100 * 5 * a.n < a.sq""".stripMargin),

    // TPC-H Q22 shape: well-funded idle customers — above the average
    // positive balance (1-row broadcast), no RECENT orders (anti join on
    // the distinct custkey set of orders since 2000; every customer has
    // SOME order in this data, so the window keeps the anti-join
    // non-vacuous); per-nation counts; the exact comparison is the
    // cross-multiplication bal·n > Σbal, no division
    QuerySpec("q_tpch_idle_cust", { (s, d) =>
      val cust = t(s, d)("customer").select(col("c_custkey"),
        col("c_nationkey"),
        round(col("c_acctbal") * 100).cast("long").as("bal_c"))
      val pos = cust.where(col("bal_c") > 0)
        .agg(count(lit(1)).as("n_pos"), sum("bal_c").as("sum_pos"))
      cust.join(t(s, d)("orders")
            .where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
            .select(col("o_custkey").as("c_custkey")).distinct(),
          Seq("c_custkey"), "left_anti")
        .crossJoin(broadcast(pos))
        .where(col("bal_c") * col("n_pos") > col("sum_pos"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_custs"), sum("bal_c").as("total_bal_cents"))
        .orderBy("c_nationkey")
    },
      """WITH cust AS (SELECT c_custkey, c_nationkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
        |  FROM customer),
        |p AS (SELECT count(*)::BIGINT AS n_pos, sum(bal_c)::BIGINT AS sum_pos
        |  FROM cust WHERE bal_c > 0)
        |SELECT c_nationkey, count(*)::BIGINT AS n_custs,
        |  sum(bal_c)::BIGINT AS total_bal_cents
        |FROM cust CROSS JOIN p
        |WHERE bal_c * n_pos > sum_pos
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = cust.c_custkey
        |      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // TPC-H Q15 shape: top supplier by 1996 revenue — per-supplier revenue
    // aggregate, 1-row broadcast max, equality filter, then the supplier
    // dim join; ties all surface (deterministic)
    QuerySpec("q_tpch_top_supplier", { (s, d) =>
      val rev = t(s, d)("lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_suppkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("rev_c"))
        .groupBy("l_suppkey").agg(sum("rev_c").as("total_rev_cents"))
      val mx = rev.agg(max("total_rev_cents").as("_mx"))
      rev.crossJoin(broadcast(mx))
        .where(col("total_rev_cents") === col("_mx"))
        .join(t(s, d)("supplier")
            .select(col("s_suppkey").as("l_suppkey"), col("s_name")),
          Seq("l_suppkey"))
        .select(col("l_suppkey").as("s_suppkey"), col("s_name"),
          col("total_rev_cents"))
        .orderBy("s_suppkey")
    },
      """WITH rev AS (SELECT l_suppkey,
        |    sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT))::BIGINT AS total_rev_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1),
        |mx AS (SELECT max(total_rev_cents) AS _mx FROM rev)
        |SELECT r.l_suppkey AS s_suppkey, s.s_name, r.total_rev_cents
        |FROM rev r CROSS JOIN mx
        |JOIN supplier s ON s.s_suppkey = r.l_suppkey
        |WHERE r.total_rev_cents = mx._mx
        |ORDER BY 1""".stripMargin)
  )
}
