package graft
package battery

import org.apache.spark.sql.functions._
import graft.fixtures.TpchGraph
import graft.graph.GraphAlgos

import BatteryFixtures._

/** Graph analytics: centrality, communities, paths, walks and structure
  * over the battery's property graphs.
  */
object GraphQueries extends Family("graph") {

  val specs: Seq[QuerySpec] = Seq(

    // extension: GraphFrames-shaped export — the de-facto public Spark
    // graph schema (one vertices(id, type) + one edges(src, dst, rel)
    // frame, global ids minted from per-type identities)
    QuerySpec("q_graphframes", { (s, d) =>
      import graft.graph.GraphOutput
      import graft.model.{EdgeDef, EdgeKey, GraphSchema, Identity, VertexDef}
      val schema = GraphSchema(
        vertices = Seq(
          VertexDef("cust", identity = Identity.Natural(Seq("c_custkey"))),
          VertexDef("nat", identity = Identity.Natural(Seq("n_nationkey")))),
        edges = Seq(EdgeDef("cust", "nat", "located-in")))
      val g = GraphOutput(
        Map("cust" -> t(s, d)("customer").select("c_custkey"),
          "nat" -> t(s, d)("nation").select("n_nationkey")),
        Map(EdgeKey("cust", "nat", "located-in") ->
          t(s, d)("customer").select(col("c_custkey").as("src_c_custkey"),
            col("c_nationkey").as("dst_n_nationkey"))))
      val (vs, es) = g.graphFrames(schema)
      vs.select(lit("v").as("kind"), col("id").as("a"),
        col("vertex_type").as("b"), lit("").as("c"))
        .unionByName(es.select(lit("e").as("kind"), col("src").as("a"),
          col("dst").as("b"), col("relationship").as("c")))
        .orderBy("kind", "a", "b")
    },
      """WITH v AS (
        |  SELECT 'v' AS kind, 'cust/' || c_custkey AS a, 'cust' AS b, '' AS c
        |  FROM customer
        |  UNION ALL
        |  SELECT 'v', 'nat/' || n_nationkey, 'nat', '' FROM nation),
        |e AS (SELECT 'e' AS kind, 'cust/' || c_custkey AS a,
        |    'nat/' || c_nationkey AS b, 'located-in' AS c
        |  FROM customer)
        |SELECT kind, a, b, c FROM (SELECT * FROM v UNION ALL SELECT * FROM e)
        |ORDER BY kind, a, b""".stripMargin),

    // extension: deterministic fixed-point PageRank (3 iterations) over
    // the supplier→part supply graph — integer micro-unit mass, so the
    // iterated rank is hash-comparable across engines (float PageRank
    // isn't: contribution sums round by accumulation order)
    QuerySpec("q_pagerank", { (s, d) =>
      import graft.graph.GraphAlgos
      GraphAlgos.pageRankFixed(supplierPartFwd(s, d), "src", "dst", iterations = 3)
        .orderBy(col("rank").desc, col("node")).limit(100)
    },
      // fixed-point PageRank: oracle generated by the same module as the
      // implementation (GraphAlgos.pageRankOracleSql) so they cannot drift
      (graft.graph.GraphAlgos.pageRankOracleSql(
        "SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM lineitem",
        iterations = 3) +
        "\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r3 ORDER BY rank DESC, node LIMIT 100")),

    // extension: personalized PageRank — teleport mass pinned to two
    // supplier seeds; ranks measure proximity to the seed set
    QuerySpec("q_ppr", { (s, d) =>
      import graft.graph.GraphAlgos
      GraphAlgos.personalizedPageRankFixed(supplierPartEdges(s, d), "src", "dst",
        seeds = Seq("s1", "s2"), iterations = 3)
        .orderBy(col("rank").desc, col("node")).limit(100)
    },
      (graft.graph.GraphAlgos.personalizedPageRankOracleSql(
        """SELECT DISTINCT src, dst FROM (
          |  SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM lineitem
          |  UNION ALL
          |  SELECT 'p' || l_partkey AS src, 's' || l_suppkey AS dst FROM lineitem)"""
          .stripMargin,
        seedsSql = "('s1', 's2')", nSeeds = 2, iterations = 3) +
        "\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r3 ORDER BY rank DESC, node LIMIT 100")),

    // extension: weighted single-source shortest paths — fixed-point
    // Bellman-Ford rounds over the bidirectional supplier↔part graph
    QuerySpec("q_sssp", { (s, d) =>
      import graft.graph.GraphAlgos
      val li = t(s, d)("lineitem")
      val fwd = li.select(concat(lit("s"), col("l_suppkey")).as("src"),
        concat(lit("p"), col("l_partkey")).as("dst"),
        col("l_linenumber").cast("long").as("w"))
      val rev = li.select(concat(lit("p"), col("l_partkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"),
        col("l_linenumber").cast("long").as("w"))
      GraphAlgos.shortestPathsFixed(fwd.unionByName(rev), "src", "dst", "w",
        source = "s1", maxHops = 3)
        .orderBy("node")
    },
      (graft.graph.GraphAlgos.shortestPathsOracleSql(
        """SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst,
          |  CAST(l_linenumber AS BIGINT) AS w FROM lineitem
          |UNION ALL
          |SELECT 'p' || l_partkey, 's' || l_suppkey,
          |  CAST(l_linenumber AS BIGINT) FROM lineitem""".stripMargin,
        source = "s1", maxHops = 3) +
        "\nSELECT node, dist FROM d3 ORDER BY node")),

    // extension: per-node triangle counts (degree-ordered wedge join) over
    // the parts-co-ordered graph
    QuerySpec("q_triangles", { (s, d) =>
      import graft.graph.GraphAlgos
      val p = t(s, d)("lineitem").where(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val e = p.as("x").join(p.as("y"),
        col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .select(concat(lit("p"), col("x.p")).as("src"),
          concat(lit("p"), col("y.p")).as("dst"))
      GraphAlgos.triangleCounts(e, "src", "dst").orderBy("node")
    },
      // degree-ordered orientation: und has a<b strictly, so the Spark
      // tiebreak (da<db OR da=db AND a<b) IS the row comparison below
      """WITH P AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |E0 AS (SELECT 'p' || a.p AS src, 'p' || b.p AS dst
        |  FROM P a JOIN P b ON a.ok = b.ok AND a.p < b.p),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM E0 WHERE src <> dst),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |  SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
        |o AS (SELECT
        |    CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END AS lo,
        |    CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END AS hi
        |  FROM und u JOIN deg da ON da.node = u.a JOIN deg db ON db.node = u.b),
        |w AS (SELECT o1.lo, o1.hi AS u, o2.hi AS v
        |  FROM o o1 JOIN o o2 ON o1.lo = o2.lo AND o1.hi < o2.hi),
        |tri AS (SELECT w.lo, w.u, w.v FROM w JOIN (
        |    SELECT lo AS u, hi AS v FROM o
        |    UNION ALL SELECT hi, lo FROM o) c
        |  ON c.u = w.u AND c.v = w.v)
        |SELECT node, CAST(count(*) AS BIGINT) AS triangles
        |FROM (SELECT unnest([lo, u, v]) AS node FROM tri)
        |GROUP BY 1 ORDER BY node""".stripMargin),

    // extension: Adamic–Adar link prediction over the co-purchase graph —
    // non-adjacent distance-2 pairs scored by Σ 1/ln(deg) of shared
    // neighbors (micro-unit-quantized per center → order-free sums)
    QuerySpec("q_adamic_adar", { (s, d) =>
      import graft.graph.GraphAlgos
      val p = t(s, d)("lineitem").where(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val e = p.as("x").join(p.as("y"),
        col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .select(concat(lit("p"), col("x.p")).as("src"),
          concat(lit("p"), col("y.p")).as("dst"))
      GraphAlgos.adamicAdar(e, "src", "dst", maxDegree = 40, topK = 50)
    },
      // Adamic–Adar: same wedge construction; contribution quantized once
      // per center degree (round(1e6/ln d) — verified > 1.6e-3 from any
      // rounding boundary for deg 2..100, so 1-ulp ln differences are safe)
      """WITH p AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |e0 AS (SELECT 'p' || x.pk AS sa, 'p' || y.pk AS sb
        |  FROM p x JOIN p y ON x.ok = y.ok AND x.pk < y.pk),
        |und AS (SELECT DISTINCT least(sa, sb) AS a, greatest(sa, sb) AS b
        |  FROM e0 WHERE sa <> sb),
        |adj AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
        |deg AS (SELECT a AS w, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
        |cent AS (SELECT w, CAST(round(1000000.0 / ln(deg)) AS BIGINT) AS q
        |  FROM deg WHERE deg BETWEEN 2 AND 40),
        |ws AS (SELECT c.w, adj.b AS n, c.q FROM adj JOIN cent c ON adj.a = c.w),
        |pr AS (SELECT x.n AS a, y.n AS b, x.q
        |  FROM ws x JOIN ws y ON x.w = y.w AND x.n < y.n),
        |sc AS (SELECT pr.a, pr.b, CAST(count(*) AS BIGINT) AS n_common,
        |    CAST(sum(pr.q) AS BIGINT) AS sq
        |  FROM pr ANTI JOIN und u ON pr.a = u.a AND pr.b = u.b
        |  GROUP BY 1, 2)
        |SELECT a AS node_a, b AS node_b, n_common,
        |  round(CAST(sq AS DOUBLE) / 1000000.0, 4) AS aa_score
        |FROM sc ORDER BY sq DESC, a, b LIMIT 50""".stripMargin),

    // extension: capped bipartite projection — supplier–supplier
    // co-occurrence via shared parts, mega-hub-bounded
    QuerySpec("q_bipartite_project", { (s, d) =>
      import graft.graph.GraphAlgos
      val e = t(s, d)("lineitem").select(
        concat(lit("s"), col("l_suppkey")).as("supp"),
        concat(lit("p"), col("l_partkey")).as("part"))
      GraphAlgos.bipartiteProject(e, "supp", "part", maxPerRight = 20)
        .where(col("weight") >= 3)
        .orderBy("a", "b")
    },
      """WITH d AS (SELECT DISTINCT 's' || l_suppkey AS l, 'p' || l_partkey AS r
        |  FROM lineitem),
        |capped AS (SELECT l, r FROM (SELECT l, r,
        |    row_number() OVER (PARTITION BY r ORDER BY l) AS rk FROM d)
        |  WHERE rk <= 20)
        |SELECT x.l AS a, y.l AS b, CAST(count(*) AS BIGINT) AS weight
        |FROM capped x JOIN capped y ON x.r = y.r AND x.l < y.l
        |GROUP BY 1, 2 HAVING count(*) >= 3 ORDER BY a, b""".stripMargin),

    // extension: sampled harmonic centrality — ONE multi-source relaxation
    // pass for all seeds ((seed, node)-keyed state), quantized-integer
    // contributions
    QuerySpec("q_harmonic", { (s, d) =>
      import graft.graph.GraphAlgos
      val li = t(s, d)("lineitem")
      val fwd = li.select(concat(lit("s"), col("l_suppkey")).as("src"),
        concat(lit("p"), col("l_partkey")).as("dst"), lit(1L).as("w"))
      val rev = li.select(concat(lit("p"), col("l_partkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"), lit(1L).as("w"))
      GraphAlgos.harmonicCentrality(fwd.unionByName(rev), "src", "dst", "w",
        seeds = Seq("s1", "s2", "s3"), maxHops = 2)
        .select(col("node"), col("n_seeds").cast("long").as("n_seeds"),
          col("harmonic"))
        .orderBy("node")
    },
      (graft.graph.GraphAlgos.multiSourceOracleSql(
        """SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst,
          |  CAST(1 AS BIGINT) AS w FROM lineitem
          |UNION ALL
          |SELECT 'p' || l_partkey, 's' || l_suppkey, CAST(1 AS BIGINT)
          |FROM lineitem""".stripMargin,
        "SELECT unnest(['s1', 's2', 's3']) AS seed", maxHops = 2) +
        """
          |SELECT node, CAST(count(*) AS BIGINT) AS n_seeds,
          |  round(CAST(sum(1000000 // dist) AS DOUBLE) / 1000000.0, 4) AS harmonic
          |FROM d2 WHERE dist > 0 GROUP BY 1 ORDER BY node""".stripMargin)),

    // extension: k-core decomposition (iterative peel) over the same
    // co-ordered-parts graph — the dense-core graph-curation signal
    QuerySpec("q_kcore", { (s, d) =>
      import graft.graph.GraphAlgos
      val p = t(s, d)("lineitem").where(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val e = p.as("x").join(p.as("y"),
        col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .select(concat(lit("p"), col("x.p")).as("src"),
          concat(lit("p"), col("y.p")).as("dst"))
      GraphAlgos.kCore(e, "src", "dst", k = 8, maxRounds = 4)
        .select(col("node"), col("deg").cast("long").as("deg"))
        .orderBy("node")
    },
      (graft.graph.GraphAlgos.kCoreOracleSql(
        """SELECT 'p' || a.p AS src, 'p' || b.p AS dst
          |FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
          |      FROM lineitem WHERE l_orderkey % 10 = 0) a
          |JOIN (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
          |      FROM lineitem WHERE l_orderkey % 10 = 0) b
          |  ON a.ok = b.ok AND a.p < b.p""".stripMargin,
        k = 8, rounds = 4) +
        "\nSELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM e4" +
        "\nGROUP BY 1 HAVING count(*) >= 8 ORDER BY node")),

    // extension: per-node core numbers (h-index iteration from degrees)
    // over the co-ordered-parts graph — the graded k-core signal
    QuerySpec("q_coreness", { (s, d) =>
      import graft.graph.GraphAlgos
      val p = t(s, d)("lineitem").where(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val e = p.as("x").join(p.as("y"),
        col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .select(concat(lit("p"), col("x.p")).as("src"),
          concat(lit("p"), col("y.p")).as("dst"))
      GraphAlgos.coreNumbers(e, "src", "dst", rounds = 4).orderBy("node")
    },
      (graft.graph.GraphAlgos.coreNumbersOracleSql(
        """SELECT 'p' || a.p AS src, 'p' || b.p AS dst
          |FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
          |      FROM lineitem WHERE l_orderkey % 10 = 0) a
          |JOIN (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
          |      FROM lineitem WHERE l_orderkey % 10 = 0) b
          |  ON a.ok = b.ok AND a.p < b.p""".stripMargin,
        rounds = 4) +
        "\nSELECT node, h FROM h4 ORDER BY node")),

    // extension: label-propagation communities — deterministic LPA
    // (min-label ties, fixed rounds) over the co-ordered-parts graph
    QuerySpec("q_label_prop", { (s, d) =>
      import graft.graph.GraphAlgos
      val p = t(s, d)("lineitem").where(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val e = p.as("x").join(p.as("y"),
        col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .select(concat(lit("p"), col("x.p")).as("src"),
          concat(lit("p"), col("y.p")).as("dst"))
      GraphAlgos.labelPropagation(e, "src", "dst", rounds = 3)
        .orderBy("node")
    },
      (graft.graph.GraphAlgos.labelPropagationOracleSql(
        """SELECT 'p' || a.p AS src, 'p' || b.p AS dst
          |FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
          |      FROM lineitem WHERE l_orderkey % 10 = 0) a
          |JOIN (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
          |      FROM lineitem WHERE l_orderkey % 10 = 0) b
          |  ON a.ok = b.ok AND a.p < b.p""".stripMargin,
        rounds = 3) +
        "\nSELECT node, label FROM l3 ORDER BY node")),

    // extension: local clustering coefficient — triangle closure ratio
    // per node over the co-ordered-parts graph (clique-ring curation
    // signal; exact integer triangle/degree pair, one rounded divide)
    QuerySpec("q_clustering_coef", { (s, d) =>
      import graft.graph.GraphAlgos
      val p = t(s, d)("lineitem").where(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val e = p.as("x").join(p.as("y"),
        col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .select(concat(lit("p"), col("x.p")).as("src"),
          concat(lit("p"), col("y.p")).as("dst"))
      GraphAlgos.clusteringCoefficient(e, "src", "dst").orderBy("node")
    },
      // same degree-ordered triangle CTEs as q_triangles, joined back to
      // the degree table; 2·tri/(deg·(deg−1)) rounded once, 0 when deg < 2
      """WITH P AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |E0 AS (SELECT 'p' || a.p AS src, 'p' || b.p AS dst
        |  FROM P a JOIN P b ON a.ok = b.ok AND a.p < b.p),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM E0 WHERE src <> dst),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |  SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
        |o AS (SELECT
        |    CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END AS lo,
        |    CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END AS hi
        |  FROM und u JOIN deg da ON da.node = u.a JOIN deg db ON db.node = u.b),
        |w AS (SELECT o1.lo, o1.hi AS u, o2.hi AS v
        |  FROM o o1 JOIN o o2 ON o1.lo = o2.lo AND o1.hi < o2.hi),
        |tri AS (SELECT w.lo, w.u, w.v FROM w JOIN (
        |    SELECT lo AS u, hi AS v FROM o
        |    UNION ALL SELECT hi, lo FROM o) c
        |  ON c.u = w.u AND c.v = w.v),
        |tc AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles
        |  FROM (SELECT unnest([lo, u, v]) AS node FROM tri) GROUP BY 1)
        |SELECT deg.node, CAST(deg.deg AS BIGINT) AS deg,
        |  coalesce(tc.triangles, 0) AS triangles,
        |  CASE WHEN deg.deg < 2 THEN 0.0
        |    ELSE round(2.0 * coalesce(tc.triangles, 0)
        |      / (deg.deg * (deg.deg - 1)), 4) END AS coef
        |FROM deg LEFT JOIN tc ON tc.node = deg.node
        |ORDER BY deg.node""".stripMargin),

    // extension: deterministic random walks (node2vec/DeepWalk sampling
    // kernel) — md5-argmin next-hop choice, reproducible across engines
    QuerySpec("q_random_walks", { (s, d) =>
      import graft.graph.GraphAlgos
      GraphAlgos.randomWalks(supplierPartEdges(s, d), "src", "dst",
        seeds = Seq("s1", "s2", "s3"), steps = 4, walksPerSeed = 2)
        .orderBy("walk_id", "step")
    },
      (graft.graph.GraphAlgos.randomWalksOracleSql(
        """SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst
          |FROM lineitem
          |UNION ALL
          |SELECT 'p' || l_partkey, 's' || l_suppkey FROM lineitem""".stripMargin,
        seeds = Seq("s1", "s2", "s3"), steps = 4, walksPerSeed = 2) +
        "\nSELECT walk_id, step, node FROM walks ORDER BY walk_id, step")),

    // extension: earliest-arrival temporal reachability over the
    // customer→supplier→customer contact network (order placed at
    // orderdate, goods move at shipdate — paths must respect time)
    QuerySpec("q_temporal_reach", { (s, d) =>
      val ol = t(s, d)("orders").join(t(s, d)("lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      val e1 = ol.select(
        concat(lit("c:"), col("o_custkey").cast("string")).as("src"),
        concat(lit("s:"), col("l_suppkey").cast("string")).as("dst"),
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").as("t"))
      val e2 = ol.select(
        concat(lit("s:"), col("l_suppkey").cast("string")).as("src"),
        concat(lit("c:"), col("o_custkey").cast("string")).as("dst"),
        expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000").as("t"))
      graft.graph.GraphAlgos.temporalReachability(e1.unionByName(e2),
        "src", "dst", "t", source = "c:1", startTime = 0L, maxHops = 3)
        .orderBy("node")
    },
      // unrolled earliest-arrival rounds over the bipartite contact edges
      {
      val edgesSql =
        """SELECT 'c:' || CAST(o.o_custkey AS VARCHAR) AS src,
          |    's:' || CAST(l.l_suppkey AS VARCHAR) AS dst,
          |    epoch_us(o.o_orderdate) // 86400000000 AS t
          |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          |  UNION ALL
          |  SELECT 's:' || CAST(l.l_suppkey AS VARCHAR),
          |    'c:' || CAST(o.o_custkey AS VARCHAR),
          |    epoch_us(l.l_shipdate) // 86400000000
          |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey"""
          .stripMargin
      graft.graph.GraphAlgos.temporalReachabilityOracleSql(
        edgesSql, source = "c:1", startTime = 0L, maxHops = 3) +
        "\nSELECT node, arrival FROM a3 ORDER BY node"
    }),

    // extension: power-law degree-exponent MLE over customer order
    // counts — driver-literal micro-nat log table, no in-plan logs
    QuerySpec("q_powerlaw", { (s, d) =>
      graft.graph.GraphAlgos.powerLawAlpha(t(s, d)("orders"), "o_custkey",
        xmin = 2, maxDegree = 1024)
    }, graft.graph.GraphAlgos.powerLawAlphaOracleSql(
      "SELECT o_custkey, CAST(count(*) AS BIGINT) AS d FROM orders GROUP BY 1",
      xmin = 2, maxDegree = 1024)),

    // extension: degree assortativity of the customer↔supplier contact
    // graph — with q_powerlaw, the graph's join-planning character
    QuerySpec("q_assortativity", { (s, d) =>
      val edges = t(s, d)("orders").join(t(s, d)("lineitem"),
        col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c:"), col("o_custkey").cast("string")).as("src"),
          concat(lit("s:"), col("l_suppkey").cast("string")).as("dst"))
      graft.graph.GraphAlgos.assortativity(edges, "src", "dst")
    },
      // symmetric (both orientations) Pearson over endpoint degrees
      """WITH und AS (SELECT DISTINCT 'c:' || CAST(o.o_custkey AS VARCHAR) AS a,
        |    's:' || CAST(l.l_suppkey AS VARCHAR) AS b
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  WHERE 'c:' || CAST(o.o_custkey AS VARCHAR) <>
        |    's:' || CAST(l.l_suppkey AS VARCHAR)),
        |sym AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
        |deg AS (SELECT a AS n, CAST(count(*) AS BIGINT) AS d FROM sym
        |  GROUP BY 1),
        |paired AS (SELECT da.d AS x, db.d AS y FROM sym
        |  JOIN deg da ON da.n = sym.a JOIN deg db ON db.n = sym.b),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM paired)
        |SELECT n_pairs,
        |  CASE WHEN n_pairs * sxx - sx * sx <= 0 OR n_pairs * syy - sy * sy <= 0
        |    THEN 0.0
        |    ELSE round(CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
        |      (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) *
        |       sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))), 4) END
        |    AS assortativity
        |FROM ag""".stripMargin),

    // extension: degree distribution rows (the raw table behind
    // q_powerlaw's alpha — histogram of customer order counts)
    QuerySpec("q_degree_dist", { (s, d) =>
      t(s, d)("orders").groupBy(col("o_custkey")).agg(count(lit(1)).as("_d"))
        .groupBy(col("_d").as("degree")).agg(count(lit(1)).as("n_nodes"))
        .orderBy("degree")
    },
      """SELECT d AS degree, CAST(count(*) AS BIGINT) AS n_nodes FROM
        |  (SELECT CAST(count(*) AS BIGINT) AS d FROM orders GROUP BY o_custkey)
        |GROUP BY 1 ORDER BY degree""".stripMargin),

    // extension: weighted PageRank — outflow proportional to shipped
    // quantity instead of uniform per edge
    QuerySpec("q_wpagerank", { (s, d) =>
      import graft.graph.GraphAlgos
      val edges = t(s, d)("lineitem")
        .select(concat(lit("s"), col("l_suppkey")).as("src"),
          concat(lit("p"), col("l_partkey")).as("dst"),
          col("l_quantity").cast("long").as("w"))
      GraphAlgos.weightedPageRankFixed(edges, "src", "dst", "w",
        iterations = 3)
        .orderBy(col("rank").desc, col("node")).limit(100)
    },
      (graft.graph.GraphAlgos.weightedPageRankOracleSql(
        """SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst,
          |  CAST(l_quantity AS BIGINT) AS w FROM lineitem""".stripMargin,
        iterations = 3) +
        "\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r3 ORDER BY rank DESC, node LIMIT 100")),

    // extension: k-truss backbone of the co-purchase graph (every
    // surviving edge closes ≥ k−2 triangles inside the subgraph)
    QuerySpec("q_ktruss", { (s, d) =>
      import graft.graph.GraphAlgos
      val p = t(s, d)("lineitem").where(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val e = p.as("x").join(p.as("y"),
        col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .select(concat(lit("p"), col("x.p")).as("src"),
          concat(lit("p"), col("y.p")).as("dst"))
      GraphAlgos.kTruss(e, "src", "dst", k = 4, maxRounds = 3)
        .orderBy("a", "b")
    }, graft.graph.GraphAlgos.kTrussOracleSql(
      """SELECT 'p' || CAST(x.l_partkey AS VARCHAR) AS src,
        |    'p' || CAST(y.l_partkey AS VARCHAR) AS dst
        |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |        WHERE l_orderkey % 10 = 0) x
        |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |        WHERE l_orderkey % 10 = 0) y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey"""
        .stripMargin, k = 4, rounds = 3)),

    // extension: node2vec-biased walks (return weight 1/p, outward 1/q;
    // deterministic exponential-race weighted draw, pico-quantized)
    QuerySpec("q_biased_walks", { (s, d) =>
      spBiasedWalks(s, d).orderBy("walk_id", "step")
    }, graft.graph.GraphAlgos.biasedWalksOracleSql(
      """SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src,
        |    'p' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem
        |UNION ALL SELECT 'p' || CAST(l_partkey AS VARCHAR),
        |    's' || CAST(l_suppkey AS VARCHAR) FROM lineitem""".stripMargin,
      seeds = Seq("s1", "s2", "s3"), steps = 4,
      pReturn = 4.0, qOut = 0.5, walksPerSeed = 2)),

    // extension: skip-gram (center, context) pairs from the biased-walk
    // corpus — the node-embedding training statistics
    QuerySpec("q_skipgram", { (s, d) =>
      import graft.graph.GraphAlgos
      GraphAlgos.skipGramPairs(spBiasedWalks(s, d), window = 2)
        .orderBy("center", "context")
    }, (graft.graph.GraphAlgos.biasedWalksOracleCte(
      """SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src,
        |    'p' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem
        |UNION ALL SELECT 'p' || CAST(l_partkey AS VARCHAR),
        |    's' || CAST(l_suppkey AS VARCHAR) FROM lineitem""".stripMargin,
      seeds = Seq("s1", "s2", "s3"), steps = 4,
      pReturn = 4.0, qOut = 0.5, walksPerSeed = 2) +
      """
        |SELECT a.node AS center, b.node AS context,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM walks a JOIN walks b ON a.walk_id = b.walk_id
        |  AND a.step <> b.step AND abs(a.step - b.step) <= 2
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // extension: HyperBall neighborhood function — per-node HLL ball
    // sketches grown by register max-merge along co-purchase edges; the
    // scalable reach/effective-diameter estimate
    QuerySpec("q_hyperball", { (s, d) =>
      import graft.graph.GraphAlgos
      val p = t(s, d)("lineitem").where(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val e = p.as("x").join(p.as("y"),
        col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .select(concat(lit("p"), col("x.p")).as("src"),
          concat(lit("p"), col("y.p")).as("dst"))
      GraphAlgos.hyperBall(e, "src", "dst", rounds = 3).orderBy("round")
    }, graft.graph.GraphAlgos.hyperBallOracleSql(
      """SELECT 'p' || CAST(x.l_partkey AS VARCHAR) AS src,
        |    'p' || CAST(y.l_partkey AS VARCHAR) AS dst
        |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |        WHERE l_orderkey % 10 = 0) x
        |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |        WHERE l_orderkey % 10 = 0) y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey"""
        .stripMargin, rounds = 3)),

    // extension: butterfly (bipartite 4-cycle) census over the
    // part-supplier incidence graph — wedges pivot on the low-degree side
    QuerySpec("q_butterflies", { (s, d) =>
      GraphAlgos.butterflyCensus(t(s, d)("lineitem"), "l_partkey", "l_suppkey")
    }, GraphAlgos.butterflyCensusOracleSql(
      "SELECT l_partkey AS a, l_suppkey AS b FROM lineitem")),

    // extension: HITS hubs & authorities over the supplier→part incidence
    // graph — integer L1-normalized fixed point, 2 rounds
    QuerySpec("q_hits", { (s, d) =>
      GraphAlgos.hitsFixed(BatteryFixtures.supplierPartFwd(s, d), "src", "dst",
        iterations = 2)
        .orderBy(col("authority").desc, col("node")).limit(100)
    },
      s"""${GraphAlgos.hitsOracleSql(
            "SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM lineitem",
            iterations = 2)}
         |SELECT a2.node, a2.authority, h2.hub
         |FROM a2 JOIN h2 ON h2.node = a2.node
         |ORDER BY a2.authority DESC, a2.node LIMIT 100""".stripMargin),

    // extension: link-prediction AUC over the part co-order graph —
    // deterministic 10% edge holdout, common-neighbor scores in the train
    // graph, tie-aware Mann–Whitney AUC from score histograms
    QuerySpec("q_link_auc", { (s, d) =>
      // distinct BEFORE the self-join: duplicate (order, part) rows would
      // square in the pair fanout, and linkPredictionAuc dedups anyway
      val li = t(s, d)("lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val pairs = li.as("x").join(li.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("a"), col("y.p").as("b"))
      GraphAlgos.linkPredictionAuc(pairs, "a", "b")
    }, GraphAlgos.linkPredictionAucOracleSql(
      """SELECT CAST(x.l_partkey AS VARCHAR) AS a,
        |  CAST(y.l_partkey AS VARCHAR) AS b
        |FROM lineitem x JOIN lineitem y
        |ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey""".stripMargin)),

    // extension: rich-club coefficient profile — do high-degree nodes of
    // the supplier–part graph preferentially interconnect?
    QuerySpec("q_rich_club", { (s, d) =>
      GraphAlgos.richClub(BatteryFixtures.supplierPartFwd(s, d), "src", "dst",
        ks = Seq(5, 10, 20, 40))
        .orderBy("k")
    }, GraphAlgos.richClubOracleSql(
      "SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM lineitem",
      ks = Seq(5, 10, 20, 40))),

    // extension: sampled-source truncated Brandes betweenness over the
    // undirected supplier–part graph — 3 simultaneous sources, depth 3,
    // scale-quantized integer dependencies (no double accumulation)
    QuerySpec("q_betweenness", { (s, d) =>
      GraphAlgos.betweennessSampled(BatteryFixtures.supplierPartFwd(s, d), "src", "dst",
        seeds = Seq("s1", "s2", "s3"), maxDepth = 3)
        .orderBy(col("bc_q").desc, col("node")).limit(50)
    },
      s"""SELECT node, bc_q FROM (
         |${GraphAlgos.betweennessOracleSql(
             "SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM lineitem",
             seeds = Seq("s1", "s2", "s3"), maxDepth = 3)}
         |) ORDER BY bc_q DESC, node LIMIT 50""".stripMargin),

    // extension: community quality of the brand partition over the part
    // co-order graph — per-community intra/cut/volume counts, conductance,
    // and exact-integer Newman modularity (is "brand" a real community
    // structure in what customers co-buy?)
    QuerySpec("q_community_quality", { (s, d) =>
      // distinct before the self-join — communityQuality canonicalizes
      // to distinct pairs anyway, so this only shrinks the fanout
      val li = t(s, d)("lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val pairs = li.as("x").join(li.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      GraphAlgos.communityQuality(pairs, "src", "dst",
        t(s, d)("part").select(col("p_partkey"), col("p_brand")),
        "p_partkey", "p_brand")
        .orderBy("community")
    }, (GraphAlgos.communityQualityOracleSql(
      """SELECT CAST(x.l_partkey AS VARCHAR) AS src,
        |  CAST(y.l_partkey AS VARCHAR) AS dst
        |FROM lineitem x JOIN lineitem y
        |ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey""".stripMargin,
      "SELECT CAST(p_partkey AS VARCHAR) AS node, p_brand AS community FROM part")
      + "\nORDER BY community")),

    // extension: strongly connected components of the directed
    // above-uniform event-type transition graph (edges where a transition
    // exceeds its source's uniform share) — iterated forward-backward
    // min-label agreement, every locally-minimal SCC assigned per peel
    QuerySpec("q_scc", { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val tr = TpchGraph.eventsTable(s, d)
        .withColumn("_prev", lag(col("event_type"), 1).over(w))
        .where(col("_prev").isNotNull)
        .groupBy(col("_prev").as("f"), col("event_type").as("t"))
        .agg(count(lit(1)).as("n"))
      val tot = tr.groupBy("f").agg(sum("n").as("tot"))
      val edges = tr.join(broadcast(tot), Seq("f"))
        .where(col("n") * lit(5L) > col("tot"))
        .select(col("f").as("src"), col("t").as("dst"))
      GraphAlgos.sccFixed(edges, "src", "dst", peelRounds = 3, propRounds = 4)
        .orderBy("node")
    }, {
      val trSub =
        """(SELECT prev AS f, event_type AS t, count(*)::BIGINT AS n
          |   FROM (SELECT user_id, event_type,
          |           lag(event_type) OVER (PARTITION BY user_id
          |             ORDER BY ts, event_id) AS prev
          |         FROM events) s
          |   WHERE prev IS NOT NULL GROUP BY 1, 2)""".stripMargin
      GraphAlgos.sccOracleSql(
        s"""SELECT tr.f AS src, tr.t AS dst
           |FROM $trSub tr
           |JOIN (SELECT f, sum(n)::BIGINT AS tot FROM $trSub tr2 GROUP BY 1)
           |  tot ON tot.f = tr.f
           |WHERE tr.n * 5 > tot.tot""".stripMargin,
        peelRounds = 3, propRounds = 4) + "\nORDER BY node"
    }),

    // extension: sccFixed's unconverged-stop contract — a 25-cycle with
    // 2 propagation rounds cannot converge; the one provably-correct
    // agreement (the min-id node) is kept and everything else is
    // '?'-marked instead of a later trim mislabeling cycle members as
    // singletons; the oracle replays the stop via its conv/act flag CTEs
    QuerySpec("q_scc_truncated", { (s, d) =>
      import graft.graph.GraphAlgos
      val cyc = t(s, d)("nation").select(
        concat(lit("n"), col("n_nationkey")).as("src"),
        concat(lit("n"), pmod(col("n_nationkey") + 1, lit(25))).as("dst"))
      GraphAlgos.sccFixed(cyc, "src", "dst", peelRounds = 2, propRounds = 2)
        .orderBy("node")
    }, (graft.graph.GraphAlgos.sccOracleSql(
      "SELECT 'n' || n_nationkey AS src, 'n' || ((n_nationkey + 1) % 25) AS dst FROM nation",
      peelRounds = 2, propRounds = 2) + "\nORDER BY node"))
  )
}
