package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.Rounds.materialize

/** Whole-graph analytics over edge frames — extensions beyond the
  * reference's read-query surface (BFS/traversals live in
  * [[graft.query.GraphReader]]; connected components in
  * [[graft.ext.Dedup.connectedComponents]]).
  *
  * Determinism contract: PageRank runs in FIXED-POINT integer arithmetic
  * (rank mass in micro-units, damping and degree division as integer
  * `div`). Floating PageRank cannot be cross-engine hash-compared — the
  * per-node contribution sum is a float reduction whose rounding depends
  * on accumulation order — but integer sums are order-free, so every
  * iteration is reproducible to the last unit in any SQL engine. The
  * deliberate cost: each division floors away < 1 unit of mass per edge
  * (bounded drift, identical in every engine).
  *
  * Materialize policy: every frame a loop or operator here reads more
  * than once goes through [[Rounds.materialize]] (the policy and its
  * reasons are stated there). A round's probes (rows, removed, changed,
  * totals) ride that checkpoint job as counters.
  *
  * Node keys: the PageRank family and HITS iterate on dense long ids from
  * [[nodeDict]]; the other loops stay string-keyed — encoding them was
  * measured slower at bench scale (the dict + encode boundaries break the
  * single adaptive execution the per-query edge derivation fuses into;
  * see OPTIMIZATION_r12.md).
  */
object GraphAlgos {

  /** Order-preserving dense-long dictionary over a distinct single-column
    * `node` frame: node → nid ∈ [0, n) assigned in LEXICOGRAPHIC node
    * order, so `nid_x < nid_y ⟺ node_x < node_y` and every key
    * comparison (join equality, least/greatest canonicalization, min-label
    * tie-breaks, degree-tie orientation) translates exactly. The iterative
    * algorithms below run their loops on these 8-byte ids instead of
    * arbitrary-width node strings — every per-iteration exchange carries
    * narrower rows and every hash probe compares a long, not a string
    * (guide §2.3 "narrower types"); outputs decode back through the
    * dictionary, so results are bit-identical.
    *
    * Assignment is the scalable two-pass shape: a range sort of the n-row
    * node set, then `zipWithIndex` (per-partition counts + offsets — no
    * single-task window, no driver collect). The result is materialized
    * with its row count n observed in the same job: returns (dict, n).
    */
  private[graft] def nodeDict(nodes: DataFrame): (DataFrame, Long) = {
    val spark = nodes.sparkSession
    val sorted = nodes.select(col("node").cast("string").as("node"))
      .orderBy("node")
    val rows = sorted.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(r.getString(0), i)
    }
    import org.apache.spark.sql.types._
    val (dict, m) = materialize(spark.createDataFrame(rows, StructType(Seq(
        StructField("node", StringType, nullable = true),
        StructField("nid", LongType, nullable = false)))),
      count(lit(1)).as("n"))
    (dict, m.getLong(0))
  }

  /** Re-key a (src, dst[, payload…]) edge frame through the dictionary —
    * both endpoints inner-joined against the n-row dict (the price of
    * removing the string width from EVERY later iteration). Payload
    * columns pass through untouched.
    */
  private[graft] def encodeEdges(e: DataFrame, dict: DataFrame): DataFrame = {
    val others = e.columns.filterNot(c => c == "src" || c == "dst").map(col)
    e.join(dict.select(col("node").as("src"), col("nid").as("_sid")), Seq("src"))
      .join(dict.select(col("node").as("dst"), col("nid").as("_did")), Seq("dst"))
      .select(Seq(col("_sid").as("src"), col("_did").as("dst")) ++ others: _*)
  }

  /** Decode an id column back to the node string via the dictionary, in
    * place: column order and all other columns are preserved.
    */
  private[graft] def decodeNode(df: DataFrame, dict: DataFrame,
      idCol: String): DataFrame = {
    val outCols = df.columns.map {
      case c if c == idCol => col("_dec").as(idCol)
      case c => col(c)
    }
    df.join(dict.select(col("nid").as(idCol), col("node").as("_dec")), Seq(idCol))
      .select(outCols.toSeq: _*)
  }

  /** Canonical undirected pairs (a < b) of a directed edge frame:
    * endpoints cast to string, self-loops dropped, duplicates removed. A
    * lazy plan — callers fuse it into their own first materialization.
    */
  private[graft] def undirectedPairs(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(
      least(col(srcCol).cast("string"), col(dstCol).cast("string")).as("a"),
      greatest(col(srcCol).cast("string"), col(dstCol).cast("string")).as("b"))
      .where(col("a") =!= col("b")).distinct()

  /** Both orientations (u, v) of canonical (a, b) pairs — per node, its
    * rows are exactly its neighbors. Lazy, like [[undirectedPairs]].
    */
  private[graft] def bothDirections(und: DataFrame): DataFrame =
    und.select(col("a").as("u"), col("b").as("v"))
      .unionAll(und.select(col("b").as("u"), col("a").as("v")))

  /** An edge frame on dictionary ids: `e` is (src, dst[, w]) longs, `dict`
    * decodes them, `n` is the node count.
    */
  private[graft] final case class EncodedGraph(e: DataFrame, dict: DataFrame, n: Long)

  /** Shared prelude of the PageRank family and [[hitsFixed]]: string
    * edges (distinct, or with `weightCol` summed per (src, dst) and
    * non-positive totals dropped), materialized → [[nodeDict]] and n from
    * its own job → [[encodeEdges]], materialized.
    *
    * Precondition handled here: an edge with a null endpoint is dropped
    * before the dictionary and the degrees. Null is not a node — counting
    * it would grow n by one and shift every initial rank, and the encode
    * join drops the edge anyway.
    */
  private[graft] def encodeGraph(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: Option[String] = None): EncodedGraph = {
    val s = edges.select(Seq(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst")) ++
        weightCol.map(w => col(w).cast("long").as("w")): _*)
      .where(col("src").isNotNull && col("dst").isNotNull)
    val eStr = materialize(
      if (weightCol.isEmpty) s.distinct()
      else s.groupBy("src", "dst").agg(sum(col("w")).as("w")).where(col("w") > 0))
    val (dict, n) = nodeDict(eStr.select(col("src").as("node"))
      .union(eStr.select(col("dst"))).distinct())
    EncodedGraph(materialize(encodeEdges(eStr, dict)), dict, n)
  }

  private def requireRankArgs(iterations: Int, dampingPct: Int): Unit = {
    require(iterations >= 1, "need at least one iteration")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct in [0,100]")
  }

  /** The PageRank family's one iteration loop over an encoded graph: the
    * nodes where `teleportTo` holds start at `init` and receive the base
    * mass init·(100−damping)÷100 each iteration ([[rankStep]]); the
    * others start at and receive 0.
    */
  private def rankLoop(g: EncodedGraph, teleportTo: Column, init: Long,
      iterations: Int, dampingPct: Int): DataFrame = {
    def atTeleport(v: Long): Column = when(teleportTo, lit(v)).otherwise(lit(0L))
    val teleport = atTeleport(init * (100L - dampingPct) / 100L)
    val out = rankOut(g)
    var ranks = g.dict.select(col("nid").as("node"))
      .withColumn("rank", atTeleport(init))
    for (_ <- 1 to iterations)
      ranks = materialize(rankStep(g, out, ranks, teleport, dampingPct))
    decodeNode(ranks, g.dict, "node")
  }

  /** Per-source total outgoing weight `out`, materialized: the out-degree,
    * or Σw when the edges carry a weight column `w`.
    */
  private[graft] def rankOut(g: EncodedGraph): DataFrame =
    materialize(g.e.groupBy("src").agg((
      if (g.e.columns.contains("w")) sum(col("w")) else count(lit(1))).as("out")))

  /** One PageRank-family iteration: the encoded edges join the node-keyed
    * frozen `ranks` and per-source [[rankOut]] frames directly (each
    * small one the broadcast side, so the big edge frame never
    * re-exchanges), then one map-side-combined sum per dst. The
    * unweighted share is (rank·damping÷100)÷outdeg per source; the
    * weighted one splits (rank·damping÷100) by w÷W per edge. Exposed so
    * `PlanAssertSpec` can pin that plan without running a loop.
    */
  private[graft] def rankStep(g: EncodedGraph, out: DataFrame,
      ranks: DataFrame, teleport: Column, dampingPct: Int): DataFrame = {
    val mass = expr(if (g.e.columns.contains("w")) s"(((rank * $dampingPct) div 100) * w) div out"
      else s"(rank * $dampingPct div 100) div out")
    val contrib = g.e.join(ranks.withColumnRenamed("node", "src"), Seq("src"))
      .join(out, Seq("src"))
      .groupBy(col("dst").as("node")).agg(sum(mass).as("m"))
    g.dict.select(col("nid").as("node")).join(contrib, Seq("node"), "left")
      .select(col("node"), (teleport + coalesce(col("m"), lit(0L))).as("rank"))
  }

  /** Fixed-point PageRank: `iterations` synchronous updates of
    * rank(v) = base + Σ_{u→v} (rank(u)·damping÷100)÷outdeg(u), all in
    * integer micro-units of `scale` total mass. Dangling-node mass is
    * dropped (the standard simplification); `base` is the uniform
    * teleport share (scale÷n)·(100−damping)÷100. Edges with a null
    * endpoint are dropped first (see [[encodeGraph]]).
    *
    * Scale shape: the [[encodeGraph]] prelude and a degree groupBy once,
    * then per iteration ONE pass over the edges ([[rankStep]]).
    */
  def pageRankFixed(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, dampingPct: Int = 85,
      scale: Long = 1000000000000L): DataFrame = {
    requireRankArgs(iterations, dampingPct)
    val g = encodeGraph(edges, srcCol, dstCol)
    require(g.n > 0, "PageRank needs at least one edge with two non-null endpoints")
    rankLoop(g, lit(true), scale / g.n, iterations, dampingPct)
  }

  /** Weighted PageRank: [[pageRankFixed]] with per-edge weights — each
    * source's outflow divides proportionally to edge weight instead of
    * uniformly (rank·damping÷100)·w_uv ÷ W_u with W_u the source's total
    * outgoing weight. Same integer fixed-point contract, loop and
    * null-endpoint precondition; parallel edges sum their weights. Caller
    * contract: weight·scale must fit a long (weights ≤ ~10⁶ at the
    * default scale), the price of exactness.
    */
  def weightedPageRankFixed(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iterations: Int, dampingPct: Int = 85,
      scale: Long = 1000000000000L): DataFrame = {
    requireRankArgs(iterations, dampingPct)
    val g = encodeGraph(edges, srcCol, dstCol, Some(weightCol))
    require(g.n > 0, "weighted PageRank needs at least one pair with a positive total weight")
    rankLoop(g, lit(true), scale / g.n, iterations, dampingPct)
  }

  /** DuckDB replay of [[weightedPageRankFixed]], iterations unrolled. */
  def weightedPageRankOracleSql(edgesSql: String, iterations: Int,
      dampingPct: Int = 85, scale: Long = 1000000000000L): String = {
    val head =
      s"""WITH E0 AS ($edgesSql),
         |E AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM E0
         |  GROUP BY 1, 2 HAVING sum(w) > 0),
         |nodes AS (SELECT src AS node FROM E UNION SELECT dst FROM E),
         |nn AS (SELECT count(*) AS c FROM nodes),
         |ws AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum FROM E GROUP BY 1),
         |r0 AS (SELECT node, ($scale // c) AS rank FROM nodes CROSS JOIN nn)"""
        .stripMargin
    val iters = (1 to iterations).map { i =>
      s"""r$i AS (SELECT nd.node,
         |  ((($scale // c) * ${100L - dampingPct}) // 100) + coalesce(s.m, 0)
         |    AS rank
         |  FROM nodes nd CROSS JOIN nn
         |  LEFT JOIN (SELECT e.dst AS node,
         |      sum((r.rank * $dampingPct // 100) * e.w // d.wsum) AS m
         |    FROM E e JOIN r${i - 1} r ON r.node = e.src
         |    JOIN ws d ON d.src = e.src GROUP BY 1) s ON s.node = nd.node)"""
        .stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  /** Personalized PageRank (Jeh & Widom 2003, "Scaling personalized web
    * search"): [[pageRankFixed]]'s fixed-point integer iteration with the
    * teleport mass restricted to `seeds` — rank(v) = seedBase(v) +
    * Σ_{u→v} (rank(u)·damping÷100)÷outdeg(u), seedBase = (scale÷|seeds|)
    * ·(100−damping)÷100 at seeds and 0 elsewhere. The result ranks nodes
    * by proximity to the seed set — the query-time "related items" /
    * local-graph-feature primitive.
    *
    * Same prelude, loop and determinism contract as [[pageRankFixed]].
    * The seed membership test is an isin over the seeds' dictionary ids (a
    * |seeds|-row lookup; seeds absent from the graph match nothing).
    */
  def personalizedPageRankFixed(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: Seq[String], iterations: Int,
      dampingPct: Int = 85, scale: Long = 1000000000000L): DataFrame = {
    requireRankArgs(iterations, dampingPct)
    require(seeds.nonEmpty, "need at least one seed")
    val g = encodeGraph(edges, srcCol, dstCol)
    require(g.n > 0,
      "personalized PageRank needs at least one edge with two non-null endpoints")
    val seedIds = g.dict.where(col("node").isin(seeds: _*))
      .select("nid").collect().map(_.getLong(0)).toSeq
    val isSeed =
      if (seedIds.isEmpty) lit(false) else col("node").isin(seedIds: _*)
    rankLoop(g, isSeed, scale / seeds.length, iterations, dampingPct)
  }

  /** Weighted single-source shortest paths, `maxHops` synchronous
    * Bellmann-Ford relaxation rounds: dist(v) = min(dist(v), min over
    * edges u→v of dist(u) + w(u,v)). Weights are cast to LONG — integer
    * min/plus is exact and order-free, so every round is reproducible in
    * any engine (the same fixed-point contract as [[pageRankFixed]]).
    * Nodes unreachable within `maxHops` are absent from the result.
    *
    * Scale shape: per round ONE keyed join of the current frontier-
    * inclusive distance table against the edges plus a map-side-combinable
    * min groupBy; the distance table is node-keyed (≤ n rows), the
    * broadcast side while it is small, so the edge frame never re-shuffles.
    * String-keyed (see the object scaladoc). Rounds are a hard cap (the reference's traversal
    * hop caps, query/caps.py) — at diameter convergence extra rounds are
    * no-ops but still cost a pass; choose maxHops accordingly.
    */
  def shortestPathsFixed(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, source: String, maxHops: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    relaxLoop(lightestEdges(edges, srcCol, dstCol, weightCol),
      Seq((source, 0L)).toDF("node", "dist"), Seq("node"), maxHops)(addWeight)
  }

  /** (src, dst, w) string/long edges, parallel edges reduced to the
    * lightest — the edge frame of both shortest-path variants.
    */
  private def lightestEdges(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String): DataFrame =
    edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst"),
      col(weightCol).cast("long").as("w"))
      .groupBy("src", "dst").agg(min("w").as("w"))

  /** [[shortestPathsFixed]]'s relax projection: the path to `dst` through
    * the joined source costs its distance plus the edge weight.
    */
  private def addWeight(joined: DataFrame): DataFrame =
    joined.select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))

  /** The Bellman-Ford loop shared by [[shortestPathsFixed]],
    * [[multiSourceShortestPaths]] and [[temporalReachability]]: the edge
    * frame is materialized once; then `maxHops` rounds of [[relaxRound]]
    * unioned with the state and reduced by `keys` to the minimum of the
    * state's one value column, each round materialized.
    */
  private def relaxLoop(edges: DataFrame, seed: DataFrame, keys: Seq[String],
      maxHops: Int)(relax: DataFrame => DataFrame): DataFrame = {
    require(maxHops >= 1, "need at least one hop")
    val e = materialize(edges)
    val value = seed.columns.filterNot(keys.contains).head
    var state = seed
    for (_ <- 1 to maxHops)
      state = materialize(state.unionByName(relaxRound(e, state, relax))
        .groupBy(keys.map(col): _*).agg(min(value).as(value)))
    state
  }

  /** One Bellman-Ford relaxation: the node-keyed state `dist` joins the
    * edge frame on `src`, and `relax` projects the joined rows to new
    * state candidates (by default [[shortestPathsFixed]]'s dist + w).
    * `PlanAssertSpec` pins its plan (small state side broadcast, no
    * Exchange on the edge side) without executing the loop.
    */
  private[graft] def relaxRound(e: DataFrame, dist: DataFrame,
      relax: DataFrame => DataFrame = addWeight): DataFrame =
    relax(e.join(dist.withColumnRenamed("node", "src"), Seq("src")))

  /** DuckDB-dialect oracle for [[shortestPathsFixed]]: rounds unrolled as
    * chained CTEs over the same integer arithmetic (kept beside the
    * implementation so they cannot drift).
    */
  def shortestPathsOracleSql(edgesSql: String, source: String,
      maxHops: Int): String = {
    val head =
      s"""WITH E0 AS ($edgesSql),
         |E AS (SELECT src, dst, min(w) AS w FROM E0 GROUP BY 1, 2),
         |d0 AS (SELECT '$source' AS node, CAST(0 AS BIGINT) AS dist)""".stripMargin
    val iters = (1 to maxHops).map { i =>
      s"""d$i AS (SELECT node, min(dist) AS dist FROM (
         |  SELECT node, dist FROM d${i - 1}
         |  UNION ALL
         |  SELECT e.dst, d.dist + e.w FROM d${i - 1} d JOIN E e ON e.src = d.node
         |) GROUP BY 1)""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  /** Earliest-arrival temporal reachability (time-respecting paths over a
    * contact network — Holme & Saramäki 2012): edges carry a timestamp and
    * a path may only continue on edges at or after the current arrival
    * time. arr(seed) = startTime; each round relaxes
    * arr(dst) = min{ t : (src, dst, t) ∈ E, t ≥ arr(src) } — the temporal
    * analogue of [[shortestPathsFixed]]'s Bellman-Ford rounds, and like it
    * exact integer min/compare arithmetic end to end.
    *
    * Note the asymmetry with static reachability: parallel edges at
    * different times must ALL be kept (an earlier edge may be unusable, a
    * later one usable), so the edge frame dedups on (src, dst, t), not
    * (src, dst).
    *
    * Scale shape: per round one keyed join of the edge frame against the
    * arrival table + one min groupBy, materialized per round.
    */
  def temporalReachability(edges: DataFrame, srcCol: String, dstCol: String,
      tsCol: String, source: String, startTime: Long,
      maxHops: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst"),
      col(tsCol).cast("long").as("t"))
      .distinct()
    relaxLoop(e, Seq((source, startTime)).toDF("node", "arrival"),
      Seq("node"), maxHops)(_.where(col("t") >= col("arrival"))
        .select(col("dst").as("node"), col("t").as("arrival")))
  }

  /** DuckDB replay of [[temporalReachability]], rounds unrolled. */
  def temporalReachabilityOracleSql(edgesSql: String, source: String,
      startTime: Long, maxHops: Int): String = {
    val head =
      s"""WITH E0 AS ($edgesSql),
         |E AS (SELECT DISTINCT src, dst, t FROM E0),
         |a0 AS (SELECT '$source' AS node, CAST($startTime AS BIGINT) AS arrival)"""
        .stripMargin
    val iters = (1 to maxHops).map { i =>
      s"""a$i AS (SELECT node, min(arrival) AS arrival FROM (
         |  SELECT node, arrival FROM a${i - 1}
         |  UNION ALL
         |  SELECT e.dst, e.t FROM a${i - 1} d
         |  JOIN E e ON e.src = d.node AND e.t >= d.arrival
         |) GROUP BY 1)""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  /** Power-law exponent MLE over a degree distribution (Clauset, Shalizi
    * & Newman 2009 eq. 3.1, continuous approximation):
    * α = 1 + n / Σ ln(dᵢ / (xmin − ½)) over nodes with degree ≥ xmin —
    * the "is this graph scale-free, and how heavy is the tail" summary
    * that decides hub-capping / salting strategy before running the
    * wedge-quadratic algorithms ([[triangleCounts]], [[bipartiteProject]]).
    *
    * No logarithms run in the plan: ln(d/(xmin−½)) is looked up from a
    * DRIVER-COMPUTED micro-nat literal table indexed by degree (the
    * [[graft.ext.Similarity.ndcgAtK]] constant-table pattern), so the sum
    * is an exact integer and engines agree bit-for-bit. Degrees clamp to
    * the table size `maxDegree` on BOTH sides — identical parity, and a
    * 100 TB graph with hubs past the cap only flattens those hubs'
    * contributions, it never diverges.
    *
    * Scale shape: one keyed degree count + one map-side-combinable sum.
    */
  def powerLawAlpha(edges: DataFrame, srcCol: String, xmin: Int = 2,
      maxDegree: Int = 1024): DataFrame = {
    require(xmin >= 1, "xmin must be >= 1")
    require(maxDegree >= xmin, "maxDegree must cover xmin")
    val logTable = powerLawLogTable(xmin, maxDegree)
    val degrees = edges.groupBy(col(srcCol)).agg(count(lit(1)).as("_d"))
      .where(col("_d") >= xmin)
    degrees
      .agg(count(lit(1)).as("n_tail"),
        sum(element_at(lit(logTable),
          least(col("_d"), lit(maxDegree.toLong)).cast("int"))).as("_sq"))
      .select(col("n_tail"),
        when(col("_sq") <= 0, lit(0.0)).otherwise(
          round(lit(1.0) + col("n_tail").cast("double") * 1e6 /
            col("_sq").cast("double"), 4)).as("alpha"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the edge list — positive means hubs link to
    * hubs (social-network shape), negative means hubs link to leaves
    * (internet/bipartite shape). With [[powerLawAlpha]] it is the
    * two-number summary of a graph's join-planning character: heavy tail
    * + negative assortativity = the hub-spoke pattern that needs
    * salting/hub-caps.
    *
    * Undirected normalization: every edge contributes BOTH orientations
    * (the standard symmetric estimator), so the correlation is over 2m
    * ordered pairs. All six sums are exact integers (degrees are counts)
    * until the single final sqrt/divide — the [[graft.ext.Events.lagAutocorr]]
    * Pearson shape.
    *
    * Scale shape: one keyed degree count + two broadcast-eligible degree
    * joins onto the edge frame + one map-side-combinable aggregate.
    */
  def assortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges.select(col(srcCol).cast("string").as("_a"),
      col(dstCol).cast("string").as("_b"))
      .where(col("_a") =!= col("_b")).distinct()
    // sym feeds deg AND the paired join (deg twice more) — without a
    // materialize the upstream edge derivation re-runs per branch
    val sym = materialize(
      und.unionAll(und.select(col("_b").as("_a"), col("_a").as("_b"))))
    val deg = materialize(sym.groupBy(col("_a").as("_n")).agg(count(lit(1)).as("_d")))
    val paired = sym
      .join(deg.select(col("_n").as("_a"), col("_d").as("_x")), Seq("_a"))
      .join(deg.select(col("_n").as("_b"), col("_d").as("_y")), Seq("_b"))
    val agg = paired.agg(count(lit(1)).as("n_pairs"),
      sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
      sum(col("_x") * col("_x")).as("_sxx"),
      sum(col("_y") * col("_y")).as("_syy"),
      sum(col("_x") * col("_y")).as("_sxy"))
    val num = col("n_pairs") * col("_sxy") - col("_sx") * col("_sy")
    val d1 = col("n_pairs") * col("_sxx") - col("_sx") * col("_sx")
    val d2 = col("n_pairs") * col("_syy") - col("_sy") * col("_sy")
    agg.select(col("n_pairs"),
      when(d1 <= 0 || d2 <= 0, lit(0.0)).otherwise(
        round(num.cast("double") /
          (sqrt(d1.cast("double")) * sqrt(d2.cast("double"))), 4))
        .as("assortativity"))
  }

  /** Micro-nat table ln(d / (xmin − ½)) for d = 1..maxDegree (entries
    * below xmin are never probed). Shared with the oracle generator.
    */
  private[graft] def powerLawLogTable(xmin: Int, maxDegree: Int): Array[Long] =
    Array.tabulate(maxDegree)(i =>
      math.round(1e6 * math.log((i + 1).toDouble / (xmin - 0.5))))

  /** DuckDB replay of [[powerLawAlpha]] with the SAME literal table. */
  def powerLawAlphaOracleSql(degreesSql: String, xmin: Int,
      maxDegree: Int): String = {
    val table = powerLawLogTable(xmin, maxDegree).mkString(", ")
    s"""WITH deg AS ($degreesSql),
       |tail AS (SELECT d FROM deg WHERE d >= $xmin),
       |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_tail,
       |    CAST(sum(([$table])[CAST(least(d, $maxDegree) AS INT)]) AS BIGINT)
       |      AS sq
       |  FROM tail)
       |SELECT n_tail,
       |  CASE WHEN sq <= 0 THEN 0.0
       |    ELSE round(1.0 + CAST(n_tail AS DOUBLE) * 1000000 /
       |      CAST(sq AS DOUBLE), 4) END AS alpha
       |FROM ag""".stripMargin
  }

  /** Degree-ordered orientation of a canonical undirected edge frame
    * (columns `a` < `b`): each edge oriented `lo → hi` from its
    * lower-(deg, node) endpoint, both endpoints joined against the
    * node-keyed degree table (broadcast-eligible). THE scale invariant of
    * every wedge join in this file ([[triangleCounts]], [[kTruss]]): max
    * outgoing fanout per node is O(√m) regardless of raw degree, so a
    * celebrity hub cannot mint a Σ deg² wedge blowup. PlanAssertSpec's
    * star-graph invariant pins this — an id-ordered regression fails CI.
    */
  private[graft] def orientByDegree(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("node")).unionAll(und.select(col("b")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(lowFirst, col("a")).otherwise(col("b")).as("lo"),
        when(lowFirst, col("b")).otherwise(col("a")).as("hi"))
  }

  /** Every triangle of a degree-oriented edge frame exactly once, as
    * (lo, u, v): wedges from a common low endpoint, u < v in oriented
    * order kills the (u,v)/(v,u) mirror, and the closing edge {u, v} may
    * be oriented either way — probe both directions (positional union:
    * keep (u, v) column order in BOTH legs).
    */
  private def orientedTriangles(o: DataFrame): DataFrame = {
    val wedges = o.select(col("lo"), col("hi").as("u"))
      .join(o.select(col("lo"), col("hi").as("v")), Seq("lo"))
      .where(col("u") < col("v"))
    wedges.join(
      o.select(col("lo").as("u"), col("hi").as("v"))
        .unionAll(o.select(col("hi").as("u"), col("lo").as("v"))),
      Seq("u", "v"))
  }

  /** Per-node triangle participation counts over an undirected graph given
    * as a directed edge frame (direction and duplicates are normalized
    * away; self-loops dropped).
    *
    * The join is DEGREE-ORDERED — each undirected edge is oriented from
    * its lower-(degree, node) endpoint to the higher one, and wedges are
    * built only from a node's outgoing oriented edges. Every triangle is
    * then found exactly once, and no node fans out more than O(√m)
    * oriented edges regardless of raw degree — the standard bound that
    * keeps the wedge join at O(m^1.5) total instead of Σ deg² (a celebrity
    * node with degree 10⁶ would otherwise mint 10¹² wedge candidates).
    * The wedge→closing-edge probe is an equi-join on the oriented edge
    * set itself.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val o = materialize(orientByDegree(undirectedPairs(edges, srcCol, dstCol)))
    orientedTriangles(o).select(explode(array(col("lo"), col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
  }

  /** Capped bipartite projection: from a bipartite edge list (left, right),
    * build the left–left co-occurrence graph — an edge (a, b, w) for every
    * left pair sharing ≥1 right entity, weighted by the count of shared
    * entities. The projection is quadratic IN EACH RIGHT ENTITY'S DEGREE,
    * so a mega-hub (a "the"-like entity shared by millions) would mint a
    * cartesian blowup; `maxPerRight` caps each right entity to its first
    * `maxPerRight` left members (rank by left id — deterministic), the
    * same bounding contract as [[graft.ext.Association.pairSupport]]'s
    * mega-basket cap. Entities over the cap contribute their first members
    * only — log/measure them rather than silently paying n².
    */
  def bipartiteProject(edges: DataFrame, leftCol: String, rightCol: String,
      maxPerRight: Int): DataFrame = {
    require(maxPerRight >= 2, "maxPerRight must be at least 2")
    import org.apache.spark.sql.expressions.Window
    val d = edges.select(col(leftCol).cast("string").as("l"),
      col(rightCol).cast("string").as("r")).distinct()
    val w = Window.partitionBy(col("r")).orderBy(col("l"))
    // both sides of the self-join scan the capped adjacency — materialize
    // it once instead of re-running the distinct + per-r rank twice
    val capped = materialize(d.withColumn("_rk", row_number().over(w))
      .where(col("_rk") <= maxPerRight).drop("_rk"))
    capped.as("x").join(capped.as("y"),
      col("x.r") === col("y.r") && col("x.l") < col("y.l"))
      .groupBy(col("x.l").as("a"), col("y.l").as("b"))
      .agg(count(lit(1)).as("weight"))
  }

  /** Multi-source shortest paths: [[shortestPathsFixed]] generalized to a
    * seed SET in ONE relaxation pass — the distance state is keyed
    * (seed, node), so each round is still a single edge join + min groupBy
    * no matter how many seeds run (the per-seed-loop alternative pays
    * `seeds × rounds` jobs and re-reads the edge frame each time).
    * Returns (seed, node, dist) for nodes reachable within `maxHops`.
    */
  def multiSourceShortestPaths(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, seeds: Seq[String],
      maxHops: Int): DataFrame = {
    require(seeds.nonEmpty, "need at least one seed")
    val spark = edges.sparkSession
    import spark.implicits._
    relaxLoop(lightestEdges(edges, srcCol, dstCol, weightCol),
      seeds.distinct.map(s => (s, s, 0L)).toDF("seed", "node", "dist"),
      Seq("seed", "node"), maxHops)(
      _.select(col("seed"), col("dst").as("node"), (col("dist") + col("w")).as("dist")))
  }

  /** Harmonic centrality from a seed sample: `Σ_seeds 1/d(seed, v)` over
    * positive distances — the standard sampled-centrality estimate (exact
    * closeness needs all-pairs). Contributions are quantized EXACT
    * integers (`1e6 div d`), so the sum is order-free and any engine
    * reproduces the rounded score. One multi-source pass; seeds
    * contribute nothing to themselves.
    */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: Seq[String], maxHops: Int): DataFrame =
    multiSourceShortestPaths(edges, srcCol, dstCol, weightCol, seeds, maxHops)
      .where(col("dist") > 0)
      .withColumn("_q", expr("1000000L div dist"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_seeds"),
        round(sum(col("_q")).cast("double") / 1e6, 4).as("harmonic"))

  /** DuckDB-dialect oracle for [[multiSourceShortestPaths]] — the same
    * unrolled rounds over (seed, node) state. `seedsSql` must yield a
    * one-column `seed` relation.
    */
  def multiSourceOracleSql(edgesSql: String, seedsSql: String,
      maxHops: Int): String = {
    val head =
      s"""WITH E0 AS ($edgesSql),
         |E AS (SELECT src, dst, min(w) AS w FROM E0 GROUP BY 1, 2),
         |d0 AS (SELECT seed, seed AS node, CAST(0 AS BIGINT) AS dist
         |  FROM (SELECT DISTINCT seed FROM ($seedsSql)))""".stripMargin
    val iters = (1 to maxHops).map { i =>
      s"""d$i AS (SELECT seed, node, min(dist) AS dist FROM (
         |  SELECT seed, node, dist FROM d${i - 1}
         |  UNION ALL
         |  SELECT d.seed, e.dst, d.dist + e.w FROM d${i - 1} d JOIN E e ON e.src = d.node
         |) GROUP BY 1, 2)""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  /** k-core: iteratively peel nodes of undirected degree < k until the
    * fixpoint (or `maxRounds` — the same bounded-rounds contract as
    * [[shortestPathsFixed]]; rounds after convergence are no-ops, and the
    * loop exits early once the survivor count is stable, which cannot
    * change the result). The standard graph-curation core: spam/bot
    * subgraphs and weakly-attached noise peel away, the dense core stays.
    * Returns (node, degree) of the surviving core subgraph.
    *
    * Scale shape: per round one map-side-combinable degree count plus two
    * semi-joins of the edge frame against the (node-keyed, broadcast-
    * eligible) survivor set; the edge frame shrinks monotonically.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    require(maxRounds >= 1, "need at least one round")
    var e = materialize(bothDirections(undirectedPairs(edges, srcCol, dstCol)))
    var round = 0
    var stable = false
    while (round < maxRounds && !stable) {
      // peel via the REMOVED set: it is small (and empty at convergence),
      // so the anti-join broadcast is tiny and the fixpoint check is a
      // counter on its #nodes-row checkpoint, not an edge-frame pass
      val (removed, c) = materialize(
        e.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
          .where(col("deg") < k).select("node"),
        count(lit(1)).as("removed"))
      if (c.getLong(0) == 0L) {
        stable = true
      } else {
        e = materialize(e
          .join(removed.withColumnRenamed("node", "u"), Seq("u"), "left_anti")
          .join(removed.withColumnRenamed("node", "v"), Seq("v"), "left_anti")
          .select("u", "v"))
        round += 1
      }
    }
    e.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
      .where(col("deg") >= k)
  }

  /** DuckDB-dialect oracle for [[kCore]]: rounds unrolled (no early exit —
    * converged rounds are no-ops, so the fixed unroll agrees with the
    * early-exiting implementation). Emits `e0..e<rounds>`; the caller
    * selects the final degrees.
    */
  def kCoreOracleSql(edgesSql: String, k: Int, rounds: Int): String = {
    val head =
      s"""WITH undE AS ($edgesSql),
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM undE WHERE src <> dst),
         |e0 AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und)""".stripMargin
    val iters = (1 to rounds).map { r =>
      s"""k$r AS (SELECT u AS node FROM e${r - 1} GROUP BY 1 HAVING count(*) >= $k),
         |e$r AS (SELECT e.u, e.v FROM e${r - 1} e
         |  JOIN k$r ku ON ku.node = e.u JOIN k$r kv ON kv.node = e.v)""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  /** k-truss decomposition (Cohen 2008): the maximal subgraph in which
    * every edge closes at least k−2 triangles WITHIN the subgraph — the
    * edge-grained refinement of [[kCore]] (a k-truss is always inside the
    * (k−1)-core, but prunes bridge edges the core keeps). The
    * community-backbone extractor.
    *
    * Peeling loop in the [[kCore]] shape: per round, per-edge triangle
    * support from a DEGREE-ORDERED wedge join over the current edge set
    * (the [[triangleCounts]] orientation: each edge oriented from its
    * lower-(deg, node) endpoint, wedges only from outgoing oriented
    * edges — O(√m) fanout per node regardless of raw degree, so a hub's
    * id-ordered neighborhood can't mint a quadratic wedge blowup), then
    * edges under k−2 drop via anti-join; fixed `maxRounds` budget with an
    * early exit once a round's checkpoint counts no weak edge.
    * Returns surviving (a, b, support) under the FINAL edge set. Support
    * values are orientation-independent (each triangle is found exactly
    * once and credits its three canonical edges), so the unrolled oracle
    * — regenerated from this same orientation — replays bit-exact.
    */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int): DataFrame = {
    require(k >= 3, "k must be >= 3")
    require(maxRounds >= 1, "need at least one round")
    // the loop state is the degree-oriented edge set: each round's
    // checkpoint holds (lo, hi), which the wedge join reads four ways, and
    // the canonical (a, b) pairs are a narrow projection of it
    var o = materialize(orientByDegree(undirectedPairs(edges, srcCol, dstCol)))
    def canonical(o: DataFrame): DataFrame =
      o.select(least(col("lo"), col("hi")).as("a"), greatest(col("lo"), col("hi")).as("b"))
    def support(o: DataFrame): DataFrame =
      orientedTriangles(o).select(explode(array(
        struct(least(col("lo"), col("u")).as("a"),
          greatest(col("lo"), col("u")).as("b")),
        struct(least(col("lo"), col("v")).as("a"),
          greatest(col("lo"), col("v")).as("b")),
        struct(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b")))).as("_e"))
        .select(col("_e.a").as("a"), col("_e.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("support"))
    var round = 0
    var stable = false
    while (round < maxRounds && !stable) {
      val e = canonical(o)
      val (weak, c) = materialize(e.join(support(o), Seq("a", "b"), "left")
        .where(coalesce(col("support"), lit(0L)) < k - 2)
        .select("a", "b"), count(lit(1)).as("weak"))
      if (c.getLong(0) == 0L) stable = true
      else {
        o = materialize(orientByDegree(e.join(weak, Seq("a", "b"), "left_anti")))
        round += 1
      }
    }
    canonical(o).join(support(o), Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("support"), lit(0L)).as("support"))
  }

  /** DuckDB replay of [[kTruss]], rounds unrolled (a converged round
    * removes nothing, so a fixed unroll equals the early-exit loop). The
    * wedge join replays the SAME degree-ordered orientation as the
    * implementation (support values are orientation-independent, but the
    * oracle-replays-the-identical-computation discipline holds — and the
    * bounded fanout speeds DuckDB up just the same).
    */
  def kTrussOracleSql(edgesSql: String, k: Int, rounds: Int): String = {
    val head =
      s"""WITH undE AS ($edgesSql),
         |e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
         |    greatest(src, dst) AS b
         |  FROM undE WHERE src <> dst)""".stripMargin
    def supSql(src: String, tag: String, out: String) =
      s"""d$tag AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT a AS node FROM $src UNION ALL SELECT b FROM $src) GROUP BY 1),
         |o$tag AS MATERIALIZED (
         |  SELECT CASE WHEN x.deg < y.deg OR (x.deg = y.deg AND e.a < e.b)
         |      THEN e.a ELSE e.b END AS lo,
         |    CASE WHEN x.deg < y.deg OR (x.deg = y.deg AND e.a < e.b)
         |      THEN e.b ELSE e.a END AS hi
         |  FROM $src e JOIN d$tag x ON x.node = e.a JOIN d$tag y ON y.node = e.b),
         |t$tag AS MATERIALIZED (
         |  SELECT w.lo, w.u, w.v
         |  FROM (SELECT o1.lo, o1.hi AS u, o2.hi AS v
         |        FROM o$tag o1 JOIN o$tag o2 ON o2.lo = o1.lo AND o1.hi < o2.hi) w
         |  JOIN (SELECT lo AS u, hi AS v FROM o$tag
         |        UNION ALL SELECT hi, lo FROM o$tag) c
         |    ON c.u = w.u AND c.v = w.v),
         |$out AS MATERIALIZED (SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
         |  SELECT least(lo, u) AS a, greatest(lo, u) AS b FROM t$tag
         |  UNION ALL SELECT least(lo, v), greatest(lo, v) FROM t$tag
         |  UNION ALL SELECT least(u, v), greatest(u, v) FROM t$tag
         |) GROUP BY 1, 2)""".stripMargin
    val iters = (1 to rounds).map { r =>
      s"""${supSql(s"e${r - 1}", s"$r", s"s$r")},
         |e$r AS MATERIALIZED (SELECT e.a, e.b FROM e${r - 1} e LEFT JOIN s$r s
         |  ON s.a = e.a AND s.b = e.b
         |  WHERE coalesce(s.support, 0) >= ${k - 2})""".stripMargin
    }
    val fin =
      s"""${supSql(s"e$rounds", "f", "sf")}
         |SELECT e.a, e.b, coalesce(sf.support, 0) AS support
         |FROM e$rounds e LEFT JOIN sf ON sf.a = e.a AND sf.b = e.b
         |ORDER BY e.a, e.b""".stripMargin
    (head +: iters.toSeq :+ fin).mkString(",\n")
  }

  /** Per-node core numbers (coreness) via h-index iteration (Lü et al.
    * 2016, public result: repeatedly replacing each node's value with the
    * H-index of its neighbors' values, starting from degrees, converges
    * monotonically DOWN to the core number). The graded refinement of
    * [[kCore]]: one run scores every node instead of answering a single
    * k. Runs a FIXED `rounds` budget — the intermediate state is
    * well-defined and engine-identical even before convergence
    * (convergence needs rounds ≈ the longest strictly-decreasing
    * h-chain; small for real graphs).
    *
    * Scale shape: per round one node-keyed join (h table ≪ edges,
    * broadcast-eligible) and ONE ranked pass per neighborhood — the
    * H-index needs the neighbor values ranked, so this operator does pay
    * a per-node window sort each round (unlike [[kCore]]'s pure counts);
    * the tie order inside equal values cannot change max(min(rank, v)),
    * so the window needs no extra tiebreak. Materialized per round.
    */
  def coreNumbers(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one round")
    import org.apache.spark.sql.expressions.Window
    val e = materialize(bothDirections(undirectedPairs(edges, srcCol, dstCol)))
    var h = materialize(e.groupBy(col("u").as("node")).agg(count(lit(1)).as("h")))
    for (_ <- 1 to rounds) {
      val nb = e
        .join(h.withColumnsRenamed(Map("node" -> "u", "h" -> "hu")), Seq("u"))
        .select(col("v").as("node"), col("hu"))
      val w = Window.partitionBy("node").orderBy(col("hu").desc)
      h = materialize(nb.withColumn("rn", row_number().over(w))
        .groupBy("node")
        .agg(max(least(col("rn").cast("long"), col("hu"))).as("h")))
    }
    h
  }

  /** DuckDB-dialect oracle for [[coreNumbers]]: rounds unrolled with the
    * same ranked H-index formula. Emits `h$rounds(node, h)`.
    */
  def coreNumbersOracleSql(edgesSql: String, rounds: Int): String = {
    val head =
      s"""WITH E0 AS ($edgesSql),
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM E0 WHERE src <> dst),
         |e AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
         |h0 AS (SELECT u AS node, count(*) AS h FROM e GROUP BY 1)""".stripMargin
    val iters = (1 to rounds).map { r =>
      s"""h$r AS (SELECT node, max(least(rn, hu)) AS h FROM (
         |  SELECT e.v AS node, p.h AS hu,
         |    row_number() OVER (PARTITION BY e.v ORDER BY p.h DESC) AS rn
         |  FROM e JOIN h${r - 1} p ON p.node = e.u)
         |  GROUP BY 1)""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007): every node starts in its own community; each round every node
    * adopts the most frequent label in its CLOSED neighborhood (the
    * node's own current label votes once — the self-vote damps the
    * two-coloring oscillation synchronous LPA is known for), ties broken
    * by the SMALLEST label — the deterministic variant (classic LPA
    * breaks ties randomly, which would make the result un-oracle-able
    * and rerun-unstable). Runs a FIXED `rounds` budget — both engines
    * compute the identical intermediate state, converged or not.
    *
    * Scale shape: per round one edge⋈labels join (labels are node-keyed,
    * broadcast-eligible) and two partial-agg groupBys — the per-node
    * argmax is min over a (−count, label) struct, NEVER a window sort.
    * Materialized per round. String-keyed: a dictionary would have to be
    * order-preserving, since the tie-break is the smallest label.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one round")
    val e = materialize(bothDirections(undirectedPairs(edges, srcCol, dstCol)))
    var labels = materialize(e.select(col("u").as("node")).distinct()
      .withColumn("label", col("node")))
    for (_ <- 1 to rounds) {
      val neigh = e
        .join(labels.withColumnsRenamed(Map("node" -> "u")), Seq("u"))
        .select(col("v").as("node"), col("label"))
        .unionByName(labels) // self-vote
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      labels = materialize(neigh.groupBy("node")
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("label")))
    }
    labels
  }

  /** DuckDB-dialect oracle for [[labelPropagation]]: rounds unrolled, the
    * frequency argmax as a row_number over (count DESC, label). Emits
    * `l$rounds(node, label)`.
    */
  def labelPropagationOracleSql(edgesSql: String, rounds: Int): String = {
    val head =
      s"""WITH E0 AS ($edgesSql),
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM E0 WHERE src <> dst),
         |e AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
         |l0 AS (SELECT DISTINCT u AS node, u AS label FROM e)""".stripMargin
    val iters = (1 to rounds).map { r =>
      s"""l$r AS (SELECT node, label FROM (
         |  SELECT node, label, count(*) AS c,
         |    row_number() OVER (PARTITION BY node
         |      ORDER BY count(*) DESC, label) AS rk
         |  FROM (SELECT e.v AS node, l.label
         |        FROM e JOIN l${r - 1} l ON l.node = e.u
         |        UNION ALL SELECT node, label FROM l${r - 1})
         |  GROUP BY node, label) WHERE rk = 1)""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  /** Local clustering coefficient per node: 2·triangles ÷ (deg·(deg−1))
    * over the distinct undirected graph — the "how clique-like is this
    * node's neighborhood" curation signal (spam rings score ~1, organic
    * hubs score low). Triangles come from [[triangleCounts]] (degree-
    * ordered, no celebrity blowup); degrees are one partial-agg count;
    * the final join is node-keyed and broadcast-eligible. The coefficient
    * is rounded to 4 decimals from an exact integer pair (2·tri,
    * deg·(deg−1)) so the division is one fixed-shape double op —
    * cross-engine hash-stable.
    */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = undirectedPairs(edges, srcCol, dstCol)
    val deg = und.select(col("a").as("node")).unionAll(und.select(col("b")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val tri = triangleCounts(edges, srcCol, dstCol)
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("deg") < 2, lit(0.0)).otherwise(
          round(lit(2.0) * coalesce(col("triangles"), lit(0L)) /
            (col("deg") * (col("deg") - 1)), 4)).as("coef"))
  }

  /** Adamic–Adar link prediction: for every NON-adjacent node pair (a, b)
    * at distance 2, score(a,b) = Σ_{w ∈ N(a)∩N(b)} 1/ln(deg w) — common
    * neighbors weighted down by how promiscuous they are (Adamic & Adar
    * 2003), the classic "which edges are missing" signal for graph
    * completion / related-item mining.
    *
    * Determinism: each center's 1/ln(deg) contribution is quantized ONCE
    * to integer micro-units (one fixed-shape double op per distinct
    * degree), so per-pair sums are order-free and cross-engine exact —
    * the same contract as [[harmonicCentrality]]. Output ranks by the
    * integer sum with a (a, b) tiebreak, so top-k is total-ordered.
    *
    * Scale shape: wedges come from one self-join of the adjacency list on
    * the center node — the quadratic mega-hub blowup is bounded by
    * `maxDegree` (hubs above it are dropped as centers, the same
    * deterministic cap as [[bipartiteProject]]; their contribution
    * 1/ln(deg) is the smallest anyway). The already-adjacent filter is an
    * anti-join on the undirected edge set. No windows, no driver paths.
    */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
      maxDegree: Int = 100, topK: Int = 100): DataFrame = {
    require(maxDegree >= 2, "maxDegree must be >= 2")
    require(topK >= 1, "topK must be positive")
    // und feeds three shuffles (degree count, wedge join, adjacency
    // anti-join) — materialize the distinct edge set once, the same
    // "adjacency list is an index you build once" shape a real link-
    // prediction pass uses at scale
    val und = materialize(undirectedPairs(edges, srcCol, dstCol))
    val adj = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
    val deg = adj.groupBy(col("a").as("w")).agg(count(lit(1)).as("deg"))
    // centers with deg ∈ [2, maxDegree]; quantized contribution per center
    val centers = deg.where(col("deg") >= 2 && col("deg") <= maxDegree)
      .withColumn("_q", round(lit(1e6) / log(col("deg"))).cast("long"))
    // both sides of the wedge self-join scan this frame; materializing it
    // halves the adj⋈centers work (exchange reuse alone can't — the two
    // aliases carry different projections)
    val wedgeSide = materialize(adj.join(centers, adj("a") === centers("w"))
      .select(col("w"), col("b").as("n"), col("_q")))
    val pairs = wedgeSide.as("x").join(wedgeSide.as("y"),
      col("x.w") === col("y.w") && col("x.n") < col("y.n"))
      .select(col("x.n").as("a"), col("y.n").as("b"), col("x._q").as("_q"))
    val scored = pairs.join(und, Seq("a", "b"), "left_anti")
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"), sum("_q").as("_sq"))
    scored.orderBy(col("_sq").desc, col("a"), col("b")).limit(topK)
      .select(col("a").as("node_a"), col("b").as("node_b"),
        col("n_common"),
        round(col("_sq").cast("double") / 1e6, 4).as("aa_score"))
  }

  /** Walk-kernel edge prep: project, drop self-loops, materialize — NO global
    * distinct. Duplicate (src, dst) rows cannot change any hop's outcome:
    * the next-hop choice is an argmin (plain `min` for [[randomWalks]],
    * min over the race-key struct in [[biasedWalks]]) and min is
    * duplicate-insensitive, so deduping the corpus-scale edge frame would
    * buy nothing and cost the kernel's only full-data shuffle. At 100 TB
    * multiplicity only multiplies candidate rows flowing into a
    * map-side-combinable min — no sort, no window, no exchange of the
    * edge frame, ever.
    */
  private def walkEdges(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    materialize(edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst"))
      .where(col("src") =!= col("dst")))

  /** Deterministic random walks (the node2vec/DeepWalk sampling kernel):
    * `walksPerSeed` walks of `steps` hops from every seed; at each hop a
    * walk moves to the out-neighbor minimizing md5(walk_id:step:neighbor)
    * — a hash-derived "random" choice that is reproducible across engines
    * and reruns (true RNG would make the corpus un-oracle-able and break
    * append-stability). Walks at a sink node simply end. Returns one row
    * per (walk_id, step, node) visited, step 0 = the seed.
    *
    * Scale shape: the edge frame is read once per hop via a keyed join
    * against the (walks × 1)-row frontier — broadcast-sized for any sane
    * walk count — and the argmin is a map-side-combinable min over a
    * (hash, neighbor) struct, so no hop ever sorts or windows the
    * candidate set. The frontier is materialized per hop.
    */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Seq[String], steps: Int, walksPerSeed: Int = 1): DataFrame = {
    require(steps >= 1, "need at least one step")
    require(walksPerSeed >= 1, "need at least one walk per seed")
    require(seeds.nonEmpty, "need at least one seed")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = walkEdges(edges, srcCol, dstCol)
    var frontier = seeds.distinct.sorted
      .flatMap(s => (0 until walksPerSeed).map(w => (s"$s#$w", 0L, s)))
      .toDF("walk_id", "step", "node")
    var out = frontier
    for (st <- 1 to steps) {
      val cand = e
        .join(frontier.select(col("walk_id"), col("node").as("src")), Seq("src"))
        .select(col("walk_id"), struct(
          md5(concat_ws(":", col("walk_id"), lit(st.toString), col("dst")))
            .as("h"),
          col("dst").as("d")).as("hd"))
      frontier = materialize(cand.groupBy("walk_id").agg(min(col("hd")).as("m"))
        .select(col("walk_id"), lit(st.toLong).as("step"),
          col("m.d").as("node")))
      out = out.unionByName(frontier)
    }
    out
  }

  /** DuckDB-dialect oracle for [[randomWalks]]: hops unrolled as chained
    * CTEs, the argmin as a row_number over the same md5 key with the same
    * neighbor tiebreak. Emits `walks(walk_id, step, node)`.
    */
  def randomWalksOracleSql(edgesSql: String, seeds: Seq[String],
      steps: Int, walksPerSeed: Int = 1): String = {
    val seedRows = seeds.distinct.sorted
      .flatMap(s => (0 until walksPerSeed).map(w => s"('$s#$w', '$s')"))
      .mkString(", ")
    val head =
      s"""WITH E0 AS ($edgesSql),
         |e AS (SELECT DISTINCT src, dst FROM E0 WHERE src <> dst),
         |s0 AS (SELECT walk_id, CAST(0 AS BIGINT) AS step, node
         |  FROM (VALUES $seedRows) t(walk_id, node))""".stripMargin
    val iters = (1 to steps).map { i =>
      s"""s$i AS (SELECT walk_id, CAST($i AS BIGINT) AS step, dst AS node FROM (
         |  SELECT f.walk_id, e.dst, row_number() OVER (PARTITION BY f.walk_id
         |      ORDER BY md5(f.walk_id || ':$i:' || e.dst), e.dst) AS rk
         |    FROM s${i - 1} f JOIN e ON e.src = f.node) WHERE rk = 1)""".stripMargin
    }
    val union = (0 to steps).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
    (head +: iters).mkString(",\n") + s",\nwalks AS ($union)"
  }

  /** The DuckDB-dialect oracle for [[pageRankFixed]] over an `edges(src,
    * dst)` relation — iterations unrolled as chained CTEs with the same
    * integer `//` arithmetic. Kept next to the implementation so the two
    * can never drift silently.
    */
  def pageRankOracleSql(edgesSql: String, iterations: Int,
      dampingPct: Int = 85, scale: Long = 1000000000000L): String = {
    val head =
      s"""WITH E AS ($edgesSql),
         |nodes AS (SELECT src AS node FROM E UNION SELECT dst FROM E),
         |nn AS (SELECT count(*) AS c FROM nodes),
         |deg AS (SELECT src, count(*) AS outdeg FROM E GROUP BY 1),
         |r0 AS (SELECT node, ($scale // c) AS rank FROM nodes CROSS JOIN nn)""".stripMargin
    val iters = (1 to iterations).map { i =>
      s"""r$i AS (SELECT nd.node,
         |  ((($scale // c) * ${100L - dampingPct}) // 100) + coalesce(s.m, 0) AS rank
         |  FROM nodes nd CROSS JOIN nn
         |  LEFT JOIN (SELECT e.dst AS node,
         |      sum((r.rank * $dampingPct // 100) // d.outdeg) AS m
         |    FROM E e JOIN r${i - 1} r ON r.node = e.src
         |    JOIN deg d ON d.src = e.src GROUP BY 1) s ON s.node = nd.node)""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  /** DuckDB oracle for [[personalizedPageRankFixed]] — the same unrolled
    * integer CTE chain with the teleport mass restricted to the seed
    * list. `seedsSql` is a SQL list literal, e.g. `('s1', 's2')`.
    */
  def personalizedPageRankOracleSql(edgesSql: String, seedsSql: String,
      nSeeds: Int, iterations: Int, dampingPct: Int = 85,
      scale: Long = 1000000000000L): String = {
    val init = scale / nSeeds
    val base = (init * (100L - dampingPct)) / 100L
    val head =
      s"""WITH E AS ($edgesSql),
         |nodes AS (SELECT src AS node FROM E UNION SELECT dst FROM E),
         |deg AS (SELECT src, count(*) AS outdeg FROM E GROUP BY 1),
         |r0 AS (SELECT node,
         |  CASE WHEN node IN $seedsSql THEN $init ELSE 0 END AS rank
         |  FROM nodes)""".stripMargin
    val iters = (1 to iterations).map { i =>
      s"""r$i AS (SELECT nd.node,
         |  (CASE WHEN nd.node IN $seedsSql THEN $base ELSE 0 END)
         |    + coalesce(s.m, 0) AS rank
         |  FROM nodes nd
         |  LEFT JOIN (SELECT e.dst AS node,
         |      sum((r.rank * $dampingPct // 100) // d.outdeg) AS m
         |    FROM E e JOIN r${i - 1} r ON r.node = e.src
         |    JOIN deg d ON d.src = e.src GROUP BY 1) s ON s.node = nd.node)"""
        .stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  /** HyperBall (Boldi & Vigna 2013, public): the neighborhood function
    * N(r) — how many (node, reachable-node) pairs exist within r hops —
    * estimated by giving every node an HLL register set of its ball and
    * growing balls by register max-merge along edges each round. This is
    * THE scalable way to measure reach/effective diameter: exact
    * neighborhood sets explode quadratically, the sketch keeps every node
    * at 256 bytes and the merge is the same keyed max the HLL union uses.
    *
    * Determinism: registers are the md5-derived [[graft.ext.Sketch]]
    * registers; per-node ball estimates round to 2 dp and are quantized
    * to integer hundredths before the cross-node total, so every number
    * replays in DuckDB ([[hyperBallOracleSql]] unrolls the rounds).
    *
    * Scale shape: each round is one edge ⋈ registers join keyed on the
    * endpoint plus a (node, bucket) max — the register frame is
    * nodes × ≤256 rows regardless of density; materialized per round.
    */
  def hyperBall(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    // string-keyed: the registers are md5(node string)-derived either way
    val e = materialize(edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .unionByName(edges.select(col(dstCol).as("u"), col(srcCol).as("v")))
      .distinct())
    val nodes = e.select(col("u").as("node")).distinct()
    // registers ride a 256-byte VECTOR per node aggregated by the native
    // map-side-combining HllRegisterMerge — each round's exchange carries
    // one fixed buffer per node per partition, never one row per (node,
    // register) (the row layout exchanged |edges|·registers rows/round;
    // measured 5x slower on the co-purchase graph)
    import graft.expr.HllRegisterAgg.{hllBuild, hllMerge, hllStats}
    var regs = materialize(graft.ext.Sketch.hllProject(nodes, "node")
      .groupBy("node").agg(hllBuild(col("bucket"), col("_rho")).as("regs")))
    def roundRow(r: Int, g: DataFrame): DataFrame = {
      val est = graft.ext.Sketch.estimateFromStats(
        g.select(col("node"), hllStats(col("regs")).as("_st"))
          .select(col("node"), col("_st.s_present").as("_s_present"),
            col("_st.present").as("_present")))
      est.agg(count(lit(1)).as("n_nodes"),
          sum(round(col("estimate") * 100).cast("long")).as("_rq"))
        .select(lit(r).as("round"), col("n_nodes"),
          round(col("_rq") / 100.0, 2).as("reach_total"),
          round(col("_rq").cast("double") / col("n_nodes") / 100.0, 4)
            .as("avg_ball"))
    }
    var out = roundRow(0, regs)
    for (r <- 1 to rounds) {
      val fromNbr = e.join(regs.withColumnRenamed("node", "v"), Seq("v"))
        .select(col("u").as("node"), col("regs"))
      regs = materialize(fromNbr.unionByName(regs)
        .groupBy("node").agg(hllMerge(col("regs")).as("regs")))
      out = out.unionByName(roundRow(r, regs))
    }
    out
  }

  /** DuckDB replay of [[hyperBall]] — materialized unrolled register CTEs
    * plus the grouped estimator (the q_hll_window shape, per node per
    * round). `edgesSql` must yield (src, dst) strings.
    */
  def hyperBallOracleSql(edgesSql: String, rounds: Int): String = {
    val rhoSql =
      """CASE WHEN length(regexp_extract(substring(h, 3, 12), '^0*')) = 12 THEN 49
        |  ELSE 4 * length(regexp_extract(substring(h, 3, 12), '^0*'))
        |    + CASE substring(regexp_replace(substring(h, 3, 12), '^0*', ''), 1, 1)
        |        WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
        |        WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
        |        ELSE 0 END + 1 END""".stripMargin
    val head =
      s"""WITH eraw AS ($edgesSql),
         |e AS MATERIALIZED (SELECT src AS u, dst AS v FROM eraw
         |  UNION SELECT dst, src FROM eraw),
         |nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM e),
         |h0 AS (SELECT node, md5(CAST(node AS VARCHAR)) AS h FROM nodes),
         |g0 AS MATERIALIZED (SELECT node,
         |    (strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 16
         |      + strpos('0123456789abcdef', substring(h, 2, 1)) - 1 AS bucket,
         |    $rhoSql AS reg
         |  FROM h0)""".stripMargin
    val iters = (1 to rounds).map { r =>
      s"""g$r AS MATERIALIZED (SELECT node, bucket, max(reg) AS reg FROM (
         |  SELECT e.u AS node, p.bucket, p.reg FROM e
         |    JOIN g${r - 1} p ON p.node = e.v
         |  UNION ALL SELECT node, bucket, reg FROM g${r - 1}) GROUP BY 1, 2)"""
        .stripMargin
    }
    val ests = (0 to rounds).map { r =>
      s"""est$r AS (SELECT $r AS round, CAST(count(*) AS BIGINT) AS n_nodes,
         |    round(CAST(sum(eq) AS BIGINT) / 100.0, 2) AS reach_total,
         |    round(CAST(CAST(sum(eq) AS BIGINT) AS DOUBLE) / count(*) / 100.0, 4)
         |      AS avg_ball
         |  FROM (SELECT node, CAST(round(estimate * 100) AS BIGINT) AS eq FROM (
         |    SELECT node, CASE WHEN raw <= 640.0 AND zeros > 0
         |        THEN round(256.0 * ln(256.0 / zeros), 2)
         |        ELSE round(raw, 2) END AS estimate
         |    FROM (SELECT node,
         |        CAST(0.7213 AS DOUBLE) / (1.0 + CAST(1.079 AS DOUBLE) / 256.0)
         |          * 256.0 * 256.0 /
         |          (CAST(s_present + (256 - present) * (CAST(1 AS BIGINT) << 49)
         |            AS DOUBLE) / 562949953421312.0) AS raw,
         |        256 - present AS zeros
         |      FROM (SELECT node,
         |          sum(CAST(1 AS BIGINT) << (49 - reg)) AS s_present,
         |          count(*) AS present
         |        FROM g$r GROUP BY 1)))))""".stripMargin
    }
    ((head +: (iters ++ ests)).mkString(",\n")) +
      "\n" + (0 to rounds).map(r => s"SELECT * FROM est$r").mkString("\nUNION ALL\n") +
      "\nORDER BY round"
  }

  /** node2vec-biased walks (Grover & Leskovec 2016, public): the next hop
    * is drawn with weight 1/p for returning to the PREVIOUS node, 1 for
    * moving to a common neighbor of the previous node (BFS-ish), and 1/q
    * for moving outward (DFS-ish) — p > 1, q < 1 explores; p < 1 returns.
    * The draw is DETERMINISTIC weighted sampling: per candidate an
    * md5-derived uniform feeds an exponential race `−ln(u)·(1/weight)`
    * (the Efraimidis-Spirakis key [[graft.ext.Corpus]]'s weighted sampler
    * uses), quantized to integer picos so the argmin replays in any
    * engine; ties break on the neighbor id.
    *
    * Scale shape: per step one edge ⋈ frontier join (frontier ≤ #walks
    * rows → broadcast), one (prev, dst) membership probe against the edge
    * set (keyed join), and a struct-min argmin — no windows over the edge
    * frame; the frontier is materialized per step.
    */
  def biasedWalks(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Seq[String], steps: Int, pReturn: Double, qOut: Double,
      walksPerSeed: Int = 1): DataFrame = {
    require(steps >= 1 && walksPerSeed >= 1 && seeds.nonEmpty,
      "need steps, walks, seeds")
    require(pReturn > 0 && qOut > 0, "p and q must be positive")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = walkEdges(edges, srcCol, dstCol)
    var frontier = seeds.distinct.sorted
      .flatMap(s => (0 until walksPerSeed).map(w => (s"$s#$w", 0L, s, null: String)))
      .toDF("walk_id", "step", "node", "prev")
    var out = frontier.select("walk_id", "step", "node")
    for (st <- 1 to steps) {
      // distinct here dedups edge multiplicity on the SMALL candidate set
      // (walks × out-degree rows) so the distance-1 probe join below can't
      // multiply duplicates against duplicates; the corpus-scale edge
      // frame itself is never deduped (see walkEdges)
      val cand = e
        .join(frontier.select(col("walk_id"), col("node").as("src"),
          col("prev")), Seq("src"))
        .select(col("walk_id"), col("src"), col("prev"), col("dst"))
        .distinct()
      // distance-1 probe: is (prev, dst) itself an edge?
      val nbrOfPrev = e.select(col("src").as("prev"), col("dst"),
        lit(true).as("_n1"))
      val weighted = cand.join(nbrOfPrev, Seq("prev", "dst"), "left")
        .withColumn("_u",
          conv(substring(md5(concat_ws(":", col("walk_id"), lit(st.toString),
            col("dst"))), 1, 12), 16, 10).cast("long").cast("double") /
            lit(math.pow(16.0, 12)))
        .withColumn("_winv",
          when(col("prev").isNull, lit(1.0))
            .when(col("dst") === col("prev"), lit(pReturn))
            .when(col("_n1"), lit(1.0)).otherwise(lit(qOut)))
        .withColumn("_kq",
          round(-log(col("_u")) * col("_winv") * 1e12).cast("long"))
      frontier = materialize(weighted
        .groupBy("walk_id")
        .agg(min(struct(col("_kq"), col("dst"), col("src"))).as("m"))
        .select(col("walk_id"), lit(st.toLong).as("step"),
          col("m.dst").as("node"), col("m.src").as("prev")))
      out = out.unionByName(frontier.select("walk_id", "step", "node"))
    }
    out
  }

  /** DuckDB replay of [[biasedWalks]] — unrolled steps with the same
    * md5-uniform, exponential-race key, pico quantization, and tiebreak.
    */
  def biasedWalksOracleCte(edgesSql: String, seeds: Seq[String], steps: Int,
      pReturn: Double, qOut: Double, walksPerSeed: Int = 1): String = {
    val seedRows = seeds.distinct.sorted
      .flatMap(s => (0 until walksPerSeed).map(w => s"('$s#$w', '$s')"))
      .mkString(", ")
    val uniform = (step: Int) =>
      s"""CAST(list_sum(list_transform(generate_series(1, 12), ii ->
         |  CAST(strpos('0123456789abcdef',
         |    substring(md5(concat(f.walk_id, ':$step:', e.dst)), ii, 1)) - 1
         |    AS BIGINT)
         |  * CAST(16 ** (12 - ii) AS BIGINT))) AS DOUBLE) / (16.0 ** 12)"""
        .stripMargin
    val head =
      s"""WITH E0 AS ($edgesSql),
         |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM E0 WHERE src <> dst),
         |s0 AS (SELECT walk_id, CAST(0 AS BIGINT) AS step, node,
         |    CAST(NULL AS VARCHAR) AS prev
         |  FROM (VALUES $seedRows) t(walk_id, node))""".stripMargin
    val iters = (1 to steps).map { i =>
      s"""s$i AS MATERIALIZED (SELECT walk_id, CAST($i AS BIGINT) AS step,
         |    dst AS node, src AS prev FROM (
         |  SELECT f.walk_id, e.src, e.dst,
         |      row_number() OVER (PARTITION BY f.walk_id ORDER BY
         |        CAST(round(-ln(${uniform(i)}) *
         |          (CASE WHEN f.prev IS NULL THEN 1.0
         |            WHEN e.dst = f.prev THEN $pReturn
         |            WHEN EXISTS (SELECT 1 FROM e e2
         |              WHERE e2.src = f.prev AND e2.dst = e.dst) THEN 1.0
         |            ELSE $qOut END) * 1e12) AS BIGINT), e.dst, e.src) AS rk
         |    FROM s${i - 1} f JOIN e ON e.src = f.node) WHERE rk = 1)"""
        .stripMargin
    }
    val union = (0 to steps).map(i =>
      s"SELECT walk_id, step, node FROM s$i").mkString(" UNION ALL ")
    (head +: iters).mkString(",\n") + s",\nwalks AS ($union)"
  }

  /** Full standalone query over [[biasedWalksOracleCte]]. */
  def biasedWalksOracleSql(edgesSql: String, seeds: Seq[String], steps: Int,
      pReturn: Double, qOut: Double, walksPerSeed: Int): String =
    biasedWalksOracleCte(edgesSql, seeds, steps, pReturn, qOut, walksPerSeed) +
      "\nSELECT walk_id, step, node FROM walks ORDER BY walk_id, step"

  /** Link-prediction evaluation — the standard graph-ML benchmark loop,
    * engine-exact end to end: hold out ~10% of edges deterministically
    * (md5 tag < '1a'), score held-out positives and a deterministic
    * negative sample (all non-edges among the 200 smallest-md5 nodes) by
    * COMMON-NEIGHBOR count in the training graph (an exact integer), and
    * report the tie-aware Mann–Whitney AUC
    * `(2·#concordant + #tied) / (2·P·N)` computed from the two score
    * HISTOGRAMS (a scores×scores join — score cardinality, not pair
    * cardinality).
    *
    * Scale shape: the scorer is one adjacency self-join keyed on the
    * common neighbor, restricted to the evaluation pairs (broadcast-small
    * by construction); the AUC reduction never materializes pairwise
    * comparisons.
    */
  def linkPredictionAuc(pairs: DataFrame, aCol: String, bCol: String,
      evalCap: Int = 5000): DataFrame = {
    // the canonical pair frame feeds FIVE downstream branches
    // (test/train/nodes/eSub/adj); materializing it (not persist) both
    // runs it once (a lazy persist lets concurrent stages of the
    // single final job race the empty cache and recompute the whole
    // upstream pair build) and TRUNCATES LINEAGE, without which every
    // branch's logical plan carries its own copy of the pair-build
    // subtree and driver-side Catalyst analysis alone costs seconds
    // (profiled at sf0.1: 5.5 s just to PLAN the final 6×15-row histogram
    // reduction). Checkpoints + the single-pass scorer below took the
    // sf0.1 isolated median 16.6 s → 9.9 s on the build host; the
    // remaining floor is the pair build + canonical distinct itself
    // (~3 s warm), which is inherent input construction.
    val e = materialize(undirectedPairs(pairs, aCol, bCol))
    val h = md5(concat_ws(":", lit("h"), col("a"), col("b")))
    val tag = substring(h, 1, 2)
    // eval set: the held-out 10%, CAPPED deterministically (smallest full
    // hash first) — AUC is an estimate either way, and an uncapped eval
    // join fans out by the node degree (measured 49 s at sf0.1 uncapped)
    val test = e.withColumn("_h", h).where(tag < "1a")
      .orderBy("_h", "a", "b").limit(evalCap)
      .select("a", "b") // ≤ evalCap rows; checkpointed via ev below
    val train = e.where(!(tag < "1a")) // a filter over the checkpoint, read by the scorer
    // negative sample: non-edges among the 200 smallest-md5 nodes. The
    // anti-join only needs edges whose BOTH endpoints fall in that node
    // set — two broadcast semi-joins shrink the full edge frame to the
    // 200-node subgraph first, so the anti probe broadcasts instead of
    // shuffling every edge
    val nodes = materialize(e.select(col("a").as("n")).union(e.select(col("b")))
      .distinct().withColumn("_h", md5(concat(lit("n:"), col("n"))))
      .orderBy("_h", "n").limit(200).select("n"))
    val eSub = e
      .join(nodes.withColumnRenamed("n", "a"), Seq("a"), "left_semi")
      .join(nodes.withColumnRenamed("n", "b"), Seq("b"), "left_semi")
    val negs = nodes.select(col("n").as("a"))
      .join(nodes.select(col("n").as("b")), col("a") < col("b"))
      .join(broadcast(eSub), Seq("a", "b"), "left_anti") // ≤ 200·199/2 rows
    // common-neighbor scores for BOTH evaluation sets in ONE pass — the
    // positives and the negative sample union into a single _pos-tagged
    // pair set (disjoint by construction: negs are non-edges), so the
    // full train adjacency is semi-join-pruned and scanned ONCE instead
    // of once per set (measured 2× ~2.5 s → ~2.6 s at sf0.1). The scorer
    // only ever needs adjacency rows whose endpoint u appears in an eval
    // pair (≤ 2·|ev| nodes, broadcast-small); the w-keyed join otherwise
    // fans out over every training edge.
    val ev = materialize(test.withColumn("_pos", lit(true)) // ≤ evalCap + 200·199/2 rows
      .unionByName(negs.withColumn("_pos", lit(false))))
    val adj = train.select(col("a").as("u"), col("b").as("w"))
      .union(train.select(col("b").as("u"), col("a").as("w")))
    val evNodes = ev.select(col("a").as("u"))
      .union(ev.select(col("b"))).distinct()
    val adjP = adj.join(broadcast(evNodes), Seq("u"), "left_semi")
    val scored = materialize(ev.select("a", "b") // one row per eval pair
      .join(adjP.select(col("u").as("a"), col("w")), Seq("a"))
      .join(adjP.select(col("u").as("b"), col("w")), Seq("b", "w"))
      .groupBy("a", "b").agg(count(lit(1)).as("s"))
      .join(ev, Seq("a", "b"), "right")
      .select(col("_pos"), coalesce(col("s"), lit(0L)).as("s")))
    val ph = scored.where(col("_pos")).groupBy("s").agg(count(lit(1)).as("cp"))
    val nh = scored.where(!col("_pos")).groupBy("s").agg(count(lit(1)).as("cn"))
    val u2 = ph.crossJoin(nh.select(col("s").as("sn"), col("cn")))
      .agg(
        coalesce(sum(when(col("s") > col("sn"),
          lit(2L) * col("cp") * col("cn"))), lit(0L)).as("_conc2"),
        coalesce(sum(when(col("s") === col("sn"),
          col("cp") * col("cn"))), lit(0L)).as("_tie"))
    val totals = ph.agg(sum("cp").as("n_pos"))
      .crossJoin(nh.agg(sum("cn").as("n_neg")))
    u2.crossJoin(totals)
      .select(col("n_pos"), col("n_neg"),
        round((col("_conc2") + col("_tie")).cast("double") /
          (lit(2L) * col("n_pos") * col("n_neg")), 6).as("auc"))
  }

  /** DuckDB replay of [[linkPredictionAuc]]. `pairsSql`: (a, b) rows. */
  def linkPredictionAucOracleSql(pairsSql: String,
      evalCap: Int = 5000): String =
    s"""WITH e AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
       |  FROM ($pairsSql) WHERE a <> b),
       |tagged AS (SELECT a, b,
       |    md5('h' || ':' || a || ':' || b) AS h FROM e),
       |test AS (SELECT a, b FROM (
       |    SELECT a, b FROM tagged WHERE substring(h, 1, 2) < '1a'
       |    ORDER BY h, a, b LIMIT $evalCap)),
       |train AS (SELECT a, b FROM tagged
       |  WHERE NOT (substring(h, 1, 2) < '1a')),
       |nodes AS (SELECT n FROM (
       |    SELECT n, md5('n:' || n) AS h FROM (
       |      SELECT a AS n FROM e UNION SELECT b FROM e)
       |    ORDER BY h, n LIMIT 200)),
       |negs AS (SELECT x.n AS a, y.n AS b FROM nodes x JOIN nodes y
       |  ON x.n < y.n
       |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = x.n AND e.b = y.n)),
       |adj AS (SELECT a AS u, b AS w FROM train
       |  UNION ALL SELECT b, a FROM train),
       |ts AS (SELECT t.a, t.b, coalesce(cnt.s, 0)::BIGINT AS s FROM test t
       |  LEFT JOIN (SELECT x.u AS a, y.u AS b, count(*)::BIGINT AS s
       |    FROM adj x JOIN adj y ON x.w = y.w
       |    GROUP BY 1, 2) cnt ON cnt.a = t.a AND cnt.b = t.b),
       |ns AS (SELECT t.a, t.b, coalesce(cnt.s, 0)::BIGINT AS s FROM negs t
       |  LEFT JOIN (SELECT x.u AS a, y.u AS b, count(*)::BIGINT AS s
       |    FROM adj x JOIN adj y ON x.w = y.w
       |    GROUP BY 1, 2) cnt ON cnt.a = t.a AND cnt.b = t.b),
       |ph AS (SELECT s, count(*)::BIGINT AS cp FROM ts GROUP BY 1),
       |nh AS (SELECT s, count(*)::BIGINT AS cn FROM ns GROUP BY 1),
       |u2 AS (SELECT
       |    coalesce(sum(CASE WHEN ph.s > nh.s THEN 2 * ph.cp * nh.cn END), 0)
       |      ::BIGINT AS conc2,
       |    coalesce(sum(CASE WHEN ph.s = nh.s THEN ph.cp * nh.cn END), 0)
       |      ::BIGINT AS tie
       |  FROM ph CROSS JOIN nh),
       |tot AS (SELECT (SELECT sum(cp) FROM ph)::BIGINT AS n_pos,
       |    (SELECT sum(cn) FROM nh)::BIGINT AS n_neg)
       |SELECT n_pos, n_neg,
       |  round((conc2 + tie)::DOUBLE / (2 * n_pos * n_neg), 6) AS auc
       |FROM u2 CROSS JOIN tot""".stripMargin

  /** Rich-club coefficient profile — for each degree threshold k, the
    * density of the subgraph induced by nodes of degree > k:
    * φ(k) = 2·E₍₎ / (N₍₎·(N₍₎−1)). Rising φ(k) = hubs preferentially
    * interconnect (the "rich club" of supply networks / citation graphs).
    * One degree aggregate + one edges⋈degrees join fanned out over the
    * (tiny, literal) threshold list — exact integer counts to one final
    * ratio.
    */
  def richClub(edges: DataFrame, srcCol: String, dstCol: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty, "need at least one threshold")
    val dir = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst"))
    val e = materialize(dir.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("_e"))
      .select(col("_e.src").as("a"), col("_e.dst").as("b"))
      .where(col("a") =!= col("b")).distinct()) // both directions: degree = row count per node
    val deg = materialize(e.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg")))
    val kDf = broadcast(e.sparkSession.createDataFrame(
      ks.map(Tuple1(_))).toDF("k"))
    val nRich = deg.crossJoin(kDf).where(col("deg") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_rich"))
    val eRich = e
      .join(deg.select(col("node").as("a"), col("deg").as("_da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("_db")), Seq("b"))
      .crossJoin(kDf)
      .where(col("_da") > col("k") && col("_db") > col("k"))
      .groupBy("k").agg((count(lit(1)) / 2).cast("long").as("e_rich"))
    nRich.join(eRich, Seq("k"), "left")
      .select(col("k").cast("long").as("k"), col("n_rich"),
        coalesce(col("e_rich"), lit(0L)).as("e_rich"),
        when(col("n_rich") > 1,
          round(coalesce(col("e_rich"), lit(0L)).cast("double") * 2.0 /
            (col("n_rich") * (col("n_rich") - 1)), 6)).as("phi"))
  }

  /** DuckDB replay of [[richClub]]. `edgesSql`: directed (src, dst). */
  def richClubOracleSql(edgesSql: String, ks: Seq[Int]): String =
    s"""WITH E0 AS ($edgesSql),
       |E AS (SELECT DISTINCT a, b FROM (
       |  SELECT src AS a, dst AS b FROM E0
       |  UNION ALL SELECT dst, src FROM E0) WHERE a <> b),
       |deg AS (SELECT a AS node, count(*)::BIGINT AS deg FROM E GROUP BY 1),
       |ks AS (SELECT unnest(ARRAY[${ks.mkString(", ")}]) AS k),
       |nr AS (SELECT k, count(*)::BIGINT AS n_rich
       |  FROM deg CROSS JOIN ks WHERE deg > k GROUP BY 1),
       |er AS (SELECT k, (count(*) // 2)::BIGINT AS e_rich
       |  FROM E JOIN deg da ON da.node = E.a JOIN deg db ON db.node = E.b
       |  CROSS JOIN ks WHERE da.deg > k AND db.deg > k GROUP BY 1)
       |SELECT nr.k::BIGINT AS k, nr.n_rich,
       |  coalesce(er.e_rich, 0)::BIGINT AS e_rich,
       |  CASE WHEN nr.n_rich > 1 THEN round(coalesce(er.e_rich, 0)::DOUBLE * 2.0 /
       |    (nr.n_rich * (nr.n_rich - 1)), 6) END AS phi
       |FROM nr LEFT JOIN er ON er.k = nr.k
       |ORDER BY k""".stripMargin

  /** Sampled-source betweenness centrality — truncated Brandes (Brandes
    * 2001; source-sampling per Brandes/Pich 2007) with the house
    * exact-integer discipline. All sample sources run SIMULTANEOUSLY (the
    * source id rides every frame as a key), so the pass count is the BFS
    * depth, not |seeds|·depth:
    *
    *   forward  — per depth: frontier ⋈ edges, σ (shortest-path counts)
    *              summed per (source, node), visited anti-join;
    *   backward — per depth descending: dependency
    *              δ(v) = Σ_{w ∈ succ(v)} ⌊σ_v·(scale + δ_w) / σ_w⌋
    *              accumulated in scale-quantized longs, so the sums are
    *              order-free and engine-exact (classic Brandes uses
    *              double ratios — addition order across partitions would
    *              make the result nondeterministic at cluster scale);
    *   bc(v)    = Σ_sources δ(v), v not a source, in scale units.
    *
    * `maxDepth` truncates to k-betweenness (paths longer than k ignored) —
    * the standard cost bound; on small-diameter graphs depth 3–4 is
    * effectively exact. Caller contract: σ·(scale + δ_max) within a long —
    * at scale 10⁶, graphs with σ ≤ ~10⁹ and per-node degrees ≤ ~10⁴ are
    * safe (TPC-H-shaped incidence graphs by orders of magnitude).
    *
    * Scale shape: per depth ONE join of the materialized edge frame against
    * the (seed-keyed, broadcast) frontier + a map-side combinable σ/δ
    * aggregate + an anti-join on the visited set — no driver data path;
    * levels are materialized.
    */
  def betweennessSampled(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Seq[String], maxDepth: Int, undirected: Boolean = true,
      deltaScale: Long = 1000000L): DataFrame = {
    require(seeds.nonEmpty && maxDepth >= 1, "need seeds and maxDepth >= 1")
    val dir = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst"))
    val e = materialize((if (undirected)
      dir.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("_e"))
        .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
      else dir).distinct())
    val spark = edges.sparkSession
    import spark.implicits._
    // forward: levels(d) = (s, v, sigma)
    val l0 = materialize(seeds.map(s => (s, s, 1L)).toDF("s", "v", "sigma"))
    val levels = scala.collection.mutable.ArrayBuffer(l0)
    var visited = materialize(l0.select("s", "v"))
    for (_ <- 1 to maxDepth) {
      val next = materialize(e.withColumnRenamed("src", "v")
        .join(levels.last, Seq("v"))
        .groupBy(col("s"), col("dst").as("v"))
        .agg(sum("sigma").as("sigma"))
        .join(visited, Seq("s", "v"), "left_anti"))
      levels += next
      visited = materialize(visited.union(next.select("s", "v")))
    }
    // backward: delta(d) over levels(d), deepest = 0
    var delta = levels(maxDepth).select(col("s"), col("v"), lit(0L).as("delta"))
    val acc = scala.collection.mutable.ArrayBuffer(
      delta) // deepest level contributes 0 but keeps nodes in the output sum
    for (d <- (maxDepth - 1) to 1 by -1) {
      // successors with no dependency of their own still contribute the
      // σ_v·scale/σ_w term — left-join δ and default it to 0
      val wSide = levels(d + 1)
        .join(delta, Seq("s", "v"), "left")
        .select(col("s"), col("v").as("w"), col("sigma").as("sw"),
          coalesce(col("delta"), lit(0L)).as("dw"))
      delta = materialize(e.withColumnRenamed("src", "v").withColumnRenamed("dst", "w")
        .join(levels(d), Seq("v"))
        .join(broadcast(wSide), Seq("s", "w"))
        .groupBy("s", "v")
        .agg(sum(expr(s"(sigma * ($deltaScale + dw)) div sw")).as("delta")))
      acc += delta
    }
    acc.map(_.select(col("v"), col("delta"))).reduce(_ union _)
      .groupBy(col("v").as("node"))
      .agg(sum("delta").as("bc_q"))
  }

  /** DuckDB replay of [[betweennessSampled]] — forward levels and backward
    * dependency passes unrolled as CTEs. `edgesSql` must select the
    * directed (src, dst) pairs BEFORE undirected expansion/dedup (the
    * generator adds both).
    */
  def betweennessOracleSql(edgesSql: String, seeds: Seq[String],
      maxDepth: Int, deltaScale: Long = 1000000L): String = {
    val seedRows = seeds.map(s => s"('$s')").mkString(", ")
    val head =
      s"""WITH E0 AS ($edgesSql),
         |E AS (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM E0 UNION ALL SELECT dst, src FROM E0)),
         |l0 AS (SELECT s, s AS v, 1::BIGINT AS sigma
         |  FROM (VALUES $seedRows) seeds(s))""".stripMargin
    val fwd = (1 to maxDepth).map { d =>
      val prevVisited = (0 until d).map(p => s"SELECT s, v FROM l$p")
        .mkString(" UNION ALL ")
      s"""l$d AS (SELECT f.s, e.dst AS v, sum(f.sigma)::BIGINT AS sigma
         |  FROM l${d - 1} f JOIN E e ON e.src = f.v
         |  WHERE NOT EXISTS (SELECT 1 FROM ($prevVisited) p
         |    WHERE p.s = f.s AND p.v = e.dst)
         |  GROUP BY 1, 2)""".stripMargin
    }
    val bk = ((maxDepth - 1) to 1 by -1).map { d =>
      val dwExpr = if (d == maxDepth - 1) "0"
        else s"coalesce(dl${d + 1}.delta, 0)"
      val dwJoin = if (d == maxDepth - 1) ""
        else s" LEFT JOIN dl${d + 1} ON dl${d + 1}.s = w.s AND dl${d + 1}.v = w.v"
      s"""dl$d AS (SELECT f.s, f.v,
         |  sum((f.sigma * ($deltaScale + $dwExpr)) // w.sigma)::BIGINT AS delta
         |  FROM l$d f JOIN E e ON e.src = f.v
         |  JOIN l${d + 1} w ON w.s = f.s AND w.v = e.dst$dwJoin
         |  GROUP BY 1, 2)""".stripMargin
    }
    val deltaUnion = (((maxDepth - 1) to 1 by -1).map(d =>
      s"SELECT v, delta FROM dl$d") :+
      s"SELECT v, 0::BIGINT AS delta FROM l$maxDepth").mkString(" UNION ALL ")
    ((head +: fwd) ++ bk).mkString(",\n") +
      s"""
         |SELECT v AS node, sum(delta)::BIGINT AS bc_q
         |FROM ($deltaUnion) GROUP BY 1""".stripMargin
  }

  /** HITS hubs & authorities — the second classic link-analysis fixed
    * point next to [[pageRankFixed]], same integer discipline: scores live
    * in `unit`-scaled longs, each half-step is ONE node-keyed join against
    * the materialized edge frame + a map-side-combinable sum, and the L1
    * normalization (total mass re-scaled to `unit`) is an exact integer
    * floor-division by the half-step's L1 total — no driver action inside
    * the loop beyond the per-half-step materialization that also observes
    * that total.
    *
    * Caller contract: `n_nodes * unit^2` must fit a long (n ≤ ~9×10^6 at
    * the default unit) — the price of bit-exact replay. Edges are
    * de-duplicated and edges with a null endpoint dropped (the
    * [[encodeGraph]] prelude it shares with the PageRank family); dangling
    * nodes keep score 0 on the side they lack edges for.
    */
  def hitsFixed(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, unit: Long = 1000000L): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    val g = encodeGraph(edges, srcCol, dstCol)
    require(g.n > 0, "HITS needs at least one edge") // n>0 ⟺ e nonempty
    val e = g.e
    // score frames stay SPARSE inside the loop (only nodes that received
    // mass — a node absent from a frame has score 0, and joining it in
    // would only add per-half-step node-table traffic); the dense frame is
    // assembled once at the end. The frozen score side is the broadcast
    // side while small: the only exchange per half-step is the map-side
    // combined (node, partial-sum) aggregate.
    def normalize(raw: DataFrame, outCol: String): DataFrame = {
      // ONE pass per half-step: the raw sums are materialized with the L1
      // total counted IN THE SAME JOB (an exact integer); the scaled
      // projection is then a cheap map over the materialized n-row frame
      // with the total as a literal
      val (r, c) = materialize(raw, sum(col("v")).as("t"))
      r.select(col("node"), expr(s"(v * ${unit}L) div ${c.getLong(0)}L").as(outCol))
    }
    var hubs = materialize(e.select(col("src").as("node")).distinct()
      .withColumn("hub", lit(unit)))
    var auths: DataFrame = null
    for (_ <- 1 to iterations) {
      val araw = e.join(hubs.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum("hub").as("v"))
      auths = normalize(araw, "authority")
      val hraw = e.join(auths.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum("authority").as("v"))
      hubs = normalize(hraw, "hub")
    }
    g.dict.select(col("nid").as("node"), col("node").as("_str"))
      .join(auths, Seq("node"), "left").join(hubs, Seq("node"), "left")
      .select(col("_str").as("node"),
        coalesce(col("authority"), lit(0L)).as("authority"),
        coalesce(col("hub"), lit(0L)).as("hub"))
  }

  /** DuckDB replay of [[hitsFixed]] — iterations unrolled, one
    * (raw-sum, total, normalize) CTE triple per half-step. `edgesSql` must
    * select distinct (src, dst).
    */
  def hitsOracleSql(edgesSql: String, iterations: Int,
      unit: Long = 1000000L): String = {
    val head =
      s"""WITH E AS ($edgesSql),
         |nodes AS (SELECT src AS node FROM E UNION SELECT dst FROM E),
         |h0 AS (SELECT node, ${unit}::BIGINT AS hub FROM nodes)""".stripMargin
    val iters = (1 to iterations).map { i =>
      s"""ar$i AS (SELECT e.dst AS node, sum(h.hub) AS v
         |  FROM E e JOIN h${i - 1} h ON h.node = e.src GROUP BY 1),
         |at$i AS (SELECT sum(v) AS t FROM ar$i),
         |a$i AS (SELECT nd.node, coalesce((ar.v * $unit) // t, 0)::BIGINT AS authority
         |  FROM nodes nd CROSS JOIN at$i LEFT JOIN ar$i ar ON ar.node = nd.node),
         |hr$i AS (SELECT e.src AS node, sum(a.authority) AS v
         |  FROM E e JOIN a$i a ON a.node = e.dst GROUP BY 1),
         |ht$i AS (SELECT sum(v) AS t FROM hr$i),
         |h$i AS (SELECT nd.node, coalesce((hr.v * $unit) // t, 0)::BIGINT AS hub
         |  FROM nodes nd CROSS JOIN ht$i LEFT JOIN hr$i hr ON hr.node = nd.node)""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  /** Butterfly (bipartite 4-cycle) census over an (a, b) edge list — the
    * bipartite analogue of triangle counting (spam/fraud cohort detection,
    * bipartite clustering). Counted exactly via the wedge formula:
    * wedges pivot on the `a` side (two distinct b-partners per a-node), a
    * keyed count per (b1, b2) pair, then butterflies = Σ C(c, 2) — never an
    * explicit 4-cycle enumeration.
    *
    * Pick `aCol` = the side with the SMALLER per-node degree: wedge volume
    * is Σ_a C(deg(a), 2), so pivoting on the low-degree side (parts: ~30
    * partners) instead of the high-degree side (suppliers: ~600) is the
    * difference between millions and billions of wedges at scale. A
    * degree-cap pre-filter (drop a-nodes above a percentile) is the
    * standard skew guard for power-law sides; not needed for TPC-H-shaped
    * degrees.
    *
    * Returns one row: n_edges (distinct), n_wedges, n_butterflies,
    * max_copairs (the largest per-(b1,b2) shared-neighbor count).
    */
  def butterflyCensus(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val (e, c) = materialize(edges.select(col(aCol).as("_a"), col(bCol).as("_b")).distinct(),
      count(lit(1)).as("n_edges"))
    val nEdges = c.getLong(0)
    val wedges = e.as("x").join(e.as("y"),
        col("x._a") === col("y._a") && col("x._b") < col("y._b"))
      .select(col("x._b").as("b1"), col("y._b").as("b2"))
    val pairCounts = wedges.groupBy("b1", "b2").agg(count(lit(1)).as("c"))
    pairCounts.agg(
      coalesce(sum(col("c")), lit(0L)).as("n_wedges"),
      coalesce(sum(col("c") * (col("c") - 1) / lit(2)), lit(0L))
        .cast("long").as("n_butterflies"),
      coalesce(max(col("c")), lit(0L)).as("max_copairs"))
      .select(lit(nEdges).as("n_edges"), col("n_wedges"),
        col("n_butterflies"), col("max_copairs"))
  }

  /** DuckDB replay of [[butterflyCensus]]. */
  def butterflyCensusOracleSql(edgesSql: String): String =
    s"""WITH e AS (SELECT DISTINCT a, b FROM ($edgesSql)),
       |w AS (SELECT x.b AS b1, y.b AS b2 FROM e x JOIN e y
       |  ON x.a = y.a AND x.b < y.b),
       |pc AS (SELECT b1, b2, count(*) AS c FROM w GROUP BY 1, 2)
       |SELECT (SELECT count(*) FROM e)::BIGINT AS n_edges,
       |  COALESCE(sum(c), 0)::BIGINT AS n_wedges,
       |  COALESCE(sum(c * (c - 1) / 2), 0)::BIGINT AS n_butterflies,
       |  COALESCE(max(c), 0)::BIGINT AS max_copairs
       |FROM pc""".stripMargin

  /** Partition quality of a node→community assignment over an undirected
    * graph: per-community intra-edge / cut-edge / volume counts, Newman
    * modularity contribution, and conductance — the metrics that grade a
    * community detection (or any attribute partition) before acting on it.
    *
    * Exactness: edges canonicalize to distinct unordered pairs (self-loops
    * dropped); every per-community count is an exact integer, the
    * modularity numerator is the exact integer `4·m·intra_c − vol_c²`
    * summed order-free, and the ONLY divisions are one per output value:
    * modularity = Σ_c (4·m·intra_c − vol_c²) / (4m²),
    * conductance_c = cut_c / min(vol_c, 2m − vol_c) (null when the
    * denominator is 0). Both engines evaluate single double divisions of
    * identical integers.
    *
    * Scale shape: one distinct over the edge frame, two community-mapping
    * joins keyed on the endpoints (broadcast when the mapping is small),
    * then keyed counting aggregates — community cardinality rows cross the
    * exchange, never pairs. Caller contract: `4·m·intra` must fit a long
    * (m ≤ ~10⁹ edges at intra ≤ m), the usual price of exactness.
    */
  def communityQuality(edges: DataFrame, srcCol: String, dstCol: String,
      communities: DataFrame, nodeCol: String, commCol: String): DataFrame = {
    val e = undirectedPairs(edges, srcCol, dstCol)
    val cm = communities.select(col(nodeCol).cast("string").as("node"),
      col(commCol).cast("string").as("community")).distinct()
    val (tagged, c) = materialize(e
      .join(cm.withColumnRenamed("node", "a").withColumnRenamed("community", "ca"), Seq("a"))
      .join(cm.withColumnRenamed("node", "b").withColumnRenamed("community", "cb"), Seq("b")),
      count(lit(1)).as("m"))
    val m = c.getLong(0)
    require(m > 0, "graph has no edges after canonicalization")
    // per-community: intra edges (both endpoints inside) and cut edges
    // (exactly one endpoint inside — each cut edge counts for BOTH sides)
    val intra = tagged.where(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    val cut = tagged.where(col("ca") =!= col("cb"))
      .select(col("ca").as("community"))
      .union(tagged.where(col("ca") =!= col("cb")).select(col("cb")))
      .groupBy("community").agg(count(lit(1)).as("cut_edges"))
    val nNodes = cm.groupBy("community").agg(count(lit(1)).as("n_nodes"))
    val perC = nNodes
      .join(intra, Seq("community"), "left")
      .join(cut, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        coalesce(col("cut_edges"), lit(0L)).as("cut_edges"))
      .withColumn("volume",
        lit(2L) * col("intra_edges") + col("cut_edges"))
      .withColumn("contrib_q",
        lit(4L) * lit(m) * col("intra_edges") - col("volume") * col("volume"))
    val q = perC.agg(sum(col("contrib_q")).as("_qnum"))
      .select(round(col("_qnum").cast("double") /
        (lit(4.0) * lit(m.toDouble) * lit(m.toDouble)), 6).as("modularity"))
    perC
      .withColumn("conductance",
        when(least(col("volume"), lit(2L) * lit(m) - col("volume")) === 0L,
          lit(null).cast("double"))
          .otherwise(round(col("cut_edges").cast("double") /
            least(col("volume"), lit(2L) * lit(m) - col("volume"))
              .cast("double"), 6)))
      .crossJoin(broadcast(q))
      .select(col("community"), col("n_nodes"), col("intra_edges"),
        col("cut_edges"), col("volume"), col("conductance"),
        col("modularity"))
  }

  /** DuckDB replay of [[communityQuality]]; `edgesSql` must produce
    * (src, dst) rows and `commSql` (node, community) rows, both VARCHAR.
    */
  def communityQualityOracleSql(edgesSql: String, commSql: String): String =
    s"""WITH e0 AS ($edgesSql),
       |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM e0 WHERE src <> dst),
       |cm AS (SELECT DISTINCT node, community FROM ($commSql)),
       |tagged AS (SELECT ca.community AS ca, cb.community AS cb
       |  FROM e JOIN cm ca ON ca.node = e.a JOIN cm cb ON cb.node = e.b),
       |m AS (SELECT count(*)::BIGINT AS m FROM tagged),
       |intra AS (SELECT ca AS community, count(*)::BIGINT AS intra_edges
       |  FROM tagged WHERE ca = cb GROUP BY 1),
       |cut AS (SELECT community, count(*)::BIGINT AS cut_edges FROM (
       |    SELECT ca AS community FROM tagged WHERE ca <> cb
       |    UNION ALL SELECT cb FROM tagged WHERE ca <> cb) GROUP BY 1),
       |nn AS (SELECT community, count(*)::BIGINT AS n_nodes FROM cm GROUP BY 1),
       |perc AS (SELECT nn.community, nn.n_nodes,
       |    coalesce(i.intra_edges, 0)::BIGINT AS intra_edges,
       |    coalesce(c.cut_edges, 0)::BIGINT AS cut_edges,
       |    (2 * coalesce(i.intra_edges, 0) + coalesce(c.cut_edges, 0))::BIGINT
       |      AS volume
       |  FROM nn LEFT JOIN intra i ON i.community = nn.community
       |  LEFT JOIN cut c ON c.community = nn.community),
       |q AS (SELECT round(sum(4 * m.m * intra_edges - volume * volume)::DOUBLE
       |    / (4.0 * m.m * m.m), 6) AS modularity
       |  FROM perc CROSS JOIN m GROUP BY m.m)
       |SELECT p.community, p.n_nodes, p.intra_edges, p.cut_edges, p.volume,
       |  CASE WHEN least(p.volume, 2 * m.m - p.volume) = 0 THEN NULL
       |    ELSE round(p.cut_edges::DOUBLE /
       |      least(p.volume, 2 * m.m - p.volume), 6) END AS conductance,
       |  q.modularity
       |FROM perc p CROSS JOIN m CROSS JOIN q""".stripMargin

  /** Strongly connected components of a DIRECTED graph by iterated
    * forward-backward min-label agreement (the distributed FW-BW/coloring
    * family — Orzan's coloring, FastSV's min-propagation): each peel round
    * computes, over the still-unassigned subgraph, `fmin(u)` = min node id
    * reachable FROM u and `bmin(u)` = min node id that REACHES u (both
    * including u), each by `propRounds` synchronous min-propagation steps;
    * every node with `fmin = bmin = w` is mutually reachable with `w`, so
    * all such nodes form exactly SCC(w) — one peel assigns EVERY locally
    * minimal component, not one. Unassigned nodes iterate on the shrinking
    * subgraph. Each peel first TRIMS: a node lacking in- or out-edges
    * inside the remaining subgraph cannot sit in a multi-node SCC (SCCs
    * leave the working set whole), so it is assigned as its own singleton
    * — the standard FW-BW trim that collapses DAG tails and chains pure
    * peeling would burn one round per node on.
    *
    * Caller contract: `propRounds` should cover the reachability diameter
    * of every intermediate subgraph. Under-provisioned propagation is
    * DETECTED, not guessed around: each peel ends with a one-step
    * stability probe, and if any label could still improve, the peel's
    * (provably correct) agreements are kept but peeling STOPS — an
    * unconverged peel can assign only part of an SCC, and a further trim
    * round would confidently mislabel the stranded mates as singletons.
    * Every node left unassigned is reported with `scc = '?' || node`
    * (visibly unconverged, deterministic, oracle-replicable).
    *
    * Scale shape: node-cardinality label frames joined to the edge frame
    * once per propagation step (the broadcast side while small), min
    * aggregates partial-combine map-side; the subgraph shrinks
    * monotonically across peels. Labels are strings; min is lexicographic
    * (callers wanting numeric order zero-pad).
    */
  def sccFixed(edges: DataFrame, srcCol: String, dstCol: String,
      peelRounds: Int, propRounds: Int): DataFrame = {
    require(peelRounds >= 1 && propRounds >= 1, "rounds must be >= 1")
    val e0 = materialize(edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst"))
      .where(col("src") =!= col("dst")).distinct())
    var rem = materialize(e0.select(col("src").as("node"))
      .union(e0.select(col("dst"))).distinct())
    var assigned: DataFrame = null
    var done = false
    for (_ <- 1 to peelRounds if !done) {
      // edges with both endpoints still unassigned (read only by the trim)
      val re0 = e0
        .join(rem.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
        .join(rem.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
      // trim: a multi-node SCC needs in AND out edges inside the remaining
      // subgraph (SCCs are always removed whole), so any node missing
      // either side is a singleton SCC — this collapses DAG tails/chains
      // that pure FW-BW peeling would burn one round per node on
      val core = re0.select(col("src").as("node"))
        .intersect(re0.select(col("dst").as("node")))
      val singles = materialize(rem.join(core, Seq("node"), "left_anti")
        .select(col("node"), col("node").as("scc")))
      assigned = if (assigned == null) singles else assigned.union(singles)
      // the trimmed node set is a cheap anti-join of two checkpoints; the
      // subgraph it induces is what every propagation step reads
      rem = rem.join(singles, Seq("node"), "left_anti")
      val re = materialize(e0
        .join(rem.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
        .join(rem.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi"))
      // fmin: min id reachable FROM u — labels flow AGAINST edge direction
      var f = rem.withColumn("lbl", col("node"))
      var b = rem.withColumn("lbl", col("node"))
      for (_ <- 1 to propRounds) {
        val fIn = re.join(f.withColumnRenamed("node", "dst"), Seq("dst"))
          .groupBy(col("src").as("node")).agg(min("lbl").as("_in"))
        f = materialize(f.join(fIn, Seq("node"), "left")
          .select(col("node"), least(col("lbl"),
            coalesce(col("_in"), col("lbl"))).as("lbl")))
        val bIn = re.join(b.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst").as("node")).agg(min("lbl").as("_in"))
        b = materialize(b.join(bIn, Seq("node"), "left")
          .select(col("node"), least(col("lbl"),
            coalesce(col("_in"), col("lbl"))).as("lbl")))
      }
      // convergence probe: one extra half-step per direction. If any label
      // can still improve, this peel's agreement may cover only PART of an
      // SCC — peeling that part strands its mates, and the NEXT peel's trim
      // would then confidently mislabel them as singletons (silently,
      // contradicting the '?' contract). The agreement criterion itself is
      // sound even truncated (f=b=L proves L both reaches and is reached by
      // the node), so assign what agrees, then stop peeling and '?'-mark
      // everything left rather than guess.
      val fProbe = re.join(f.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node")).agg(min("lbl").as("_in"))
        .join(f, Seq("node"))
        .where(col("_in") < col("lbl")).select(lit(1).as("_x"))
      val bProbe = re.join(b.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node")).agg(min("lbl").as("_in"))
        .join(b, Seq("node"))
        .where(col("_in") < col("lbl")).select(lit(1).as("_x"))
      // one job probes both directions
      val converged = fProbe.unionAll(bProbe).limit(1).count() == 0
      val agree = materialize(f.withColumnRenamed("lbl", "_f")
        .join(b.withColumnRenamed("lbl", "_b"), Seq("node"))
        .where(col("_f") === col("_b"))
        .select(col("node"), col("_f").as("scc")))
      assigned = if (assigned == null) agree else assigned.union(agree)
      val (left, c) = materialize(rem.join(agree, Seq("node"), "left_anti"),
        count(lit(1)).as("remaining"))
      rem = left
      // early exit once everything is assigned — the oracle unrolls every
      // peel regardless, but its remaining rounds run on empty frames, so
      // skipping them here cannot change the output. The unconverged stop
      // IS replayed by the oracle (per-peel conv/act flag CTEs).
      done = c.getLong(0) == 0L || !converged
    }
    assigned.union(
      rem.select(col("node"), concat(lit("?"), col("node")).as("scc")))
  }

  /** DuckDB replay of [[sccFixed]] — peel × propagation rounds unrolled;
    * `edgesSql` must produce (src, dst) VARCHAR rows.
    */
  def sccOracleSql(edgesSql: String, peelRounds: Int,
      propRounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM ($edgesSql)
         |  WHERE src <> dst),
         |n0 AS MATERIALIZED (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
         |rem0 AS MATERIALIZED (SELECT node FROM n0),
         |asg0 AS MATERIALIZED (SELECT node, node AS scc FROM n0 WHERE false),
         |act1 AS MATERIALIZED (SELECT TRUE AS ok)""".stripMargin)
    for (p <- 1 to peelRounds) {
      if (p > 1) sb.append(",\n").append(
        s"""act$p AS MATERIALIZED (SELECT a.ok AND c.ok AS ok
           |  FROM act${p - 1} a CROSS JOIN conv${p - 1} c)""".stripMargin)
      sb.append(",\n").append(
        s"""re0_$p AS MATERIALIZED (SELECT e.src, e.dst FROM e0 e
           |  JOIN rem${p - 1} a ON a.node = e.src
           |  JOIN rem${p - 1} b ON b.node = e.dst),
           |core$p AS MATERIALIZED (SELECT src AS node FROM re0_$p
           |  INTERSECT SELECT dst FROM re0_$p),
           |single$p AS MATERIALIZED (SELECT r.node, r.node AS scc
           |  FROM rem${p - 1} r WHERE NOT EXISTS (
           |    SELECT 1 FROM core$p c WHERE c.node = r.node)),
           |remT$p AS MATERIALIZED (SELECT r.node FROM rem${p - 1} r
           |  WHERE NOT EXISTS (SELECT 1 FROM single$p s
           |    WHERE s.node = r.node)),
           |re$p AS MATERIALIZED (SELECT e.src, e.dst FROM re0_$p e
           |  JOIN remT$p a ON a.node = e.src
           |  JOIN remT$p b ON b.node = e.dst),
           |f${p}_0 AS MATERIALIZED (SELECT node, node AS lbl FROM remT$p),
           |b${p}_0 AS MATERIALIZED (SELECT node, node AS lbl FROM remT$p)""".stripMargin)
      for (i <- 1 to propRounds) {
        sb.append(",\n").append(
          s"""f${p}_$i AS MATERIALIZED (SELECT f.node,
             |    least(f.lbl, coalesce(s.m, f.lbl)) AS lbl
             |  FROM f${p}_${i - 1} f LEFT JOIN (
             |    SELECT e.src AS node, min(x.lbl) AS m
             |    FROM re$p e JOIN f${p}_${i - 1} x ON x.node = e.dst
             |    GROUP BY 1) s ON s.node = f.node),
             |b${p}_$i AS MATERIALIZED (SELECT f.node,
             |    least(f.lbl, coalesce(s.m, f.lbl)) AS lbl
             |  FROM b${p}_${i - 1} f LEFT JOIN (
             |    SELECT e.dst AS node, min(x.lbl) AS m
             |    FROM re$p e JOIN b${p}_${i - 1} x ON x.node = e.src
             |    GROUP BY 1) s ON s.node = f.node)""".stripMargin)
      }
      sb.append(",\n").append(
        s"""conv$p AS MATERIALIZED (SELECT
           |  (NOT EXISTS (SELECT 1 FROM f${p}_$propRounds f JOIN (
           |     SELECT e.src AS node, min(x.lbl) AS m FROM re$p e
           |     JOIN f${p}_$propRounds x ON x.node = e.dst GROUP BY 1) s
           |   ON s.node = f.node WHERE s.m < f.lbl))
           |  AND (NOT EXISTS (SELECT 1 FROM b${p}_$propRounds f JOIN (
           |     SELECT e.dst AS node, min(x.lbl) AS m FROM re$p e
           |     JOIN b${p}_$propRounds x ON x.node = e.src GROUP BY 1) s
           |   ON s.node = f.node WHERE s.m < f.lbl)) AS ok),
           |agree$p AS MATERIALIZED (SELECT f.node, f.lbl AS scc
           |  FROM f${p}_$propRounds f
           |  JOIN b${p}_$propRounds b ON b.node = f.node AND b.lbl = f.lbl),
           |asg$p AS MATERIALIZED (SELECT * FROM asg${p - 1}
           |  UNION ALL SELECT s.node, s.scc FROM single$p s
           |    CROSS JOIN act$p a WHERE a.ok
           |  UNION ALL SELECT g.node, g.scc FROM agree$p g
           |    CROSS JOIN act$p a WHERE a.ok),
           |rem$p AS MATERIALIZED (
           |  SELECT r.node FROM remT$p r CROSS JOIN act$p a WHERE a.ok
           |    AND NOT EXISTS (SELECT 1 FROM agree$p g WHERE g.node = r.node)
           |  UNION ALL
           |  SELECT r.node FROM rem${p - 1} r CROSS JOIN act$p a
           |    WHERE NOT a.ok)""".stripMargin)
    }
    sb.append(
      s"""
         |SELECT node, scc FROM asg$peelRounds
         |UNION ALL
         |SELECT node, '?' || node FROM rem$peelRounds""".stripMargin)
    sb.toString
  }

  /** Skip-gram training pairs from a walk corpus (the DeepWalk/node2vec
    * second stage, public): for every walk, all (center, context) node
    * pairs within `window` steps, counted — the co-occurrence statistics a
    * node-embedding trainer consumes. One self-join of the walks frame
    * keyed on the walk id with a bounded step-distance predicate, then a
    * map-side-combinable pair count; walks are steps-bounded so the join
    * fan-out is ≤ 2·window per position.
    */
  def skipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    // the walk corpus feeds BOTH sides of the self-join — materialize it
    // (a copy: the caller's frame is left as it was), or an expensive
    // upstream walk generation re-runs per branch
    val w = materialize(walks)
    val a = w.select(col("walk_id"), col("step").as("_sa"),
      col("node").as("center"))
    val b = w.select(col("walk_id"), col("step").as("_sb"),
      col("node").as("context"))
    a.join(b, Seq("walk_id"))
      .where(col("_sa") =!= col("_sb") &&
        abs(col("_sa") - col("_sb")) <= window)
      .groupBy("center", "context")
      .agg(count(lit(1)).as("n"))
  }
}
