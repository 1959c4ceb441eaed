package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.Rounds.materialize

/** Distributed Lloyd k-means over embedding columns — the canonical
  * "cluster 100 TB of vectors" primitive under corpus domain discovery,
  * SemDeDup cell seeding and data-map visualization.
  *
  * Reference scope: the reference engine has no clustering operator; this is
  * a north-star extension in the house fixed-point style
  * ([[graft.graph.GraphAlgos.pageRankFixed]], [[Corpus.perceptronTrain]]):
  *
  *   - Coordinates quantize to integer micro-units BEFORE any aggregation,
  *     so per-cluster sums are exact longs — accumulation order (partition
  *     count, AQE re-plans, speculative retries) cannot move the result,
  *     and a SQL engine replays the run bit-for-bit.
  *   - Init is data-deterministic: the k rows with the smallest
  *     `md5(id)` seed the centroids (cluster ordinal = md5 rank), so reruns
  *     and engines agree without a stored model.
  *   - Assignment is a narrow per-row expression against PLAN-LITERAL
  *     centroids (k·dim integer terms, whole-stage codegen — no broadcast
  *     table, no UDF); argmin ties break on the cluster ordinal via an
  *     exact struct `array_min`.
  *   - The update is ONE map-side-combinable groupBy per round producing
  *     k·(dim+1) longs on the driver; new centroid = ⌊sum/count⌋ with the
  *     division done in double (sums bounded « 2^53, so both engines
  *     compute the identical IEEE quotient). Empty clusters keep their
  *     previous centroid.
  *
  * Scale shape: `rounds` full passes over a materialized quantized projection
  * of the corpus — the same pass count any k-means does — with per-round
  * shuffle bounded at k·(dim+1) longs per partition. At 100 TB the
  * projection (id + dim longs) is the only thing re-read; centroids travel
  * inside the plan.
  */
object Clustering {

  private val Scale = 1e6

  /** Quantized projection: (id, qv: array<long>) with qv = round(v·1e6)
    * over the first `dim` coordinates.
    */
  private def quantize(df: DataFrame, idCol: String, vecCol: String,
      dim: Int): DataFrame =
    df.select(col(idCol).as("id"),
      transform(slice(col(vecCol), 1, dim),
        x => round(x.cast("double") * Scale, 0).cast("long")).as("qv"))

  /** Squared-L2 argmin against literal centroids: adds `cluster` (int) and
    * `dist_q` (long, quantized-unit squared distance).
    */
  private def assign(pts: DataFrame, cents: Array[Array[Long]]): DataFrame = {
    val entries = cents.zipWithIndex.map { case (cv, ci) =>
      val dist = cv.indices.map { i =>
        val d = element_at(col("qv"), i + 1) - lit(cv(i)); d * d
      }.reduce(_ + _)
      struct(dist.as("d"), lit(ci).as("c"))
    }
    pts.withColumn("_m", array_min(array(entries.toIndexedSeq: _*)))
      .withColumn("cluster", col("_m.c"))
      .withColumn("dist_q", col("_m.d"))
      .drop("_m")
  }

  /** Fixed-round Lloyd k-means. Returns the final assignment
    * (id, cluster, dist_q) under the round-`rounds` centroids.
    */
  def kmeansFixed(df: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int, rounds: Int): DataFrame = {
    require(k >= 2, "k must be >= 2")
    require(dim >= 1 && rounds >= 1, "dim and rounds must be >= 1")
    val pts = materialize(quantize(df, idCol, vecCol, dim))
    // seed: k smallest md5(id) — a driver-small collect, not a fit pass
    var cents: Array[Array[Long]] = pts
      .select(col("qv"), md5(col("id").cast("string")).as("h"))
      .orderBy("h").limit(k)
      .collect().map(_.getSeq[Long](0).toArray)
    require(cents.length == k, s"need at least $k rows to seed $k clusters")
    for (_ <- 1 to rounds) {
      val sums = (1 to dim).map(i =>
        sum(element_at(col("qv"), i)).as(s"s$i")) :+ count(lit(1)).as("n")
      val upd = assign(pts, cents).groupBy("cluster")
        .agg(sums.head, sums.tail: _*).collect()
        .map { r =>
          val n = r.getLong(dim + 1)
          r.getInt(0) -> Array.tabulate(dim)(i =>
            math.floor(r.getLong(i + 1).toDouble / n).toLong)
        }.toMap
      cents = Array.tabulate(k)(c => upd.getOrElse(c, cents(c)))
    }
    assign(pts, cents).select(col("id").as(idCol),
      col("cluster"), col("dist_q"))
  }

  /** DuckDB replay of [[kmeansFixed]] — rounds unrolled as CTE pairs
    * (assignment, update), identical quantization/init/argmin/division.
    */
  def kmeansOracleSql(table: String, idCol: String, vecCol: String,
      k: Int, dim: Int, rounds: Int): String = {
    def distSql(p: String, c: String) =
      s"""list_sum(list_transform(generate_series(1, $dim),
         |      i -> ($p.qv[i] - $c.cv[i]) * ($p.qv[i] - $c.cv[i])))""".stripMargin
    val rounds_ = (1 to rounds).map { r =>
      s"""a$r AS (SELECT id, qv, cluster FROM (
         |    SELECT p.id, p.qv, c.cluster,
         |      row_number() OVER (PARTITION BY p.id ORDER BY
         |        ${distSql("p", "c")}, c.cluster) AS rn
         |    FROM pts p CROSS JOIN c${r - 1} c) WHERE rn = 1),
         |u$r AS (SELECT cluster, i,
         |    CAST(floor(SUM(qv[i]) * 1.0 / COUNT(*)) AS BIGINT) AS v
         |  FROM a$r, range(1, ${dim + 1}) t(i) GROUP BY cluster, i),
         |c$r AS (SELECT c${r - 1}.cluster, COALESCE(uv.cv, c${r - 1}.cv) AS cv
         |  FROM c${r - 1} LEFT JOIN (SELECT cluster, list(v ORDER BY i) AS cv
         |    FROM u$r GROUP BY cluster) uv USING (cluster))""".stripMargin
    }.mkString(",\n")
    s"""WITH pts AS (SELECT $idCol AS id,
       |    list_transform(generate_series(1, $dim),
       |      i -> CAST(round(CAST($vecCol[i] AS DOUBLE) * 1000000, 0) AS BIGINT)) AS qv
       |  FROM $table),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY h) AS INTEGER) - 1 AS cluster,
       |    qv AS cv
       |  FROM (SELECT qv, md5(CAST(id AS VARCHAR)) AS h FROM pts ORDER BY h LIMIT $k)),
       |$rounds_,
       |fin AS (SELECT id, cluster, CAST(dist AS BIGINT) AS dist_q FROM (
       |    SELECT p.id, c.cluster, ${distSql("p", "c")} AS dist,
       |      row_number() OVER (PARTITION BY p.id ORDER BY
       |        ${distSql("p", "c")}, c.cluster) AS rn
       |    FROM pts p CROSS JOIN c$rounds c) WHERE rn = 1)
       |SELECT id AS $idCol, CAST(cluster AS INTEGER) AS cluster, dist_q
       |FROM fin ORDER BY $idCol""".stripMargin
  }

  /** Salt count ceiling for [[saltedCellSides]]: bounds the per-row
    * replication a single pathological cell can demand.
    */
  private[ext] val MaxCellSalt = 1024

  /** The two sides of the eps-cell candidate join with HOT-CELL SALTING —
    * the skew guard for a natural density peak. A plain cell-keyed join
    * sends ALL of one cell's pairs to ONE task: at 100 TB a dense cell
    * (occupancy n) is a straggler computing n² candidate pairs. Guard:
    *
    *   1. one cheap map-side-combinable aggregate counts per-cell
    *      occupancy; only cells ABOVE `hotCellThreshold` survive — that
    *      list is tiny by construction (a density peak is rare; the frame
    *      is bounded by rows/threshold) and broadcasts;
    *   2. a hot cell with occupancy n splits into k = ⌈n/threshold⌉
    *      (≤ [[MaxCellSalt]]) sub-buckets on BOTH sides: a right-side
    *      point gets the FIXED sub-bucket (hash(id) mod k) and replicates
    *      over the k left sub-buckets; a probe gets the fixed left
    *      sub-bucket and replicates over the k right ones. Every pair
    *      meets in EXACTLY one (cellX, cellY, saltA, saltB) bucket, so
    *      results are identical to the unsalted join while the hot cell's
    *      pair work spreads over k² tasks of ≤ ~9·threshold² pairs each.
    *
    * Cold cells (k = 1) pay one broadcast-hash probe against the tiny hot
    * list — no extra shuffle, no replication.
    *
    * Input `pts` must have columns (id, x, y) (quantized longs). Returns
    * (left, right) frames keyed on (cx, cy, _sa, _sb): left = probes
    * carrying (ia, xa, ya) exploded over the 3×3 cell neighborhood, right
    * = points carrying (ib, xb, yb).
    */
  private[ext] def saltedCellSides(pts: DataFrame, eps: Long,
      hotCellThreshold: Int): (DataFrame, DataFrame) = {
    require(hotCellThreshold >= 1, "hotCellThreshold must be positive")
    def fdiv(c: Column): Column =
      ((c - pmod(c, lit(eps))) / lit(eps)).cast("long")
    val hot = pts
      .groupBy(fdiv(col("x")).as("cx"), fdiv(col("y")).as("cy"))
      .agg(count(lit(1)).as("_occ"))
      .where(col("_occ") > hotCellThreshold)
      .select(col("cx"), col("cy"),
        least(ceil(col("_occ").cast("double") / hotCellThreshold),
          lit(MaxCellSalt.toLong)).cast("int").as("_k"))
    val right = pts.select(col("id").as("ib"), col("x").as("xb"),
        col("y").as("yb"), fdiv(col("x")).as("cx"), fdiv(col("y")).as("cy"))
      .join(broadcast(hot), Seq("cx", "cy"), "left")
      .withColumn("_kk", coalesce(col("_k"), lit(1)))
      .withColumn("_sb", pmod(hash(col("ib")), col("_kk")))
      .withColumn("_sa", explode(sequence(lit(0), col("_kk") - 1)))
      .select("cx", "cy", "_sa", "_sb", "ib", "xb", "yb")
    val offsets = array((for { i <- -1 to 1; j <- -1 to 1 } yield
      struct(lit(i).as("i"), lit(j).as("j"))): _*)
    val left = pts.select(col("id").as("ia"), col("x").as("xa"),
        col("y").as("ya"), fdiv(col("x")).as("bx"), fdiv(col("y")).as("by"))
      .withColumn("_o", explode(offsets))
      .select(col("ia"), col("xa"), col("ya"),
        (col("bx") + col("_o.i")).as("cx"), (col("by") + col("_o.j")).as("cy"))
      .join(broadcast(hot), Seq("cx", "cy"), "left")
      .withColumn("_kk", coalesce(col("_k"), lit(1)))
      .withColumn("_sa", pmod(hash(col("ia")), col("_kk")))
      .withColumn("_sb", explode(sequence(lit(0), col("_kk") - 1)))
      .select("cx", "cy", "_sa", "_sb", "ia", "xa", "ya")
    (left, right)
  }

  /** Eps-neighborhood candidate pairs (ia, ib) with d2 ≤ eps² — the shared
    * candidate stage of [[dbscanGrid]] and [[lofGrid]], salted per
    * [[saltedCellSides]]. Self-pairs (ia == ib) are INCLUDED (dbscan's
    * core rule counts self; lof filters them out).
    */
  private[ext] def epsPairs(pts: DataFrame, eps: Long,
      hotCellThreshold: Int): DataFrame = {
    val (left, right) = saltedCellSides(pts, eps, hotCellThreshold)
    val d2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
      (col("ya") - col("yb")) * (col("ya") - col("yb"))
    left.join(right, Seq("cx", "cy", "_sa", "_sb"))
      .where(d2 <= lit(eps) * lit(eps))
      .select(col("ia"), col("ib"), d2.as("d2"))
  }

  /** Grid-bucketed DBSCAN over the first two embedding coordinates —
    * density clustering without the all-pairs join. Eps-neighbor candidate
    * pairs come from a JOIN ON GRID CELL (cell side = eps; each point probes
    * its 3×3 cell neighborhood), so the pair count is bounded by local
    * density, never n² — the standard spatial-partitioning trick that keeps
    * DBSCAN feasible at corpus scale. Classification is the textbook one:
    * core = |N_eps(p)| ≥ minPts (self included), clusters = connected
    * components of the core-core eps-graph (labels = min reachable core id,
    * via [[Dedup.connectedComponents]] hash-min propagation), border =
    * non-core with a core neighbor (assigned the MIN neighboring core's
    * component for determinism), noise = everything else (cluster −1).
    *
    * Determinism: coordinates quantize to integer micro-units first, so
    * distance comparisons are exact long arithmetic; the floor-div to cell
    * ids uses the `(v − pmod(v, eps)) / eps` identity (exact for negatives
    * too). `eps` is in quantized units (50_000 = 0.05 raw).
    *
    * Scale shape: one narrow projection materialized, one cell-keyed shuffle
    * join (9 probe keys/point), one degree aggregate, then CC over the
    * (much smaller) core-core edge list. Skew guard: cells above
    * `hotCellThreshold` occupancy are salted into sub-buckets on both join
    * sides ([[saltedCellSides]]) — identical results, bounded task size
    * even for an all-points-in-one-cell pathology.
    */
  def dbscanGrid(df: DataFrame, idCol: String, vecCol: String,
      eps: Long, minPts: Int, hotCellThreshold: Int = 4096): DataFrame = {
    require(eps > 0 && minPts >= 1, "eps and minPts must be positive")
    val pts = materialize(df.select(col(idCol).as("id"),
        round(element_at(col(vecCol), 1).cast("double") * Scale, 0)
          .cast("long").as("x"),
        round(element_at(col(vecCol), 2).cast("double") * Scale, 0)
          .cast("long").as("y")))
    val nbr = materialize(epsPairs(pts, eps, hotCellThreshold)
      .select("ia", "ib"))
    val cores = nbr.groupBy("ia").agg(count(lit(1)).as("dg"))
      .where(col("dg") >= minPts).select(col("ia").as("id"))
    val coreEdges = nbr
      .join(cores.withColumnRenamed("id", "ia"), Seq("ia"))
      .join(cores.withColumnRenamed("id", "ib"), Seq("ib"))
      .where(col("ia") =!= col("ib"))
    val comp = Dedup.connectedComponents(cores, "id", coreEdges, "ia", "ib")
    val borders = nbr
      .join(comp.withColumnRenamed("id", "ib")
        .withColumnRenamed("component", "_c"), Seq("ib"))
      .join(cores.withColumnRenamed("id", "ia"), Seq("ia"), "left_anti")
      .groupBy(col("ia").as("id")).agg(min("_c").as("cluster"))
    val coreOut = comp.select(col("id"), lit("core").as("role"),
      col("component").as("cluster"))
    val borderOut = borders.select(col("id"), lit("border").as("role"),
      col("cluster"))
    val noiseOut = pts.select("id")
      .join(comp.select("id"), Seq("id"), "left_anti")
      .join(borders.select("id"), Seq("id"), "left_anti")
      .select(col("id"), lit("noise").as("role"), lit(-1L).as("cluster"))
    coreOut.unionByName(borderOut).unionByName(noiseOut)
      .select(col("id").as(idCol), col("role"), col("cluster"))
  }

  /** Bounded-radius Local Outlier Factor — density-based outlier scoring
    * over the SAME eps-cell candidate join as [[dbscanGrid]] (one
    * deliberate divergence from classic LOF, documented: neighborhoods are
    * the eps-ball, not the exact kNN set, so no adaptive-radius search is
    * needed and the pair count stays density-bounded; points with fewer
    * than `minNbrs` eps-neighbors are reported with lof −1 = "too isolated
    * to score", which IS the outlier verdict for them).
    *
    * Every aggregation is staged-quantized so the score replays exactly:
    * distances floor to milli-units (`⌊√d²·1000⌋` — one deterministic
    * sqrt per pair), reach-dist sums are exact longs, local reachability
    * density quantizes to `⌊n·10¹²/Σreach⌋` (reach floored at 1 so lrd is
    * bounded by 10¹² even under coincident points), and the final factor is one
    * integer ratio `⌊Σ lrd_nbr·1000 / (n·lrd_self)⌋` in milli-units
    * (LOF ≈ 1 → inlier, ≫ 1 → outlier).
    */
  def lofGrid(df: DataFrame, idCol: String, vecCol: String,
      eps: Long, minNbrs: Int, hotCellThreshold: Int = 4096): DataFrame = {
    require(eps > 0 && minNbrs >= 1, "eps and minNbrs must be positive")
    val pts = materialize(df.select(col(idCol).as("id"),
        round(element_at(col(vecCol), 1).cast("double") * Scale, 0)
          .cast("long").as("x"),
        round(element_at(col(vecCol), 2).cast("double") * Scale, 0)
          .cast("long").as("y")))
    // strict pairs (no self), milli-unit distance; candidates via the same
    // hot-cell-salted eps-cell join as dbscanGrid
    val nbr = materialize(epsPairs(pts, eps, hotCellThreshold)
      .where(col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"),
        floor(sqrt(col("d2").cast("double")) * 1000.0).cast("long").as("dq")))
    // k-distance surrogate: max eps-neighbor distance per point
    val kdist = nbr.groupBy(col("ib").as("id")).agg(max("dq").as("kd"))
    // reach-dist(a→b) = max(dist, kdist(b)); lrd in 10¹²-units
    val lrd = nbr.join(kdist.withColumnRenamed("id", "ib"), Seq("ib"))
      .groupBy(col("ia").as("id"))
      .agg(count(lit(1)).as("n"),
        sum(greatest(col("dq"), col("kd"), lit(1L))).as("_sr"))
      .where(col("n") >= minNbrs)
      .select(col("id"), col("n"),
        expr("(n * 1000000000000) div greatest(_sr, 1)").as("lrdq"))
    // LOF = mean neighbor lrd / own lrd, milli-units
    val lof = nbr
      .join(lrd.select(col("id").as("ib"), col("lrdq").as("_ln")), Seq("ib"))
      .groupBy(col("ia").as("id"))
      .agg(sum("_ln").as("_sln"), count(lit(1)).as("_nn"))
      .join(lrd.select(col("id"), col("lrdq"), col("n")), Seq("id"))
      .select(col("id"), col("n").as("n_nbrs"),
        expr("(_sln * 1000) div (_nn * lrdq)").as("lof_milli"))
    pts.select("id").join(lof, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_nbrs"), lit(0L)).as("n_nbrs"),
        coalesce(col("lof_milli"), lit(-1L)).as("lof_milli"))
  }

  /** DuckDB replay of [[lofGrid]] (direct eps-join, same quantization). */
  def lofOracleSql(table: String, idCol: String, vecCol: String,
      eps: Long, minNbrs: Int): String =
    s"""WITH p AS (SELECT $idCol AS id,
       |    CAST(round(CAST($vecCol[1] AS DOUBLE) * 1000000, 0) AS BIGINT) AS x,
       |    CAST(round(CAST($vecCol[2] AS DOUBLE) * 1000000, 0) AS BIGINT) AS y
       |  FROM $table),
       |nbr AS (SELECT a.id AS ia, b.id AS ib,
       |    CAST(floor(sqrt(CAST((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)
       |      AS DOUBLE)) * 1000.0) AS BIGINT) AS dq
       |  FROM p a JOIN p b
       |  ON (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)
       |       <= ${eps}::BIGINT * ${eps}::BIGINT
       |     AND a.id <> b.id),
       |kd AS (SELECT ib AS id, max(dq) AS kd FROM nbr GROUP BY 1),
       |lrd AS (SELECT ia AS id, count(*)::BIGINT AS n,
       |    ((count(*)::BIGINT * 1000000000000) //
       |      greatest(sum(greatest(dq, kd, 1))::BIGINT, 1))::BIGINT AS lrdq
       |  FROM nbr JOIN kd ON kd.id = nbr.ib
       |  GROUP BY 1 HAVING count(*) >= $minNbrs),
       |lof AS (SELECT n.ia AS id, s.n AS n_nbrs,
       |    ((sum(l.lrdq)::BIGINT * 1000) // (count(*)::BIGINT * s.lrdq))::BIGINT
       |      AS lof_milli
       |  FROM nbr n JOIN lrd l ON l.id = n.ib JOIN lrd s ON s.id = n.ia
       |  GROUP BY 1, s.n, s.lrdq)
       |SELECT p.id AS $idCol, coalesce(lof.n_nbrs, 0)::BIGINT AS n_nbrs,
       |  coalesce(lof.lof_milli, -1)::BIGINT AS lof_milli
       |FROM p LEFT JOIN lof ON lof.id = p.id
       |ORDER BY p.id""".stripMargin

  /** DuckDB replay of [[dbscanGrid]] — the oracle skips the grid (scale
    * machinery, not semantics) and does the eps-join directly, then the
    * same core/border/noise classification with a recursive reachability
    * closure for components (min reachable core id = the hash-min label).
    */
  def dbscanOracleSql(table: String, idCol: String, vecCol: String,
      eps: Long, minPts: Int): String =
    s"""WITH RECURSIVE p AS (SELECT $idCol AS id,
       |    CAST(round(CAST($vecCol[1] AS DOUBLE) * 1000000, 0) AS BIGINT) AS x,
       |    CAST(round(CAST($vecCol[2] AS DOUBLE) * 1000000, 0) AS BIGINT) AS y
       |  FROM $table),
       |nbr AS (SELECT a.id AS ia, b.id AS ib FROM p a JOIN p b
       |  ON (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= ${eps}::BIGINT * ${eps}::BIGINT),
       |core AS (SELECT ia AS id FROM nbr GROUP BY ia HAVING count(*) >= $minPts),
       |ce AS (SELECT n.ia, n.ib FROM nbr n
       |  JOIN core ca ON ca.id = n.ia JOIN core cb ON cb.id = n.ib
       |  WHERE n.ia <> n.ib),
       |reach AS (SELECT id, id AS r FROM core
       |  UNION SELECT ce.ia AS id, reach.r FROM ce JOIN reach ON reach.id = ce.ib),
       |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
       |border AS (SELECT n.ia AS id, min(c.cluster) AS cluster FROM nbr n
       |  JOIN comp c ON c.id = n.ib
       |  WHERE n.ia NOT IN (SELECT id FROM core) GROUP BY n.ia)
       |SELECT p.id AS $idCol,
       |  CASE WHEN comp.id IS NOT NULL THEN 'core'
       |       WHEN border.id IS NOT NULL THEN 'border'
       |       ELSE 'noise' END AS role,
       |  COALESCE(comp.cluster, border.cluster, -1) AS cluster
       |FROM p LEFT JOIN comp ON comp.id = p.id
       |  LEFT JOIN border ON border.id = p.id
       |ORDER BY p.id""".stripMargin
}
