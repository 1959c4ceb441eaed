package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.graph.Rounds.materialize

/** Approximate-nearest-neighbor / similarity search over an embedding column
  * (`array<float>`) — training-data-pipeline extension (BASELINE.json).
  *
  * Two tiers:
  *  - brute-force cosine top-k: exact baseline; query-set × corpus keyed
  *    cross join, fine when the query set is small or the corpus fits a
  *    partition-wise pass.
  *  - LSH-bucketed (random hyperplane signs): the 100 TB path. Corpus is
  *    bucketed once (one narrow shuffle on the bucket key); probes join only
  *    their bucket. Hyperplanes are derived from a fixed seed so the
  *    bucketing is deterministic and re-usable across runs.
  *
  * All vector math is `zip_with`/`aggregate` higher-order functions — pure
  * Catalyst expressions, no UDF, no serialization boundary. Note HOF lambdas
  * are evaluated per element (not whole-stage codegen'd): keep lambda bodies
  * to attribute references and arithmetic — embedding an aggregate subtree
  * in a lambda multiplies it by the array length (see [[normalizedWith]]).
  */
object Similarity {

  /** dot(a, b) in double — a native codegen expression
    * ([[graft.expr.DotProduct]]): same semantics as the
    * `aggregate(zip_with(...))` HOF composition (ascending-index summation,
    * null on length mismatch / null element) but a primitive loop inside
    * whole-stage codegen instead of per-element interpreted lambdas.
    */
  def dot(a: Column, b: Column): Column = graft.expr.VectorExpr.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k by cosine for each query vector. `queries` and `corpus`
    * must expose (idCol, vecCol). Self-matches excluded. Ties broken by
    * corpus id for determinism.
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int
  ): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
      .withColumn("_qn", norm(col("_qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
      .withColumn("_cn", norm(col("_cv")))
    val scored = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(dot(col("_qv"), col("_cv")) / (col("_qn") * col("_cn")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("_rk", row_number().over(w)).where(col("_rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("_rk").as("rank"))
  }

  /** Hard-negative mining for contrastive training (the public dense-
    * retrieval recipe: train on the most-confusable wrong answers): for
    * each anchor, the k highest-cosine corpus vectors whose `labelCol`
    * DIFFERS from the anchor's — semantically closest out-of-class
    * examples. Same broadcast-anchors × corpus-scan shape as
    * [[bruteForceTopK]] (swap in the LSH/IVF candidate stage at corpus
    * scale); the label inequality prunes before scoring so in-class rows
    * never reach the ranker.
    */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = anchors.select(col(idCol).as("anchor_id"), col(vecCol).as("_qv"),
      col(labelCol).as("_ql")).withColumn("_qn", norm(col("_qv")))
    val c = corpus.select(col(idCol).as("negative_id"), col(vecCol).as("_cv"),
      col(labelCol).as("_cl")).withColumn("_cn", norm(col("_cv")))
    val scored = broadcast(q).join(c, col("_ql") =!= col("_cl"))
      .withColumn("cos",
        round(dot(col("_qv"), col("_cv")) / (col("_qn") * col("_cn")), 4))
    graft.ext.Corpus.topKPerGroupAgg(
      scored.select(col("anchor_id"), col("negative_id"), col("cos")),
      "anchor_id", "cos", "negative_id", k)
  }

  /** Mutual k-nearest-neighbor graph over an embedding column: undirected
    * edge (a, b) iff b is in a's cosine top-k AND a is in b's — the
    * standard noise-robust substrate for density clustering and diffusion
    * (mutual edges prune hub links that one-directional kNN graphs keep).
    *
    * The directed lists come from [[bruteForceTopK]] (exact, bounded-input
    * contract — swap [[annTopK]]/[[ivfTopK]] in as the candidate stage at
    * corpus scale; the mutual filter is unchanged). The mutuality check is
    * one self-join of the k-bounded directed edge list with itself
    * (`nodes × k` rows per side), never the corpus.
    */
  def mutualKnnGraph(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val knn = bruteForceTopK(df, df, idCol, vecCol, k)
    val fwd = knn.select(col("query_id").as("id_a"),
      col("neighbor_id").as("id_b"), col("cos"))
    // (neighbor, query) rows state "neighbor ∈ knn(query)" — semi-joining
    // fwd(a,b) against rev(a,b) keeps exactly the pairs where each end
    // ranks the other
    val rev = knn.select(col("neighbor_id").as("id_a"),
      col("query_id").as("id_b"))
    fwd.join(rev, Seq("id_a", "id_b"), "left_semi")
      .where(col("id_a") < col("id_b"))
  }

  /** Reciprocal-rank fusion of two per-query rankings — the standard
    * hybrid-retrieval combiner (Cormack et al. 2009, public):
    * `rrf(q, d) = Σ_lists 1 / (kRrf + rank_list(q, d))`, summed over the
    * lists that ranked (q, d) at all. Fuses a lexical list ([[
    * graft.ext.Corpus.tfidfTopK]]) with a dense one ([[bruteForceTopK]] /
    * [[annTopK]]) without comparable scores — only ranks matter.
    *
    * Determinism: one full-outer join and a FIXED two-term expression per
    * row (float addition is commutative; no variable-order aggregation),
    * then the bounded-heap top-k. Scale shape: both inputs are already
    * k-bounded per query, so the join and fusion touch `queries × 2k`
    * rows — negligible next to the retrieval stages.
    */
  def rrfFuse(lexical: DataFrame, dense: DataFrame, queryCol: String,
      idCol: String, rankCol: String, k: Int, kRrf: Int = 60): DataFrame = {
    require(k >= 1, "k must be positive")
    require(kRrf >= 1, "kRrf must be positive")
    val l = lexical.select(col(queryCol).as("_q"), col(idCol).as("_id"),
      col(rankCol).cast("long").as("_rl"))
    val r = dense.select(col(queryCol).as("_q"), col(idCol).as("_id"),
      col(rankCol).cast("long").as("_rd"))
    val fused = l.join(r, Seq("_q", "_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(kRrf) + col("_rl")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("_rd")), lit(0.0)), 6))
    graft.ext.Corpus.topKPerGroupAgg(
      fused.select(col("_q"), col("_id"), col("rrf")), "_q", "rrf", "_id", k)
      .select(col("_q").as("query_id"), col("rank"),
        col("_id").as("match_id"), col("rrf"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, "Margin-based
    * parallel corpus mining in multilingual sentence embeddings" — the
    * LASER/CCMatrix recipe): candidate pairs are each side's k nearest
    * neighbors on the other side by cosine; a pair's margin divides its
    * cosine by the mean of its two endpoints' average top-k cosines; a
    * pair is mined when each endpoint is the other's best-margin
    * candidate (the "max" strategy, mutual).
    *
    * Determinism: cosines are quantized to 1e-4 longs BEFORE the
    * per-endpoint sums, so the sums are exact integers in any partition
    * order; the margin is then one fixed-shape double expression over
    * integer sums, and argmaxes tie-break on the candidate id (struct
    * min — map-side combinable, no window).
    *
    * Scale shape: candidate generation is GATED on the measured pair
    * count (the [[graft.ext.Corpus.bpeTrain]] dual-path discipline).
    * Below `exactPairLimit` it is the exact broadcast cross-product —
    * bounded-contract like [[bruteForceTopK]] (one side driver-small);
    * the sf0.1→sf1 scale probe measured that path at 12.8× on 10× data
    * (quadratic, as a cross join must be). Above the gate, candidates
    * come from a sign-LSH bucket join (both sides hashed with the SAME
    * hyperplanes, multiprobe widening on the src side) — the CCMatrix
    * recipe's "ANN candidates, then margins". Everything from the
    * quantized top-k on is identical in both paths: keyed on endpoint
    * ids, partial-aggregated, never a full pair materialization.
    *
    * Output: (src_id, tgt_id, margin), one row per mined pair.
    */
  def bitextMine(src: DataFrame, tgt: DataFrame, idCol: String,
      vecCol: String, k: Int, exactPairLimit: Long = 4000000L,
      bits: Int = 8, multiprobe: Int = 3, seed: Long = 42L,
      tables: Int = 4): DataFrame = {
    require(k >= 1, "k must be positive")
    val a = src.select(col(idCol).as("src_id"), col(vecCol).as("_sv"))
      .withColumn("_sn", norm(col("_sv")))
    val b = tgt.select(col(idCol).as("tgt_id"), col(vecCol).as("_tv"))
      .withColumn("_tn", norm(col("_tv")))
    val cosQ = round(dot(col("_sv"), col("_tv")) /
      (col("_sn") * col("_tn")) * 10000).cast("long").as("c")
    // measured gate, not configuration: two cheap counts decide the path
    val nPairs = a.count() * b.count()
    // ONE scan of the candidate frame: every scored pair explodes into its
    // two directional rows and BOTH top-k heaps fill inside a single
    // map-side-combined bounded-heap aggregation — the corpus-scale pair
    // frame is never persisted and never rescanned (the earlier shape
    // materialized all |src|·|tgt| scored rows to serve two aggregations)
    val scored =
      if (nPairs <= exactPairLimit)
        a.crossJoin(broadcast(b)).select(col("src_id"), col("tgt_id"), cosQ)
      else {
        // sign-LSH bucket join, `tables` independent hash tables (banding:
        // a near pair is a candidate if ANY table collides — L bands of b
        // bits, the MinHash-LSH recall construction applied to sign-LSH).
        // The bit WIDTH scales with the measured size so the expected
        // per-table candidate count stays ~exactPairLimit at ANY corpus
        // size: E[pairs/table] ≈ |A|·|B| / 2^bits (random buckets), so
        // bits = log2(nPairs / exactPairLimit) caps the quadratic term —
        // the 30× scale probe measured the FIXED-width version's
        // candidate term re-emerging (8.6× on 30× data); width scaling
        // is what keeps it flat. Recall lost to wider buckets is bought
        // back with `tables` (OR over bands) + Hamming-1 multiprobe on
        // the src side. dropDuplicates keeps multi-table/probe hits from
        // occupying two heap slots for one pair.
        // width targets E[candidates/table] ≈ exactPairLimit INCLUDING the
        // multiprobe fanout: E = |A|·(probes)·|B| / 2^bits
        val probeMul = math.max(1, multiprobe + 1).toLong
        val bitsEff = math.max(bits, math.min(20,
          64 - java.lang.Long.numberOfLeadingZeros(
            math.max(1L, nPairs * probeMul / math.max(1L, exactPairLimit))).toInt))
        val dim = src.select(org.apache.spark.sql.functions.size(col(vecCol)))
          .head.getInt(0)
        val cands = (0 until math.max(1, tables)).map { t =>
          val planes = hyperplanes(bitsEff, dim, seed + t)
          val b0 = lshBucket(col("_sv"), planes)
          val probes: Column =
            if (multiprobe <= 0) array(b0)
            else array((b0 +: (0 until multiprobe).map(i =>
              b0.bitwiseXOR(lit(1L << i)))): _*)
          val aP = a.withColumn("bucket", explode(probes))
          val bH = b.withColumn("bucket", lshBucket(col("_tv"), planes))
          aP.join(bH, Seq("bucket"))
            .select(col("src_id"), col("tgt_id"), cosQ)
        }
        cands.reduce(_ unionByName _).dropDuplicates("src_id", "tgt_id")
      }
    val tk = materialize(scored.select(explode(array(
        struct(lit("s").as("side"), col("src_id").as("g"),
          col("tgt_id").as("o"), col("c")),
        struct(lit("t").as("side"), col("tgt_id").as("g"),
          col("src_id").as("o"), col("c")))).as("e"))
      .select(col("e.side").as("side"), col("e.g").as("g"),
        col("e.o").as("o"), col("e.c").as("c"))
      .groupBy("side", "g")
      .agg(graft.expr.BoundedTopK.topKPairs(k, col("c"), col("o")).as("_tk")))
    def sideK(side: String, gName: String, oName: String): DataFrame =
      tk.where(col("side") === side)
        .select(col("g").as(gName),
          posexplode(col("_tk")).as(Seq("_pos", "_pair")))
        .select(col(gName), col("_pair.payload").as(oName),
          col("_pair.score").cast("long").as("c"))
    val kA = sideK("s", "src_id", "tgt_id")
    val kB = sideK("t", "tgt_id", "src_id")
    val sA = kA.groupBy("src_id")
      .agg(sum("c").as("_sa"), count(lit(1)).as("_ka"))
    val sB = kB.groupBy("tgt_id")
      .agg(sum("c").as("_sb"), count(lit(1)).as("_kb"))
    def withMargin(cand: DataFrame): DataFrame = cand
      .join(sA, Seq("src_id")).join(sB, Seq("tgt_id"))
      .withColumn("margin",
        col("c").cast("double") /
          ((col("_sa").cast("double") / col("_ka").cast("double") +
            col("_sb").cast("double") / col("_kb").cast("double")) / lit(2.0)))
    val bestA = withMargin(kA)
      .groupBy("src_id")
      .agg(min(struct(negate(col("margin")).as("nm"), col("tgt_id").as("t"))).as("_b"))
      .select(col("src_id"), col("_b.t").as("tgt_id"),
        (negate(col("_b.nm")) + lit(0.0)).as("margin")) // +0.0 folds −0.0
    val bestB = withMargin(kB)
      .groupBy("tgt_id")
      .agg(min(struct(negate(col("margin")).as("nm"), col("src_id").as("s"))).as("_b"))
      .select(col("tgt_id"), col("_b.s").as("src_id"))
    bestA.join(bestB, Seq("src_id", "tgt_id"))
      .select(col("src_id"), col("tgt_id"), round(col("margin"), 4).as("margin"))
  }

  /** Deterministic random hyperplanes: `planes(b)(d)` from a seeded RNG.
    * Materialized as a literal — tiny (bits × dim doubles), shipped with the
    * plan, no shuffle.
    */
  def hyperplanes(bits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits, dim)(rnd.nextGaussian())
  }

  /** Engine-portable deterministic hyperplanes: component d of plane j is
    * uniform in [-1, 1), derived from the first 8 hex digits of
    * md5("p:j:d") — so any engine with md5 (the DuckDB correctness oracle)
    * reproduces the planes, signatures, buckets, and therefore the exact
    * ANN result. The integer stays < 2^32 (exact in a double), and both
    * sides sum dot products in ascending index order, so the signatures are
    * bit-identical.
    */
  def md5Hyperplanes(bits: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(bits, dim) { (j, d) =>
      val digest = java.security.MessageDigest.getInstance("MD5")
      val hex = digest.digest(s"p:$j:$d".getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16).toDouble / 2147483648.0 - 1.0
    }

  /** Johnson–Lindenstrauss-style random projection: reduce `dim`-d vectors
    * to `k` dims as `proj_j = dot(vec, plane_j)` over the engine-portable
    * [[md5Hyperplanes]] (uniform [-1, 1) entries) — the deterministic
    * dimensionality-reduction path that shrinks an ANN index or distance
    * matrix 4–8× ahead of [[quantizeInt8]]. Relative distances survive in
    * expectation (JL lemma, public result); derived pipelines must use the
    * SAME (k, dim) so the planes regenerate identically.
    *
    * Scale shape: the plane matrix is a k×dim literal shipped with the
    * plan (no shuffle, no fit pass — unlike PCA there is nothing to
    * train); each output is one [[dot]] (native codegen, ascending-index
    * sum) so the whole operator is narrow per-row math. Components are
    * rounded once (+0.0 canonicalizes IEEE −0.0) — cross-engine
    * hash-stable.
    */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int): DataFrame = {
    require(k >= 1 && dim >= 1, "k and dim must be positive")
    val planes = md5Hyperplanes(k, dim)
    // raw column, no array<double> cast: DotProduct converts elements
    // itself (float→double is exact), while a whole-array cast would be
    // re-evaluated once PER PLANE — k full-array conversions per row
    val v = col(vecCol)
    val proj = array(planes.map(p => round(dot(v, lit(p)), 4) + lit(0.0)): _*)
    df.select(col(idCol), proj.as("proj"))
  }

  /** Sign-LSH bucket id of a vector: one bit per hyperplane. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val pc = lit(p) // array<double> literal
      when(dot(vec, pc) >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduceLeft(_ + _)
  }

  /** ANN top-k: probe only the query's bucket (optionally ± multiprobe on
    * neighboring buckets via Hamming-1 flips). Recall < 1 by construction;
    * the exact verifier is [[bruteForceTopK]].
    */
  def annTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      bits: Int = 8, dim: Int = 64, multiprobe: Int = 0, seed: Long = 42L,
      planesOverride: Option[Array[Array[Double]]] = None
  ): DataFrame = {
    val planes = planesOverride.getOrElse(hyperplanes(bits, dim, seed))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
      .withColumn("bucket", lshBucket(col("_cv"), planes))
      .withColumn("_cn", norm(col("_cv")))
    val qBase = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
      .withColumn("_b0", lshBucket(col("_qv"), planes))
      .withColumn("_qn", norm(col("_qv")))
    // multiprobe: also look in buckets that differ by one of the first
    // `multiprobe` bits
    val probes: Column =
      if (multiprobe <= 0) array(col("_b0"))
      else array((col("_b0") +: (0 until multiprobe).map(i =>
        col("_b0").bitwiseXOR(lit(1L << i)))): _*)
    val q = qBase.withColumn("bucket", explode(probes))
    val scored = q.join(c, Seq("bucket")).where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(dot(col("_qv"), col("_cv")) / (col("_qn") * col("_cn")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("_rk", row_number().over(w)).where(col("_rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("_rk").as("rank"))
  }

  /** L2-normalize a vector column (cosine metric ⇒ spherical k-means: cells
    * must be direction-based, or a large-magnitude vector with the same
    * direction lands in a far L2 cell and is missed at nprobe < nlist).
    *
    * `n` MUST be a materialized column (an attribute), not the `norm(vec)`
    * expression tree: higher-order lambdas evaluate their body per element,
    * so an embedded norm subtree re-runs the full dim-sized aggregate for
    * EVERY element — O(dim²) interpreted work per row (measured ~4.5 ms/row
    * at dim 64, turning a 2 k-row bucketing into seconds).
    */
  private def normalizedWith(vec: Column, n: Column): Column =
    org.apache.spark.sql.functions.transform(vec,
      x => when(n > 0, x.cast("double") / n).otherwise(0.0))

  /** IVF (inverted-file) ANN — the classic coarse-quantizer path: k-means
    * centroids partition the corpus into cells; a query probes its `nprobe`
    * nearest cells only. The 100 TB disposition: centroids are trained once
    * on a sample (driver-small), the corpus is bucketed with one narrow pass
    * + shuffle on `cell`, and probes fan out to nprobe cells — scan cost is
    * nprobe/nlist of brute force, with recall controlled by nprobe.
    */
  def ivfIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, seed: Long = 42L, trainRowsPerCell: Int = 256
  ): (DataFrame, Array[Array[Double]]) = {
    // TRAIN ON A BOUNDED SAMPLE (nlist × trainRowsPerCell rows): a coarse
    // quantizer fit over the full corpus would be maxIter full passes —
    // the dominant cost at 100 TB for zero cell-quality gain. limit() is
    // deterministic (first rows in partition order) and needs no count.
    // The sample is driver-small by construction, so Lloyd's iterations run
    // AS PLAIN SCALA on the driver — a Spark ML KMeans here costs one job
    // per iteration plus a non-codegen predict UDF for assignment; measured
    // ~20 s of pure scheduling overhead on a corpus the sample already
    // covers. Cell assignment is then the same Catalyst expression the
    // probe side uses (whole-stage codegen, one corpus pass).
    val trainCap = math.max(nlist * trainRowsPerCell, nlist * 2)
    val prepared = corpus.select(col(idCol), col(vecCol))
      .withColumn("_vn", norm(col(vecCol)))
      .withColumn("_nv", normalizedWith(col(vecCol), col("_vn")))
    val sample: Array[Array[Double]] = prepared
      .select(col("_nv")).limit(trainCap)
      .collect().map(_.getSeq[Double](0).toArray)
    val centroids = localKMeans(sample, nlist, seed, iters = 5)
    val indexed = prepared
      .withColumn("cell", nearestCells(col("_nv"), centroids, 1).getItem(0))
      .drop("_vn", "_nv")
    (indexed, centroids)
  }

  /** Lloyd's k-means over a driver-small sample (bounded by
    * `ivfIndex.trainRowsPerCell`). Deterministic: seeded init, stable
    * argmin tie-break on cell index, empty cells keep their previous
    * centroid.
    */
  private def localKMeans(points: Array[Array[Double]], k: Int, seed: Long,
      iters: Int): Array[Array[Double]] = {
    require(points.nonEmpty, "ivf training sample is empty")
    val dim = points.head.length
    val rnd = new scala.util.Random(seed)
    val init = rnd.shuffle(points.indices.toList).take(math.min(k, points.length))
    var centroids = init.map(i => points(i).clone()).toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < centroids.length) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = p(i) - centroids(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else Array.tabulate(dim)(i => sums(c)(i) / counts(c))
      }
    }
    centroids
  }

  /** Rank cells by squared distance of the PRE-NORMALIZED vector column
    * `nv` (an attribute — see [[normalizedWith]]) to the normalized-space
    * centroids: a sort of a tiny literal-struct array, nlist entries.
    */
  private[graft] def nearestCells(nv: Column, centroids: Array[Array[Double]],
      nprobe: Int): Column = {
    // ‖nv − c‖² = ‖nv‖² + ‖c‖² − 2·nv·c: the dot products are the native
    // codegen kernel and ‖c‖² is a Scala constant — the naive
    // aggregate(zip_with(...)) form runs its lambdas interpreted per
    // element, nlist × dim times per row (the dominant cost of the whole
    // IVF path when measured)
    val nvSq = dot(nv, nv)
    val cells = centroids.zipWithIndex.map { case (c, i) =>
      val cSq = c.map(x => x * x).sum
      val d = nvSq + lit(cSq) - lit(2.0) * dot(nv, lit(c))
      struct(d.as("d"), lit(i).as("cell"))
    }
    slice(sort_array(array(cells: _*)), 1, nprobe).getField("cell")
  }


  /** IVF top-k: probe the query's `nprobe` nearest cells. */
  def ivfTopK(
      queries: DataFrame, indexedCorpus: DataFrame, centroids: Array[Array[Double]],
      idCol: String, vecCol: String, k: Int, nprobe: Int = 2
  ): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
      .withColumn("_qn", norm(col("_qv")))
      .withColumn("_qnv", normalizedWith(col("_qv"), col("_qn")))
      .withColumn("cell", explode(nearestCells(col("_qnv"), centroids, nprobe)))
      .drop("_qnv")
    val c = indexedCorpus.select(col("cell"), col(idCol).as("neighbor_id"),
      col(vecCol).as("_cv")).withColumn("_cn", norm(col("_cv")))
    val scored = q.join(c, Seq("cell")).where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(dot(col("_qv"), col("_cv")) / (col("_qn") * col("_cn")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("_rk", row_number().over(w)).where(col("_rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("_rk").as("rank"))
  }

  // ---------------------------------------------------------------- PQ

  /** Product-quantization codebook (Jégou et al. 2011, "Product
    * quantization for nearest neighbor search"): split the `dim`-d space
    * into `m` subspaces of dim/m dims; each subspace's `ksub` centroids
    * are the corresponding subvectors of a deterministic training sample —
    * the `ksub` vectors with smallest md5(id) (engine-portable uniform
    * draw; a random-sample codebook is the published baseline the k-means
    * refinement starts from, and k-means float iteration would not be
    * cross-engine exact). Returns codebook(s)(c)(d) — m × ksub × dim/m
    * doubles, driver-small like any trained model.
    */
  def pqCodebook(df: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, dim: Int): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    val train = df
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(ksub)
      .select(col(vecCol).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(train.length == ksub, s"need >= $ksub training vectors")
    Array.tabulate(m, ksub)((s, c) => train(c).slice(s * dsub, (s + 1) * dsub))
  }

  /** PQ-encode every vector: codes(s) = index of the nearest subspace
    * centroid (squared L2, ascending-index summation, first-minimum
    * tiebreak — all bit-exact cross-engine: fixed-shape IEEE adds/muls,
    * no transcendentals). Output (id, codes array<int> of length m) —
    * dim × 4 bytes compressed to m codes, the 100 TB memory story.
    *
    * Scale shape: narrow per-row expression math against the codebook
    * shipped as plan literals; no shuffle, no fit pass beyond
    * [[pqCodebook]]'s ksub-row sample collect.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      codebook: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebook.length
    val ksub = codebook(0).length
    val dsub = codebook(0)(0).length
    // Codebook ships as ONE nested literal and the argmin runs as
    // higher-order-function loops: an unrolled m×ksub×dsub expression
    // tree (~1k terms) costs seconds of codegen compile per plan, which
    // dominates when this is re-planned per batch. Fold order (ascending
    // d, leading 0.0) and first-minimum tiebreak are unchanged —
    // 0.0 + t is IEEE-exact for the non-negative squared terms, so the
    // oracle replay stays bit-identical. The vector element is indexed
    // RAW and cast as a scalar (float→double is exact, and it is what
    // the oracle's CAST(v[i] AS DOUBLE) does): a whole-array cast
    // inlined into the lambda re-converts all `dim` elements on every
    // one of the m×ksub×dsub loop steps — measured 70× slower.
    val cb = typedLit(codebook.map(_.map(_.toSeq).toSeq).toSeq)
    val x = col(vecCol)
    // argmin = array_min over (dist, c) structs: struct ordering is
    // lexicographic, so equal distances tie-break to the smallest c —
    // the same first-minimum contract as array_position — while
    // evaluating each distance once (position-of-min scans dists twice).
    val codes = transform(sequence(lit(0), lit(m - 1)), s => {
      val dists = transform(sequence(lit(0), lit(ksub - 1)), c =>
        struct(
          aggregate(sequence(lit(0), lit(dsub - 1)), lit(0.0), (acc, d) => {
            val diff = element_at(x, (s * lit(dsub) + d + 1).cast("int")).cast("double") -
              element_at(element_at(element_at(cb, s + 1), c + 1), d + 1)
            acc + diff * diff
          }).as("d"),
          c.cast("int").as("c")))
      array_min(dists).getField("c")
    })
    df.select(col(idCol), codes.as("codes"))
  }

  /** Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: the query
    * stays full-precision; each corpus vector's distance is approximated
    * as Σ_s ‖q_s − centroid(codes_s)‖² — a per-subspace lookup-table sum,
    * never touching the original corpus floats. LUTs are computed on the
    * driver per query (m × ksub doubles — the same IEEE op sequence as
    * the oracle) and folded into the plan as literals; ranking is the
    * bounded-heap top-k (ascending distance, id tiebreak).
    * Output: (query_id, rank, neighbor_id, adist).
    *
    * The query-set collect is gated on a MEASURED count (the bpeTrain /
    * bradleyTerry / acfPacf discipline): above `maxDriverQueries` the
    * queries stay a DataFrame and the ADC distance is computed per
    * (query, code-row) inside the plan ([[pqTopKDistributed]]) — the same
    * IEEE fold order, so both branches are bit-identical; tests force the
    * distributed branch with maxDriverQueries = 0.
    */
  def pqTopK(queries: DataFrame, encoded: DataFrame, idCol: String,
      vecCol: String, codebook: Array[Array[Array[Double]]], k: Int,
      maxDriverQueries: Int = 4096): DataFrame = {
    val m = codebook.length
    val ksub = codebook(0).length
    val dsub = codebook(0)(0).length
    // measured-count gate BEFORE any queries-many collect (bounded probe:
    // limit(n+1).count() never scans past n+1 rows)
    if (queries.select(col(idCol)).limit(maxDriverQueries + 1).count()
        > maxDriverQueries)
      return pqTopKDistributed(queries, encoded, idCol, vecCol, codebook, k)
    val qs = queries.select(col(idCol).as("_qid"),
      col(vecCol).cast("array<double>").as("_qv"))
      .collect().map(r => (r.get(0), r.getSeq[Double](1).toArray))
    require(qs.nonEmpty, "empty query set")
    // ONE corpus scan: each query's ADC distance is m LUT lookups against
    // the same codes row, exploded from a literal-backed struct array. A
    // per-query unionAll would re-plan (and re-codegen) the large encode
    // expression once per query — plan-compile cost scales with queries
    // even when the corpus is small.
    val perQuery = array(qs.map { case (qid, qv) =>
      val lut = Array.tabulate(m, ksub) { (s, c) =>
        var acc = 0.0
        var d = 0
        while (d < dsub) { // ascending-index fold, same shape as the oracle
          val diff = qv(s * dsub + d) - codebook(s)(c)(d)
          acc += diff * diff
          d += 1
        }
        acc
      }
      val adist = (0 until m).map { s =>
        element_at(lit(lut(s)), element_at(col("codes"), s + 1) + 1)
      }.reduceLeft(_ + _)
      struct(lit(qid).as("query_id"), adist.as("_adist"))
    }: _*)
    val scored = encoded
      .select(col(idCol).as("neighbor_id"), explode(perQuery).as("_q"))
      .select(col("_q.query_id").as("query_id"), col("neighbor_id"),
        col("_q._adist").as("_adist"))
      .where(col("query_id") =!= col("neighbor_id"))
    graft.ext.Corpus.topKPerGroupAgg(
      scored.select(col("query_id"), col("neighbor_id"),
        negate(col("_adist")).as("_nad")),
      "query_id", "_nad", "neighbor_id", k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(-col("_nad"), 4).as("adist"))
  }

  /** Unbounded-query-count branch of [[pqTopK]]: queries stay a DataFrame;
    * each (query, code-row) pair's ADC distance is computed inside the
    * plan from the query vector and the plan-literal codebook — the same
    * per-subspace ascending-d fold and ascending-s sum as the driver-LUT
    * branch (0.0-seeded folds of non-negative squares are IEEE-identical
    * to the driver's reduceLeft), so the two branches agree bit-for-bit.
    *
    * Scale shape: corpus × queries is the inherent cost of a full ADC
    * scan; the cross join lets Spark broadcast whichever side is smaller
    * (or chunk both at the extreme), instead of inlining a million-row
    * query literal into the plan / OOMing the driver.
    */
  private def pqTopKDistributed(queries: DataFrame, encoded: DataFrame,
      idCol: String, vecCol: String, codebook: Array[Array[Array[Double]]],
      k: Int): DataFrame = {
    val m = codebook.length
    val dsub = codebook(0)(0).length
    val cb = typedLit(codebook.map(_.map(_.toSeq).toSeq).toSeq)
    val qf = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("_qv"))
    val adist = (0 until m).map { s =>
      aggregate(sequence(lit(0), lit(dsub - 1)), lit(0.0), (acc, d) => {
        val diff = element_at(col("_qv"),
            (lit(s * dsub) + d + 1).cast("int")).cast("double") -
          element_at(element_at(element_at(cb, s + 1),
            element_at(col("codes"), s + 1) + 1), d + 1)
        acc + diff * diff
      })
    }.reduceLeft(_ + _)
    val scored = encoded.select(col(idCol).as("neighbor_id"), col("codes"))
      .crossJoin(qf)
      .select(col("query_id"), col("neighbor_id"), adist.as("_adist"))
      .where(col("query_id") =!= col("neighbor_id"))
    graft.ext.Corpus.topKPerGroupAgg(
      scored.select(col("query_id"), col("neighbor_id"),
        negate(col("_adist")).as("_nad")),
      "query_id", "_nad", "neighbor_id", k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(-col("_nad"), 4).as("adist"))
  }

  /** Retrieval-quality metrics over a per-query top-k frame
    * (query_id, rank, neighbor_id — the shape every `*TopK` here emits):
    * per query, the rank of the first RELEVANT hit (same `labelCol`
    * value as the query), reciprocal rank, and precision@k — the
    * standard eval layer for a retrieval index (MRR / P@k). Exact
    * integer counts and one fixed-shape division — engine-replicable.
    * Scale shape: two broadcast-eligible label joins keyed on the ids,
    * one keyed aggregate over queries × k rows.
    */
  def retrievalQuality(topk: DataFrame, labels: DataFrame, idCol: String,
      labelCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val ql = labels.select(col(idCol).as("query_id"), col(labelCol).as("_qlab"))
    val nl = labels.select(col(idCol).as("neighbor_id"), col(labelCol).as("_nlab"))
    topk.join(ql, Seq("query_id")).join(nl, Seq("neighbor_id"))
      .groupBy("query_id")
      .agg(
        min(when(col("_qlab") === col("_nlab"), col("rank").cast("long")))
          .as("first_rel_rank"),
        sum(when(col("_qlab") === col("_nlab"), 1L).otherwise(0L))
          .as("n_relevant"))
      .select(col("query_id"), col("first_rel_rank"),
        round(coalesce(lit(1.0) / col("first_rel_rank"), lit(0.0)), 4).as("rr"),
        round(col("n_relevant").cast("double") / lit(k), 4).as("p_at_k"))
  }

  /** NDCG@k over a top-k frame (query_id, rank, neighbor_id) with binary
    * label relevance — the graded companion to [[retrievalQuality]].
    *
    * Discounts 1/log2(rank+1) are computed ON THE DRIVER as integer
    * micro-unit literals (one per rank, plus their prefix sums for the
    * ideal DCG), so the distributed plan holds zero transcendentals: DCG
    * is an exact integer sum of table-looked-up contributions, and both
    * engines reproduce it bit-for-bit (the [[graft.infer.CrossResourceIdentity.fellegiSunterScore]]
    * constant-table pattern). Ideal DCG = prefix-sum at min(k, corpus rows
    * sharing the query's label) — the self row counts as relevant, so the
    * denominator is never zero.
    *
    * Scale shape: two broadcast-eligible label joins + one keyed aggregate
    * over queries × k rows; the per-label total is a tiny count aggregate
    * broadcast back. `excludeSelf` matches a top-k built with the query
    * row excluded from the corpus ([[bruteForceTopK]]): the ideal then has
    * one fewer attainable relevant row.
    */
  def ndcgAtK(topk: DataFrame, labels: DataFrame, idCol: String,
      labelCol: String, k: Int, excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1, "k must be positive")
    val disc = ndcgDiscounts(k)
    val cum = ndcgCumDiscounts(k)
    val ql = labels.select(col(idCol).as("query_id"), col(labelCol).as("_qlab"))
    val nl = labels.select(col(idCol).as("neighbor_id"), col(labelCol).as("_nlab"))
    val labTotals = labels.groupBy(col(labelCol).as("_qlab"))
      .agg(count(lit(1)).as("_nlabel"))
    val nRelEff = least(col("_nlabel") - lit(if (excludeSelf) 1 else 0), lit(k))
    topk.join(ql, Seq("query_id")).join(nl, Seq("neighbor_id"))
      .groupBy(col("query_id"), col("_qlab"))
      .agg(sum(when(col("_qlab") === col("_nlab"),
        element_at(lit(disc), col("rank").cast("int"))).otherwise(0L))
        .as("_dcg_q"))
      .join(labTotals, Seq("_qlab"))
      .select(col("query_id"),
        when(nRelEff <= 0, lit(0.0)).otherwise(
          round(col("_dcg_q").cast("double") /
            element_at(lit(cum), nRelEff.cast("int")).cast("double"), 4))
          .as("ndcg"))
  }

  /** Micro-unit discount table D(r) = round(1e6 / log2(r+1)), r = 1..k. */
  private[graft] def ndcgDiscounts(k: Int): Array[Long] =
    Array.tabulate(k)(i =>
      math.round(1e6 / (math.log(i + 2) / math.log(2))))

  /** Prefix sums of [[ndcgDiscounts]]: ideal DCG at m relevant, m = 1..k. */
  private[graft] def ndcgCumDiscounts(k: Int): Array[Long] =
    ndcgDiscounts(k).scanLeft(0L)(_ + _).tail

  /** Late-interaction MaxSim scoring (the ColBERT interaction) between a
    * driver-small query token-vector set and per-document token-vector
    * sets: score(q, doc) = Σ over q's tokens of the max cosine against any
    * of the doc's tokens. Cosines quantize to integer micro-units BEFORE
    * the max/sum pair, so both aggregates are exact and order-free.
    *
    * Scale shape: the query token set is bounded by contract (the
    * [[bruteForceTopK]] broadcast contract), so the candidate frame is
    * |docTokens| × nQueryTokens — one corpus scan; the two keyed
    * aggregates (max per (query, qtoken, doc), sum per (query, doc)) are
    * map-side combinable. Top-k per query on the bounded-heap pattern
    * closes the op.
    */
  def maxSimScores(queryTokens: DataFrame, docTokens: DataFrame,
      qidCol: String, qtokCol: String, qvecCol: String,
      didCol: String, dvecCol: String, topK: Int): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val q = queryTokens.select(col(qidCol).as("_qid"), col(qtokCol).as("_qtok"),
      col(qvecCol).as("_qv"))
      .withColumn("_qn", norm(col("_qv")))
    val d = docTokens.select(col(didCol).as("_did"), col(dvecCol).as("_dv"))
      .withColumn("_dn", norm(col("_dv")))
    val cosQ = round(dot(col("_qv"), col("_dv")) / (col("_qn") * col("_dn")) * 1e6, 0)
      .cast("long")
    val perTok = broadcast(q).crossJoin(d)
      .withColumn("_cos_q", cosQ)
      .groupBy("_qid", "_qtok", "_did")
      .agg(max(col("_cos_q")).as("_best"))
    val scored = perTok.groupBy(col("_qid").as("query_id"), col("_did").as("doc_id"))
      .agg(round(sum(col("_best")).cast("double") / 1e6, 4).as("maxsim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("maxsim").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select("query_id", "rank", "doc_id", "maxsim")
  }

  /** Per-dimension embedding drift between a reference snapshot and a
    * candidate batch — the distribution-shift monitor a production
    * embedding pipeline runs before admitting new vectors into an index
    * (retrain signal / upstream-model-change detector).
    *
    * Coordinates quantize to micro-units; per-side per-dim sums are exact
    * longs (one map-side-combinable aggregate over the posexploded
    * columns), means divide once in double. Output: one row per dimension
    * with both means and the absolute shift.
    */
  def embeddingDrift(ref: DataFrame, cand: DataFrame, vecCol: String,
      dim: Int): DataFrame = {
    require(dim >= 1, "dim must be positive")
    val tagged = ref.select(lit("ref").as("_side"), col(vecCol).as("_v"))
      .unionByName(cand.select(lit("new").as("_side"), col(vecCol).as("_v")))
    tagged
      .select(col("_side"), posexplode(slice(col("_v"), 1, dim)).as(Seq("_p", "_x")))
      .withColumn("_q", round(col("_x").cast("double") * 1e6, 0).cast("long"))
      .groupBy((col("_p") + 1).as("dim"))
      .agg(
        sum(when(col("_side") === "ref", col("_q"))).as("_sr"),
        count(when(col("_side") === "ref", lit(1))).as("_nr"),
        sum(when(col("_side") === "new", col("_q"))).as("_sn"),
        count(when(col("_side") === "new", lit(1))).as("_nn"))
      .select(col("dim").cast("int").as("dim"),
        round(col("_sr").cast("double") / col("_nr") / 1e6, 4).as("mean_ref"),
        round(col("_sn").cast("double") / col("_nn") / 1e6, 4).as("mean_new"),
        round(abs(col("_sr").cast("double") / col("_nr") -
          col("_sn").cast("double") / col("_nn")) / 1e6, 4).as("abs_shift"))
  }

  // ------------------------------------------------------------ IVF-PQ

  /** Driver-small IVF-PQ model: `nlist` coarse centroids plus the
    * m × ksub × dim/m residual codebook.
    */
  final case class IvfPq(coarse: Array[Array[Double]],
      codebook: Array[Array[Array[Double]]])

  /** IVF-PQ index (Jégou et al. 2011 §V — the canonical billion-scale
    * ANN layout: coarse inverted lists + product-quantized RESIDUALS).
    * Each vector is assigned to its nearest coarse centroid ("cell") and
    * only the residual v − centroid is PQ-encoded — residual energy is
    * far below vector energy, so the same m bytes carry more precision
    * than flat PQ; search probes a few cells and ADC-scans their codes,
    * touching neither the floats nor the other cells.
    *
    * Determinism (oracle-replay contract): coarse centroids are the
    * `nlist` md5-smallest vectors, the residual codebook is built from
    * the `ksub` md5-smallest vectors' residuals (the same random-sample
    * baseline as [[pqCodebook]]); every argmin is an ascending-fold
    * squared-L2 with a first-minimum tiebreak, so any md5-capable engine
    * reproduces cells, codes and distances bit-for-bit.
    *
    * Scale shape: one sample collect (driver-small model), then encode
    * is narrow per-row HOF math against plan-literal centroids — cell
    * assignment and codes in two chained projections, no shuffle, no
    * training pass over the corpus.
    */
  def ivfPqIndex(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, m: Int, ksub: Int, dim: Int): (DataFrame, IvfPq) = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    require(nlist >= 1 && ksub >= 1, "nlist and ksub must be positive")
    val dsub = dim / m
    val sampleN = math.max(nlist, ksub)
    val samp = df
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(sampleN)
      .select(col(vecCol).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(samp.length == sampleN, s"need >= $sampleN training vectors")
    val coarse = samp.take(nlist)
    // ascending-fold squared L2 + strict-< first-minimum — the same IEEE
    // sequence the distributed assignment and the oracle run
    def assignDriver(v: Array[Double]): Int = {
      var best = Double.PositiveInfinity
      var bi = 0
      var c = 0
      while (c < nlist) {
        var acc = 0.0
        var d = 0
        while (d < dim) { val diff = v(d) - coarse(c)(d); acc += diff * diff; d += 1 }
        if (acc < best) { best = acc; bi = c }
        c += 1
      }
      bi
    }
    val codebook = Array.tabulate(m, ksub) { (s, c) =>
      val v = samp(c)
      val cell = assignDriver(v)
      Array.tabulate(dsub)(d => v(s * dsub + d) - coarse(cell)(s * dsub + d))
    }
    val coarseLit = typedLit(coarse.map(_.toSeq).toSeq)
    val cbLit = typedLit(codebook.map(_.map(_.toSeq).toSeq).toSeq)
    val x = col(vecCol)
    val cellExpr = array_min(transform(sequence(lit(0), lit(nlist - 1)), c =>
      struct(
        aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0), (acc, d) => {
          val diff = element_at(x, (d + 1).cast("int")).cast("double") -
            element_at(element_at(coarseLit, c + 1), d + 1)
          acc + diff * diff
        }).as("d"),
        c.cast("int").as("c")))).getField("c")
    // cell FIRST, codes in a second projection — inlining the cell argmin
    // into every codebook-distance lambda would re-evaluate it
    // m×ksub×dsub times per row
    val withCell = df.select(col(idCol), x.as("_x"), cellExpr.as("cell"))
    val codes = transform(sequence(lit(0), lit(m - 1)), s => {
      val dists = transform(sequence(lit(0), lit(ksub - 1)), c =>
        struct(
          aggregate(sequence(lit(0), lit(dsub - 1)), lit(0.0), (acc, d) => {
            val i = (s * lit(dsub) + d + 1).cast("int")
            val res = element_at(col("_x"), i).cast("double") -
              element_at(element_at(coarseLit, col("cell") + 1), i)
            val diff = res - element_at(element_at(element_at(cbLit, s + 1), c + 1), d + 1)
            acc + diff * diff
          }).as("d"),
          c.cast("int").as("c")))
      array_min(dists).getField("c")
    })
    (withCell.select(col(idCol), col("cell"), codes.as("codes")),
      IvfPq(coarse, codebook))
  }

  /** IVF-PQ ADC top-k: probe each query's `nprobe` nearest cells and scan
    * ONLY their codes — per probed cell the query builds a residual LUT
    * on the driver (m × ksub doubles, the oracle's IEEE sequence) and the
    * scan is m lookups per row, dispatched on the row's cell. One corpus
    * scan for all queries ([[pqTopK]]'s explode shape); rows outside
    * every probed cell contribute null and are filtered. Output:
    * (query_id, rank, neighbor_id, adist).
    *
    * Same measured-count gate as [[pqTopK]]: above `maxDriverQueries` the
    * queries stay distributed and probing becomes a cell-keyed equi-join
    * ([[ivfPqTopKDistributed]] — the `ivfTopK` probe-join shape), results
    * bit-identical; tests force the branch with maxDriverQueries = 0.
    */
  def ivfPqTopK(queries: DataFrame, encoded: DataFrame, idCol: String,
      vecCol: String, index: IvfPq, k: Int, nprobe: Int,
      maxDriverQueries: Int = 4096): DataFrame = {
    val coarse = index.coarse
    val codebook = index.codebook
    val m = codebook.length
    val ksub = codebook(0).length
    val dsub = codebook(0)(0).length
    val dim = m * dsub
    require(nprobe >= 1 && nprobe <= coarse.length, "nprobe in [1, nlist]")
    if (queries.select(col(idCol)).limit(maxDriverQueries + 1).count()
        > maxDriverQueries)
      return ivfPqTopKDistributed(queries, encoded, idCol, vecCol, index,
        k, nprobe)
    val qs = queries.select(col(idCol).as("_qid"),
      col(vecCol).cast("array<double>").as("_qv"))
      .collect().map(r => (r.get(0), r.getSeq[Double](1).toArray))
    require(qs.nonEmpty, "empty query set")
    val perQuery = array(qs.map { case (qid, qv) =>
      val probed = coarse.indices.map { c =>
        var acc = 0.0
        var d = 0
        while (d < dim) { val diff = qv(d) - coarse(c)(d); acc += diff * diff; d += 1 }
        (acc, c)
      }.sorted.take(nprobe)
      val branches = probed.map { case (_, cell) =>
        val lut = Array.tabulate(m, ksub) { (s, c) =>
          var acc = 0.0
          var d = 0
          while (d < dsub) {
            val qres = qv(s * dsub + d) - coarse(cell)(s * dsub + d)
            val diff = qres - codebook(s)(c)(d)
            acc += diff * diff
            d += 1
          }
          acc
        }
        cell -> (0 until m).map { s =>
          element_at(lit(lut(s)), element_at(col("codes"), s + 1) + 1)
        }.reduceLeft(_ + _)
      }
      val adist = branches.tail
        .foldLeft(when(col("cell") === branches.head._1, branches.head._2)) {
          case (acc, (cell, e)) => acc.when(col("cell") === cell, e)
        } // rows outside every probed cell stay null → filtered below
      struct(lit(qid).as("query_id"), adist.as("_adist"))
    }: _*)
    val scored = encoded
      .select(col(idCol).as("neighbor_id"), explode(perQuery).as("_q"))
      .select(col("_q.query_id").as("query_id"), col("neighbor_id"),
        col("_q._adist").as("_adist"))
      .where(col("_adist").isNotNull && col("query_id") =!= col("neighbor_id"))
    graft.ext.Corpus.topKPerGroupAgg(
      scored.select(col("query_id"), col("neighbor_id"),
        negate(col("_adist")).as("_nad")),
      "query_id", "_nad", "neighbor_id", k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(-col("_nad"), 4).as("adist"))
  }

  /** Unbounded-query-count branch of [[ivfPqTopK]]: per query, the nprobe
    * nearest coarse cells come from an in-plan sort of the literal-struct
    * cell-distance array (the ascending-fold squared L2 + lexicographic
    * (distance, cell) tiebreak the driver branch's `.sorted.take(nprobe)`
    * uses), then probing is a cell-keyed EQUI-JOIN of exploded
    * (query, cell) rows against the encoded corpus — the `ivfTopK`
    * probe-join shape, so only the probed cells' codes are scanned and
    * the shuffle keys on cell. The residual ADC distance re-derives the
    * query residual per element inside the same fold as the driver LUT
    * (qres − codebookEntry, ascending d, ascending s) — bit-identical
    * results.
    */
  private def ivfPqTopKDistributed(queries: DataFrame, encoded: DataFrame,
      idCol: String, vecCol: String, index: IvfPq, k: Int,
      nprobe: Int): DataFrame = {
    val coarse = index.coarse
    val codebook = index.codebook
    val m = codebook.length
    val dsub = codebook(0)(0).length
    val dim = m * dsub
    val coarseLit = typedLit(coarse.map(_.toSeq).toSeq)
    val cbLit = typedLit(codebook.map(_.map(_.toSeq).toSeq).toSeq)
    val cells = coarse.indices.map { c =>
      val d = aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0), (acc, i) => {
        val diff = element_at(col("_qv"), (i + 1).cast("int")).cast("double") -
          element_at(element_at(coarseLit, c + 1), i + 1)
        acc + diff * diff
      })
      struct(d.as("d"), lit(c).as("cell"))
    }
    val qf = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("_qv"))
      .withColumn("cell",
        explode(slice(sort_array(array(cells: _*)), 1, nprobe).getField("cell")))
    val adist = (0 until m).map { s =>
      aggregate(sequence(lit(0), lit(dsub - 1)), lit(0.0), (acc, d) => {
        val i = (lit(s * dsub) + d + 1).cast("int")
        val qres = element_at(col("_qv"), i).cast("double") -
          element_at(element_at(coarseLit, col("cell") + 1), i)
        val diff = qres - element_at(element_at(element_at(cbLit, s + 1),
          element_at(col("codes"), s + 1) + 1), d + 1)
        acc + diff * diff
      })
    }.reduceLeft(_ + _)
    val scored = qf
      .join(encoded.select(col("cell"), col(idCol).as("neighbor_id"),
        col("codes")), Seq("cell"))
      .select(col("query_id"), col("neighbor_id"), adist.as("_adist"))
      .where(col("query_id") =!= col("neighbor_id"))
    graft.ext.Corpus.topKPerGroupAgg(
      scored.select(col("query_id"), col("neighbor_id"),
        negate(col("_adist")).as("_nad")),
      "query_id", "_nad", "neighbor_id", k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(-col("_nad"), 4).as("adist"))
  }

  /** Embedding-cosine near-duplicate pairs (exact within a restricted set, or
    * LSH-bucketed at scale): pairs with cosine ≥ minCos.
    *
    * `useLsh = None` (the default) picks automatically: inputs above
    * `autoLshThreshold` rows go through LSH bucketing — the exact path is an
    * all-pairs self-join in ONE bucket, a scale-killer if applied to a whole
    * corpus. Pass `Some(false)` only for bounded inputs where exactness is
    * required by contract.
    */
  def cosineNearDups(
      df: DataFrame, idCol: String, vecCol: String, minCos: Double,
      useLsh: Option[Boolean] = None, bits: Int = 8, dim: Int = 64,
      autoLshThreshold: Long = 100000L
  ): DataFrame = {
    val base = df.select(col(idCol), col(vecCol).as("_v"))
      .withColumn("_n", norm(col("_v")))
    val lsh = useLsh.getOrElse {
      // one narrow count over a 2-column projection decides the path
      base.select(col(idCol)).limit((autoLshThreshold + 1).toInt).count() > autoLshThreshold
    }
    val withBucket =
      if (lsh) base.withColumn("bucket", lshBucket(col("_v"), hyperplanes(bits, dim)))
      else base.withColumn("bucket", lit(0L))
    val a = withBucket.select(col("bucket"), col(idCol).as("id_a"),
      col("_v").as("_va"), col("_n").as("_na"))
    val b = withBucket.select(col("bucket"), col(idCol).as("id_b"),
      col("_v").as("_vb"), col("_n").as("_nb"))
    a.join(b, Seq("bucket")).where(col("id_a") < col("id_b"))
      .withColumn("cos", round(dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")), 4))
      .where(col("cos") >= minCos)
      .select("id_a", "id_b", "cos")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., arXiv:2303.09540):
    * partition the corpus into semantic cells, pick one deterministic
    * representative per cell (least id), and drop every other member whose
    * cosine to its cell representative reaches `tau`.
    *
    * Cells are sign-LSH buckets, so assignment is a narrow per-row
    * projection (the hyperplanes ship as plan literals — no training pass,
    * unlike the paper's k-means). The representative table is one
    * groupBy-min over the cell key and holds at most 2^bits rows, so both
    * the rep-vector fetch and the member→rep join broadcast. Total cost at
    * any corpus size: one narrow scan + one tiny aggregate + two broadcast
    * joins — O(n), vs O(n²/cells) for pairwise in-cell pruning.
    */
  def semanticDedup(
      corpus: DataFrame, idCol: String, vecCol: String, tau: Double,
      bits: Int = 6, dim: Int = 64,
      planesOverride: Option[Array[Array[Double]]] = None
  ): DataFrame = {
    val planes = planesOverride.getOrElse(hyperplanes(bits, dim))
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("_v"))
      .withColumn("cell", lshBucket(col("_v"), planes))
      .withColumn("_n", norm(col("_v")))
    val reps = base.groupBy(col("cell")).agg(min(col("id")).as("rep_id"))
    // fetch rep vectors with a broadcast semi-side join (corpus scanned once)
    val cellReps = base.select(col("id").as("rep_id"), col("_v").as("_rv"),
        col("_n").as("_rn"))
      .join(broadcast(reps), Seq("rep_id"))
    base.join(broadcast(cellReps), Seq("cell"))
      .withColumn("cos_to_rep",
        when(col("id") === col("rep_id"), lit(1.0))
          .otherwise(round(dot(col("_v"), col("_rv")) / (col("_n") * col("_rn")), 4)))
      .withColumn("keep",
        // zero-norm vectors make the cosine NULL (0/0); they cannot be a
        // near-duplicate of anything, so they are kept — without the
        // coalesce, keep would be NULL and the row would vanish from BOTH
        // keep and !keep filters
        col("id") === col("rep_id") ||
          coalesce(col("cos_to_rep") < lit(tau), lit(true)))
      .select(col("cell"), col("id"), col("cos_to_rep"), col("keep"))
  }

  /** Per-label embedding centroids. Centroid components are averaged in
    * double and rounded to `centroidScale` decimals so the result is
    * stable under aggregation order (and replicable by a SQL oracle).
    *
    * Scale shape: posexplode to (label, dim, value) then a map-side-
    * combinable avg keyed on label×dim — cardinality labels·dims, tiny
    * regardless of corpus size — reassembled into arrays by a second
    * tiny groupBy.
    */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String,
      centroidScale: Int = 6): DataFrame =
    df.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("_dim", "_val")))
      .groupBy(col("label"), col("_dim"))
      .agg(avg(col("_val").cast("double")).as("_avg"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("_dim"), col("_avg")))).as("_s"))
      .select(col("label"),
        org.apache.spark.sql.functions.transform(col("_s"),
          s => round(s.getField("_avg"), centroidScale)).as("centroid"))

  /** Per-dimension int8 scalar quantization of an embedding column — the
    * standard 4× memory/IO compression before ANN indexing at corpus scale
    * (values are linearly mapped to 0..255 codes per dimension; dequantize
    * as min + code·(max−min)/255).
    *
    * Two passes, both narrow-plus-tiny: pass 1 computes per-dimension
    * min/max (posexplode → groupBy dim — at most `dim` rows survive, the
    * partial agg combines map-side); pass 2 broadcast-joins the dim×2 stats
    * table back and encodes per element. Constant-dimension vectors map to
    * code 0 (max = min guard). Returns (idCol, codes array<int>).
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val longForm = df.select(col(idCol),
      posexplode(col(vecCol)).as(Seq("dim", "v")))
      .withColumn("v", col("v").cast("double"))
    val stats = longForm.groupBy(col("dim"))
      .agg(min(col("v")).as("d_min"), max(col("v")).as("d_max"))
    val coded = longForm.join(broadcast(stats), Seq("dim"))
      .withColumn("code",
        when(col("d_max") === col("d_min"), lit(0))
          .otherwise(round((col("v") - col("d_min")) * lit(255.0) /
            (col("d_max") - col("d_min"))).cast("int")))
    coded.groupBy(col(idCol))
      .agg(org.apache.spark.sql.functions.transform(
        array_sort(collect_list(struct(col("dim"), col("code")))),
        s => s("code")).as("codes"))
  }

  /** Prototypicality: each vector's cosine to its OWN label's centroid —
    * the D4/SSL-prototypes curation signal (public method family): the
    * low end is outliers/label noise, the high end is redundancy near the
    * class mode; both are pruning candidates. The centroid table is
    * labels-many rows and broadcasts; the corpus is scanned once.
    */
  def prototypicality(df: DataFrame, idCol: String, labelCol: String,
      vecCol: String): DataFrame = {
    val cents = labelCentroids(df, labelCol, vecCol)
    df.select(col(idCol), col(labelCol).as("label"), col(vecCol).as("_v"))
      .join(broadcast(cents), Seq("label"))
      .select(col(idCol), col("label"),
        round(cosine(col("_v"), col("centroid")), 4).as("proto_cos"))
  }

  /** Nearest-centroid classification confusion matrix: every vector is
    * assigned to the label whose centroid it is most cosine-similar to
    * (Rocchio classification — the zero-parameter baseline that tells you
    * whether labels are even separable in the embedding space), and the
    * (true, predicted) count table is the label-quality artifact.
    *
    * The centroid table is labels-many rows and broadcasts; the corpus is
    * scanned ONCE against all centroids (labels × rows scored, narrow).
    * The argmax is a struct-max (cos desc, then smaller label wins — ties
    * deterministic), no window. Centroids are 6-dp-rounded before scoring
    * so the whole assignment is engine-replayable.
    */
  def centroidConfusion(df: DataFrame, labelCol: String,
      vecCol: String): DataFrame = {
    val cents = labelCentroids(df, labelCol, vecCol)
      .select(col("label").as("_cl"), col("centroid"))
    df.select(col(labelCol).as("true_label"), col(vecCol).as("_v"),
        monotonically_increasing_id().as("_row"))
      .join(broadcast(cents))
      .select(col("true_label"), col("_row"),
        struct(round(cosine(col("_v"), col("centroid")), 6).as("_cos"),
          (-col("_cl")).cast("long").as("_neg")).as("_s"))
      .groupBy(col("_row"), col("true_label"))
      .agg(max(col("_s")).as("_best"))
      .select(col("true_label"), (-col("_best").getField("_neg")).as("pred_label"))
      .groupBy("true_label", "pred_label")
      .agg(count(lit(1)).as("n"))
  }
}
