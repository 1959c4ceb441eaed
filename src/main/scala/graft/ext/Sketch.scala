package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.Rounds.materialize

/** Bounded-memory probabilistic sketches for corpus-scale profiling —
  * extension surface alongside [[Dedup]]/[[Corpus]] (BASELINE.json north
  * star: the counters a 100 TB pipeline needs when exact distinct counts or
  * per-key frequencies no longer fit anywhere).
  *
  * Both sketches here are DETERMINISTIC: every hash is md5 of the rendered
  * value, so the same input always produces the same registers/counters in
  * any engine with md5 — the DuckDB oracles replicate them bit-for-bit.
  * Spark's own `approx_count_distinct` (HLL++) cannot be cross-checked that
  * way; this implementation trades its tuned bias tables for full
  * oracle-ability while keeping the identical register shape and merge
  * semantics (max per bucket / sum per counter — both map-side combinable,
  * so the shuffle carries at most `groups × m` rows regardless of input
  * size).
  *
  * Float-parity note: the HLL register sum is computed in EXACT integer
  * arithmetic — Σ 2^(−M_j) is scaled by 2^49 so every addend
  * `shiftleft(1, 49−M)` is an exact BIGINT (ρ ≤ 49 by construction). Double
  * addition order across partitions can differ between engines; integer
  * addition order cannot change the sum, so the estimate is reproducible to
  * the last bit up to one final division.
  */
object Sketch {

  /** ρ (rank of first set bit, 1-based) over a 48-bit stream taken from 12
    * hex chars of an md5 digest: 4·(leading zero hex chars) + zero bits of
    * the first non-zero nibble + 1; all-zero stream → 49. Pure string/CASE
    * program — identical in Spark and any SQL engine (no log2 floats).
    */
  private def rho(hexBits: Column): Column = {
    val zeroChars = length(regexp_extract(hexBits, "^0*", 0))
    val firstNz = substring(regexp_replace(hexBits, "^0*", ""), 1, 1)
    val nibbleZeros =
      when(firstNz.isin("8", "9", "a", "b", "c", "d", "e", "f"), 0)
        .when(firstNz.isin("4", "5", "6", "7"), 1)
        .when(firstNz.isin("2", "3"), 2)
        .otherwise(3) // "1"
    when(zeroChars === 12, lit(49))
      .otherwise(zeroChars * 4 + nibbleZeros + 1)
  }

  /** The per-row (bucket, _rho) projection shared by the batch register
    * builder and [[graft.streaming.StreamIngest.hllRegisterStream]] — one
    * derivation, so a stream-built register always equals the batch
    * register over the same rows.
    */
  private[graft] def hllProject(df: DataFrame, valueCol: String): DataFrame = {
    val h = md5(col(valueCol).cast("string"))
    df.where(col(valueCol).isNotNull)
      .withColumn("bucket", conv(substring(h, 1, 2), 16, 10).cast("int"))
      .withColumn("_rho", rho(substring(h, 3, 12)))
  }

  /** HyperLogLog registers for `valueCol` within each `groupCols` cell:
    * bucket = first 2 hex chars of md5 (m = 256 registers), register =
    * max ρ over the next 48 bits. Returns (groupCols…, bucket, reg) — at
    * most 256 rows per group after the (map-side combinable) max.
    */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], valueCol: String,
      m: Int = 256): DataFrame = {
    require(m == 256, "register count is fixed at 256 (2 hex chars) for oracle parity")
    hllProject(df, valueCol)
      .groupBy((groupCols.map(col) :+ col("bucket")): _*)
      .agg(max(col("_rho")).as("reg"))
  }

  /** HLL distinct-count estimate per group (standard Flajolet et al. 2007
    * estimator, linear-counting small-range correction; the 32-bit
    * large-range correction is irrelevant at 48 hash bits). `estimate` is
    * reproducible across engines: the register sum is exact integer math
    * (see object doc), so only the final division/ln touch doubles.
    */
  def hllCounts(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame =
    hllEstimate(hllRegisters(df, groupCols, valueCol), groupCols)

  /** Estimate from a register frame (bucket, reg) with optional extra
    * grouping columns — the estimator core shared by [[hllCounts]] and
    * register-algebra consumers like [[hllUnionCounts]].
    */
  def hllEstimate(regs: DataFrame, groupCols: Seq[String]): DataFrame = {
    val grouped =
      if (groupCols.isEmpty) regs.groupBy()
      else regs.groupBy(groupCols.map(col): _*)
    estimateFromStats(grouped
      .agg(sum(expr("shiftleft(cast(1 as bigint), 49 - reg)")).as("_s_present"),
        count(lit(1)).as("_present")))
  }

  /** The estimator half of [[hllEstimate]], over a frame already carrying
    * the exact integer stats `_s_present` (Σ 2^(49−reg) over present
    * buckets) and `_present` — shared with the register-vector path
    * ([[graft.expr.HllRegisterAgg]]) so both layouts produce bit-identical
    * estimates.
    */
  private[graft] def estimateFromStats(stats: DataFrame): DataFrame = {
    val m = 256
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    stats
      .withColumn("_s",
        col("_s_present") + (lit(m.toLong) - col("_present")) * lit(1L << 49))
      .withColumn("_zeros", lit(m.toLong) - col("_present"))
      .withColumn("_raw",
        lit(alpha * m * m) / (col("_s").cast("double") / lit(math.pow(2.0, 49))))
      .withColumn("estimate",
        when(col("_raw") <= lit(2.5 * m) && col("_zeros") > 0,
          round(lit(m.toDouble) * log(lit(m.toDouble) / col("_zeros")), 2))
          .otherwise(round(col("_raw"), 2)))
      .drop("_s_present", "_present", "_s", "_zeros", "_raw")
  }

  /** |A ∪ B| estimate from two register frames over the SAME value domain:
    * registers merge by per-bucket max — the mergeability that lets HLL
    * aggregate across partitions, days, or datacenters without ever
    * re-reading values. Inputs are (bucket, reg) frames as produced by
    * [[hllRegisters]] with no group columns.
    */
  def hllUnionCounts(a: DataFrame, b: DataFrame): DataFrame =
    hllEstimate(
      a.select("bucket", "reg").union(b.select("bucket", "reg"))
        .groupBy("bucket").agg(max(col("reg")).as("reg")),
      Nil)

  /** The ONE bucket hash shared by counter build and probe — CMS is only
    * correct if both sides hash bit-identically, so neither may drift.
    */
  private def cmsBucket(depth: Column, key: Column, width: Int): Column =
    conv(substring(md5(concat(depth.cast("string"), lit(":"), key)),
      1, 8), 16, 10).cast("long") % width

  /** Count-min sketch counters: `depth` independent md5 hash rows × `width`
    * buckets. Input explodes to `depth` rows per record, then a counting
    * groupBy — map-side combine keeps the shuffle at depth×width rows. The
    * sketch answers point frequency queries for an UNBOUNDED key space in
    * depth×width integers of memory (overestimates only, by ≤ collisions).
    */
  def cmsCounters(df: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 64): DataFrame = {
    require(depth >= 1 && width >= 1, "depth and width must be positive")
    df.where(col(keyCol).isNotNull)
      .select(explode(lit((0 until depth).toArray)).as("depth"),
        col(keyCol).cast("string").as("_k"))
      .withColumn("bucket", cmsBucket(col("depth"), col("_k"), width))
      .groupBy("depth", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Point-frequency estimates for `probes` against a CMS built over
    * `df.keyCol`: estimate = min over depth rows of the probed counter.
    * All-integer — exact cross-engine reproducibility. The depth×width
    * counter table is broadcast to the probe side (probes may be any size).
    */
  def cmsEstimate(df: DataFrame, keyCol: String, probes: DataFrame,
      probeCol: String, depth: Int = 4, width: Int = 64): DataFrame = {
    val counters = cmsCounters(df, keyCol, depth, width)
    val probeRows = probes.where(col(probeCol).isNotNull)
      .select(col(probeCol).cast("string").as("probe")).distinct()
      .select(col("probe"), explode(lit((0 until depth).toArray)).as("depth"))
      .withColumn("bucket", cmsBucket(col("depth"), col("probe"), width))
    probeRows.join(broadcast(counters), Seq("depth", "bucket"), "left")
      .na.fill(0L, Seq("cnt"))
      .groupBy("probe").agg(min(col("cnt")).as("estimate"))
  }

  /** Order-free table checksum — the data-integrity fingerprint for
    * snapshot comparison, migration validation and cross-engine equality
    * checks: each row renders to a canonical string (explicit null
    * sentinel + chr(1) separators — concat_ws would silently SKIP nulls
    * and collide ('a', null) with ('a')), hashes to a 32-bit integer via
    * md5, and the checksum is the exact integer SUM of row hashes plus
    * the row count. Addition commutes, so partitioning/order/AQE cannot
    * move the result, and two tables agree iff their row multisets
    * (projected to `cols`) hash-agree. ONE map-side-combinable aggregate.
    */
  def tableChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column to checksum")
    val canonical = concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0002NULL"))): _*)
    val rowHash = conv(substring(md5(canonical), 1, 8), 16, 10).cast("long")
    df.agg(count(lit(1)).as("n_rows"), sum(rowHash).as("checksum"))
  }

  /** Equi-join cardinality estimate from count-min inner products
    * (Cormode & Muthukrishnan 2005 §4.2): |A ⋈ B| ≈ min over depth rows d
    * of Σ_w cntA[d][w]·cntB[d][w] — an upper bound that is exact when no
    * two keys collide in a row. The optimizer-stats primitive: size a join
    * BEFORE running it from two independently-built depth×width sketches
    * (each one map-side-combinable aggregate, mergeable across partitions
    * and snapshots), never scanning either table twice.
    *
    * All-integer (counter products and sums), so engines agree exactly.
    * The counter tables are depth×width rows — the join of the two
    * sketches is driver-trivial at any corpus size.
    */
  def cmsJoinSize(a: DataFrame, aKey: String, b: DataFrame, bKey: String,
      depth: Int = 4, width: Int = 64): DataFrame = {
    val ca = cmsCounters(a, aKey, depth, width).withColumnRenamed("cnt", "ca")
    val cb = cmsCounters(b, bKey, depth, width).withColumnRenamed("cnt", "cb")
    ca.join(cb, Seq("depth", "bucket"))
      .groupBy("depth").agg(sum(col("ca") * col("cb")).as("ip"))
      .agg(min(col("ip")).as("join_size_est"))
  }

  // ---------------------------------------------------------------- Bloom

  /** The ONE bit-position hash shared by Bloom build and probe
    * (Bloom 1970; k independent hashes via an index salt, the standard
    * double-hash-free construction). Deterministic md5 → engine-portable.
    */
  private def bloomPos(i: Column, key: Column, mBits: Int): Column =
    conv(substring(md5(concat(i.cast("string"), lit(":"), key)),
      1, 8), 16, 10).cast("long") % mBits

  /** Build a Bloom filter over `df.keyCol` as a driver-small bitmap
    * (mBits/64 longs — 8 KB at mBits = 65536). The build is ONE
    * map-side-combinable aggregate: rows explode to kHash bit positions,
    * positions group to 64-bit words with `bit_or`, and the exchange
    * carries at most mBits/64 rows regardless of input size. The returned
    * bitmap ships to [[bloomMightContain]] as a plan literal — the
    * 100 TB semi-join-pruning pattern (filter a huge fact scan by a
    * dimension's key set with NO join and NO shuffle on the fact side;
    * false positives only, rate (1−e^{−kn/m})^k).
    */
  def bloomBuild(df: DataFrame, keyCol: String, mBits: Int = 4096,
      kHash: Int = 3): Array[Long] = {
    require(mBits > 0 && mBits % 64 == 0, "mBits must be a positive multiple of 64")
    require(kHash >= 1, "kHash must be positive")
    val words = df.where(col(keyCol).isNotNull)
      .select(explode(lit((0 until kHash).toArray)).as("i"),
        col(keyCol).cast("string").as("_k"))
      .withColumn("pos", bloomPos(col("i"), col("_k"), mBits))
      .select(shiftright(col("pos"), 6).as("word"),
        call_function("shiftleft", lit(1L), (col("pos") % 64).cast("int")).as("_mask"))
      .groupBy("word").agg(expr("bit_or(_mask)").as("bits"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    Array.tabulate(mBits / 64)(w => words.getOrElse(w, 0L))
  }

  /** Membership test against a [[bloomBuild]] bitmap: true iff all kHash
    * bit positions are set. Narrow column math over a literal array —
    * pushes inside the probe-side scan stage, no shuffle.
    */
  def bloomMightContain(key: Column, bitmap: Array[Long], mBits: Int,
      kHash: Int): Column = {
    val wl = lit(bitmap)
    (0 until kHash).map { i =>
      val pos = bloomPos(lit(i), key.cast("string"), mBits)
      val word = element_at(wl, (shiftright(pos, 6) + 1).cast("int"))
      word.bitwiseAND(
        call_function("shiftleft", lit(1L), (pos % 64).cast("int"))) =!= 0L
    }.reduceLeft(_ && _)
  }

  /** Shingle-novelty score against a reference-corpus Bloom filter: the
    * fraction of a document's distinct n-gram shingles NOT (probably)
    * present in the reference — the "how much genuinely new content does
    * this batch add" signal for continuous ingestion, dual to
    * [[graft.ext.Dedup.crossNearDups]] (that finds the copies; this
    * scores the remainder). Bloom false positives UNDERCOUNT novelty by
    * the fp rate — deterministic, bounded, and the usual direction to
    * be wrong in (novel content mistaken for seen, never the reverse).
    *
    * Scale shape: the reference ships as the driver-small bitmap; the
    * probe explodes to (doc, shingle), tests each shingle with narrow
    * bitmap math, and reduces with ONE map-side-combinable keyed
    * groupBy. Docs with no shingles are absent from the output.
    */
  def shingleNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int, bitmap: Array[Long], mBits: Int, kHash: Int): DataFrame = {
    val sh = graft.ext.Dedup.explodeShingles(df, idCol, textCol, n)
    sh.withColumn("_seen",
      bloomMightContain(col("shingle"), bitmap, mBits, kHash))
      .groupBy(col(idCol))
      .agg(sum(when(col("_seen"), 0L).otherwise(1L)).as("n_novel"),
        count(lit(1)).as("n_shingles"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles"), 4))
  }

  /** Trailing-window distinct-count estimates from per-period register
    * sketches — the "distinct users, last N days, every day" product
    * metric computed WITHOUT re-scanning N days per window: each period's
    * 256 registers are built ONCE from the raw data, then every window is
    * a per-bucket max-merge of `window` register sets (the mergeability
    * that makes HLL the right sketch for this — re-aggregation never
    * touches values again).
    *
    * `periodCol` must be an integral period number (e.g. epoch-day).
    * Windows are emitted only for periods that actually occur. Scale
    * shape: the registers frame is `periods × 256` rows regardless of
    * input size; the spread-join is over that tiny frame, never the data.
    */
  def hllTrailingCounts(df: DataFrame, periodCol: String, valueCol: String,
      window: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val regs = hllRegisters(df, Seq(periodCol), valueCol)
    // each period's registers serve the windows ENDING at p .. p+window-1
    val spread = regs.withColumn("_w",
      explode(sequence(col(periodCol), col(periodCol) + (window - 1))))
    val ends = regs.select(col(periodCol).as("_w")).distinct()
    val merged = spread.join(ends, Seq("_w"))
      .groupBy(col("_w"), col("bucket")).agg(max(col("reg")).as("reg"))
    hllEstimate(merged, Seq("_w")).withColumnRenamed("_w", periodCol)
  }

  /** k-minimum-values (bottom-k / KMV) shingle sketch per group: the k
    * lexicographically-smallest md5 hex hashes of the group's DISTINCT word
    * n-gram shingles. String-min over fixed-length hex is a valid uniform
    * order (same argument as [[graft.ext.Dedup]]'s MinHash), and md5 makes
    * the sketch engine-portable — the DuckDB oracle rebuilds it
    * bit-for-bit.
    *
    * This is the corpus-overlap primitive: per-SOURCE sketches estimate
    * pairwise content overlap between ingest domains (the FineWeb/RefinedWeb
    * "how much of source B is already in source A" question) without ever
    * joining the corpora themselves.
    *
    * Scale shape: ONE aggregation, no distinct pass — the native
    * [[graft.expr.BoundedMinK]] buffer is a bounded ordered SET, so
    * duplicate shingle hashes collapse inside the map-side partial and the
    * single exchange carries at most k hashes per group per partition. The
    * classic distinct()-then-bottom-k formulation shuffles the (group,
    * hash) universe twice; at corpus scale that global dedup IS the job's
    * dominant shuffle, and the set-buffer makes it disappear.
    */
  def kmvSketches(df: DataFrame, groupCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    val hashed = graft.ext.Dedup.explodeShingles(df, groupCol, textCol, n)
      .select(col(groupCol).as("grp"), md5(col("shingle")).as("_h"))
    hashed.groupBy("grp")
      .agg(graft.expr.BoundedMinK.minKDistinct(k, col("_h")).as("sketch"))
      .select(col("grp"), col("sketch"),
        size(col("sketch")).cast("long").as("k_actual"))
  }

  /** Pairwise KMV Jaccard estimates between group sketches: for each group
    * pair, take the union's bottom-k hashes and count how many live in BOTH
    * sketches — matches/k is the standard unbiased KMV Jaccard estimate
    * (Beyer et al. 2007). When the union holds fewer than k hashes the
    * sketches are lossless and the estimate is EXACT. One tiny
    * groups×groups self-join; all array math is per-row codegen.
    */
  def kmvJaccard(sketches: DataFrame, k: Int): DataFrame = {
    // both sides of the pair join read the sketch frame — materialize it, or
    // the full shingle-explode + top-k sketch build runs once per side
    val s = materialize(sketches)
    val a = s.select(col("grp").as("grp_a"), col("sketch").as("_sa"))
    val b = s.select(col("grp").as("grp_b"), col("sketch").as("_sb"))
    a.join(b, col("grp_a") < col("grp_b"))
      .withColumn("_uk",
        slice(array_sort(array_union(col("_sa"), col("_sb"))), 1, k))
      .withColumn("matches", size(filter(col("_uk"),
        h => array_contains(col("_sa"), h) && array_contains(col("_sb"), h))))
      .select(col("grp_a"), col("grp_b"), col("matches"),
        size(col("_uk")).cast("long").as("k_eff"),
        round(col("matches") / size(col("_uk")), 6).as("jaccard_est"))
  }
}
