package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.Rounds.materialize

/** Data-layout operators for scan efficiency at 100 TB: multi-dimensional
  * clustering (Z-order) so parquet row-group min/max statistics prune
  * multi-predicate scans — the optimization Delta/Iceberg expose as
  * `OPTIMIZE ... ZORDER BY`, re-expressed as a plain DataFrame program.
  *
  * Why it matters at scale: a single-column sort gives perfect pruning on
  * that column and none on any other; interleaving the bits of several
  * columns' ranks gives each file a small bounding box in ALL of them, so a
  * conjunctive filter (`value BETWEEN … AND ts BETWEEN …`) skips most
  * row groups on every dimension at once.
  *
  * Deterministic + oracle-able: per-column bins come from the GLOBAL
  * min/max (a tiny broadcast aggregate, not a sampled range exchange), the
  * bin is closed-form arithmetic, and the interleave is integer bit math —
  * any SQL engine reproduces the exact z-values.
  */
object Layout {

  /** Fixed-width bin of `c` in [0, 2^bits): floor((v−min)/(max−min)·2^bits)
    * clamped to the top bin (v = max lands at 2^bits). Constant column
    * (max = min) → bin 0.
    */
  private def bin(c: Column, mn: Column, mx: Column, bits: Int): Column = {
    val buckets = 1 << bits
    val raw = floor((c.cast("double") - mn) / (mx - mn) * buckets).cast("long")
    when(mx === mn, lit(0L)).otherwise(least(raw, lit(buckets - 1L)))
  }

  /** Interleave the low `bits` bits of each bin (dimension 0 owns the
    * least-significant interleaved position): bit i of dimension d lands at
    * position i·nDims + d. Pure integer shifts/masks — codegen arithmetic.
    */
  private[ext] def interleave(bins: Seq[Column], bits: Int): Column = {
    val nDims = bins.size
    val terms = for {
      i <- 0 until bits
      (b, d) <- bins.zipWithIndex
    } yield shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), i * nDims + d)
    terms.reduce(_ + _)
  }

  /** Z-value for `dims` numeric columns at `bits` bits per dimension, using
    * global per-column min/max carried in a one-row broadcast join (two
    * narrow passes total; no global sort, no sampling nondeterminism).
    * Returns the input plus `zvalue`.
    */
  def zValue(df: DataFrame, dims: Seq[String], bits: Int = 8): DataFrame = {
    require(dims.nonEmpty, "need at least one dimension")
    require(bits >= 1, "need at least one bit per dimension")
    require(bits * dims.size <= 62, "z-value must fit a signed long")
    val aggs = dims.flatMap(d => Seq(
      min(col(d).cast("double")).as(s"_mn_$d"),
      max(col(d).cast("double")).as(s"_mx_$d")))
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val joined = df.crossJoin(broadcast(stats))
    val bins = dims.map(d =>
      bin(col(d), col(s"_mn_$d"), col(s"_mx_$d"), bits))
    joined.withColumn("zvalue", interleave(bins, bits))
      .drop(dims.flatMap(d => Seq(s"_mn_$d", s"_mx_$d")): _*)
  }

  /** Cluster rows for writing: range-partition + sort by z-value so each
    * output file covers a compact hyper-box of the dimension space. The
    * range exchange is the one shuffle; its sampled boundaries affect only
    * file assignment, never the z-values themselves.
    */
  def zorderLayout(df: DataFrame, dims: Seq[String], bits: Int = 8,
      numFiles: Int = 0): DataFrame = {
    val z = zValue(df, dims, bits)
    val parted = if (numFiles > 0) z.repartitionByRange(numFiles, col("zvalue"))
      else z.repartitionByRange(col("zvalue"))
    parted.sortWithinPartitions("zvalue")
  }

  /** Rendezvous (highest-random-weight) shard routing (Thaler & Ravishankar
    * 1998): each key routes to argmax over shards of md5(shard ":" key) —
    * deterministic, uniform, and MINIMALLY disruptive under resharding
    * (adding/removing one shard moves only ~1/n of the keys, where modulo
    * routing moves almost all of them). The per-key argmax is a struct max
    * over a literal-generated shard array — narrow column math, no
    * shuffle; md5 hex strings compare lexicographically, which is the
    * standard HRW weight order and engine-portable.
    */
  def rendezvousShard(key: Column, shards: Seq[String]): Column = {
    require(shards.nonEmpty, "need at least one shard")
    require(shards.distinct.size == shards.size, "duplicate shard names")
    val cands = shards.map { s =>
      struct(md5(concat(lit(s), lit(":"), key.cast("string"))).as("w"),
        lit(s).as("shard"))
    }
    array_max(array(cands: _*)).getField("shard")
  }

  /** Size-based compaction planning — the file-maintenance half of
    * Delta/Iceberg `OPTIMIZE` (bin-packing small files into target-size
    * rewrites), as a pure DataFrame program over a file listing. A 100 TB
    * store accumulating incremental upserts degrades into millions of tiny
    * part files; scan throughput then dies on open/seek overhead, and the
    * fix is periodic rewrite of each partition's small files into
    * ~`targetBytes` outputs.
    *
    * Files already at/above `targetBytes` keep `bin = −1` (left in place —
    * rewriting them buys nothing). Smaller files pack per group by
    * CUMULATIVE FILL: order largest-first (`fileCol` tiebreak), running
    * byte total as a keyed window sum, and a file joins the bin its last
    * byte lands in (`floor((cum−1)/target)`) — every bin holds
    * ~targetBytes with at most one straddling file. Why cumulative fill
    * and not first-fit-decreasing: FFD's bin state is a sequential
    * recurrence no window can express; cumulative fill is ONE keyed
    * shuffle, scales to a billion-file listing, and over-fills a bin by at
    * most one file. Deterministic given the listing, so any SQL engine
    * replicates the exact plan.
    *
    * Returns the listing plus `bin` (long; −1 = keep as-is).
    */
  def compactionPlan(files: DataFrame, groupCols: Seq[String],
      fileCol: String, sizeCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    import org.apache.spark.sql.expressions.Window
    val size = col(sizeCol).cast("long")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(size.desc, col(fileCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // large files contribute 0 to the running fill; ordering them first
    // (size desc) keeps the small-file cumsum contiguous in one window
    val cum = sum(when(size < targetBytes, size).otherwise(lit(0L))).over(w)
    files.withColumn("bin",
      when(size >= targetBytes, lit(-1L))
        .otherwise(greatest(floor((cum - 1L) / targetBytes), lit(0L))
          .cast("long")))
  }

  /** Data-skipping simulation — sort-layout quality as a NUMBER: pack the
    * table into files of `rowsPerFile` in `layoutCol` order (two-phase
    * global ordinal: range exchange + per-partition row_number + broadcast
    * offsets — never a single-partition window), collect per-file min/max
    * of `predCol`, and report how many files a `[lo, hi]` predicate scan
    * must touch. Run once per candidate layout and compare: THIS is the
    * measured argument for Z-order/sort-on-write at 100 TB, where a file
    * skipped is a file never read.
    */
  def skippingStats(df: org.apache.spark.sql.DataFrame, layoutCol: String,
      idCol: String, predCol: String, lo: Double, hi: Double,
      rowsPerFile: Long, label: String): org.apache.spark.sql.DataFrame = {
    require(rowsPerFile > 0, "rowsPerFile must be positive")
    val spark = df.sparkSession
    val nParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = materialize(df
      .select(col(layoutCol).as("_key"), col(idCol).as("_id"),
        col(predCol).cast("double").as("_p"))
      .repartitionByRange(nParts, col("_key"), col("_id"))
      .sortWithinPartitions("_key", "_id")
      .withColumn("_pid", spark_partition_id()))
    val counts = sorted.groupBy("_pid").agg(count(lit(1)).as("_c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var running = 0L
    val offsets = scala.collection.mutable.Map.empty[Int, Long]
    counts.foreach { case (pid, c) => offsets(pid) = running; running += c }
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("_pid").orderBy(col("_key"), col("_id"))
    val filed = sorted.withColumn("_rank",
      row_number().over(wp).cast("long") +
        element_at(typedLit(offsets.toMap), col("_pid")))
      .withColumn("_file", RangeJoin.floorDiv(col("_rank") - 1, rowsPerFile))
    val perFile = filed.groupBy("_file")
      .agg(min(col("_p")).as("_mn"), max(col("_p")).as("_mx"),
        count(lit(1)).as("_n"))
    val hit = col("_mx") >= lo && col("_mn") <= hi
    val out = perFile.agg(
      count(lit(1)).as("n_files"),
      sum(when(hit, 1L).otherwise(0L)).as("files_scanned"),
      sum(col("_n")).as("n_rows"),
      sum(when(hit, col("_n")).otherwise(0L)).as("rows_scanned"))
      .select(lit(label).as("layout"), col("n_files"), col("files_scanned"),
        col("n_rows"), col("rows_scanned"),
        round(lit(1.0) - col("files_scanned").cast("double") / col("n_files"), 4)
          .as("skip_ratio"))
    // `sorted` is a checkpoint, not a cache: the frozen spark_partition_id
    // and the collected offsets describe THAT evaluation, and a lost block
    // fails the caller's action instead of letting a re-evaluated exchange
    // reassign pids under the broadcast offset map.
    out
  }
}
