package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Point-in-interval range join without a nested loop.
  *
  * A raw `p BETWEEN s AND e` join has no equi-key and degrades to
  * broadcast-nested-loop. The scale path buckets the numeric axis with a
  * fixed width: every interval explodes to the buckets it covers (bounded
  * fan-out ≈ maxIntervalWidth / bucketWidth + 1), every point maps to
  * exactly ONE bucket, and the join becomes a keyed equi-join on
  * (bucket [, extra keys]) with the BETWEEN predicate as a residual filter.
  * A (point, interval) pair can only meet in the point's own bucket, so no
  * dedup is needed.
  *
  * Pick `bucketWidth` ≈ the typical interval width: too small multiplies
  * the interval fan-out, too large widens the candidate set per bucket.
  */
object RangeJoin {

  /** Exact floor division in LONG arithmetic — a double cast mis-buckets
    * values above 2^53 (epoch-nanos territory), silently losing matches at
    * bucket boundaries. `pmod` gives the floor remainder for negatives; the
    * subtraction makes the numerator an exact multiple, and decimal division
    * keeps the quotient exact at any long magnitude.
    */
  private[ext] def floorDiv(c: org.apache.spark.sql.Column, w: Long) =
    ((c.cast("decimal(38,0)") - pmod(c.cast("decimal(38,0)"), lit(w))) / lit(w))
      .cast("bigint")

  /** `points` (with numeric `ptCol`) ⋈ `intervals` (numeric `startCol`,
    * `endCol`, inclusive ends): all pairs with start <= pt <= end, matching
    * on `extraKeys` first when given.
    */
  def pointInInterval(
      points: DataFrame,
      intervals: DataFrame,
      ptCol: String,
      startCol: String,
      endCol: String,
      bucketWidth: Long,
      extraKeys: Seq[String] = Nil
  ): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val p = points.withColumn("__bucket", floorDiv(col(ptCol), bucketWidth))
    val iv = intervals
      // end < start is an empty interval under BETWEEN — drop it here, or
      // sequence(hi, lo) would generate a DESCENDING bucket list (fan-out)
      .where(col(startCol) <= col(endCol))
      .withColumn("__bucket", explode(sequence(
        floorDiv(col(startCol), bucketWidth), floorDiv(col(endCol), bucketWidth))))
    p.join(iv, Seq("__bucket") ++ extraKeys)
      .where(col(ptCol) >= col(startCol) && col(ptCol) <= col(endCol))
      .drop("__bucket")
  }

  /** Interval × interval overlap join (inclusive ends): all (left, right)
    * pairs with `lStart <= rEnd AND rStart <= lEnd`, matching `extraKeys`
    * first when given — the genomics/temporal overlap workhorse that a raw
    * inequality join turns into a nested loop.
    *
    * Same bucketed scale shape as [[pointInInterval]], with the classic
    * dedup rule for the interval-interval case: both sides explode to
    * their covered buckets, and a pair is emitted ONLY in the bucket of
    * `max(lStart, rStart)` — a bucket every overlapping pair covers on
    * both sides and exactly one per pair, so no distinct pass is needed.
    * Fan-out per row ≈ intervalWidth / bucketWidth + 1; candidates per
    * bucket scale with interval density, not table size.
    */
  def intervalOverlap(
      left: DataFrame,
      right: DataFrame,
      lStart: String, lEnd: String,
      rStart: String, rEnd: String,
      bucketWidth: Long,
      extraKeys: Seq[String] = Nil
  ): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    def explodeBuckets(df: DataFrame, s: String, e: String) = df
      .where(col(s) <= col(e))
      .withColumn("__bucket", explode(sequence(
        floorDiv(col(s), bucketWidth), floorDiv(col(e), bucketWidth))))
    val l = explodeBuckets(left, lStart, lEnd)
    val r = explodeBuckets(right, rStart, rEnd)
    l.join(r, Seq("__bucket") ++ extraKeys)
      .where(col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd) &&
        col("__bucket") === greatest(
          floorDiv(col(lStart), bucketWidth), floorDiv(col(rStart), bucketWidth)))
      .drop("__bucket")
  }
}
