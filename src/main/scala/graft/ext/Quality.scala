package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.Rounds.materialize

/** Declarative data-quality checks — the Deequ / dbt-tests layer: a rule
  * list compiles to counting aggregates and the result is one row per
  * rule (violation count + pass flag). The admission gate a pipeline runs
  * on every batch BEFORE the data reaches training/serving.
  *
  * Every rule is exact integer counting (no sampling): not-null and
  * set/range membership are narrow per-row predicates feeding map-side
  * combinable sums; uniqueness is `count − count(DISTINCT …)`; foreign
  * keys are a broadcast-eligible anti-join against the dimension's key
  * projection. Rules over the same table share one scan per rule kind at
  * Catalyst's discretion — the declarative shape leaves the fusion
  * decision to the optimizer.
  */
object Quality {

  sealed trait DqRule { def name: String }
  /** `col` must never be null. */
  final case class NotNull(col: String) extends DqRule {
    def name = s"not_null($col)"
  }
  /** The tuple of `cols` must be unique across rows (null-safe: distinct
    * counts nulls like values via a grouped count).
    */
  final case class Unique(cols: Seq[String]) extends DqRule {
    def name = s"unique(${cols.mkString(",")})"
  }
  /** Non-null values of `col` must be members of `values`. */
  final case class InSet(col: String, values: Seq[String]) extends DqRule {
    def name = s"in_set($col)"
  }
  /** Non-null values of `col` must lie in [lo, hi]. */
  final case class InRange(col: String, lo: Double, hi: Double) extends DqRule {
    def name = s"in_range($col)"
  }
  /** Non-null key tuples must exist in `dim`'s `dimCols` projection. */
  final case class ForeignKey(cols: Seq[String], dim: DataFrame,
      dimCols: Seq[String]) extends DqRule {
    require(cols.size == dimCols.size, "key arity mismatch")
    def name = s"foreign_key(${cols.mkString(",")})"
  }

  /** Run every rule; returns (rule, n_violations, pass) — one row per
    * rule, `pass` = violations ≤ maxViolations (default 0).
    */
  def check(df: DataFrame, rules: Seq[DqRule],
      maxViolations: Long = 0L): DataFrame = {
    require(rules.nonEmpty, "need at least one rule")
    val frames = rules.map {
      case r @ NotNull(c) =>
        df.agg(sum(when(col(c).isNull, 1L).otherwise(0L)).as("_v"))
          .select(lit(r.name).as("rule"), coalesce(col("_v"), lit(0L)).as("n_violations"))
      case r @ Unique(cs) =>
        // duplicate mass = rows beyond the first of each group
        df.groupBy(cs.map(col): _*).agg(count(lit(1)).as("_n"))
          .agg(coalesce(sum(col("_n") - 1), lit(0L)).as("_v"))
          .select(lit(r.name).as("rule"), col("_v").as("n_violations"))
      case r @ InSet(c, vs) =>
        df.agg(sum(when(col(c).isNotNull && !col(c).isin(vs: _*), 1L)
          .otherwise(0L)).as("_v"))
          .select(lit(r.name).as("rule"), coalesce(col("_v"), lit(0L)).as("n_violations"))
      case r @ InRange(c, lo, hi) =>
        df.agg(sum(when(col(c).isNotNull &&
          (col(c) < lo || col(c) > hi), 1L).otherwise(0L)).as("_v"))
          .select(lit(r.name).as("rule"), coalesce(col("_v"), lit(0L)).as("n_violations"))
      case r @ ForeignKey(cs, dim, dcs) =>
        val keyed = df.select(cs.map(col): _*)
          .where(cs.map(col(_).isNotNull).reduce(_ && _))
        val dimKeys = dim.select(dcs.zip(cs).map { case (dc, c) =>
          col(dc).as(c) }: _*).distinct()
        keyed.join(broadcast(dimKeys), cs.toSeq, "left_anti")
          .agg(count(lit(1)).as("_v"))
          .select(lit(r.name).as("rule"), col("_v").as("n_violations"))
    }
    frames.reduceLeft(_.unionAll(_))
      .withColumn("pass", col("n_violations") <= maxViolations)
  }

  /** Maximal missing-id ranges (the gaps-and-islands completeness probe):
    * every maximal run of ids absent from `idCol` between the observed min
    * and max — dropped batches, lost partitions, and retention bites show
    * up as ranges, not per-id noise.
    *
    * Scale shape: gap BOUNDARIES are found with two keyed anti-joins over
    * the distinct-id frame (id+1 absent → a gap starts; id−1 absent → a
    * gap ends — no window over the data). Only the boundary frames
    * (exactly one row per gap) are globally ranked to pair the k-th start
    * with the k-th end; at any realistic gap count that frame is
    * driver-tiny next to the ids.
    */
  def gapRanges(df: DataFrame, idCol: String): DataFrame = {
    val ids = materialize(df.select(col(idCol).cast("long").as("_i"))
      .where(col("_i").isNotNull).distinct())
    val mm = ids.agg(min("_i").as("_lo"), max("_i").as("_hi"))
    val starts = ids.select((col("_i") + 1).as("gs"))
      .join(ids.select(col("_i").as("gs")), Seq("gs"), "left_anti")
      .crossJoin(broadcast(mm)).where(col("gs") <= col("_hi")).select("gs")
    val ends = ids.select((col("_i") - 1).as("ge"))
      .join(ids.select(col("_i").as("ge")), Seq("ge"), "left_anti")
      .crossJoin(broadcast(mm)).where(col("ge") >= col("_lo")).select("ge")
    val ws = org.apache.spark.sql.expressions.Window.orderBy("gs")
    val we = org.apache.spark.sql.expressions.Window.orderBy("ge")
    starts.withColumn("_k", row_number().over(ws))
      .join(ends.withColumn("_k", row_number().over(we)), Seq("_k"))
      .select(col("gs").as("gap_start"), col("ge").as("gap_end"),
        (col("ge") - col("gs") + 1).as("gap_len"))
  }
}
