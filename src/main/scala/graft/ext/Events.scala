package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.Rounds.materialize

/** Event-stream analytics over (user, timestamp, event-type) data — the
  * funnel/cohort layer a product-analytics deployment runs at 100 TB.
  * Everything here reduces to per-user min-timestamp aggregates and exact
  * integer counts: keyed shuffles on the user, map-side combinable, no
  * windows over the raw event stream and no floats anywhere.
  */
object Events {

  /** SCD2 (slowly-changing-dimension type 2) history assembly: collapse a
    * stream of per-key attribute observations into validity intervals —
    * one row per (key, value) RUN with `valid_from` = first observation
    * of the run and `valid_to` = start of the next run (null while
    * current). The warehouse-standard change-history materialization
    * (Kimball SCD type 2), built from observations instead of per-load
    * MERGE bookkeeping.
    *
    * Determinism: observations order by (ts, tieCol) within the key, so
    * same-timestamp conflicts resolve identically everywhere; comparisons
    * are null-safe (a null value is a run like any other).
    *
    * Scale shape: two windows over the SAME (key, ts, tie) partitioning
    * — one keyed shuffle; change-points filter before the second window,
    * so the lead() pass sees only runs, not raw observations.
    */
  def scd2History(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, tieCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val changes = df
      .withColumn("_prev", lag(col(valueCol), 1).over(w))
      .withColumn("_first", row_number().over(w) === 1)
      .where(col("_first") || !(col(valueCol) <=> col("_prev")))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    changes
      .withColumn("valid_to", lead(col(tsCol), 1).over(wc))
      .select(col(keyCol), col(valueCol), col(tsCol).as("valid_from"),
        col("valid_to"))
  }

  /** Exponentially time-decayed value sum per key:
    * `Σ value · 2^(−Δt / halfLife)` with Δt measured back from the global
    * max event time — the recency-weighted engagement/importance score
    * (recent activity counts fully, old activity geometrically less).
    * The reference time is a driver scalar so reruns over the same data
    * reproduce exactly; per-row contributions quantize to integer
    * micro-units before the keyed sum, so accumulation order cannot move
    * the result (the [[graft.ext.Corpus.tfidfTopK]] determinism contract).
    * Scale shape: one max aggregate + one narrow per-row expression + one
    * map-side-combinable keyed sum.
    */
  def decayedSum(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, halfLifeHours: Double): DataFrame = {
    require(halfLifeHours > 0, "halfLifeHours must be positive")
    val tMax = df.agg(max(unix_micros(col(tsCol)))).collect().head.getLong(0)
    val hlUs = halfLifeHours * 3600e6
    val contrib = round(col(valueCol).cast("double") *
      pow(lit(2.0), -(lit(tMax) - unix_micros(col(tsCol))) / hlUs) * 1e6, 0)
      .cast("long")
    df.withColumn("_q", contrib)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("_q")).cast("double") / 1e6, 4).as("decayed_value"))
  }

  /** Common session-path mining: sessionize per user (gap rule), take each
    * session's first `maxSteps` event types in time order, and count the
    * distinct paths — the "what do users actually do" flow table. Ordering
    * ties break on the event id, so paths are deterministic. Returns the
    * `topK` (path, n_sessions) rows, count-desc then path-asc.
    *
    * Scale shape: two windows keyed on the user (lag for the gap rule,
    * rank within session) and one map-side-combinable count keyed on the
    * path string. No collect_list over unbounded sessions — events past
    * `maxSteps` are dropped BEFORE the path assembly.
    */
  def sessionPaths(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, idCol: String, gapMinutes: Int, maxSteps: Int,
      topK: Int): DataFrame = {
    require(gapMinutes > 0 && maxSteps > 0 && topK > 0, "positive parameters")
    import org.apache.spark.sql.expressions.Window
    val wUser = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val sessioned = df
      .withColumn("_prev", lag(col(tsCol), 1).over(wUser))
      .withColumn("_new", when(col("_prev").isNull ||
        unix_micros(col(tsCol)) - unix_micros(col("_prev")) >
          gapMinutes * 60L * 1000000L, 1L).otherwise(0L))
      .withColumn("_sess", sum(col("_new")).over(
        wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wSess = Window.partitionBy(col(userCol), col("_sess"))
      .orderBy(col(tsCol), col(idCol))
    val steps = sessioned
      .withColumn("_step", row_number().over(wSess))
      .where(col("_step") <= maxSteps)
    steps
      .groupBy(col(userCol), col("_sess"))
      .agg(array_join(org.apache.spark.sql.functions.transform(
        array_sort(collect_list(struct(col("_step"), col(typeCol).as("t")))),
        x => x.getField("t")), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path")).limit(topK)
  }

  /** Ordered funnel: for each prefix of `steps`, how many users performed
    * those events IN ORDER (each step strictly after the previous one).
    * Returns (step, event_type, n_users) with step 1-based.
    *
    * Matching is greedy earliest-occurrence, which is EXACT for
    * subsequence existence (taking the earliest qualifying occurrence of
    * step i never forecloses a later step — the standard exchange
    * argument), so n_users is the true count of users with the ordered
    * subsequence.
    *
    * Scale shape: one pass over the (type-pruned — the isin filter reaches
    * the scan) event stream per step, each a conditional-min groupBy keyed
    * on the user joined to the previous step's resolution; per-user state
    * is ONE timestamp per step, never an occurrence list, so power users
    * with millions of events cost nothing extra.
    */
  def funnel(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    val ev = df.select(col(userCol).as("_u"), col(tsCol).as("_ts"),
      col(typeCol).as("_ty"))
    // resolve the chain left to right: _t(0) = min ts of step 0;
    // _t(i) = min ts of step i strictly after _t(i-1), per user
    val resolutions = steps.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (step, _)) =>
        val occ = ev.where(col("_ty") === step)
        Some(prev match {
          case None => occ.groupBy("_u").agg(min(col("_ts")).as("_t"))
          case Some(p) => occ.join(p.withColumnRenamed("_t", "_pt"), Seq("_u"))
            .where(col("_ts") > col("_pt"))
            .groupBy("_u").agg(min(col("_ts")).as("_t"))
        })
    }.flatten
    val rows = resolutions.zip(steps).zipWithIndex.map {
      case ((frame, step), i) =>
        frame.agg(count(lit(1)).as("n_users"))
          .select(lit(i + 1).as("step"), lit(step).as("event_type"),
            col("n_users"))
    }
    rows.reduceLeft(_.unionAll(_))
  }

  /** Regular-grid resampling with forward fill — turn an irregular
    * observation stream into one row per (key, step bucket) from each
    * key's first to last observation, carrying the last seen value across
    * gaps. The metric/feature-store materialization every time-series
    * consumer (training windows, dashboards, as-of features) wants, done
    * without a per-key driver loop.
    *
    * Per bucket the LAST observation wins, ties broken on `tieCol`
    * (deterministic). Buckets are exact integer floors of epoch-micros;
    * the grid comes from a per-key min/max aggregate exploded with
    * `sequence` — fan-out = span/step per key, never a global range.
    *
    * Scale shape: one map-side-combinable per-(key, bucket) argmax, one
    * tiny per-key span aggregate, one keyed equi-join, and ONE window over
    * the (key, bucket) partitioning for the fill — per-key state is the
    * running last value only.
    */
  def resampleFill(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, tieCol: String, stepSeconds: Long): DataFrame = {
    require(stepSeconds > 0, "stepSeconds must be positive")
    val stepUs = stepSeconds * 1000000L
    // exact long floor-division (see RangeJoin.floorDiv): double division
    // would mis-bucket near boundaries above 2^53
    val bucket = RangeJoin.floorDiv(unix_micros(col(tsCol)), stepUs)
    val perBucket = df
      .groupBy(col(keyCol).as("_k"), bucket.as("_b"))
      .agg(max(struct(col(tsCol), col(tieCol), col(valueCol).as("v")))
        .getField("v").as("_obs"))
    val grid = perBucket.groupBy("_k")
      .agg(min(col("_b")).as("_b0"), max(col("_b")).as("_b1"))
      .select(col("_k"), explode(sequence(col("_b0"), col("_b1"))).as("_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_k")).orderBy(col("_b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid.join(perBucket, Seq("_k", "_b"), "left")
      .withColumn("_filled", last(col("_obs"), ignoreNulls = true).over(w))
      .select(col("_k").as(keyCol), (col("_b") * stepSeconds).as("bucket_ts"),
        col("_filled").as(valueCol))
  }

  /** Trailing-window spike detection over per-key bucket counts — the
    * monitoring primitive (traffic anomaly, abuse burst, pipeline-volume
    * alarm): flag buckets whose event count exceeds `num/den ×` the mean
    * of the previous `trail` buckets.
    *
    * ALL-INTEGER: the comparison is `cnt · den · trail > num · Σ trailing`
    * — no float mean, so engines agree exactly and zero-activity trails
    * never divide by zero. Missing buckets count zero: the per-key grid
    * spans min..max observed buckets (same shape as [[resampleFill]]).
    * Buckets without a full trailing window are emitted unflagged
    * (`spike` false) rather than dropped, so the output covers the span.
    *
    * Scale shape: one map-side-combinable (key, bucket) count, a tiny
    * per-key span aggregate exploded with `sequence`, one keyed equi-join
    * and ONE keyed window for the trailing sum.
    */
  def spikeDetect(df: DataFrame, keyCol: String, tsCol: String,
      stepSeconds: Long, trail: Int, num: Long, den: Long): DataFrame = {
    require(stepSeconds > 0 && trail >= 1 && num > 0 && den > 0,
      "positive step, trail, ratio")
    val stepUs = stepSeconds * 1000000L
    val bucket = RangeJoin.floorDiv(unix_micros(col(tsCol)), stepUs)
    val counts = df.groupBy(col(keyCol).as("_k"), bucket.as("_b"))
      .agg(count(lit(1)).as("_cnt"))
    val grid = counts.groupBy("_k")
      .agg(min(col("_b")).as("_b0"), max(col("_b")).as("_b1"))
      .select(col("_k"), explode(sequence(col("_b0"), col("_b1"))).as("_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_k")).orderBy(col("_b"))
    val trailSum = sum(col("cnt")).over(w.rowsBetween(-trail, -1))
    grid.join(counts, Seq("_k", "_b"), "left")
      .select(col("_k"), col("_b"), coalesce(col("_cnt"), lit(0L)).as("cnt"))
      .withColumn("trail_sum", coalesce(trailSum, lit(0L)))
      .withColumn("_full", row_number().over(w) > trail)
      .select(col("_k").as(keyCol), (col("_b") * stepSeconds).as("bucket_ts"),
        col("cnt"), col("trail_sum"),
        (col("_full") &&
          col("cnt") * den * trail > lit(num) * col("trail_sum")).as("spike"))
  }

  /** Lag-k autocorrelation of per-key bucket counts — the seasonality
    * detector (lag 24 on hourly buckets ⇒ daily rhythm) that pairs with
    * [[spikeDetect]]: a high r at the seasonal lag says "use a seasonal
    * baseline, not a flat trailing mean".
    *
    * Computed as the Pearson correlation over (count[b], count[b+lag])
    * pairs on the ZERO-FILLED bucket grid (missing buckets are real
    * zeros; skipping them would silently change the series). Every sum
    * (n, Σx, Σy, Σx², Σy², Σxy) is an exact integer — counts are ints —
    * so engines agree bit-for-bit until the single final sqrt/divide.
    * Constant series (zero variance) report 0.
    *
    * Scale shape: one keyed count, the per-key span grid, one keyed
    * self-join at (key, bucket+lag), one keyed aggregate.
    */
  def lagAutocorr(df: DataFrame, keyCol: String, tsCol: String,
      stepSeconds: Long, lag: Int): DataFrame = {
    require(stepSeconds > 0 && lag >= 1, "positive step and lag")
    val stepUs = stepSeconds * 1000000L
    val bucket = RangeJoin.floorDiv(unix_micros(col(tsCol)), stepUs)
    val counts = df.groupBy(col(keyCol).as("_k"), bucket.as("_b"))
      .agg(count(lit(1)).as("_cnt"))
    val grid = counts.groupBy("_k")
      .agg(min(col("_b")).as("_b0"), max(col("_b")).as("_b1"))
      .select(col("_k"), explode(sequence(col("_b0"), col("_b1"))).as("_b"))
    val filled = grid.join(counts, Seq("_k", "_b"), "left")
      .select(col("_k"), col("_b"), coalesce(col("_cnt"), lit(0L)).as("_x"))
    val shifted = filled.select(col("_k"), (col("_b") - lag).as("_b"),
      col("_x").as("_y"))
    val pairs = filled.join(shifted, Seq("_k", "_b"))
    val agg = pairs.groupBy(col("_k"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
        sum(col("_x") * col("_x")).as("_sxx"),
        sum(col("_y") * col("_y")).as("_syy"),
        sum(col("_x") * col("_y")).as("_sxy"))
    val num = agg("n_pairs") * col("_sxy") - col("_sx") * col("_sy")
    val d1 = agg("n_pairs") * col("_sxx") - col("_sx") * col("_sx")
    val d2 = agg("n_pairs") * col("_syy") - col("_sy") * col("_sy")
    agg.select(col("_k").as(keyCol), col("n_pairs"),
      when(d1 <= 0 || d2 <= 0, lit(0.0)).otherwise(
        round(num.cast("double") /
          (sqrt(d1.cast("double")) * sqrt(d2.cast("double"))), 4))
        .as("autocorr"))
  }

  /** ACF + PACF per series at lags 1..maxLag — the ARIMA
    * order-identification pair ([[lagAutocorr]] detects ONE seasonal lag;
    * this profiles the whole short-lag structure). Autocovariances use
    * the standard full-series-mean convention: with n, S = Σx,
    * Sxx = Σx² and per-lag integer sums (Σ xₜxₜ₊ₖ, head/tail sums),
    * n²γₖ·n = n²Σxx′ − nS(head+tail) + (n−k)S² is an EXACT integer
    * (BigInt/HUGEINT), so rₖ = Aₖ/A₀ is one double division of identical
    * integers in both engines; the Durbin–Levinson recursion then runs in
    * fixed-order double arithmetic (no libm), so φₖₖ is bit-identical
    * without quantization.
    *
    * Scale shape: one row_number window per series, one (series, lag)
    * keyed self-join (fanout maxLag), keyed integer aggregates. maxLag is
    * capped at 24 but SERIES cardinality is data-dependent, so the
    * driver-side recursion (maxLag numbers per series) is gated on a
    * MEASURED series count (`localSeriesLimit`, the
    * [[Corpus.bpeTrain]] dual-path discipline): over the gate the
    * autocovariance integers stay executor-side as decimal(38,0) (the
    * same exact values BigInt holds locally), the per-series lag vector
    * assembles with one sorted collect_list (≤ maxLag elements), and the
    * Durbin–Levinson recursion runs inside [[pacfFromAcf]] per GROUP —
    * nothing series-many ever lands on the driver. Both branches run the
    * identical fixed-order double recursion; tests force the distributed
    * branch and assert row-for-row equality.
    * Output: (key, lag, n_obs, acf (6 dp), pacf (6 dp)).
    */
  def acfPacf(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, maxLag: Int,
      localSeriesLimit: Long = 100000L): DataFrame = {
    require(maxLag >= 1 && maxLag <= 24, "maxLag in [1, 24]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_k").orderBy("_t")
    val base = materialize(df.select(col(keyCol).as("_k"), col(tsCol).as("_t"),
        col(valueCol).cast("long").as("_x"))
      .withColumn("_i", row_number().over(w).cast("long")))
    val tot = base.groupBy("_k").agg(count(lit(1)).as("n"),
      sum("_x").as("s"), sum(col("_x") * col("_x")).as("sxx"))
    val a = base.withColumn("_l", explode(sequence(lit(1), lit(maxLag))))
      .select(col("_k"), col("_l"), (col("_i") + col("_l")).as("_j"),
        col("_x").as("_xa"))
    val b = base.select(col("_k"), col("_i").as("_j"), col("_x").as("_xb"))
    val perLag = a.join(b, Seq("_k", "_j"))
      .groupBy("_k", "_l")
      .agg(count(lit(1)).as("cnt"), sum(col("_xa") * col("_xb")).as("sp"),
        sum("_xa").as("sh"), sum("_xb").as("st"))
    // measured-count gate BEFORE the series-many collect; tests pass 0 to
    // force the distributed branch and assert both produce identical rows
    if (tot.count() > localSeriesLimit)
      return acfPacfDistributed(perLag, tot, keyCol)
    val rows = perLag.join(tot, Seq("_k")).collect().map { r =>
      (r.getAs[String]("_k"), r.getAs[Int]("_l"), r.getAs[Long]("n"),
        BigInt(r.getAs[Long]("s")), BigInt(r.getAs[Long]("sxx")),
        BigInt(r.getAs[Long]("sp")), BigInt(r.getAs[Long]("sh")),
        BigInt(r.getAs[Long]("st")))
    }
    val spark = df.sparkSession
    import spark.implicits._
    val out = rows.groupBy(_._1).toSeq.flatMap { case (k, ls) =>
      val n = BigInt(ls.head._3)
      val s = ls.head._4
      val sxx = ls.head._5
      val a0 = n * n * sxx - n * s * s
      require(a0 > 0, s"series $k has zero variance")
      val rByLag = ls.sortBy(_._2).map { case (_, l, _, _, _, sp, sh, st) =>
        val ak = n * n * sp - n * s * (sh + st) + (n - l) * s * s
        l -> ak.toDouble / a0.toDouble
      }.toMap
      val kMax = rByLag.keys.max
      // Durbin–Levinson in fixed-order doubles
      val phi = Array.ofDim[Double](kMax + 1, kMax + 1)
      val pacf = Array.ofDim[Double](kMax + 1)
      phi(1)(1) = rByLag(1); pacf(1) = rByLag(1)
      for (m <- 2 to kMax) {
        var num = rByLag(m)
        var den = 1.0
        for (j <- 1 until m) {
          num -= phi(m - 1)(j) * rByLag(m - j)
          den -= phi(m - 1)(j) * rByLag(j)
        }
        val pkk = num / den
        phi(m)(m) = pkk; pacf(m) = pkk
        for (j <- 1 until m)
          phi(m)(j) = phi(m - 1)(j) - pkk * phi(m - 1)(m - j)
      }
      def r6(v: Double) = BigDecimal(v)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (1 to kMax).map(l =>
        (k, l.toLong, n.toLong, r6(rByLag(l)), r6(pacf(l))))
    }
    out.toDF(keyCol, "lag", "n_obs", "acf", "pacf")
  }

  /** Durbin–Levinson over an acf vector ordered by lag — the identical
    * fixed-order double recursion as [[acfPacf]]'s driver branch, run
    * per SERIES ROW on executors. A Scala UDF is the right tool here
    * (not a built-in composition): the recursion carries a triangular
    * 2-D state across data-dependent depth, but the input is ≤ 24
    * doubles per series and it runs once per series — never in a per-row
    * hot path.
    */
  private val pacfFromAcf = udf { rs: Seq[Double] =>
    val kMax = rs.length
    val phi = Array.ofDim[Double](kMax + 1, kMax + 1)
    val pacf = Array.ofDim[Double](kMax + 1)
    if (kMax >= 1) { phi(1)(1) = rs(0); pacf(1) = rs(0) }
    for (m <- 2 to kMax) {
      var num = rs(m - 1)
      var den = 1.0
      for (j <- 1 until m) {
        num -= phi(m - 1)(j) * rs(m - j - 1)
        den -= phi(m - 1)(j) * rs(j - 1)
      }
      val pkk = num / den
      phi(m)(m) = pkk; pacf(m) = pkk
      for (j <- 1 until m)
        phi(m)(j) = phi(m - 1)(j) - pkk * phi(m - 1)(m - j)
    }
    (1 to kMax).map(pacf(_))
  }

  /** Unbounded-series-count branch of [[acfPacf]]: autocovariance
    * integers in decimal(38,0) — exact for these magnitudes (n²·Σx² with
    * long inputs stays under 38 digits by construction of the cent/count
    * convention), matching the BigInt values of the local branch
    * digit-for-digit — one sorted per-series collect_list of ≤ maxLag
    * (lag, acf) pairs, then [[pacfFromAcf]] per series row.
    */
  private def acfPacfDistributed(perLag: DataFrame, tot: DataFrame,
      keyCol: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val j = perLag.join(tot, Seq("_k"))
    val n = dec(col("n"))
    val a0 = n * n * dec(col("sxx")) - n * dec(col("s")) * dec(col("s"))
    val ak = n * n * dec(col("sp")) -
      n * dec(col("s")) * (dec(col("sh")) + dec(col("st"))) +
      (n - dec(col("_l"))) * dec(col("s")) * dec(col("s"))
    val withR = j.select(col("_k"), col("_l"), col("n"),
      when(a0 <= 0, raise_error(concat(lit("series "), col("_k").cast("string"),
        lit(" has zero variance")))).otherwise(
        ak.cast("double") / a0.cast("double")).as("_r"))
    val perSeries = withR.groupBy("_k")
      .agg(first(col("n")).as("n_obs"),
        transform(sort_array(collect_list(struct(col("_l"), col("_r")))),
          x => x("_r")).as("_acf"))
      .withColumn("_pacf", pacfFromAcf(col("_acf")))
    perSeries
      .select(col("_k"), col("n_obs"),
        posexplode(arrays_zip(col("_acf"), col("_pacf"))))
      .select(col("_k").as(keyCol), (col("pos") + 1).cast("long").as("lag"),
        col("n_obs"), round(col("col")("_acf"), 6).as("acf"),
        round(col("col")("_pacf"), 6).as("pacf"))
      .select(col(keyCol), col("lag"), col("n_obs"), col("acf"), col("pacf"))
  }

  /** DuckDB replay of [[acfPacf]] — integer autocovariance CTEs, lag
    * columns pivoted wide, the Durbin–Levinson recursion unrolled with
    * the Scala evaluation order, then unpivoted.
    */
  def acfPacfOracleSql(srcSql: String, maxLag: Int,
      keyAlias: String = "k"): String = {
    // phi expressions as SQL strings, mirroring the driver recursion
    val phiExpr = scala.collection.mutable.Map[(Int, Int), String]()
    phiExpr((1, 1)) = "r1"
    for (m <- 2 to maxLag) {
      val num = (1 until m).foldLeft(s"r$m") { (acc, j) =>
        s"($acc - (${phiExpr((m - 1, j))}) * r${m - j})"
      }
      val den = (1 until m).foldLeft("1.0") { (acc, j) =>
        s"($acc - (${phiExpr((m - 1, j))}) * r$j)"
      }
      phiExpr((m, m)) = s"(($num) / ($den))"
      for (j <- 1 until m)
        phiExpr((m, j)) =
          s"((${phiExpr((m - 1, j))}) - (${phiExpr((m, m))}) * (${phiExpr((m - 1, m - j))}))"
    }
    val rCols = (1 to maxLag).map(l =>
      s"max(CASE WHEN l = $l THEN r END) AS r$l").mkString(",\n    ")
    val unions = (1 to maxLag).map(l =>
      s"""SELECT k AS $keyAlias, $l::BIGINT AS lag, n::BIGINT AS n_obs,
         |  round(r$l, 6) AS acf, round(${phiExpr((l, l))}, 6) AS pacf
         |FROM wide""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH src AS MATERIALIZED (SELECT k, t, x::BIGINT AS x FROM ($srcSql)),
       |idx AS MATERIALIZED (SELECT k, x,
       |    row_number() OVER (PARTITION BY k ORDER BY t) AS i FROM src),
       |tot AS (SELECT k, count(*)::HUGEINT AS n, sum(x)::HUGEINT AS s,
       |    sum(x*x)::HUGEINT AS sxx FROM idx GROUP BY 1),
       |lags AS (SELECT a.k, l.l,
       |    count(*)::HUGEINT AS cnt, sum(a.x * b.x)::HUGEINT AS sp,
       |    sum(a.x)::HUGEINT AS sh, sum(b.x)::HUGEINT AS st
       |  FROM idx a CROSS JOIN (SELECT unnest(generate_series(1, $maxLag)) AS l) l
       |  JOIN idx b ON b.k = a.k AND b.i = a.i + l.l
       |  GROUP BY 1, 2),
       |rr AS (SELECT g.k, g.l,
       |    (t.n*t.n*g.sp - t.n*t.s*(g.sh + g.st) + (t.n - g.l)*t.s*t.s)::DOUBLE
       |      / (t.n*t.n*t.sxx - t.n*t.s*t.s)::DOUBLE AS r,
       |    t.n AS n
       |  FROM lags g JOIN tot t ON t.k = g.k),
       |wide AS (SELECT k, max(n) AS n,
       |    $rCols
       |  FROM rr GROUP BY k)
       |$unions""".stripMargin
  }

  /** AR(2) fit by Yule–Walker + one-step forecast per series — the
    * model-fitting leg after [[acfPacf]] identifies the order: φ₂ =
    * (r₂ − r₁²)/(1 − r₁²), φ₁ = r₁ − φ₂·r₁ (exactly the order-2
    * Durbin–Levinson step), forecast x̂ₙ₊₁ = x̄ + φ₁(xₙ − x̄) +
    * φ₂(xₙ₋₁ − x̄). Autocorrelations come from the same exact-integer
    * autocovariance sums as acfPacf; every floating step is a fixed-order
    * double expression over identical integers, so both engines agree
    * bit-for-bit.
    *
    * Output: (key, n_obs, mean (2 dp, cents→units), phi1, phi2 (6 dp),
    * forecast_next (2 dp)).
    */
  def ar2Forecast(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, localSeriesLimit: Long = 100000L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_k").orderBy("_t")
    val wDesc = org.apache.spark.sql.expressions.Window
      .partitionBy("_k").orderBy(col("_t").desc)
    val base = materialize(df.select(col(keyCol).as("_k"), col(tsCol).as("_t"),
        col(valueCol).cast("long").as("_x"))
      .withColumn("_i", row_number().over(w).cast("long")))
    val tot = base.groupBy("_k").agg(count(lit(1)).as("n"),
      sum("_x").as("s"), sum(col("_x") * col("_x")).as("sxx"))
    val a = base.withColumn("_l", explode(sequence(lit(1), lit(2))))
      .select(col("_k"), col("_l"), (col("_i") + col("_l")).as("_j"),
        col("_x").as("_xa"))
    val b = base.select(col("_k"), col("_i").as("_j"), col("_x").as("_xb"))
    val perLag = a.join(b, Seq("_k", "_j"))
      .groupBy("_k", "_l")
      .agg(sum(col("_xa") * col("_xb")).as("sp"),
        sum("_xa").as("sh"), sum("_xb").as("st"))
    val lastTwo = base.withColumn("_r", row_number().over(wDesc))
      .where(col("_r") <= 2)
      .groupBy("_k")
      .agg(max(when(col("_r") === 1, col("_x"))).as("xn"),
        max(when(col("_r") === 2, col("_x"))).as("xn1"))
    // measured series-count gate (same discipline as [[acfPacf]]); tests
    // pass 0 to force the distributed branch and assert identical rows
    if (tot.count() > localSeriesLimit)
      return ar2ForecastDistributed(perLag, tot, lastTwo, keyCol)
    val rows = perLag.join(tot, Seq("_k")).join(lastTwo, Seq("_k"))
      .collect().map { r =>
        (r.getAs[String]("_k"), r.getAs[Int]("_l"), r.getAs[Long]("n"),
          BigInt(r.getAs[Long]("s")), BigInt(r.getAs[Long]("sxx")),
          BigInt(r.getAs[Long]("sp")), BigInt(r.getAs[Long]("sh")),
          BigInt(r.getAs[Long]("st")), r.getAs[Long]("xn"),
          r.getAs[Long]("xn1"))
      }
    val spark = df.sparkSession
    import spark.implicits._
    val out = rows.groupBy(_._1).toSeq.map { case (k, ls) =>
      require(ls.length == 2, s"series $k needs at least 3 observations")
      val n = BigInt(ls.head._3)
      val s = ls.head._4
      val sxx = ls.head._5
      val a0 = n * n * sxx - n * s * s
      require(a0 > 0, s"series $k has zero variance")
      def rl(l: Int): Double = {
        val (_, _, _, _, _, sp, sh, st, _, _) = ls.find(_._2 == l).get
        (n * n * sp - n * s * (sh + st) + (n - l) * s * s).toDouble /
          a0.toDouble
      }
      val (r1, r2) = (rl(1), rl(2))
      val phi2 = (r2 - r1 * r1) / (1.0 - r1 * r1)
      val phi1 = r1 - phi2 * r1
      val mean = s.toDouble / n.toDouble
      val (xn, xn1) = (ls.head._9, ls.head._10)
      val fc = mean + phi1 * (xn - mean) + phi2 * (xn1 - mean)
      def r6(v: Double) = BigDecimal(v)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      def c2(v: Double) = BigDecimal(v / 100.0)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      (k, n.toLong, c2(mean), r6(phi1), r6(phi2), c2(fc))
    }
    out.toDF(keyCol, "n_obs", "mean", "phi1", "phi2", "forecast_next")
  }

  /** Unbounded-series-count branch of [[ar2Forecast]] — unlike acfPacf
    * there is no recursion here at all: the order-2 Yule–Walker fit is
    * pure column math once the two lag rows pivot wide, so the whole
    * model fits in one select over decimal(38,0) autocovariances (the
    * exact BigInt values of the local branch) with the identical
    * fixed-order double expressions after the single r-division.
    * Series with <3 observations or zero variance raise at execution
    * (same conditions the local branch `require`s at call time).
    */
  private def ar2ForecastDistributed(perLag: DataFrame, tot: DataFrame,
      lastTwo: DataFrame, keyCol: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val wide = perLag.groupBy("_k").agg(
      max(when(col("_l") === 1,
        struct(col("sp"), col("sh"), col("st")))).as("_g1"),
      max(when(col("_l") === 2,
        struct(col("sp"), col("sh"), col("st")))).as("_g2"))
    val j = wide.join(tot, Seq("_k")).join(lastTwo, Seq("_k"))
    val n = dec(col("n"))
    val s = dec(col("s"))
    val a0 = n * n * dec(col("sxx")) - n * s * s
    def ak(l: Int, g: Column) = n * n * dec(g("sp")) -
      n * s * (dec(g("sh")) + dec(g("st"))) + (n - lit(l)) * s * s
    def rl(l: Int, g: Column) =
      when(g.isNull, raise_error(concat(lit("series "),
        col("_k").cast("string"), lit(" needs at least 3 observations"))))
        .when(a0 <= 0, raise_error(concat(lit("series "),
          col("_k").cast("string"), lit(" has zero variance"))))
        .otherwise(ak(l, g).cast("double") / a0.cast("double"))
    val r1 = rl(1, col("_g1"))
    val r2 = rl(2, col("_g2"))
    val phi2 = (r2 - r1 * r1) / (lit(1.0) - r1 * r1)
    val phi1 = r1 - phi2 * r1
    val mean = col("s").cast("double") / col("n").cast("double")
    val fc = mean + phi1 * (col("xn").cast("double") - mean) +
      phi2 * (col("xn1").cast("double") - mean)
    j.select(col("_k").as(keyCol), col("n").as("n_obs"),
      round(mean / 100.0, 2).as("mean"),
      round(phi1, 6).as("phi1"), round(phi2, 6).as("phi2"),
      round(fc / 100.0, 2).as("forecast_next"))
  }

  /** DuckDB replay of [[ar2Forecast]]; `srcSql` must produce
    * (k, t, x BIGINT) rows.
    */
  def ar2ForecastOracleSql(srcSql: String, keyAlias: String = "k"): String =
    s"""WITH src AS MATERIALIZED (SELECT k, t, x::BIGINT AS x FROM ($srcSql)),
       |idx AS MATERIALIZED (SELECT k, x,
       |    row_number() OVER (PARTITION BY k ORDER BY t) AS i,
       |    row_number() OVER (PARTITION BY k ORDER BY t DESC) AS rdesc
       |  FROM src),
       |tot AS (SELECT k, count(*)::HUGEINT AS n, sum(x)::HUGEINT AS s,
       |    sum(x*x)::HUGEINT AS sxx FROM idx GROUP BY 1),
       |lags AS (SELECT a.k, l.l, sum(a.x * b.x)::HUGEINT AS sp,
       |    sum(a.x)::HUGEINT AS sh, sum(b.x)::HUGEINT AS st
       |  FROM idx a CROSS JOIN (SELECT unnest(generate_series(1, 2)) AS l) l
       |  JOIN idx b ON b.k = a.k AND b.i = a.i + l.l
       |  GROUP BY 1, 2),
       |lastv AS (SELECT k,
       |    max(CASE WHEN rdesc = 1 THEN x END) AS xn,
       |    max(CASE WHEN rdesc = 2 THEN x END) AS xn1
       |  FROM idx WHERE rdesc <= 2 GROUP BY 1),
       |rr AS (SELECT g.k, g.l,
       |    (t.n*t.n*g.sp - t.n*t.s*(g.sh + g.st) + (t.n - g.l)*t.s*t.s)::DOUBLE
       |      / (t.n*t.n*t.sxx - t.n*t.s*t.s)::DOUBLE AS r
       |  FROM lags g JOIN tot t ON t.k = g.k),
       |wide AS (SELECT k, max(CASE WHEN l = 1 THEN r END) AS r1,
       |    max(CASE WHEN l = 2 THEN r END) AS r2 FROM rr GROUP BY 1),
       |fit AS (SELECT w.k, t.n, t.s::DOUBLE / t.n::DOUBLE AS mean,
       |    (w.r2 - w.r1*w.r1) / (1.0 - w.r1*w.r1) AS phi2, w.r1,
       |    lv.xn, lv.xn1
       |  FROM wide w JOIN tot t ON t.k = w.k JOIN lastv lv ON lv.k = w.k),
       |fin AS (SELECT k, n, mean, (r1 - phi2 * r1) AS phi1, phi2, xn, xn1
       |  FROM fit)
       |SELECT k AS $keyAlias, n::BIGINT AS n_obs,
       |  round(mean / 100.0, 2) AS mean,
       |  round(phi1, 6) AS phi1, round(phi2, 6) AS phi2,
       |  round((mean + phi1 * (xn - mean) + phi2 * (xn1 - mean)) / 100.0, 2)
       |    AS forecast_next
       |FROM fin""".stripMargin

  /** Time-bound funnel — [[funnel]] with a per-step conversion window:
    * step i must occur strictly after step i−1 AND within `windowHours`
    * of it (the Amplitude/Mixpanel conversion-window semantics). Matching
    * is greedy first-qualifying-occurrence — the standard product-
    * analytics contract (NOT any-subsequence-exists: a later step-i
    * occurrence that would have kept the chain alive is deliberately not
    * explored, and the oracle replays the same greedy rule).
    * Same scale shape as [[funnel]]: one type-pruned pass per step, one
    * timestamp of state per user per step.
    */
  def funnelWithin(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String], windowHours: Long): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    require(windowHours > 0, "windowHours must be positive")
    val winUs = windowHours * 3600L * 1000000L
    val ev = df.select(col(userCol).as("_u"), unix_micros(col(tsCol)).as("_ts"),
      col(typeCol).as("_ty"))
    val resolutions = steps.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (step, _)) =>
        val occ = ev.where(col("_ty") === step)
        Some(prev match {
          case None => occ.groupBy("_u").agg(min(col("_ts")).as("_t"))
          case Some(p) => occ.join(p.withColumnRenamed("_t", "_pt"), Seq("_u"))
            .where(col("_ts") > col("_pt") && col("_ts") <= col("_pt") + winUs)
            .groupBy("_u").agg(min(col("_ts")).as("_t"))
        })
    }.flatten
    resolutions.zip(steps).zipWithIndex.map { case ((frame, step), i) =>
      frame.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), lit(step).as("event_type"),
          col("n_users"))
    }.reduceLeft(_.unionAll(_))
  }

  /** Linear (equal-split) multi-touch attribution: each conversion's
    * value divides equally over the user's touch events inside the
    * lookback window; conversions with no touches land in the '(none)'
    * channel whole. Per-touch shares quantize to micro-units
    * (round(value·1e6 / n)) BEFORE the channel sum — order-free exact
    * integers, engine-replicable; the ±n·½ micro-unit rounding drift per
    * conversion is the documented cost of exactness.
    *
    * Scale shape: one keyed (user) join of conversions × touches with
    * the lookback as a residual predicate — per-user pair counts are
    * bounded by per-user activity, the product-analytics norm; two
    * map-side-combinable aggregates close it.
    */
  def linearAttribution(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, valueCol: String, idCol: String,
      touchTypes: Seq[String], convType: String,
      lookbackHours: Long): DataFrame = {
    require(touchTypes.nonEmpty, "need at least one touch type")
    require(!touchTypes.contains(convType), "conversion type cannot be a touch")
    require(lookbackHours > 0, "lookbackHours must be positive")
    val lbUs = lookbackHours * 3600L * 1000000L
    val touches = df.where(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol).as("_u"), unix_micros(col(tsCol)).as("_tts"),
        col(typeCol).as("_channel"))
    val convs = df.where(col(typeCol) === convType)
      .select(col(userCol).as("_u"), unix_micros(col(tsCol)).as("_pts"),
        col(valueCol).as("_value"), col(idCol).as("_pid"))
    // window predicate INSIDE the left join: a conversion whose touches
    // all fall outside the lookback must still surface (as '(none)'),
    // which a post-join filter would silently drop
    val t2 = touches.withColumnRenamed("_u", "_u2")
    val joined = convs.join(t2,
      col("_u") === col("_u2") &&
        col("_tts") <= col("_pts") && col("_tts") > col("_pts") - lbUs,
      "left")
    val perConv = joined
      .groupBy(col("_pid"), col("_value"))
      .agg(sum(when(col("_tts").isNotNull, 1L).otherwise(0L)).as("_n"))
    val shares = joined.join(perConv.select("_pid", "_n"), Seq("_pid"))
      .select(
        when(col("_tts").isNotNull, col("_channel")).otherwise(lit("(none)"))
          .as("channel"),
        when(col("_n") > 0,
          round(col("_value") * 1e6 / col("_n"), 0).cast("long"))
          .otherwise(round(col("_value") * 1e6, 0).cast("long")).as("_share"))
    shares.groupBy("channel")
      .agg(count(lit(1)).as("n_touches"),
        round(sum(col("_share")).cast("double") / 1e6, 4).as("attributed"))
  }

  /** RFM customer scoring (recency / frequency / monetary) with
    * threshold-based quintiles: per-user last-activity age, event count
    * and micro-cent-exact value sum, scored 1..5 against EXACT global
    * quantile thresholds (score = 1 + #thresholds exceeded). Threshold
    * scoring instead of ntile: a global ntile is a single-partition
    * window — the thresholds come from one percentile aggregate and the
    * assignment stays narrow, so the op survives 100× the users (tied
    * values then share a score, the documented difference from
    * equal-count buckets). Reference time = global max event time, a
    * driver scalar like [[decayedSum]]'s.
    */
  def rfmScores(df: DataFrame, userCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val tMax = df.agg(max(unix_micros(col(tsCol)))).collect().head.getLong(0)
    val perUser = df.groupBy(col(userCol))
      .agg(
        floor((lit(tMax) - max(unix_micros(col(tsCol)))) / lit(86400e6))
          .cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(round(col(valueCol) * 100, 0).cast("long")).as("_mc"))
      .withColumn("monetary", round(col("_mc").cast("double") / 100, 2))
    val qs = Array(0.2, 0.4, 0.6, 0.8)
    val th = perUser.agg(
      percentile(col("recency_days"), lit(qs)).as("_tr"),
      percentile(col("frequency"), lit(qs)).as("_tf"),
      percentile(col("_mc"), lit(qs)).as("_tm"))
    def score(metric: org.apache.spark.sql.Column, tcol: String,
        invert: Boolean) = {
      val cmp = (i: Int) =>
        if (invert) when(metric < element_at(col(tcol), i), 1).otherwise(0)
        else when(metric > element_at(col(tcol), i), 1).otherwise(0)
      (lit(1) + cmp(1) + cmp(2) + cmp(3) + cmp(4)).cast("int")
    }
    perUser.crossJoin(broadcast(th))
      .select(col(userCol), col("recency_days"), col("frequency"),
        col("monetary"),
        // recent = better: score counts thresholds we are BELOW
        score(col("recency_days").cast("double"), "_tr", invert = true)
          .as("r_score"),
        score(col("frequency").cast("double"), "_tf", invert = false)
          .as("f_score"),
        score(col("_mc").cast("double"), "_tm", invert = false)
          .as("m_score"))
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * P(next = b | current = a) with exact rational probabilities
    * (transition count / from-state total). The session-model summary
    * behind "what happens after X" product questions and synthetic
    * clickstream generation.
    *
    * Ordering ties break on `tieCol` (deterministic); one lag window per
    * user + one keyed count; from-state totals come from a tiny per-state
    * aggregate joined back broadcast (#states rows), NOT a second window.
    */
  def transitionMatrix(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, tieCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val trans = df
      .withColumn("_prev", lag(col(typeCol), 1).over(w))
      .where(col("_prev").isNotNull)
      .groupBy(col("_prev").as("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy("from_type").agg(sum(col("n")).as("_tot"))
    trans.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("_tot"), 4).as("prob"))
  }

  /** Cross-correlation of two bucket-count series over a lag range — the
    * lead-lag detector ("do clicks lead purchases, and by how many
    * hours?"): for every lag in [−maxLag, maxLag], the Pearson
    * correlation of (a[b], b[b+lag]) on the shared zero-filled grid.
    * The argmax row is the estimated lead time.
    *
    * Same exact-integer Pearson core as [[lagAutocorr]]; the lag range
    * explodes from a literal array (2·maxLag+1 shifted copies of the
    * B series — bounded fan-out), pairs join keyed on the bucket.
    */
  def crossCorrelation(df: DataFrame, tsCol: String, typeCol: String,
      typeA: String, typeB: String, stepSeconds: Long,
      maxLag: Int): DataFrame = {
    require(stepSeconds > 0 && maxLag >= 1, "positive step and lag range")
    val stepUs = stepSeconds * 1000000L
    val bucket = RangeJoin.floorDiv(unix_micros(col(tsCol)), stepUs)
    def series(ty: String) = df.where(col(typeCol) === ty)
      .groupBy(bucket.as("_b")).agg(count(lit(1)).as("_cnt"))
    val a = series(typeA)
    val b = series(typeB)
    val span = a.select(col("_b")).unionAll(b.select(col("_b")))
      .agg(min(col("_b")).as("_b0"), max(col("_b")).as("_b1"))
      .select(explode(sequence(col("_b0"), col("_b1"))).as("_b"))
    val fa = span.join(a, Seq("_b"), "left")
      .select(col("_b"), coalesce(col("_cnt"), lit(0L)).as("_x"))
    val fb = span.join(b, Seq("_b"), "left")
      .select(col("_b"), coalesce(col("_cnt"), lit(0L)).as("_y"))
    val lags = (-maxLag to maxLag).toArray
    val shifted = fb.withColumn("lag", explode(lit(lags)))
      .select(col("lag"), (col("_b") - col("lag")).as("_b"), col("_y"))
    val pairs = fa.join(shifted, Seq("_b"))
    val agg = pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
        sum(col("_x") * col("_x")).as("_sxx"),
        sum(col("_y") * col("_y")).as("_syy"),
        sum(col("_x") * col("_y")).as("_sxy"))
    val num = col("n_pairs") * col("_sxy") - col("_sx") * col("_sy")
    val d1 = col("n_pairs") * col("_sxx") - col("_sx") * col("_sx")
    val d2 = col("n_pairs") * col("_syy") - col("_sy") * col("_sy")
    agg.select(col("lag"), col("n_pairs"),
      when(d1 <= 0 || d2 <= 0, lit(0.0)).otherwise(
        round(num.cast("double") /
          (sqrt(d1.cast("double")) * sqrt(d2.cast("double"))), 4))
        .as("xcorr"))
  }

  /** Cohort retention: users grouped by their FIRST-activity period
    * (`periodDays`-day buckets from the epoch), counted as retained in
    * each later offset if they have any event there. Returns
    * (cohort_period, period_offset, n_users) — exact integers, two keyed
    * aggregates (per-user first period, then per (cohort, offset) count).
    */
  def cohortRetention(df: DataFrame, userCol: String, tsCol: String,
      periodDays: Int, maxOffset: Int): DataFrame = {
    require(periodDays >= 1 && maxOffset >= 0, "positive period, offset >= 0")
    val period = floor(unix_timestamp(col(tsCol)) / lit(periodDays * 86400L))
    val activity = df.select(col(userCol).as("_u"), period.as("_p")).distinct()
    val cohorts = activity.groupBy("_u").agg(min(col("_p")).as("_cohort"))
    activity.join(cohorts, Seq("_u"))
      .select(col("_cohort"), (col("_p") - col("_cohort")).as("_off"))
      .where(col("_off") <= maxOffset)
      .groupBy(col("_cohort").as("cohort_period"), col("_off").as("period_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Kaplan-Meier survival curve for time-to-conversion (the product-limit
    * estimator, public): users enter at their first `startType` event and
    * either convert at their first later `eventType` event (duration in
    * days) or are right-CENSORED at the observation horizon (global max
    * day) — the censoring correction is what a naive "conversion rate by
    * day" gets wrong. Output per distinct time: events `d`, censored `c`,
    * risk set `n_risk`, and the survival estimate `S(t) = Π(1 − dᵢ/nᵢ)`.
    *
    * Determinism: counts are exact; each factor's log is quantized to
    * integer micro-nats and the running product is the SUM of those longs
    * (order-free — the NB/UCB micro-nat contract), exp'd once per row for
    * the reported S. A time where d = n (risk set wiped out) contributes a
    * −1e12 micro-nat sentinel: S underflows to exactly 0 from there on.
    *
    * Scale shape: per-user reductions are keyed aggregates; the KM table
    * itself has one row per DISTINCT duration (days — thousands at most),
    * so its ordered window is over a driver-tiny frame by construction.
    */
  def kaplanMeier(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, startType: String, eventType: String): DataFrame = {
    val day = floor(unix_timestamp(col(tsCol)) / lit(86400L)).cast("long")
    val base = df.select(col(userCol).as("_u"), day.as("_d"),
      col(typeCol).as("_t"))
    val su = base.where(col("_t") === startType)
      .groupBy("_u").agg(min("_d").as("_s"))
    val cv = base.where(col("_t") === eventType)
      .join(su, Seq("_u")).where(col("_d") >= col("_s"))
      .groupBy("_u").agg((min(col("_d")) - min(col("_s"))).as("_dur"))
    val maxDay = base.agg(max("_d").as("_mx"))
    val users = su.join(cv, Seq("_u"), "left").crossJoin(broadcast(maxDay))
      .select(col("_u"),
        coalesce(col("_dur"), col("_mx") - col("_s")).as("t"),
        col("_dur").isNotNull.as("_ev"))
    val tbl = users.groupBy("t").agg(
      sum(when(col("_ev"), 1L).otherwise(0L)).as("d"),
      sum(when(col("_ev"), 0L).otherwise(1L)).as("c"))
    val total = users.agg(count(lit(1)).as("_N"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("t")
    val withN = tbl.crossJoin(broadcast(total))
      .withColumn("_prior", coalesce(sum(col("d") + col("c"))
        .over(w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_risk", col("_N") - col("_prior"))
    val lq = when(col("d") === 0, lit(0L))
      .when(col("d") < col("n_risk"),
        round(log(lit(1.0) - col("d").cast("double") / col("n_risk")) * 1e6)
          .cast("long"))
      .otherwise(lit(-1000000000000L)) // d = n: survival is exactly 0 onward
    withN.withColumn("_lq", lq)
      .withColumn("log_surv_micro", sum(col("_lq")).over(w))
      .select(col("t"), col("d"), col("c"), col("n_risk"),
        round(exp(col("log_surv_micro").cast("double") / 1e6), 4).as("surv"))
  }

  /** Robust seasonal anomaly detection: each (type, weekday) gets an
    * exact-median baseline and a MAD scale, and a day flags when its total
    * deviates more than `k` MADs — the outlier-resistant alternative to
    * mean/stddev bands (one anomalous spike inflates a stddev band enough
    * to hide the next spike; medians don't move). A zero-MAD weekday
    * (constant history) flags ANY deviation.
    *
    * Exact cents feed exact interpolated percentiles; the flag compares
    * doubles derived identically in any engine. Scale shape: one keyed
    * daily aggregate, two grouped percentile aggregates over the tiny
    * (type × weekday) frame, keyed joins back.
    */
  def robustSeasonalAnomalies(df: DataFrame, typeCol: String, tsCol: String,
      valueCol: String, k: Double = 3.0): DataFrame = {
    val day = floor(unix_timestamp(col(tsCol)) / lit(86400L)).cast("long")
    val daily = df.where(col(valueCol).isNotNull)
      .select(col(typeCol).as("_t"), day.as("day"),
        round(col(valueCol) * 100).cast("long").as("_v"))
      .groupBy("_t", "day").agg(sum("_v").as("x"))
      .withColumn("dow", pmod(col("day") + 4, lit(7)).cast("int"))
    val med = daily.groupBy("_t", "dow")
      .agg(percentile(col("x"), lit(0.5)).as("_med"))
    val j = daily.join(med, Seq("_t", "dow"))
    val mad = j.groupBy("_t", "dow")
      .agg(percentile(abs(col("x") - col("_med")), lit(0.5)).as("_mad"))
    j.join(mad, Seq("_t", "dow"))
      // no rounding: every number derives bit-identically from exact
      // integers in any engine, and rounding a half-ending interpolated
      // median is exactly where engines disagree
      .select(col("_t").as(typeCol), col("day"), col("dow"),
        (col("x") / 100.0).as("value"),
        (col("_med") / 100.0).as("baseline"),
        ((col("x") - col("_med")) / 100.0).as("deviation"),
        (abs(col("x") - col("_med")) > col("_mad") * k ||
          (col("_mad") === 0.0 && col("x") =!= col("_med"))).as("anomaly"))
  }

  /** Forecast-accuracy evaluation of the seasonal-naive baseline (the
    * yardstick every real forecast must beat): per period the forecast is
    * the value `season` periods back; errors aggregate to MAE, SMAPE and
    * MASE (MAE over the IN-SAMPLE naive-1 MAE — Hyndman & Koehler 2006,
    * the scale-free standard). Exact cents for every error; the two ratio
    * metrics quantize per-period contributions to micro-units before the
    * order-free sums.
    */
  def seasonalNaiveEval(df: DataFrame, tsCol: String, valueCol: String,
      season: Int): DataFrame = {
    require(season >= 1, "season must be >= 1")
    val day = floor(unix_timestamp(col(tsCol)) / lit(86400L)).cast("long")
    val daily = df.where(col(valueCol).isNotNull)
      .select(day.as("d"), round(col(valueCol) * 100).cast("long").as("_v"))
      .groupBy("d").agg(sum("_v").as("x"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("d")
    val withLags = daily
      .withColumn("_f", lag(col("x"), season).over(w))
      .withColumn("_p", lag(col("x"), 1).over(w))
    val scored = withLags.select(
      when(col("_f").isNotNull, abs(col("x") - col("_f"))).as("_ae"),
      when(col("_f").isNotNull,
        round(abs(col("x") - col("_f")).cast("double") * 2e6 /
          (abs(col("x")) + abs(col("_f"))), 0).cast("long")).as("_smq"),
      when(col("_p").isNotNull, abs(col("x") - col("_p"))).as("_n1"))
    scored.agg(
      count(col("_ae")).as("n_scored"),
      round(avg(col("_ae")) / 100.0, 4).as("mae"),
      round(sum(col("_smq")).cast("double") / count(col("_smq")) / 1e6, 6)
        .as("smape"),
      round((sum(col("_ae")).cast("double") / count(col("_ae"))) /
        (sum(col("_n1")).cast("double") / count(col("_n1"))), 4).as("mase"))
  }

  /** Apdex score per group (public Apdex standard): satisfied ≤ T,
    * tolerating ≤ 4T, `(satisfied + tolerating/2) / n` — the SLA summary
    * number. Exact integer counts to one fixed expression.
    */
  def apdex(df: DataFrame, groupCol: String, latencyCol: String,
      thresholdT: Double): DataFrame =
    df.where(col(latencyCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(latencyCol) <= thresholdT, 1L).otherwise(0L)).as("satisfied"),
        sum(when(col(latencyCol) > thresholdT &&
          col(latencyCol) <= 4 * thresholdT, 1L).otherwise(0L)).as("tolerating"))
      .withColumn("apdex",
        round((col("satisfied") + col("tolerating").cast("double") / 2) /
          col("n"), 4))

  /** Two-sample log-rank test (Mantel-Haenszel) — does one cohort convert
    * faster than another, accounting for censoring (the hypothesis test
    * over two [[kaplanMeier]] curves): at every pooled event time, the
    * observed group-1 events are compared with their hypergeometric
    * expectation given the pooled risk sets, and
    * `χ² = (Σ(O−E))² / ΣV` is approximately chi-square(1) under the null.
    *
    * Determinism: per-time O−E and V are rationals over exact counts,
    * quantized to integer nano-units before the sums (order-free); the
    * statistic is one fixed expression over the two integer sums. The
    * per-time table is distinct durations — driver-tiny — so its windows
    * are over rows-per-day, never data.
    */
  def logRank(df: DataFrame, userCol: String, tsCol: String, typeCol: String,
      startType: String, eventType: String, groupExpr: Column): DataFrame = {
    val day = floor(unix_timestamp(col(tsCol)) / lit(86400L)).cast("long")
    val base = df.select(col(userCol).as("_u"), day.as("_d"),
      col(typeCol).as("_t"), groupExpr.cast("int").as("_g"))
    val su = base.where(col("_t") === startType)
      .groupBy("_u").agg(min("_d").as("_s"), min("_g").as("_g"))
    val cv = base.where(col("_t") === eventType).drop("_g")
      .join(su.select("_u", "_s"), Seq("_u")).where(col("_d") >= col("_s"))
      .groupBy("_u").agg((min(col("_d")) - min(col("_s"))).as("_dur"))
    val maxDay = base.agg(max("_d").as("_mx"))
    val users = su.join(cv, Seq("_u"), "left").crossJoin(broadcast(maxDay))
      .select(col("_g"),
        coalesce(col("_dur"), col("_mx") - col("_s")).as("t"),
        col("_dur").isNotNull.as("_ev"))
    val tbl = users.groupBy("t").agg(
      sum(when(col("_ev") && col("_g") === 1, 1L).otherwise(0L)).as("d1"),
      sum(when(col("_ev") && col("_g") =!= 1, 1L).otherwise(0L)).as("d2"),
      sum(when(col("_g") === 1, 1L).otherwise(0L)).as("a1"),
      sum(when(col("_g") =!= 1, 1L).otherwise(0L)).as("a2"))
    val totals = users.groupBy().agg(
      sum(when(col("_g") === 1, 1L).otherwise(0L)).as("_N1"),
      sum(when(col("_g") =!= 1, 1L).otherwise(0L)).as("_N2"),
      sum(when(col("_ev") && col("_g") === 1, 1L).otherwise(0L)).as("events1"),
      sum(when(col("_ev") && col("_g") =!= 1, 1L).otherwise(0L)).as("events2"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("t")
    val pre = org.apache.spark.sql.expressions.Window.unboundedPreceding
    val risks = tbl.crossJoin(broadcast(totals))
      .withColumn("_p1", coalesce(sum(col("a1")).over(w.rowsBetween(pre, -1)), lit(0L)))
      .withColumn("_p2", coalesce(sum(col("a2")).over(w.rowsBetween(pre, -1)), lit(0L)))
      .withColumn("n1", col("_N1") - col("_p1"))
      .withColumn("n2", col("_N2") - col("_p2"))
      .withColumn("n", col("n1") + col("n2"))
      .withColumn("d", col("d1") + col("d2"))
      .where(col("d") > 0 && col("n") > 1)
    val oeQ = round((col("d1").cast("double") -
      col("d").cast("double") * col("n1") / col("n")) * 1e9).cast("long")
    val vQ = round((col("d").cast("double") * col("n1") / col("n")) *
      (col("n2").cast("double") / col("n")) *
      ((col("n").cast("double") - col("d")) / (col("n") - 1)) * 1e9).cast("long")
    val sums = risks.select(oeQ.as("_oe"), vQ.as("_v"))
      .agg(sum("_oe").as("_soe"), sum("_v").as("_sv"))
    totals.crossJoin(broadcast(sums)).select(
      col("_N1").as("n1"), col("_N2").as("n2"),
      col("events1"), col("events2"),
      round(col("_soe") / 1e9, 4).as("o_minus_e"),
      round((col("_soe").cast("double") / 1e9) * (col("_soe") / 1e9) /
        (col("_sv") / 1e9), 4).as("chi2"))
  }

  /** Run-length compression of a per-key state sequence (gaps-and-islands
    * over DATA rows): consecutive events with the same state collapse to
    * one (key, state, start, end, n_events) segment — the state-duration
    * view CDC feeds and session analyses read. Deterministic ordering via
    * (ts, tiebreak id); run ids are the running count of state CHANGES
    * (the lag/cumsum islands idiom), so segments need no self-join.
    * Scale shape: two stacked windows partitioned by the key (one keyed
    * shuffle), then one keyed aggregate.
    */
  def stateRuns(df: DataFrame, keyCol: String, tsCol: String,
      stateCol: String, tieCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_k").orderBy(col("_ts"), col("_tie"))
    df.select(col(keyCol).as("_k"), col(tsCol).as("_ts"),
        col(stateCol).as("_st"), col(tieCol).as("_tie"))
      .withColumn("_chg",
        when(lag(col("_st"), 1).over(w).isNull ||
          lag(col("_st"), 1).over(w) =!= col("_st"), 1L).otherwise(0L))
      .withColumn("_run", sum(col("_chg")).over(w))
      .groupBy(col("_k"), col("_run"))
      .agg(min(col("_st")).as("state"),
        min(col("_ts")).as("run_start"), max(col("_ts")).as("run_end"),
        count(lit(1)).as("n_events"))
      .select(col("_k").as(keyCol), col("_run").as("run"), col("state"),
        col("run_start"), col("run_end"), col("n_events"))
  }

  /** CUSUM drift detection over per-period value totals (Page 1954): the
    * cumulative deviation of the daily total from its long-run mean,
    * flagged when it exceeds `theta` average-period-totals. Catches slow
    * drift that the trailing-window spike detector (point deviations)
    * misses — the complementary change-point face.
    *
    * Exact-integer contract: totals are cent-quantized; the deviation is
    * kept SCALED by n (periods) so `dev_scaled = n·prefix − idx·S` is an
    * exact long — the flag compares longs, and only the reported
    * `dev_cents` pays one final divide. Scale shape: one keyed aggregate
    * to period totals (map-side combinable), one per-type ordered window
    * over the tiny period frame, per-type totals broadcast back.
    */
  def cusumDrift(df: DataFrame, typeCol: String, tsCol: String,
      valueCol: String, theta: Int = 2): DataFrame = {
    val day = floor(unix_timestamp(col(tsCol)) / lit(86400L)).cast("long")
    val daily = df.select(col(typeCol).as("_t"), day.as("day"),
      round(col(valueCol) * 100).cast("long").as("_v"))
      .groupBy("_t", "day").agg(sum("_v").as("x_cents"))
    val totals = daily.groupBy("_t")
      .agg(count(lit(1)).as("_n"), sum("x_cents").as("_s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_t").orderBy("day")
    daily.join(broadcast(totals), Seq("_t"))
      .withColumn("_prefix", sum(col("x_cents")).over(w))
      .withColumn("_idx", row_number().over(w))
      .withColumn("_dev_scaled",
        col("_n") * col("_prefix") - col("_idx") * col("_s"))
      .select(col("_t").as(typeCol), col("day"), col("x_cents"),
        round(col("_dev_scaled").cast("double") / col("_n") / 100.0, 2)
          .as("dev_value"),
        (abs(col("_dev_scaled")) > lit(theta.toLong) * abs(col("_s")))
          .as("drift"))
  }

  /** Day-of-week seasonality profile per event type: mean value per
    * weekday over the overall mean — the index a capacity plan or anomaly
    * baseline divides by. `index = (s_dow · n_total) / (n_dow · s_total)`
    * evaluated as one fixed expression over exact cent/count integers.
    * Weekdays are 0–6 with Sunday = 0.
    */
  def seasonalityIndex(df: DataFrame, typeCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val base = df.select(col(typeCol).as("_t"),
      (dayofweek(col(tsCol)) - 1).cast("int").as("dow"),
      round(col(valueCol) * 100).cast("long").as("_v"))
    val perDow = base.groupBy("_t", "dow")
      .agg(count(lit(1)).as("n_events"), sum("_v").as("_s_dow"))
    val perType = base.groupBy("_t")
      .agg(count(lit(1)).as("_n_t"), sum("_v").as("_s_t"))
    perDow.join(broadcast(perType), Seq("_t"))
      .select(col("_t").as(typeCol), col("dow"), col("n_events"),
        round(col("_s_dow").cast("double") / col("n_events") / 100.0, 2)
          .as("mean_value"),
        round(col("_s_dow").cast("double") * col("_n_t") /
          (col("n_events") * col("_s_t").cast("double")), 6).as("season_index"))
  }

  /** Incremental aggregate maintenance (the materialized-view / Delta
    * pattern): merge per-key partial aggregates of a base snapshot and a
    * delta batch into exactly the view a full recompute would produce —
    * per-key event count and cent-exact value sum. The merge is a keyed
    * full-outer join of two ALREADY-AGGREGATED frames: delta-sized work,
    * never a re-scan of the base, because count and quantized sum are
    * decomposable aggregates (the same algebra map-side combine exploits
    * inside one job, lifted across batches).
    *
    * Values are quantized to integer cents before summation so the merged
    * total is order-free and equals the recompute bit-for-bit in any
    * engine — the property that makes "incremental == recompute" an
    * assertable oracle rather than a tolerance check.
    */
  def mergePartialAggs(base: DataFrame, delta: DataFrame,
      keyCol: String, valueCol: String): DataFrame = {
    def part(df: DataFrame) = df.groupBy(col(keyCol).as("_k"))
      .agg(count(lit(1)).as("_c"),
        sum(round(col(valueCol) * 100).cast("long")).as("_s"))
    val b = part(base).select(col("_k"), col("_c").as("_cb"), col("_s").as("_sb"))
    val d = part(delta).select(col("_k"), col("_c").as("_cd"), col("_s").as("_sd"))
    b.join(d, Seq("_k"), "full_outer")
      .select(col("_k").as(keyCol),
        (coalesce(col("_cb"), lit(0L)) + coalesce(col("_cd"), lit(0L)))
          .as("n_events"),
        round((coalesce(col("_sb"), lit(0L)) + coalesce(col("_sd"), lit(0L)))
          .cast("double") / 100.0, 2).as("total_value"))
  }

  /** Holt double exponential smoothing (level + linear trend) per series —
    * the forecasting step up from the seasonal-naive baseline
    * ([[seasonalityIndex]] handles the seasonal face). Smoothing factors
    * are exact rationals (alpha = 2/10, beta = 3/10) over integer cents
    * with an explicit floor-division, so the recursion replays bit-for-bit
    * in any engine:
    *
    *   l_t = (2*y_t + 8*(l_{t-1} + b_{t-1})) fdiv 10
    *   b_t = (3*(l_t - l_{t-1}) + 7*b_{t-1}) fdiv 10,   l_1 = y_1, b_1 = 0
    *
    * Scale shape: the recurrence is inherently sequential PER SERIES but
    * embarrassingly parallel ACROSS series (the 100 TB case is millions of
    * series × short horizons, not one long series): one keyed daily
    * aggregate, then `sort_array(collect_list)` + a codegen'd `aggregate`
    * HOF fold per group — each series' whole pass is one in-memory array
    * fold on its reducer, no per-step shuffle. Returns one row per series:
    * day count, final level/trend, and the h-step-ahead linear forecast
    * (all in value units, 2 dp).
    */
  def holtSmooth(df: DataFrame, typeCol: String, tsCol: String,
      valueCol: String, horizon: Int = 7): DataFrame = {
    def fdiv10(a: Column): Column =
      ((a - pmod(a, lit(10L))) / lit(10L)).cast("long")
    val day = floor(unix_timestamp(col(tsCol)) / lit(86400L)).cast("long")
    val daily = df.select(col(typeCol).as("_t"), day.as("_day"),
        round(col(valueCol) * 100).cast("long").as("_v"))
      .groupBy("_t", "_day").agg(sum("_v").as("_y"))
    val series = daily
      .groupBy("_t")
      .agg(sort_array(collect_list(struct(col("_day"), col("_y")))).as("_ys"))
    val zero = struct(
      element_at(col("_ys"), 1).getField("_y").as("l"),
      lit(0L).as("b"))
    val folded = aggregate(
      slice(col("_ys"), lit(2), greatest(size(col("_ys")) - 1, lit(0))),
      zero,
      (acc, e) => {
        val lNew = fdiv10(lit(2L) * e.getField("_y") +
          lit(8L) * (acc.getField("l") + acc.getField("b")))
        val bNew = fdiv10(lit(3L) * (lNew - acc.getField("l")) +
          lit(7L) * acc.getField("b"))
        struct(lNew.as("l"), bNew.as("b"))
      })
    series.select(col("_t").as(typeCol),
        size(col("_ys")).cast("long").as("n_days"),
        folded.getField("l").as("_l"), folded.getField("b").as("_b"))
      .select(col(typeCol), col("n_days"),
        round(col("_l").cast("double") / 100.0, 2).as("level"),
        round(col("_b").cast("double") / 100.0, 2).as("trend"),
        round((col("_l") + lit(horizon.toLong) * col("_b")).cast("double") / 100.0, 2)
          .as(s"forecast_h$horizon"))
  }

  /** Single change-point detection per series by binary segmentation —
    * the first split of the classic recursive scheme: choose the boundary
    * k maximizing the variance-reduction objective
    * `f(k) = (Σy_left)²/n_left + (Σy_right)²/n_right` (equivalently,
    * minimizing split SSE). Daily totals are exact integer DOLLARS
    * (cents fdiv 100) so f stays inside double-exact magnitude; f
    * quantizes to integer units before a struct-min argmin (ties → the
    * earliest boundary), so the chosen break replays in any engine.
    *
    * Scale shape: one keyed daily aggregate + per-series prefix-sum
    * windows + one argmin — candidate count = series length, parallel
    * across series.
    */
  def changePoint(df: DataFrame, typeCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    def fd(a: Column, m: Long): Column =
      ((a - pmod(a, lit(m))) / lit(m)).cast("long")
    val day = floor(unix_timestamp(col(tsCol)) / lit(86400L)).cast("long")
    val daily = df.select(col(typeCol).as("_t"), day.as("_day"),
        round(col(valueCol) * 100).cast("long").as("_v"))
      .groupBy("_t", "_day")
      .agg(fd(sum("_v"), 100L).as("_y")) // whole dollars
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("_t").orderBy("_day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("_t")
    val pre = daily
      .withColumn("_idx", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("_t").orderBy("_day")))
      .withColumn("_cs", sum("_y").over(wOrd))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_st", sum("_y").over(wAll))
    val nl = col("_idx"); val nr = col("_n") - col("_idx")
    val sl = col("_cs"); val sr = col("_st") - col("_cs")
    val fq = round(
      sl.cast("double") * sl / nl + sr.cast("double") * sr / nr, 0)
      .cast("long")
    pre.where(col("_idx") < col("_n"))
      .withColumn("_cand", struct((-fq).as("negf"), col("_idx").as("i"),
        col("_day").as("d"), sl.as("sl"), col("_n").as("n"),
        col("_st").as("st")))
      .groupBy("_t").agg(min("_cand").as("b"))
      .select(col("_t").as(typeCol),
        col("b.d").as("split_day"), col("b.i").cast("long").as("n_before"),
        (col("b.n") - col("b.i")).cast("long").as("n_after"),
        round(col("b.sl").cast("double") / col("b.i"), 2).as("mean_before"),
        round((col("b.st") - col("b.sl")).cast("double") /
          (col("b.n") - col("b.i")), 2).as("mean_after"))
  }

  /** DuckDB replay of [[changePoint]]. */
  def changePointOracleSql(table: String, typeCol: String, tsCol: String,
      valueCol: String): String =
    s"""WITH daily AS (SELECT $typeCol AS t,
       |    CAST(floor(epoch($tsCol) / 86400) AS BIGINT) AS day,
       |    ((sum(CAST(round($valueCol * 100) AS BIGINT))
       |      - ((sum(CAST(round($valueCol * 100) AS BIGINT)) % 100 + 100) % 100))
       |      / 100)::BIGINT AS y
       |  FROM $table GROUP BY 1, 2),
       |pre AS (SELECT t, day, y,
       |    row_number() OVER (PARTITION BY t ORDER BY day) AS idx,
       |    sum(y) OVER (PARTITION BY t ORDER BY day
       |      ROWS UNBOUNDED PRECEDING) AS cs,
       |    count(*) OVER (PARTITION BY t) AS n,
       |    sum(y) OVER (PARTITION BY t) AS st
       |  FROM daily),
       |sc AS (SELECT t, day, idx, cs, n, st,
       |    CAST(round(cs::DOUBLE * cs / idx
       |      + (st - cs)::DOUBLE * (st - cs) / (n - idx), 0) AS BIGINT) AS fq
       |  FROM pre WHERE idx < n),
       |best AS (SELECT * FROM (SELECT *,
       |    row_number() OVER (PARTITION BY t ORDER BY fq DESC, idx) AS rn
       |  FROM sc) WHERE rn = 1)
       |SELECT t AS $typeCol, day AS split_day, idx::BIGINT AS n_before,
       |  (n - idx)::BIGINT AS n_after,
       |  round(cs::DOUBLE / idx, 2) AS mean_before,
       |  round((st - cs)::DOUBLE / (n - idx), 2) AS mean_after
       |FROM best ORDER BY 1""".stripMargin

  /** SAX-style symbolic series representation: daily totals → PAA segment
    * means → a small-alphabet word per series, the index key for
    * similarity search / motif mining over millions of series. Two
    * deliberate divergences from classic SAX, both for engine-exact
    * replay: no z-normalization (means stay exact integer cents —
    * `sum fdiv count`), and equi-width per-series binning between the
    * min/max segment mean (`(m−mn)·alphabet fdiv (mx−mn+1)`) instead of
    * Gaussian breakpoints.
    *
    * Scale shape: one keyed daily aggregate, one per-series window
    * ordinal, one (series, segment) aggregate, then a per-series
    * sorted-collect of ≤`segments` symbols — every stage map-side
    * combinable, nothing driver-side.
    */
  def saxWords(df: DataFrame, typeCol: String, tsCol: String,
      valueCol: String, segments: Int = 6, alphabet: Int = 4): DataFrame = {
    require(segments >= 1 && alphabet >= 2 && alphabet <= 26,
      "segments >= 1, alphabet in [2, 26]")
    val letters = "abcdefghijklmnopqrstuvwxyz".take(alphabet)
    def fdiv(a: Column, m: Column): Column = (a - pmod(a, m)) / m
    val day = floor(unix_timestamp(col(tsCol)) / lit(86400L)).cast("long")
    val daily = df.select(col(typeCol).as("_t"), day.as("_day"),
        round(col(valueCol) * 100).cast("long").as("_v"))
      .groupBy("_t", "_day").agg(sum("_v").as("_y"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("_t").orderBy("_day")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("_t")
    val seg = daily
      .withColumn("_i", row_number().over(wOrd) - 1)
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("seg", fdiv(col("_i") * segments, col("_n")).cast("long"))
      .groupBy("_t", "seg")
      .agg(fdiv(sum("_y"), count(lit(1))).cast("long").as("m"),
        max("_n").as("_n"))
    val bounds = seg.groupBy("_t")
      .agg(min("m").as("_mn"), max("m").as("_mx"))
    val sym = seg.join(bounds, Seq("_t"))
      .withColumn("sym", least(
        fdiv((col("m") - col("_mn")) * alphabet,
          col("_mx") - col("_mn") + 1).cast("long"),
        lit(alphabet - 1L)))
    sym.groupBy(col("_t").as(typeCol))
      .agg(max("_n").cast("long").as("n_days"),
        array_join(transform(
          array_sort(collect_list(struct(col("seg"), col("sym")))),
          e => lit(letters).substr(e.getField("sym").cast("int") + 1, lit(1))),
          "").as("sax_word"))
  }

  /** DuckDB replay of [[saxWords]]. */
  def saxOracleSql(table: String, typeCol: String, tsCol: String,
      valueCol: String, segments: Int = 6, alphabet: Int = 4): String = {
    val letters = "abcdefghijklmnopqrstuvwxyz".take(alphabet)
    def fd(a: String, m: String) = s"(($a - ((($a) % $m + $m) % $m)) / $m)"
    s"""WITH daily AS (SELECT $typeCol AS t,
       |    CAST(floor(epoch($tsCol) / 86400) AS BIGINT) AS day,
       |    CAST(sum(CAST(round($valueCol * 100) AS BIGINT)) AS BIGINT) AS y
       |  FROM $table GROUP BY 1, 2),
       |o AS (SELECT t, y,
       |    row_number() OVER (PARTITION BY t ORDER BY day) - 1 AS i,
       |    count(*) OVER (PARTITION BY t) AS n
       |  FROM daily),
       |sg AS (SELECT t, ${fd("i * " + segments, "n")}::BIGINT AS seg,
       |    ${fd("sum(y)", "count(*)")}::BIGINT AS m, max(n) AS n
       |  FROM o GROUP BY 1, 2),
       |b AS (SELECT t, min(m) AS mn, max(m) AS mx FROM sg GROUP BY 1),
       |s AS (SELECT sg.t, sg.seg, sg.n,
       |    least(${fd("(sg.m - b.mn) * " + alphabet, "(b.mx - b.mn + 1)")}::BIGINT,
       |      ${alphabet - 1}) AS sym
       |  FROM sg JOIN b ON b.t = sg.t)
       |SELECT t AS $typeCol, max(n)::BIGINT AS n_days,
       |  string_agg(substring('$letters', (sym + 1)::INT, 1), '' ORDER BY seg)
       |    AS sax_word
       |FROM s GROUP BY 1""".stripMargin
  }

  /** Holt–Winters additive triple exponential smoothing per series —
    * [[holtSmooth]] plus a 7-slot weekly seasonal state: for each
    * observation y on day d (season slot i = d mod 7),
    * l′ = α(y−sᵢ) + (1−α)(l+b), b′ = β(l′−l) + (1−β)b,
    * sᵢ′ = γ(y−l′) + (1−γ)sᵢ, with the same exact rational coefficients
    * (α = 0.2, β = γ = 0.3) as integer floor-division recurrences over
    * cents — sequential per series, parallel across series via ONE sorted
    * array fold; the seasonal slots ride the fold accumulator as a 7-long
    * array. Divergence from textbook HW (documented): level initializes
    * to the first observation and seasonals to 0 (no first-season
    * averaging pass), and gap days advance the recurrence by observation
    * order, not calendar steps.
    *
    * Forecast h days past the last observed day D:
    * l + h·b + s[(D+h) mod 7]. Output per series: n_days, level, trend,
    * s_fc (the seasonal slot the forecast lands on), forecast_h{h}.
    */
  def holtWinters(df: DataFrame, typeCol: String, tsCol: String,
      valueCol: String, horizon: Int = 7): DataFrame = {
    def fdiv10(a: Column): Column =
      ((a - pmod(a, lit(10L))) / lit(10L)).cast("long")
    val day = floor(unix_timestamp(col(tsCol)) / lit(86400L)).cast("long")
    val daily = df.select(col(typeCol).as("_t"), day.as("_day"),
        round(col(valueCol) * 100).cast("long").as("_v"))
      .groupBy("_t", "_day").agg(sum("_v").as("_y"))
    val series = daily
      .groupBy("_t")
      .agg(sort_array(collect_list(struct(col("_day"), col("_y")))).as("_ys"))
    val zeroSeason = array((0 until 7).map(_ => lit(0L)): _*)
    val zero = struct(
      element_at(col("_ys"), 1).getField("_y").as("l"),
      lit(0L).as("b"),
      zeroSeason.as("s"))
    val folded = aggregate(
      slice(col("_ys"), lit(2), greatest(size(col("_ys")) - 1, lit(0))),
      zero,
      (acc, e) => {
        val i = pmod(e.getField("_day"), lit(7L)) // season slot 0..6
        val sI = element_at(acc.getField("s"), (i + 1).cast("int"))
        val lNew = fdiv10(lit(2L) * (e.getField("_y") - sI) +
          lit(8L) * (acc.getField("l") + acc.getField("b")))
        val bNew = fdiv10(lit(3L) * (lNew - acc.getField("l")) +
          lit(7L) * acc.getField("b"))
        val sNew = fdiv10(lit(3L) * (e.getField("_y") - lNew) +
          lit(7L) * sI)
        val sArr = transform(sequence(lit(0), lit(6)),
          j => when(j === i.cast("int"), sNew)
            .otherwise(element_at(acc.getField("s"), (j + 1).cast("int"))))
        struct(lNew.as("l"), bNew.as("b"), sArr.as("s"))
      })
    val lastDay = element_at(col("_ys"), size(col("_ys"))).getField("_day")
    series.select(col("_t").as(typeCol),
        size(col("_ys")).cast("long").as("n_days"),
        folded.getField("l").as("_l"), folded.getField("b").as("_b"),
        element_at(folded.getField("s"),
          (pmod(lastDay + horizon, lit(7L)) + 1).cast("int")).as("_sfc"))
      .select(col(typeCol), col("n_days"),
        round(col("_l").cast("double") / 100.0, 2).as("level"),
        round(col("_b").cast("double") / 100.0, 2).as("trend"),
        round(col("_sfc").cast("double") / 100.0, 2).as("s_fc"),
        round((col("_l") + lit(horizon.toLong) * col("_b") + col("_sfc"))
          .cast("double") / 100.0, 2).as(s"forecast_h$horizon"))
  }

  /** DuckDB replay of [[holtWinters]] — recursive CTE carrying the
    * 7-slot seasonal list.
    */
  def holtWintersOracleSql(table: String, typeCol: String, tsCol: String,
      valueCol: String, horizon: Int = 7): String = {
    def fd(a: String) = s"(($a - ((($a) % 10 + 10) % 10)) / 10)::BIGINT"
    s"""WITH RECURSIVE daily AS (SELECT $typeCol AS t,
       |    CAST(floor(epoch($tsCol) / 86400) AS BIGINT) AS day,
       |    CAST(sum(CAST(round($valueCol * 100) AS BIGINT)) AS BIGINT) AS y
       |  FROM $table GROUP BY 1, 2),
       |s AS (SELECT t, day, y,
       |    row_number() OVER (PARTITION BY t ORDER BY day) AS idx
       |  FROM daily),
       |n AS (SELECT t, count(*) AS n_days, max(day) AS last_day
       |  FROM s GROUP BY t),
       |rec AS (SELECT t, idx, y AS l, 0::BIGINT AS b,
       |    [0,0,0,0,0,0,0]::BIGINT[] AS sn
       |  FROM s WHERE idx = 1
       |  UNION ALL
       |  SELECT s.t, s.idx, x2.lnew AS l,
       |    ${fd("3*(x2.lnew - r.l) + 7*r.b")} AS b,
       |    list_transform(generate_series(1, 7), j ->
       |      CASE WHEN j = x.i THEN
       |        ${fd("3*(s.y - x2.lnew) + 7*x.si")}
       |      ELSE r.sn[j] END) AS sn
       |  FROM rec r JOIN s ON s.t = r.t AND s.idx = r.idx + 1,
       |  LATERAL (SELECT CAST(s.day % 7 + 1 AS INT) AS i,
       |    r.sn[CAST(s.day % 7 + 1 AS INT)] AS si) x,
       |  LATERAL (SELECT ${fd("2*(s.y - x.si) + 8*(r.l + r.b)")} AS lnew) x2),
       |fin AS (SELECT r.t, r.l, r.b,
       |    r.sn[CAST((n.last_day + $horizon) % 7 + 1 AS INT)] AS sfc
       |  FROM rec r JOIN n ON n.t = r.t WHERE r.idx = n.n_days)
       |SELECT fin.t AS $typeCol, n.n_days::BIGINT AS n_days,
       |  round(fin.l::DOUBLE / 100.0, 2) AS level,
       |  round(fin.b::DOUBLE / 100.0, 2) AS trend,
       |  round(fin.sfc::DOUBLE / 100.0, 2) AS s_fc,
       |  round((fin.l + $horizon*fin.b + fin.sfc)::DOUBLE / 100.0, 2)
       |    AS forecast_h$horizon
       |FROM fin JOIN n ON n.t = fin.t ORDER BY $typeCol""".stripMargin
  }

  /** DuckDB replay of [[holtSmooth]]: the same integer recurrence as a
    * recursive CTE stepping all series in lockstep on the day ordinal.
    */
  def holtOracleSql(table: String, typeCol: String, tsCol: String,
      valueCol: String, horizon: Int = 7): String = {
    def fd(a: String) = s"(($a - ((($a) % 10 + 10) % 10)) / 10)::BIGINT"
    val lNew = fd(s"2*s.y + 8*(r.l + r.b)")
    s"""WITH RECURSIVE daily AS (SELECT $typeCol AS t,
       |    CAST(floor(epoch($tsCol) / 86400) AS BIGINT) AS day,
       |    CAST(sum(CAST(round($valueCol * 100) AS BIGINT)) AS BIGINT) AS y
       |  FROM $table GROUP BY 1, 2),
       |s AS (SELECT t, y, row_number() OVER (PARTITION BY t ORDER BY day) AS idx
       |  FROM daily),
       |n AS (SELECT t, count(*) AS n_days FROM s GROUP BY t),
       |rec AS (SELECT t, idx, y AS l, 0::BIGINT AS b FROM s WHERE idx = 1
       |  UNION ALL
       |  SELECT s.t, s.idx, x.lnew AS l,
       |    ${fd("3*(x.lnew - r.l) + 7*r.b")} AS b
       |  FROM rec r JOIN s ON s.t = r.t AND s.idx = r.idx + 1,
       |  LATERAL (SELECT $lNew AS lnew) x),
       |fin AS (SELECT r.t, r.l, r.b FROM rec r JOIN n ON n.t = r.t
       |  WHERE r.idx = n.n_days)
       |SELECT fin.t AS $typeCol, n.n_days::BIGINT AS n_days,
       |  round(fin.l::DOUBLE / 100.0, 2) AS level,
       |  round(fin.b::DOUBLE / 100.0, 2) AS trend,
       |  round((fin.l + $horizon*fin.b)::DOUBLE / 100.0, 2) AS forecast_h$horizon
       |FROM fin JOIN n ON n.t = fin.t ORDER BY $typeCol""".stripMargin
  }
}
