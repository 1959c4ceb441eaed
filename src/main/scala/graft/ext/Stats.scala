package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.Rounds.materialize

/** Experiment / inference statistics over exact counts — the A/B-test and
  * independence layer a product-analytics deployment runs on event data.
  * Everything derives from integer counting aggregates; the few floating
  * steps are single fixed-shape expressions over those exact integers
  * (the engine-parity contract used throughout graft).
  */
object Stats {

  /** Exact half-up 4-decimal ratio quantizer over integer num/den:
    * `(num·2e4 + den) div (2·den)` computed ENTIRELY in decimal(38,0) —
    * the earlier long arithmetic did the final division in IEEE doubles,
    * which can be off by one ulp once the numerator passes 2^53 (a
    * corpus-scale count times 2e4 gets there), silently diverging from an
    * engine that divides exactly. Returns the quantized ratio ×10⁴ as a
    * long; divide by 1e4 for the rendered value.
    */
  private[graft] def halfUpQ4(num: Column, den: Column): Column = {
    val a = num.cast("decimal(38,0)") * lit(20000) + den.cast("decimal(38,0)")
    val b = den.cast("decimal(38,0)") * lit(2)
    ((a - pmod(a, b)) / b).cast("long")
  }

  /** Two-proportion z-test (pooled standard error) between two user
    * groups: conversion = at least one `convType` event. Returns one row:
    * group sizes, conversion counts/rates, absolute lift and the z
    * statistic — the "is the treatment real" primitive.
    *
    * Scale shape: one distinct-users pass + one conversion semi-join
    * (both keyed on the user), then a 2-row aggregate. The z expression
    * is one fixed IEEE shape over six exact integers.
    */
  def twoProportionZ(df: DataFrame, userCol: String, typeCol: String,
      convType: String, groupExpr: org.apache.spark.sql.Column): DataFrame = {
    val users = df.select(col(userCol).as("_u"), groupExpr.as("_g")).distinct()
    val converted = df.where(col(typeCol) === convType)
      .select(col(userCol).as("_u")).distinct()
    val flagged = users.join(converted.withColumn("_c", lit(1L)), Seq("_u"), "left")
    val agg = flagged.agg(
      sum(when(col("_g"), 1L).otherwise(0L)).as("n_treat"),
      sum(when(col("_g"), coalesce(col("_c"), lit(0L))).otherwise(0L)).as("x_treat"),
      sum(when(!col("_g"), 1L).otherwise(0L)).as("n_ctrl"),
      sum(when(!col("_g"), coalesce(col("_c"), lit(0L))).otherwise(0L)).as("x_ctrl"))
    val p1 = col("x_treat").cast("double") / col("n_treat")
    val p2 = col("x_ctrl").cast("double") / col("n_ctrl")
    val pPool = (col("x_treat") + col("x_ctrl")).cast("double") /
      (col("n_treat") + col("n_ctrl"))
    val se = sqrt(pPool * (lit(1.0) - pPool) *
      (lit(1.0) / col("n_treat") + lit(1.0) / col("n_ctrl")))
    agg.select(col("n_treat"), col("x_treat"), col("n_ctrl"), col("x_ctrl"),
      round(p1, 4).as("rate_treat"), round(p2, 4).as("rate_ctrl"),
      round(p1 - p2, 4).as("lift"),
      when(se === 0, lit(0.0)).otherwise(round((p1 - p2) / se, 4)).as("z"))
  }

  /** UCB1 arm scores (Auer et al. 2002): mean reward + √(2 ln N / nᵢ)
    * per arm — the deterministic exploration-bonus ranking a bandit
    * allocator reads each round. Rewards sum as micro-unit integers;
    * ln N evaluates ONCE (N = total pulls from a 1-row aggregate,
    * broadcast back) and is immediately quantized to micro-nats, so the
    * one libm call that is not IEEE-pinned cannot leak sub-ulp drift
    * into the comparison path.
    */
  def ucbScores(df: DataFrame, armCol: String, rewardCol: String): DataFrame = {
    val tot = df.agg(count(lit(1)).as("_N"))
    val lnq = round(log(col("_N").cast("double")) * 1e6, 0).cast("long")
    val mean = col("_rq").cast("double") / col("n_pulls") / 1e6
    df.groupBy(col(armCol).as("arm"))
      .agg(count(lit(1)).as("n_pulls"),
        sum(round(col(rewardCol) * 1e6, 0).cast("long")).as("_rq"))
      .crossJoin(broadcast(tot))
      .select(col("arm"), col("n_pulls"),
        round(mean, 4).as("mean_reward"),
        round(mean +
          sqrt(lit(2.0) * lnq.cast("double") / 1e6 / col("n_pulls")), 4)
          .as("ucb"))
  }

  /** Chi-square test of independence between two categorical columns,
    * plus Cramér's V. Per-cell contributions (o−e)²/e quantize to
    * micro-units BEFORE the sum (e = row·col/N is rational from exact
    * integers; the per-cell double math is one fixed shape), so the
    * statistic accumulates as exact integers in any partitioning.
    * Scale shape: one (a, b) count + two tiny marginal aggregates
    * broadcast back; cells scale with the category product, not rows.
    */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = materialize(df.where(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("_a"), col(bCol).as("_b"))
      .agg(count(lit(1)).as("_o")))
    val rowM = cells.groupBy("_a").agg(sum(col("_o")).as("_ra"))
    val colM = cells.groupBy("_b").agg(sum(col("_o")).as("_cb"))
    val tot = cells.agg(sum(col("_o")).as("_n"),
      count_distinct(col("_a")).as("_da"), count_distinct(col("_b")).as("_db"))
    val e = col("_ra").cast("double") * col("_cb") / col("_n")
    val contribQ = round((col("_o") - e) * (col("_o") - e) / e * 1e6, 0)
      .cast("long")
    cells.join(broadcast(rowM), Seq("_a")).join(broadcast(colM), Seq("_b"))
      .crossJoin(broadcast(tot))
      .agg(sum(contribQ).as("_chi_q"),
        first(col("_n")).as("n_obs"), first(col("_da")).as("_a_levels"),
        first(col("_db")).as("_b_levels"))
      .select(col("n_obs"),
        ((col("_a_levels") - 1) * (col("_b_levels") - 1)).as("dof"),
        round(col("_chi_q").cast("double") / 1e6, 4).as("chi2"),
        round(sqrt(col("_chi_q").cast("double") / 1e6 /
          (col("n_obs") * least(col("_a_levels") - 1, col("_b_levels") - 1))
            .cast("double")), 4).as("cramers_v"))
  }

  /** Bradley-Terry preference ratings (Hunter 2004 MM iteration) — the
    * model under pairwise preference data (RLHF comparisons, A/B taste
    * tests, match outcomes): `P(i beats j) = pᵢ/(pᵢ+pⱼ)`, fit by fixed MM
    * rounds `pᵢ ← Wᵢ / Σⱼ nᵢⱼ/(pᵢ+pⱼ)`, renormalized each round.
    *
    * Everything is EXACT integer arithmetic in micro-units (truncating
    * division on positive longs — the same fixed-point contract as the
    * PageRank family), so every round is bit-reproducible in any engine
    * and the oracle replays the FULL training as unrolled CTEs
    * ([[bradleyTerryOracleSql]] is generated side-by-side).
    *
    * Scale shape: the MODEL (one rating per item) is USUALLY driver-small
    * while the match data is not — but item count is data-dependent (an
    * RLHF corpus can field millions of distinct competitors), so the
    * driver-resident model is gated on a MEASURED item count
    * (`localItemLimit`, the [[Corpus.bpeTrain]] dual-path discipline).
    * Under the gate the ratings live on the driver and ride each round's
    * plan as a broadcast literal: per round ONE job over the materialized
    * pair frame (two broadcast joins + a keyed partial sum), the
    * items-many denominator vector collected back, and the MM update +
    * renormalization done in exact driver-side long arithmetic. Over the
    * gate the ratings stay a materialized DataFrame: the same per-round job
    * with shuffle joins instead of broadcast literals, the round total a
    * 1-row scalar collect, the update pure column arithmetic — nothing
    * items-many ever lands on the driver. Both paths run the identical
    * truncating-long recurrence; tests force the distributed branch and
    * assert rating-for-rating equality.
    *
    * `matches`: one row per unordered pair — (item_a, item_b, wins_a,
    * wins_b).
    */
  def bradleyTerry(matches: DataFrame, rounds: Int = 8,
      scale: Long = 1000000L, localItemLimit: Long = 500000L): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val spark = matches.sparkSession
    val big = scale * scale // numerator boost so terms keep 6 digits
    val dir = materialize(matches.select(col("item_a").as("i"), col("item_b").as("j"),
        (col("wins_a") + col("wins_b")).cast("long").as("n"),
        col("wins_a").cast("long").as("w"))
      .unionByName(matches.select(col("item_b").as("i"), col("item_a").as("j"),
        (col("wins_a") + col("wins_b")).cast("long").as("n"),
        col("wins_b").cast("long").as("w"))))
    val (items, c) = materialize(dir.groupBy(col("i").as("item"))
      .agg(sum("w").as("wins"), sum("n").as("n_matches")), count(lit(1)).as("n_items"))
    val nI = c.getLong(0)
    // measured-count gate BEFORE any items-many collect; tests pass 0 to
    // force the distributed branch and assert both produce identical
    // ratings
    if (nI > localItemLimit)
      return bradleyTerryDistributed(dir, items, nI, rounds, scale)
    val itemField = items.schema("item")
    val itemRows = items.collect() // items-many — gated above
    val wins: Map[Any, Long] =
      itemRows.map(r => r.get(0) -> r.getLong(1)).toMap
    def literal(p: Map[Any, Long], iCol: String, pCol: String): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(p.toSeq.map { case (it, v) =>
          org.apache.spark.sql.Row(it, v) }: _*),
        org.apache.spark.sql.types.StructType(Seq(itemField.copy(name = iCol),
          org.apache.spark.sql.types.StructField(pCol,
            org.apache.spark.sql.types.LongType, nullable = false))))
    var p: Map[Any, Long] = wins.map { case (k, _) => k -> scale }
    for (_ <- 1 to rounds) {
      val denom = dir
        .join(broadcast(literal(p, "i", "_pi")), Seq("i"))
        .join(broadcast(literal(p, "j", "_pj")), Seq("j"))
        .select(col("i"), expr(s"n * ${big}L div (_pi + _pj)").as("_t"))
        .groupBy("i").agg(sum("_t").as("_den"))
        .collect().map(r => r.get(0) -> r.getLong(1)).toMap
      val raw: Map[Any, Long] = p.map { case (it, _) =>
        val den = denom.getOrElse(it, 0L)
        it -> (if (den == 0L) 0L else wins(it) * big / den)
      }
      val tot = raw.valuesIterator.sum
      p = if (tot == 0L) raw
      else raw.map { case (it, v) => it -> v * nI * scale / tot }
    }
    items.join(broadcast(literal(p, "item", "rating_micro")), Seq("item"))
      .select(col("item"), col("rating_micro"), col("wins"), col("n_matches"))
  }

  /** Unbounded-item-count branch of [[bradleyTerry]]: the ratings vector
    * is a materialized DataFrame joined (shuffle, item-keyed) into each MM
    * round; only two true scalars ever reach the driver (the item count
    * once, the renormalization total per round). The recurrence is the
    * same truncating positive-long arithmetic as the local branch —
    * `div` on LongType truncates exactly like driver `Long./` for
    * non-negative operands — so the two branches are bit-identical.
    */
  private def bradleyTerryDistributed(dir: DataFrame, items: DataFrame,
      nI: Long, rounds: Int, scale: Long): DataFrame = {
    val big = scale * scale
    var p = materialize(items.select(col("item"), lit(scale).as("_p")))
    for (_ <- 1 to rounds) {
      val denom = dir
        .join(p.select(col("item").as("i"), col("_p").as("_pi")), Seq("i"))
        .join(p.select(col("item").as("j"), col("_p").as("_pj")), Seq("j"))
        .select(col("i"), expr(s"n * ${big}L div (_pi + _pj)").as("_t"))
        .groupBy(col("i").as("item")).agg(sum("_t").as("_den"))
      val raw = items.join(denom, Seq("item"), "left")
        .select(col("item"),
          when(col("_den").isNull || col("_den") === 0L, lit(0L))
            .otherwise(expr(s"wins * ${big}L div _den")).as("_p"))
      val tot = raw.agg(coalesce(sum("_p"), lit(0L)))
        .collect()(0).getLong(0) // 1-row scalar, not the model
      p = materialize(if (tot == 0L) raw
        else raw.select(col("item"),
          expr(s"_p * ${nI}L * ${scale}L div ${tot}L").as("_p")))
    }
    items.join(p, Seq("item"))
      .select(col("item"), col("_p").as("rating_micro"), col("wins"),
        col("n_matches"))
  }

  /** DuckDB replay of [[bradleyTerry]] — unrolled integer CTE rounds,
    * generated side-by-side. `matchesSql` must yield
    * (item_a, item_b, wins_a, wins_b).
    */
  def bradleyTerryOracleSql(matchesSql: String, rounds: Int,
      scale: Long = 1000000L): String = {
    val big = scale * scale
    val head =
      s"""WITH M AS ($matchesSql),
         |dir AS MATERIALIZED (SELECT item_a AS i, item_b AS j,
         |    CAST(wins_a + wins_b AS BIGINT) AS n, CAST(wins_a AS BIGINT) AS w
         |  FROM M
         |  UNION ALL SELECT item_b, item_a, CAST(wins_a + wins_b AS BIGINT),
         |    CAST(wins_b AS BIGINT) FROM M),
         |items AS MATERIALIZED (SELECT i AS item, CAST(sum(w) AS BIGINT) AS wins,
         |    CAST(sum(n) AS BIGINT) AS n_matches FROM dir GROUP BY 1),
         |ni AS (SELECT count(*) AS c FROM items),
         |p0 AS MATERIALIZED (SELECT item, CAST($scale AS BIGINT) AS p FROM items)""".stripMargin
    val iters = (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT dir.i, CAST(sum(dir.n * $big // (pi.p + pj.p)) AS BIGINT) AS den
         |  FROM dir JOIN p${r - 1} pi ON pi.item = dir.i
         |  JOIN p${r - 1} pj ON pj.item = dir.j GROUP BY 1),
         |raw$r AS MATERIALIZED (SELECT items.item,
         |    CASE WHEN d$r.den IS NULL OR d$r.den = 0 THEN 0
         |      ELSE items.wins * $big // d$r.den END AS p
         |  FROM items LEFT JOIN d$r ON d$r.i = items.item),
         |t$r AS MATERIALIZED (SELECT CAST(sum(p) AS BIGINT) AS tp FROM raw$r),
         |p$r AS MATERIALIZED (SELECT item,
         |    CASE WHEN t$r.tp = 0 THEN 0
         |      ELSE p * ni.c * $scale // t$r.tp END AS p
         |  FROM raw$r, t$r, ni)""".stripMargin
    }
    ((head +: iters).mkString(",\n")) +
      s"""
         |SELECT items.item, CAST(p$rounds.p AS BIGINT) AS rating_micro,
         |  items.wins, items.n_matches
         |FROM items JOIN p$rounds ON p$rounds.item = items.item""".stripMargin
  }

  /** Difference-in-differences estimator: the causal-inference workhorse
    * for before/after × treatment/control designs —
    * `DiD = (T_post − T_pre) − (C_post − C_pre)` over cell means, which
    * cancels both the group's level difference and the common time trend.
    * Cells are exact cent/count integers; each mean is one divide; the
    * estimate is one fixed expression. Output: the four cells plus the
    * estimate on every row (single-row frame joined back would be the
    * alternative; a 2×2 is driver-trivial either way).
    */
  def diffInDiff(df: DataFrame, treatedCol: String, postCol: String,
      valueCol: String): DataFrame = {
    val cells = df.where(col(valueCol).isNotNull)
      .groupBy(col(treatedCol).cast("boolean").as("treated"),
        col(postCol).cast("boolean").as("post"))
      .agg(count(lit(1)).as("n"),
        sum(round(col(valueCol) * 100).cast("long")).as("_s"))
      .withColumn("mean_value",
        round(col("_s").cast("double") / col("n") / 100.0, 4))
    def cell(t: Boolean, p: Boolean) = cells
      .where(col("treated") === t && col("post") === p)
      .select((col("_s").cast("double") / col("n") / 100.0).as(s"_m_${t}_$p"))
    val did = cell(true, true).crossJoin(cell(true, false))
      .crossJoin(cell(false, true)).crossJoin(cell(false, false))
      .select(round((col("_m_true_true") - col("_m_true_false")) -
        (col("_m_false_true") - col("_m_false_false")), 4).as("did"))
    cells.select(col("treated"), col("post"), col("n"), col("mean_value"))
      .crossJoin(broadcast(did))
  }

  /** Cumulative Poisson(1) CDF thresholds for the bootstrap draw — shared
    * verbatim with the oracle SQL so both engines bin the same uniforms.
    */
  private[graft] val PoissonCdf: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183)

  /** Distributed Poisson bootstrap standard error of the mean (the
    * resampling scheme that works on unmaterializable data: instead of
    * drawing n rows with replacement per replicate, each row enters
    * replicate b with an independent Poisson(1) weight — one narrow pass
    * over `data × B`, no sampling shuffle). Weights come from md5-derived
    * uniforms binned by the Poisson(1) CDF, so every replicate is
    * reproducible in any engine with md5.
    *
    * Per replicate: weighted mean from exact cent/weight sums (one
    * divide), then QUANTIZED to micro-units; the across-replicate variance
    * is exact integer sums over those quantized means — order-free.
    * Output one row: n, B, the full-sample point estimate, and the
    * bootstrap SE.
    */
  def poissonBootstrapSE(df: DataFrame, idCol: String, valueCol: String,
      b: Int): DataFrame = {
    require(b >= 2, "need at least 2 replicates")
    val base = df.where(col(valueCol).isNotNull)
      .select(col(idCol).cast("string").as("_id"),
        round(col(valueCol) * 100).cast("long").as("_v"))
    val reps = base.withColumn("_b", explode(lit((0 until b).toArray)))
      .withColumn("_u",
        conv(substring(md5(concat(col("_id"), lit(":"), col("_b"))), 1, 12),
          16, 10).cast("long").cast("double") / lit(math.pow(16.0, 12)))
    val w = PoissonCdf.zipWithIndex.foldRight(lit(PoissonCdf.size): Column) {
      case ((thr, k), acc) => when(col("_u") < thr, k).otherwise(acc)
    }.cast("long")
    val full = base.agg(count(lit(1)).as("n"), sum("_v").as("_fs"))
    // replicate means are CENTERED on the full-sample mean before squaring:
    // squared absolute means in fine units overflow a long; squared
    // DEVIATIONS (the only part the variance needs) stay tiny. Both the
    // quantization scale (hundredth-cents) and the shared reference are
    // exact integers, so the variance is still an order-free integer sum.
    val ref = full.select(
      round(col("_fs").cast("double") / col("n") * 100).cast("long").as("_ref"))
    val perRep = reps.withColumn("_w", w)
      .groupBy("_b")
      .agg(sum(col("_w") * col("_v")).as("_ws"), sum(col("_w")).as("_ww"))
      .where(col("_ww") > 0)
      .crossJoin(broadcast(ref))
      .select((round(col("_ws").cast("double") / col("_ww") * 100).cast("long")
        - col("_ref")).as("_dq")) // deviation in hundredth-cents
    val rstats = perRep.agg(count(lit(1)).as("_nb"), sum("_dq").as("_sm"),
      sum(col("_dq") * col("_dq")).as("_sm2"))
    full.crossJoin(broadcast(rstats)).select(
      col("n"), col("_nb").as("b_reps"),
      round(col("_fs").cast("double") / col("n") / 100.0, 4).as("mean_value"),
      // SE = sqrt( (Σd² − (Σd)²/B) / (B−1) ), hundredth-cents → dollars
      round(sqrt((col("_sm2").cast("double") -
        col("_sm").cast("double") * col("_sm") / col("_nb")) /
        (col("_nb") - 1)) / 1e4, 4).as("bootstrap_se"))
  }

  /** Exact weighted median per group: the smallest value whose cumulative
    * weight reaches half the group's total — the robust center when
    * observations carry unequal mass (revenue-weighted price points,
    * token-weighted doc stats). The lower-median convention (2·cum ≥ total,
    * first in value order) keeps the answer a VALUE FROM THE DATA and the
    * whole computation exact integers: values in cents, weights as longs.
    *
    * Scale shape: one keyed aggregate to (group, value) mass, one
    * group-partitioned ordered window over the collapsed frame (distinct
    * values per group, not rows), one argmin via struct-min — no global
    * sort.
    */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String): DataFrame = {
    val base = df.where(col(valueCol).isNotNull && col(weightCol).isNotNull)
      .select(col(groupCol).as("_g"),
        round(col(valueCol) * 100).cast("long").as("_v"),
        col(weightCol).cast("long").as("_w"))
    val mass = base.groupBy("_g", "_v").agg(sum("_w").as("_m"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_g").orderBy("_v")
    val tot = mass.groupBy("_g").agg(sum("_m").as("_t"))
    mass.withColumn("_cum", sum(col("_m")).over(w))
      .join(broadcast(tot), Seq("_g"))
      .where(col("_cum") * 2 >= col("_t"))
      .groupBy(col("_g"))
      .agg(min(struct(col("_v"), col("_t"))).as("_s"))
      .select(col("_g").as(groupCol),
        round(col("_s").getField("_v") / 100.0, 2).as("weighted_median"),
        col("_s").getField("_t").as("total_weight"))
  }

  /** Deterministic mode per group: the most frequent value, ties resolved
    * to the smallest value (which a one-shot struct-max cannot express for
    * non-negatable types like strings — hence max-count first, then min
    * value among the tied). Two keyed aggregates over the collapsed
    * (group, value) frame plus one join on the tiny per-group max.
    */
  def modePerGroup(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    // one counting aggregate, then a struct-argmax (min over (-n, v) =
    // highest count, smallest value on ties) — no persist, no join-back;
    // the second aggregate is group-cardinality and map-side combinable
    df.where(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("_g"), col(valueCol).as("_v"))
      .agg(count(lit(1)).as("_n"))
      .groupBy("_g")
      .agg(min(struct((-col("_n")).as("nn"), col("_v").as("v"))).as("m"))
      .select(col("_g").as(groupCol), col("m.v").as("mode"),
        (-col("m.nn")).as("n_mode"))
  }

  /** Population Stability Index between a baseline and a current sample of
    * one numeric column — the standard ML-ops drift gate (PSI < 0.1 stable,
    * 0.1–0.25 drifting, > 0.25 shifted). Bins are equi-width over the
    * BASELINE's min/max (out-of-range current values clamp into the edge
    * bins); shares are Laplace-smoothed `(n+1)/(N+bins)` so empty bins
    * stay finite; per-bin contributions `(p−q)·ln(p/q)` are quantized to
    * integer nano-units BEFORE the total sum (order-free — the house
    * float-parity contract; ln itself is the same double in any libm-exact
    * engine, and the quantization absorbs sub-ulp variance).
    *
    * Scale shape: two counting aggregates (map-side combinable) over the
    * two samples, baseline stats broadcast; everything after is bins-sized.
    */
  def psi(base: DataFrame, current: DataFrame, valueCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, "nBins must be >= 2")
    val stats = base.agg(min(col(valueCol)).as("_lo"), max(col(valueCol)).as("_hi"))
    def binned(df: DataFrame) = df.where(col(valueCol).isNotNull)
      .crossJoin(broadcast(stats))
      .select(when(col("_hi") === col("_lo"), lit(0))
        .otherwise(least(greatest(
          floor((col(valueCol) - col("_lo")) * nBins / (col("_hi") - col("_lo")))
            .cast("int"), lit(0)), lit(nBins - 1))).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("_n"))
    val bins = spark_bins(nBins)
    val b = bins.join(binned(base), Seq("bin"), "left")
      .select(col("bin"), coalesce(col("_n"), lit(0L)).as("n_base"))
    val c = bins.join(binned(current), Seq("bin"), "left")
      .select(col("bin"), coalesce(col("_n"), lit(0L)).as("n_cur"))
    val tb = b.agg(sum("n_base").as("_tb"))
    val tc = c.agg(sum("n_cur").as("_tc"))
    val joined = b.join(c, Seq("bin"))
      .crossJoin(broadcast(tb)).crossJoin(broadcast(tc))
      .withColumn("p", (col("n_base") + 1).cast("double") / (col("_tb") + nBins))
      .withColumn("q", (col("n_cur") + 1).cast("double") / (col("_tc") + nBins))
      .withColumn("_contrib_q",
        round((col("p") - col("q")) * log(col("p") / col("q")) * 1e9)
          .cast("long"))
    val total = joined.agg(sum("_contrib_q").as("_psi_q"))
    joined.crossJoin(broadcast(total))
      .select(col("bin"), col("n_base"), col("n_cur"),
        round(col("p"), 6).as("p"), round(col("q"), 6).as("q"),
        round(col("_contrib_q") / 1e9, 6).as("contrib"),
        round(col("_psi_q") / 1e9, 6).as("psi_total"))
  }

  /** The 0..nBins-1 bin spine, so empty bins appear with zero counts. */
  private def spark_bins(nBins: Int): DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    spark.range(nBins).select(col("id").cast("int").as("bin"))
  }

  /** Cohen's kappa inter-annotator agreement between two categorical
    * columns — the label-quality gate for supervised training data
    * (agreement between two annotators, or between declared metadata and a
    * model's prediction, corrected for chance). κ = (p₀ − pₑ)/(1 − pₑ)
    * with p₀ the observed agreement rate and pₑ the chance rate from the
    * two marginals.
    *
    * Everything derives from exact integer counts: cells are one keyed
    * groupBy, marginals two rollups of the cells frame, and the chance
    * term Σ rowᵢ·colᵢ is a per-category long product summed over the
    * (tiny) category set — order-free in any partitioning. Rows where
    * either label is null are excluded (un-annotated, not disagreeing).
    * Product bound: rowᵢ·colᵢ ≤ n², so n must stay under ~3e9 — beyond
    * that, compute pₑ in decimal.
    */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = materialize(df.where(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("_a"), col(bCol).as("_b"))
      .agg(count(lit(1)).as("_o")))
    val tot = cells.agg(sum(col("_o")).as("n_obs"),
      sum(when(col("_a") === col("_b"), col("_o")).otherwise(lit(0L)))
        .as("n_agree"))
    val rowM = cells.groupBy(col("_a").as("_cat")).agg(sum("_o").as("_ra"))
    val colM = cells.groupBy(col("_b").as("_cat")).agg(sum("_o").as("_cb"))
    // inner join: a category missing from either marginal contributes 0
    val peNum = rowM.join(colM, Seq("_cat"))
      .agg(coalesce(sum(col("_ra") * col("_cb")), lit(0L)).as("_pe_num"))
    val po = col("n_agree").cast("double") / col("n_obs")
    val pe = col("_pe_num").cast("double") / (col("n_obs") * col("n_obs"))
    tot.crossJoin(peNum).select(
      col("n_obs"), col("n_agree"),
      round(po, 6).as("po"), round(pe, 6).as("pe"),
      // pe = 1 (a single category on both sides) leaves κ undefined (0/0)
      // — surface NULL instead of an ANSI divide-by-zero
      when(pe === 1.0, lit(null).cast("double"))
        .otherwise(round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
  }

  /** Exact covariance + correlation matrix over the first `dims` dimensions
    * of an embedding column, in ONE scan — the sufficient statistic for
    * driver-side PCA/whitening (dims² numbers regardless of corpus size;
    * eigen-decomposition of a dims×dims matrix is driver-trivial).
    *
    * Determinism: each element is quantized to integer micro-units BEFORE
    * aggregation, so every per-pair product sum is an exact long in any
    * partitioning (order-free, engine-portable); population cov/corr are
    * then fixed IEEE expressions over those integer sums. Product sums
    * bound: |q| ≤ 1e6·max|e|, so Σ qᵢqⱼ fits a long up to ~1e6 rows per
    * unit-scale dimension pair — beyond that, shard the sum or drop to
    * decimal; the overflow is loud (ANSI), not silent.
    *
    * Scale shape: one aggregate with `dims(dims+1)/2 + dims + 1` map-side-
    * combinable expressions — a single reduce to ONE row; the (i, j) cells
    * are exploded from that row, so nothing row-sized ever shuffles.
    */
  def covarianceMatrix(df: DataFrame, vecCol: String, dims: Int): DataFrame = {
    require(dims >= 2 && dims <= 32, s"dims must be in [2, 32], got $dims")
    val base = df.select((0 until dims).map(i =>
      round(col(vecCol).getItem(i).cast("double") * 1e6).cast("long")
        .as(s"_q$i")): _*)
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("_n")) ++
        (0 until dims).map(i => sum(col(s"_q$i")).as(s"_s$i")) ++
        (for { i <- 0 until dims; j <- i until dims }
          yield sum(col(s"_q$i") * col(s"_q$j")).as(s"_p${i}_$j"))
    val one = base.agg(aggs.head, aggs.tail: _*)
    def covExpr(i: Int, j: Int): Column =
      (col(s"_p${i}_$j").cast("double") -
        col(s"_s$i").cast("double") * col(s"_s$j") / col("_n")) /
        col("_n") / 1e12
    val cells = for { i <- 0 until dims; j <- i until dims } yield
      struct(lit(i).as("dim_i"), lit(j).as("dim_j"),
        round(covExpr(i, j), 9).as("cov"),
        round(covExpr(i, j) / sqrt(covExpr(i, i) * covExpr(j, j)), 6)
          .as("corr"))
    one.select(explode(array(cells: _*)).as("_c"))
      .select(col("_c.dim_i"), col("_c.dim_j"), col("_c.cov"), col("_c.corr"))
  }

  /** DuckDB replay of [[covarianceMatrix]] — generated side-by-side so the
    * quantization, the integer sums, and the final IEEE expressions match
    * term for term.
    */
  def covarianceMatrixOracleSql(table: String, vecCol: String, dims: Int): String = {
    val sums = (0 until dims).map(i => s"sum(v[${i + 1}]) AS s$i") ++
      (for { i <- 0 until dims; j <- i until dims }
        yield s"sum(v[${i + 1}] * v[${j + 1}]) AS p${i}_$j")
    def cov(i: Int, j: Int) =
      s"(CAST(p${i}_$j AS DOUBLE) - CAST(s$i AS DOUBLE) * s$j / n) / n / 1e12"
    val cells = for { i <- 0 until dims; j <- i until dims } yield
      s"""SELECT $i AS dim_i, $j AS dim_j, round(${cov(i, j)}, 9) AS cov,
         |  round(${cov(i, j)} / sqrt((${cov(i, i)}) * (${cov(j, j)})), 6) AS corr
         |FROM a""".stripMargin
    s"""WITH q AS (SELECT list_transform($vecCol[1:$dims],
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS v FROM $table),
       |a AS (SELECT count(*) AS n, ${sums.mkString(", ")} FROM q)
       |${cells.mkString("\nUNION ALL\n")}
       |ORDER BY 1, 2""".stripMargin
  }

  /** Isotonic (monotone nondecreasing) calibration of a binary outcome
    * against an ordinal score — the PAV fit a ranker/classifier's scores
    * pass through before use as probabilities (Zadrozny & Elkan 2002).
    * Computed via the minimax identity instead of the sequential
    * pool-adjacent-violators scan:
    *
    *   fit(i) = max_{j ≤ i} min_{k ≥ i} mean(y over score-bins j..k)
    *
    * which is pure joins/aggregates over the BIN table — no sequential
    * state, so both engines replay it exactly.
    *
    * Scale shape: the data-sized work is ONE keyed aggregate to per-bin
    * (n, positives) — map-side combinable, B rows out. The O(B³) minimax
    * runs on the bin table (B = #distinct scores, e.g. 11 discount
    * levels), which is broadcast-tiny by construction; callers with
    * continuous scores bucket them first. Window means are exact integer
    * ratios divided once in double (identical IEEE op both sides).
    *
    * Output: one row per bin — score, n, p_raw, p_iso (6 dp), p_iso
    * nondecreasing in score.
    */
  def isotonicCalibration(df: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    val bins = df.groupBy(col(scoreCol).as("score"))
      .agg(count(lit(1)).as("n"),
        sum(col(labelCol).cast("long")).as("s"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("score")
    val b = bins.select(col("score"), col("n"), col("s"),
      row_number().over(w).as("idx"),
      sum(col("n")).over(w).as("cn"), sum(col("s")).over(w).as("cs"))
    val j = b.select(col("idx").as("jidx"), col("n").as("jn"),
      col("s").as("js"), col("cn").as("jcn"), col("cs").as("jcs"))
    val k = b.select(col("idx").as("kidx"), col("cn").as("kcn"),
      col("cs").as("kcs"))
    // window mean over bins j..k: (cs_k − cs_j + s_j)/(cn_k − cn_j + n_j)
    val windows = j.join(k, col("jidx") <= col("kidx"))
      .select(col("jidx"), col("kidx"),
        ((col("kcs") - col("jcs") + col("js")).cast("double") /
          (col("kcn") - col("jcn") + col("jn"))).as("wmean"))
    val fits = b.select(col("idx"), col("score"), col("n"), col("s"))
      .join(windows, col("jidx") <= col("idx") && col("kidx") >= col("idx"))
      .groupBy("idx", "score", "n", "s", "jidx")
      .agg(min("wmean").as("mn"))
      .groupBy("idx", "score", "n", "s").agg(max("mn").as("p_iso"))
    fits.select(col("score"), col("n"),
      round(col("s").cast("double") / col("n"), 6).as("p_raw"),
      round(col("p_iso"), 6).as("p_iso"))
  }

  /** DuckDB replay of [[isotonicCalibration]]. `scoreExpr`/`labelExpr`
    * are SQL expressions over `table` rows (label must be 0/1).
    */
  def isotonicOracleSql(table: String, scoreExpr: String,
      labelExpr: String): String =
    s"""WITH bins AS (SELECT $scoreExpr AS score, count(*)::BIGINT AS n,
       |    sum($labelExpr)::BIGINT AS s FROM $table GROUP BY 1),
       |b AS (SELECT score, n, s,
       |    row_number() OVER (ORDER BY score) AS idx,
       |    sum(n) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cn,
       |    sum(s) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cs
       |  FROM bins),
       |w AS (SELECT j.idx AS jidx, k.idx AS kidx,
       |    (k.cs - j.cs + j.s)::DOUBLE / (k.cn - j.cn + j.n) AS wmean
       |  FROM b j JOIN b k ON j.idx <= k.idx),
       |inner_min AS (SELECT i.idx, i.score, i.n, i.s, w.jidx,
       |    min(w.wmean) AS mn
       |  FROM b i JOIN w ON w.jidx <= i.idx AND w.kidx >= i.idx
       |  GROUP BY 1, 2, 3, 4, 5),
       |fit AS (SELECT idx, score, n, s, max(mn) AS p_iso
       |  FROM inner_min GROUP BY 1, 2, 3, 4)
       |SELECT score, n, round(s::DOUBLE / n, 6) AS p_raw,
       |  round(p_iso, 6) AS p_iso
       |FROM fit ORDER BY score""".stripMargin

  /** Dominant eigenvector of the embedding covariance by integer power
    * iteration — the PCA-direction primitive (data-drift axes, spectral
    * initialization) without any eigensolver dependency. The DATA-sized
    * work is one pass accumulating the integer second-moment sums
    * (`n, Σv_i, Σv_i·v_j` over micro-quantized coordinates — the same
    * sufficient-statistics shape as [[covarianceMatrix]]); the iteration
    * then runs on the driver over the dims² exact BigInt covariance
    * `C = n·P − s·sᵀ`, with a NORM-FREE renormalization (divide by
    * max|component| via floor-division — no sqrt) so every step is exact
    * integer arithmetic an engine replays verbatim. Start vector is
    * all-ones; `iters` fixed rounds.
    *
    * Returns one row per dimension: (dim_i, v_milli — the eigenvector
    * component in 10⁶-units — plus the Rayleigh quotient estimate of the
    * eigenvalue, raw-value² units, identical on every row).
    */
  def powerIteration(df: DataFrame, vecCol: String, dims: Int,
      iters: Int): DataFrame = {
    require(dims >= 2 && iters >= 1, "dims >= 2 and iters >= 1")
    val q = df.select(org.apache.spark.sql.functions.transform(
      slice(col(vecCol), 1, dims),
      x => round(x.cast("double") * 1e6, 0).cast("long")).as("v"))
    val sums: Seq[Column] =
      (count(lit(1)).cast("long").as("n") +:
        (0 until dims).map(i => sum(element_at(col("v"), i + 1)).as(s"s$i"))) ++
        (for { i <- 0 until dims; j <- i until dims }
          yield sum(element_at(col("v"), i + 1) * element_at(col("v"), j + 1))
            .as(s"p${i}_$j"))
    val r = q.agg(sums.head, sums.tail: _*).head()
    val n = BigInt(r.getAs[Long]("n"))
    val s = Array.tabulate(dims)(i => BigInt(r.getAs[Long](s"s$i")))
    def p(i: Int, j: Int) =
      BigInt(r.getAs[Long](if (i <= j) s"p${i}_$j" else s"p${j}_$i"))
    val c = Array.tabulate(dims, dims)((i, j) => n * p(i, j) - s(i) * s(j))
    var v = Array.fill(dims)(BigInt(1000000))
    for (_ <- 1 to iters) {
      val mv = Array.tabulate(dims)(i =>
        (0 until dims).map(j => c(i)(j) * v(j)).sum)
      val mx = mv.map(_.abs).max.max(BigInt(1))
      // BigInt `/` truncates toward zero — exactly DuckDB's HUGEINT `//`
      v = mv.map(x => x * BigInt(1000000) / mx)
    }
    val num = (for { i <- 0 until dims; j <- 0 until dims }
      yield v(i) * c(i)(j) * v(j)).sum
    val den = v.map(x => x * x).sum * n * n
    // Rayleigh in raw units: vᵀCv/(vᵀv·n²) · 1e-12 (C carries n²·1e12·cov)
    val lambda = BigDecimal(num.toDouble / den.toDouble / 1e12)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark = df.sparkSession
    import spark.implicits._
    (0 until dims).map(i => (i.toLong, v(i).toLong, lambda))
      .toDF("dim_i", "v_milli", "lambda")
  }

  /** DuckDB replay of [[powerIteration]] — covariance cells as a dims²-row
    * CTE, iterations unrolled as matvec+renormalize pairs, all HUGEINT.
    */
  def powerIterationOracleSql(table: String, vecCol: String, dims: Int,
      iters: Int): String = {
    val sums = (0 until dims).map(i => s"sum(v[${i + 1}])::HUGEINT AS s$i") ++
      (for { i <- 0 until dims; j <- i until dims }
        yield s"sum(v[${i + 1}] * v[${j + 1}])::HUGEINT AS p${i}_$j")
    val cells = (for { i <- 0 until dims; j <- 0 until dims } yield {
      val pn = if (i <= j) s"p${i}_$j" else s"p${j}_$i"
      s"SELECT $i AS i, $j AS j, n * $pn - s$i * s$j AS c FROM a"
    }).mkString("\n  UNION ALL ")
    val itersSql = (1 to iters).map { k =>
      s"""mv$k AS (SELECT c.i, sum(c.c * v.x) AS m FROM c
         |  JOIN v${k - 1} v ON v.i = c.j GROUP BY 1),
         |mx$k AS (SELECT greatest(max(abs(m)), 1) AS mx FROM mv$k),
         |v$k AS (SELECT i, (m * 1000000) // mx AS x
         |  FROM mv$k CROSS JOIN mx$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT list_transform($vecCol[1:$dims],
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)) AS v
       |  FROM $table),
       |a AS (SELECT count(*)::HUGEINT AS n, ${sums.mkString(", ")} FROM q),
       |c AS ($cells),
       |v0 AS (SELECT i, 1000000::HUGEINT AS x
       |  FROM (SELECT DISTINCT i FROM c)),
       |$itersSql,
       |ray AS (SELECT
       |    (SELECT sum(vi.x * c.c * vj.x) FROM c
       |      JOIN v$iters vi ON vi.i = c.i JOIN v$iters vj ON vj.i = c.j)
       |    ::DOUBLE /
       |    ((SELECT sum(x * x) FROM v$iters) * (SELECT n * n FROM a))::DOUBLE
       |    / 1e12 AS l)
       |SELECT v.i::BIGINT AS dim_i, v.x::BIGINT AS v_milli,
       |  round(ray.l, 9) AS lambda
       |FROM v$iters v CROSS JOIN ray ORDER BY dim_i""".stripMargin
  }

  /** Per-group simple linear regression — the classical counterpart to
    * [[theilSenSlope]] over the same (group, x, y) rows, and the grouped
    * face of [[Regression]]: ONE keyed aggregate of the five integer
    * sufficient statistics per group, then fixed-order IEEE expressions
    * for slope/intercept/R² (covariance form, so engines agree exactly).
    * Millions of groups = millions of independent 5-long aggregates; no
    * joins, no iteration.
    */
  def groupedOls(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol).cast("long"); val y = col(yCol).cast("long")
    val g = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("_n"), sum(x).as("_sx"), sum(y).as("_sy"),
        sum(x * x).as("_sxx"), sum(x * y).as("_sxy"), sum(y * y).as("_syy"))
    val sxx = (col("_n") * col("_sxx") - col("_sx") * col("_sx")).cast("double")
    val sxy = (col("_n") * col("_sxy") - col("_sx") * col("_sy")).cast("double")
    val syy = (col("_n") * col("_syy") - col("_sy") * col("_sy")).cast("double")
    val slope = sxy / sxx
    g.select(col(groupCol), col("_n").as("n_obs"),
      round(slope, 6).as("slope"),
      round((col("_sy") - slope * col("_sx")) / col("_n"), 6).as("intercept"),
      round(sxy * sxy / (sxx * syy), 6).as("r2"))
  }

  /** DuckDB replay of [[groupedOls]] over `(g, x, y)` rows. */
  def groupedOlsOracleSql(srcSql: String): String =
    s"""WITH a AS ($srcSql),
       |s AS (SELECT g, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
       |    sum(y)::BIGINT AS sy, sum(x*x)::BIGINT AS sxx,
       |    sum(x*y)::BIGINT AS sxy, sum(y*y)::BIGINT AS syy
       |  FROM a GROUP BY 1)
       |SELECT g, n AS n_obs,
       |  round((n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE, 6) AS slope,
       |  round((sy - ((n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE) * sx)
       |    / n, 6) AS intercept,
       |  round((n*sxy - sx*sy)::DOUBLE * (n*sxy - sx*sy)::DOUBLE /
       |    ((n*sxx - sx*sx)::DOUBLE * (n*syy - sy*sy)::DOUBLE), 6) AS r2
       |FROM s""".stripMargin

  /** Split-conformal prediction interval for the next step of each series
    * — distribution-free coverage on top of the [[groupedOls]] trend fit:
    * the interval is `ŷ(x*) ± q` with q the ⌈(n+1)·(1−α)⌉-th smallest
    * absolute residual of the fit (the conformal calibration quantile),
    * x* = max(x)+1. The quantile rank uses exact integer ceil-division;
    * residuals quantize to micro-units before ranking (ties break on x),
    * so the chosen q — and hence the interval — replays in any engine.
    * `alphaPct` = 10 means 90% target coverage.
    *
    * Scale shape: one 5-stat aggregate per group broadcast back + one
    * per-group ordered window over the residuals — parallel across
    * series.
    */
  def conformalNextInterval(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, alphaPct: Int = 10): DataFrame = {
    require(alphaPct >= 1 && alphaPct <= 50, "alphaPct in [1, 50]")
    val x = col(xCol).cast("long"); val y = col(yCol).cast("long")
    val g = df.groupBy(col(groupCol).as("_g"))
      .agg(count(lit(1)).as("_n"), sum(x).as("_sx"), sum(y).as("_sy"),
        sum(x * x).as("_sxx"), sum(x * y).as("_sxy"), max(x).as("_mx"))
    val slope = (col("_n") * col("_sxy") - col("_sx") * col("_sy"))
      .cast("double") /
      (col("_n") * col("_sxx") - col("_sx") * col("_sx")).cast("double")
    val icept = (col("_sy") - slope * col("_sx")) / col("_n")
    val fit = g.select(col("_g"), col("_n"), col("_mx"),
      slope.as("_b1"), icept.as("_b0"))
    val rows = df.select(col(groupCol).as("_g"), x.as("_x"), y.as("_y"))
      .join(broadcast(fit), Seq("_g"))
      .withColumn("_rq",
        round(abs(col("_y") - (col("_b0") + col("_b1") * col("_x"))) * 1e6, 0)
          .cast("long"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("_g")
      .orderBy(col("_rq"), col("_x"))
    val conf = lit(100 - alphaPct)
    val k = expr(s"((100 - $alphaPct) * (_n + 1) + 99) div 100")
    rows.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === least(k, col("_n")))
      .select(col("_g").as(groupCol), col("_n").as("n_obs"),
        (col("_mx") + 1).as("x_star"),
        round(col("_b0") + col("_b1") * (col("_mx") + 1), 2).as("yhat"),
        round(col("_b0") + col("_b1") * (col("_mx") + 1) -
          col("_rq").cast("double") / 1e6, 2).as("lo"),
        round(col("_b0") + col("_b1") * (col("_mx") + 1) +
          col("_rq").cast("double") / 1e6, 2).as("hi"),
        conf.cast("long").as("conf_pct"))
  }

  /** DuckDB replay of [[conformalNextInterval]] over `(g, x, y)` rows. */
  def conformalOracleSql(srcSql: String, alphaPct: Int = 10): String =
    s"""WITH a AS ($srcSql),
       |s AS (SELECT g, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
       |    sum(y)::BIGINT AS sy, sum(x*x)::BIGINT AS sxx,
       |    sum(x*y)::BIGINT AS sxy, max(x)::BIGINT AS mx
       |  FROM a GROUP BY 1),
       |fit AS (SELECT g, n, mx,
       |    (n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE AS b1,
       |    (sy - ((n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE) * sx)
       |      / n AS b0
       |  FROM s),
       |r AS (SELECT a.g, a.x,
       |    CAST(round(abs(a.y - (f.b0 + f.b1 * a.x)) * 1e6, 0) AS BIGINT)
       |      AS rq, f.n, f.mx, f.b0, f.b1,
       |    row_number() OVER (PARTITION BY a.g ORDER BY
       |      CAST(round(abs(a.y - (f.b0 + f.b1 * a.x)) * 1e6, 0) AS BIGINT),
       |      a.x) AS rn
       |  FROM a JOIN fit f ON f.g = a.g)
       |SELECT g, n AS n_obs, (mx + 1)::BIGINT AS x_star,
       |  round(b0 + b1 * (mx + 1), 2) AS yhat,
       |  round(b0 + b1 * (mx + 1) - rq::DOUBLE / 1e6, 2) AS lo,
       |  round(b0 + b1 * (mx + 1) + rq::DOUBLE / 1e6, 2) AS hi,
       |  ${100 - alphaPct}::BIGINT AS conf_pct
       |FROM r
       |WHERE rn = least(((${100 - alphaPct}) * (n + 1) + 99) // 100, n)
       |ORDER BY g""".stripMargin

  /** Theil–Sen robust trend per series: the median of all pairwise slopes
    * `(y_j − y_i)/(x_j − x_i)`, the estimator that shrugs off up to ~29%
    * outliers where OLS folds. Median selection is deterministic: pairs
    * sort by (slope, x_i, x_j) and the lower median (row ⌈n/2⌉) is taken,
    * so engines agree even on tied slopes.
    *
    * Scale shape: the pair join is per-series (the join key is the series
    * id), so cost is Σ_g C(len_g, 2) — the millions-of-short-series case
    * is cheap and embarrassingly parallel; a single very long series needs
    * pair sampling first (caller's responsibility, documented contract).
    * Inputs are integer-quantized (x: ordinal, y: cents), slopes are one
    * double division each.
    */
  def theilSenSlope(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val a = df.select(col(groupCol).as("_g"), col(xCol).cast("long").as("xi"),
      col(yCol).cast("long").as("yi"))
    val b = a.select(col("_g"), col("xi").as("xj"), col("yi").as("yj"))
    val pairs = a.join(b, Seq("_g")).where(col("xi") < col("xj"))
      .withColumn("slope",
        (col("yj") - col("yi")).cast("double") / (col("xj") - col("xi")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("_g")
      .orderBy(col("slope"), col("xi"), col("xj"))
    pairs
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("_g")))
      .where(col("_rn") === expr("(_n + 1) div 2"))
      .select(col("_g").as(groupCol), col("_n").as("n_pairs"),
        round(col("slope"), 6).as("ts_slope"))
  }

  /** DuckDB replay of [[theilSenSlope]] over `(g, x, y)` rows. */
  def theilSenOracleSql(srcSql: String): String =
    s"""WITH a AS ($srcSql),
       |p AS (SELECT a._g, a.x AS xi, b.x AS xj,
       |    (b.y - a.y)::DOUBLE / (b.x - a.x) AS slope
       |  FROM a JOIN a b ON a._g = b._g AND a.x < b.x),
       |r AS (SELECT _g, slope,
       |    row_number() OVER (PARTITION BY _g ORDER BY slope, xi, xj) AS rn,
       |    count(*) OVER (PARTITION BY _g) AS n
       |  FROM p)
       |SELECT _g, n::BIGINT AS n_pairs, round(slope, 6) AS ts_slope
       |FROM r WHERE rn = (n + 1) // 2""".stripMargin

  /** Leave-one-out target encoding with additive smoothing — the standard
    * high-cardinality-categorical feature for tree/linear models, built
    * leakage-free (each row's own label is excluded from its group
    * statistic) and smoothed toward the global prior:
    *
    *   enc_i = (S_g − y_i + m·prior) / (n_g − 1 + m),  prior = S_tot/N
    *
    * evaluated as ONE exact integer ratio `((S_g − y_i)·N + m·S_tot) /
    * ((n_g − 1 + m)·N)` — numerator and denominator are exact longs, so
    * the single double division replays identically in any engine.
    *
    * Scale shape: a per-group sum/count (one unsorted window partition —
    * equivalently an aggregate + broadcast-back join) + a 1-row global
    * aggregate broadcast into a narrow per-row expression. No per-row
    * state, no fold.
    */
  def targetEncodeLoo(df: DataFrame, groupCol: String, labelCol: String,
      m: Int): DataFrame = {
    require(m >= 1, "smoothing m must be >= 1")
    val y = col(labelCol).cast("long")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
    val withGroup = df
      .withColumn("_sg", sum(y).over(w))
      .withColumn("_ng", count(lit(1)).over(w))
    val totals = df.agg(sum(y).as("_st"), count(lit(1)).as("_nt"))
    withGroup.crossJoin(broadcast(totals))
      .withColumn("enc", round(
        ((col("_sg") - y) * col("_nt") + lit(m.toLong) * col("_st"))
          .cast("double") /
          ((col("_ng") - 1 + m) * col("_nt")), 6))
      .drop("_sg", "_ng", "_st", "_nt")
  }

  /** DuckDB replay of [[targetEncodeLoo]]: same window/global sums, same
    * single-division expression. `cols` = pass-through output columns.
    */
  def targetEncodeLooSql(table: String, groupCol: String, labelExpr: String,
      m: Int, cols: Seq[String]): String =
    s"""WITH b AS (SELECT ${cols.mkString(", ")}, $labelExpr AS y,
       |    sum($labelExpr) OVER (PARTITION BY $groupCol) AS sg,
       |    count(*) OVER (PARTITION BY $groupCol) AS ng
       |  FROM $table),
       |t AS (SELECT sum(y) AS st, count(*) AS nt FROM b)
       |SELECT ${cols.mkString(", ")},
       |  round(((sg - y) * nt + $m * st)::DOUBLE /
       |    ((ng - 1 + $m) * nt), 6) AS enc
       |FROM b CROSS JOIN t""".stripMargin

  /** Two-sample Kolmogorov–Smirnov statistic between the `valueCol`
    * distributions of groups `gA` and `gB` — the nonparametric
    * distribution-drift test PSI's binning can blunt. The D statistic is
    * EXACT: at every observed value v, |F_A(v) − F_B(v)| =
    * |cumA·n_B − cumB·n_A| / (n_A·n_B), an integer numerator over a
    * constant denominator — no floating CDFs, no ties ambiguity (steps
    * evaluate after both groups' jumps at v, the standard two-sided
    * convention). Output one row: n_a, n_b, the argmax value (smallest on
    * ties), d_num (exact integer) and d (6 dp).
    *
    * Scale shape: one keyed count per distinct value (map-side combines),
    * then a running-sum window over the DISTINCT-VALUE table ordered by
    * value. The window is unpartitioned by design: its input is the value
    * domain, not the data — callers quantize (cents here) so the domain
    * stays bounded at any corpus size. Caller contract: `cum·n` must fit
    * a long (n_A·n_B ≤ ~9e18).
    */
  def ksTest(df: DataFrame, groupCol: String, valueCol: String,
      gA: String, gB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = df
      .where(col(groupCol).isin(gA, gB))
      .groupBy(col(valueCol).cast("long").as("v"))
      .agg(sum(when(col(groupCol) === gA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === gB, 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells
      .withColumn("cuma", sum("ca").over(w))
      .withColumn("cumb", sum("cb").over(w))
    val tot = cum.agg(max("cuma").as("n_a"), max("cumb").as("n_b"))
    cum.crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"), col("v"),
        abs(col("cuma") * col("n_b") - col("cumb") * col("n_a")).as("_d"))
      .groupBy("n_a", "n_b")
      .agg(max(struct(col("_d"), (-col("v")).as("_nv"))).as("_mx"))
      .select(col("n_a"), col("n_b"),
        (-col("_mx._nv")).as("at_value"),
        col("_mx._d").as("d_num"),
        round(col("_mx._d").cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 6).as("d"))
  }

  /** DuckDB replay of [[ksTest]]; `srcSql` must produce (g VARCHAR,
    * v BIGINT) rows already filtered to the two groups' raw rows.
    */
  def ksTestOracleSql(srcSql: String, gA: String, gB: String): String =
    s"""WITH src AS ($srcSql),
       |cells AS (SELECT v,
       |    sum(CASE WHEN g = '$gA' THEN 1 ELSE 0 END)::BIGINT AS ca,
       |    sum(CASE WHEN g = '$gB' THEN 1 ELSE 0 END)::BIGINT AS cb
       |  FROM src GROUP BY 1),
       |cum AS (SELECT v,
       |    sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND CURRENT ROW)::BIGINT AS cuma,
       |    sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND CURRENT ROW)::BIGINT AS cumb
       |  FROM cells),
       |tot AS (SELECT max(cuma)::BIGINT AS n_a, max(cumb)::BIGINT AS n_b
       |  FROM cum),
       |d AS (SELECT t.n_a, t.n_b, c.v,
       |    abs(c.cuma * t.n_b - c.cumb * t.n_a)::BIGINT AS dd
       |  FROM cum c CROSS JOIN tot t),
       |mx AS (SELECT n_a, n_b, max(dd) AS d_num FROM d GROUP BY 1, 2)
       |SELECT m.n_a, m.n_b,
       |  (SELECT min(v) FROM d WHERE d.dd = m.d_num) AS at_value,
       |  m.d_num,
       |  round(m.d_num::DOUBLE / (m.n_a * m.n_b)::DOUBLE, 6) AS d
       |FROM mx m""".stripMargin

  /** Mutual information and entropies of two categorical columns — the
    * feature-relevance / redundancy screen (complements [[chi2]]'s
    * independence test with an information-theoretic effect size).
    * H(A), H(B), H(A,B) and I(A;B) = H(A)+H(B)−H(A,B) each accumulate
    * per-level/per-cell nats QUANTIZED to nano-units the instant they
    * leave libm (`round(1e9·(n/N)·ln(n/N))`), so the distributed sums are
    * exact integers (order-free, engine-identical); MI additionally
    * reports the direct per-cell form Σ (n_ab/N)·ln(n_ab·N/(n_a·n_b)).
    *
    * Scale shape: ONE keyed (a,b) counting aggregate over the data;
    * marginals and entropy terms derive from the CELL table (cardinality
    * |A|·|B|, not rows). Output one row: n, n_cells, h_a, h_b, h_ab, mi
    * (6 dp each).
    */
  def mutualInfo(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = materialize(df.groupBy(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
      .agg(count(lit(1)).as("nab")))
    val ma = cells.groupBy("a").agg(sum("nab").as("na"))
    val mb = cells.groupBy("b").agg(sum("nab").as("nb"))
    val nn = cells.agg(sum("nab").as("nn"), count(lit(1)).as("n_cells"))
    def entQ(cnt: Column, n: Column): Column =
      round(lit(-1e9) * (cnt.cast("double") / n.cast("double")) *
        log(cnt.cast("double") / n.cast("double"))).cast("long")
    val ha = ma.crossJoin(broadcast(nn))
      .agg(sum(entQ(col("na"), col("nn"))).as("ha_q"))
    val hb = mb.crossJoin(broadcast(nn))
      .agg(sum(entQ(col("nb"), col("nn"))).as("hb_q"))
    val hab = cells.crossJoin(broadcast(nn))
      .agg(sum(entQ(col("nab"), col("nn"))).as("hab_q"))
    val mi = cells.join(broadcast(ma), Seq("a")).join(broadcast(mb), Seq("b"))
      .crossJoin(broadcast(nn))
      .agg(sum(round(lit(1e9) *
        (col("nab").cast("double") / col("nn").cast("double")) *
        log((col("nab") * col("nn")).cast("double") /
          (col("na") * col("nb")).cast("double"))).cast("long")).as("mi_q"))
    val out = nn.crossJoin(broadcast(ha)).crossJoin(broadcast(hb))
      .crossJoin(broadcast(hab)).crossJoin(broadcast(mi))
      .select(col("nn").as("n"), col("n_cells"),
        round(col("ha_q").cast("double") / 1e9, 6).as("h_a"),
        round(col("hb_q").cast("double") / 1e9, 6).as("h_b"),
        round(col("hab_q").cast("double") / 1e9, 6).as("h_ab"),
        round(col("mi_q").cast("double") / 1e9, 6).as("mi"))
    out
  }

  /** DuckDB replay of [[mutualInfo]]; `srcSql` must produce (a, b) VARCHAR
    * rows.
    */
  def mutualInfoOracleSql(srcSql: String): String =
    s"""WITH src AS ($srcSql),
       |cells AS (SELECT a, b, count(*)::BIGINT AS nab FROM src GROUP BY 1, 2),
       |ma AS (SELECT a, sum(nab)::BIGINT AS na FROM cells GROUP BY 1),
       |mb AS (SELECT b, sum(nab)::BIGINT AS nb FROM cells GROUP BY 1),
       |nn AS (SELECT sum(nab)::BIGINT AS nn, count(*)::BIGINT AS n_cells
       |  FROM cells),
       |ha AS (SELECT sum(CAST(round(-1e9 * (na::DOUBLE / nn::DOUBLE) *
       |    ln(na::DOUBLE / nn::DOUBLE)) AS BIGINT)) AS ha_q
       |  FROM ma CROSS JOIN nn),
       |hb AS (SELECT sum(CAST(round(-1e9 * (nb::DOUBLE / nn::DOUBLE) *
       |    ln(nb::DOUBLE / nn::DOUBLE)) AS BIGINT)) AS hb_q
       |  FROM mb CROSS JOIN nn),
       |hab AS (SELECT sum(CAST(round(-1e9 * (nab::DOUBLE / nn::DOUBLE) *
       |    ln(nab::DOUBLE / nn::DOUBLE)) AS BIGINT)) AS hab_q
       |  FROM cells CROSS JOIN nn),
       |mi AS (SELECT sum(CAST(round(1e9 *
       |    (c.nab::DOUBLE / nn::DOUBLE) *
       |    ln((c.nab * nn)::DOUBLE / (ma.na * mb.nb)::DOUBLE)) AS BIGINT))
       |    AS mi_q
       |  FROM cells c JOIN ma ON ma.a = c.a JOIN mb ON mb.b = c.b
       |  CROSS JOIN nn)
       |SELECT nn.nn AS n, nn.n_cells,
       |  round(ha.ha_q::DOUBLE / 1e9, 6) AS h_a,
       |  round(hb.hb_q::DOUBLE / 1e9, 6) AS h_b,
       |  round(hab.hab_q::DOUBLE / 1e9, 6) AS h_ab,
       |  round(mi.mi_q::DOUBLE / 1e9, 6) AS mi
       |FROM nn CROSS JOIN ha CROSS JOIN hb CROSS JOIN hab CROSS JOIN mi"""
      .stripMargin

  /** Average treatment effect on the treated (ATT) by exact stratified
    * matching — the covariate-adjustment estimator observational data
    * needs where [[diffInDiff]] needs a pre-period: within each stratum
    * (the quantized covariate — equivalently, any monotone propensity's
    * bins), treated and control outcome means difference out; strata
    * without BOTH arms drop (the common-support rule); strata terms weight
    * by treated count.
    *
    * Exactness: per matched stratum the control mean quantizes to
    * micro-units by integer floor division (`mc_q = (S_c·1e6) div n_c`,
    * outcomes must be ≥ 0), the stratum term `S_t·1e6 − n_t·mc_q` is an
    * exact integer, and ATT = Σterms / (1e6·N_t) is ONE double division.
    * The naive (unadjusted) difference rides along for contrast.
    *
    * Scale shape: ONE keyed aggregate by stratum with conditional sums,
    * then a strata-cardinality rollup. Caller contract: Σ n_t·mc_q fits a
    * long (outcome·rows ≤ ~9e18 micro-units).
    */
  def attMatched(df: DataFrame, treatCol: String, outcomeCol: String,
      strataCol: String): DataFrame = {
    val strata = df.select(col(strataCol).cast("long").as("x"),
        col(treatCol).cast("boolean").as("t"),
        col(outcomeCol).cast("long").as("y"))
      .groupBy("x")
      .agg(sum(when(col("t"), 1L).otherwise(0L)).as("n_t"),
        sum(when(col("t"), col("y")).otherwise(0L)).as("s_t"),
        sum(when(!col("t"), 1L).otherwise(0L)).as("n_c"),
        sum(when(!col("t"), col("y")).otherwise(0L)).as("s_c"))
    val matched = strata.where(col("n_t") > 0 && col("n_c") > 0)
      .select(col("*"),
        expr("s_c * 1000000 div n_c").as("mc_q"))
      .select(col("*"),
        (col("s_t") * lit(1000000L) - col("n_t") * col("mc_q")).as("term_q"))
    val m = matched.agg(
      count(lit(1)).as("n_strata_matched"),
      sum("n_t").as("nt_matched"),
      sum("term_q").as("att_num_q"))
    val tot = strata.agg(
      sum("n_t").as("nt_all"), sum("s_t").as("st_all"),
      sum("n_c").as("nc_all"), sum("s_c").as("sc_all"))
    m.crossJoin(broadcast(tot))
      .select(col("nt_all").as("n_treated"), col("nc_all").as("n_control"),
        col("n_strata_matched"),
        (col("nt_all") - col("nt_matched")).as("n_treated_unmatched"),
        round(col("att_num_q").cast("double") /
          (lit(1e6) * col("nt_matched").cast("double")), 4).as("att"),
        round(col("st_all").cast("double") / col("nt_all").cast("double") -
          col("sc_all").cast("double") / col("nc_all").cast("double"), 4)
          .as("naive_diff"))
  }

  /** Iterative proportional fitting (IPF / raking) of a two-way cell
    * table — the survey-weighting / margin-calibration algorithm: cell
    * weights start at the observed counts and alternate row- and
    * column-scaling passes until the weighted margins match the targets.
    * Here rows rake to UNIFORM targets and columns to their observed
    * totals (the "re-balance one dimension, preserve the other" demo
    * shape); weights live in exact integer `scale` units with floor
    * division per scaling step, so every round is bit-reproducible and
    * the oracle unrolls them.
    *
    * Scale shape: ONE data-sized counting aggregate; everything after is
    * cell-cardinality work (margin sums + broadcast joins per half-pass).
    * Caller contract: weight·target products fit a long
    * (counts·scale² ≤ ~9e18).
    */
  def ipfRake(df: DataFrame, rowCol: String, colCol: String,
      rounds: Int = 2, scale: Long = 1000L): DataFrame = {
    require(rounds >= 1, "rounds >= 1")
    val cells = materialize(df.groupBy(col(rowCol).cast("string").as("r"),
        col(colCol).cast("string").as("c"))
      .agg(count(lit(1)).as("n")))
    val tot = cells.agg(sum("n").as("nn"),
      count_distinct(col("r")).as("nr"))
    // uniform row target (scale units); observed column totals
    val rowT = cells.select(col("r")).distinct()
      .crossJoin(broadcast(tot))
      .select(col("r"), expr("nn * " + scale + " div nr").as("t_r"))
    val colT = cells.groupBy("c").agg((sum("n") * scale).as("t_c"))
    var w = cells.withColumn("w", col("n") * scale)
    for (_ <- 1 to rounds) {
      val rs = w.groupBy("r").agg(sum("w").as("rs"))
      w = w.join(broadcast(rs), Seq("r")).join(broadcast(rowT), Seq("r"))
        .select(col("r"), col("c"), col("n"),
          expr("w * t_r div rs").as("w"))
      val cs = w.groupBy("c").agg(sum("w").as("cs"))
      w = materialize(w.join(broadcast(cs), Seq("c")).join(broadcast(colT), Seq("c"))
        .select(col("r"), col("c"), col("n"),
          expr("w * t_c div cs").as("w")))
    }
    w.select(col("r").as(rowCol), col("c").as(colCol), col("n"),
      (col("w") / lit(scale.toDouble)).as("weight"))
  }

  /** DuckDB replay of [[ipfRake]] — scaling half-passes unrolled. */
  def ipfRakeOracleSql(srcSql: String, rounds: Int, scale: Long,
      rowAlias: String, colAlias: String): String = {
    val passes = (1 to rounds).map { k =>
      s"""rs$k AS (SELECT r, sum(w)::BIGINT AS rs FROM w${2 * k - 2}
         |  GROUP BY 1),
         |w${2 * k - 1} AS (SELECT w.r, w.c, w.n,
         |    (w.w * rt.t_r // rs.rs)::BIGINT AS w
         |  FROM w${2 * k - 2} w JOIN rs$k rs ON rs.r = w.r
         |  JOIN rowt rt ON rt.r = w.r),
         |cs$k AS (SELECT c, sum(w)::BIGINT AS cs FROM w${2 * k - 1}
         |  GROUP BY 1),
         |w${2 * k} AS (SELECT w.r, w.c, w.n,
         |    (w.w * ct.t_c // cs.cs)::BIGINT AS w
         |  FROM w${2 * k - 1} w JOIN cs$k cs ON cs.c = w.c
         |  JOIN colt ct ON ct.c = w.c)""".stripMargin
    }.mkString(",\n")
    s"""WITH src AS ($srcSql),
       |cells AS (SELECT r, c, count(*)::BIGINT AS n FROM src GROUP BY 1, 2),
       |tot AS (SELECT sum(n)::BIGINT AS nn,
       |    count(DISTINCT r)::BIGINT AS nr FROM cells),
       |rowt AS (SELECT r, (tot.nn * $scale // tot.nr)::BIGINT AS t_r
       |  FROM (SELECT DISTINCT r FROM cells) rr CROSS JOIN tot),
       |colt AS (SELECT c, (sum(n) * $scale)::BIGINT AS t_c FROM cells
       |  GROUP BY 1),
       |w0 AS (SELECT r, c, n, (n * $scale)::BIGINT AS w FROM cells),
       |$passes
       |SELECT r AS $rowAlias, c AS $colAlias, n,
       |  w / ${scale.toDouble} AS weight
       |FROM w${2 * rounds}""".stripMargin
  }

  /** Classifier fairness profile across a protected/segment grouping —
    * the model-governance screen: per group, selection rate (demographic
    * parity), TPR (equal opportunity) and FPR (equalized odds), plus the
    * global parity gap (max − min selection rate) repeated on every row.
    *
    * All rates are exact-integer half-up roundings
    * (`(num·2e4 + den) div 2·den` over exact counts — immune to the
    * engines' double-rounding tie divergence); groups with no positive
    * (or no negative) labels report null TPR (FPR). ONE keyed counting
    * aggregate; everything after is group-cardinality work.
    */
  def fairnessProfile(df: DataFrame, groupCol: String, predCol: String,
      labelCol: String): DataFrame = {
    def r4q(num: Column, den: Column): Column = halfUpQ4(num, den)
    val g = df.select(col(groupCol).cast("string").as("grp"),
        col(predCol).cast("boolean").as("p"),
        col(labelCol).cast("boolean").as("y"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("p"), 1L).otherwise(0L)).as("n_sel"),
        sum(when(col("p") && col("y"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("p") && !col("y"), 1L).otherwise(0L)).as("fp"))
      .withColumn("sel_q", r4q(col("n_sel"), col("n")))
    val gap = g.agg(((max("sel_q") - min("sel_q")) / lit(10000.0))
      .as("dp_gap"))
    g.crossJoin(broadcast(gap))
      .select(col("grp").as(groupCol), col("n"), col("n_pos"), col("n_sel"),
        (col("sel_q") / lit(10000.0)).as("selection_rate"),
        when(col("n_pos") === 0, lit(null).cast("double"))
          .otherwise(r4q(col("tp"), col("n_pos")) / lit(10000.0)).as("tpr"),
        when(col("n") === col("n_pos"), lit(null).cast("double"))
          .otherwise(r4q(col("fp"), col("n") - col("n_pos")) / lit(10000.0))
          .as("fpr"),
        col("dp_gap"))
  }

  /** DuckDB replay of [[fairnessProfile]]; `srcSql` must produce
    * (grp VARCHAR, p BOOLEAN, y BOOLEAN) rows.
    */
  def fairnessProfileSql(srcSql: String, groupAlias: String): String =
    s"""WITH src AS ($srcSql),
       |g AS (SELECT grp, count(*)::BIGINT AS n,
       |    sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS n_pos,
       |    sum(CASE WHEN p THEN 1 ELSE 0 END)::BIGINT AS n_sel,
       |    sum(CASE WHEN p AND y THEN 1 ELSE 0 END)::BIGINT AS tp,
       |    sum(CASE WHEN p AND NOT y THEN 1 ELSE 0 END)::BIGINT AS fp
       |  FROM src GROUP BY 1),
       |q AS (SELECT g.*,
       |    ((n_sel * 20000 + n) // (n * 2))::BIGINT AS sel_q FROM g),
       |gap AS (SELECT (max(sel_q) - min(sel_q)) / 10000.0 AS dp_gap FROM q)
       |SELECT q.grp AS $groupAlias, q.n, q.n_pos, q.n_sel,
       |  q.sel_q / 10000.0 AS selection_rate,
       |  CASE WHEN q.n_pos = 0 THEN NULL
       |    ELSE ((q.tp * 20000 + q.n_pos) // (q.n_pos * 2)) / 10000.0
       |  END AS tpr,
       |  CASE WHEN q.n = q.n_pos THEN NULL
       |    ELSE ((q.fp * 20000 + (q.n - q.n_pos)) // ((q.n - q.n_pos) * 2))
       |      / 10000.0
       |  END AS fpr,
       |  gap.dp_gap
       |FROM q CROSS JOIN gap""".stripMargin

  /** Average treatment effect by inverse-propensity weighting (IPW /
    * Horvitz–Thompson with an exactly-estimated propensity) — the ATE
    * companion to [[attMatched]]'s ATT: with stratum propensity
    * e(x) = n_t/n exactly, the HT estimate collapses to
    * ATE = Σₓ nₓ·(ȳ_t,x − ȳ_c,x) / N. Per-stratum arm means quantize to
    * micro-units by integer floor division, each stratum term
    * `nₓ·(mt_q − mc_q)` is an exact long, and the final ATE is ONE double
    * division. Strata lacking an arm drop (common support) and their rows
    * are counted in `n_rows_dropped`.
    *
    * Output one row: n_rows_used, n_rows_dropped, n_strata, ate (4 dp),
    * naive_diff (4 dp). Same scale shape and caller contract as
    * [[attMatched]].
    */
  def ateIpw(df: DataFrame, treatCol: String, outcomeCol: String,
      strataCol: String): DataFrame = {
    val strata = df.select(col(strataCol).cast("long").as("x"),
        col(treatCol).cast("boolean").as("t"),
        col(outcomeCol).cast("long").as("y"))
      .groupBy("x")
      .agg(count(lit(1)).as("nx"),
        sum(when(col("t"), 1L).otherwise(0L)).as("n_t"),
        sum(when(col("t"), col("y")).otherwise(0L)).as("s_t"),
        sum(when(!col("t"), 1L).otherwise(0L)).as("n_c"),
        sum(when(!col("t"), col("y")).otherwise(0L)).as("s_c"))
    val matched = strata.where(col("n_t") > 0 && col("n_c") > 0)
      .select(col("*"),
        expr("s_t * 1000000 div n_t").as("mt_q"),
        expr("s_c * 1000000 div n_c").as("mc_q"))
      .select(col("*"),
        (col("nx") * (col("mt_q") - col("mc_q"))).as("term_q"))
    val m = matched.agg(count(lit(1)).as("n_strata"),
      sum("nx").as("n_used"), sum("term_q").as("ate_num_q"))
    val tot = strata.agg(sum("nx").as("n_all"),
      sum("n_t").as("nt_all"), sum("s_t").as("st_all"),
      sum("n_c").as("nc_all"), sum("s_c").as("sc_all"))
    m.crossJoin(broadcast(tot))
      .select(col("n_used").as("n_rows_used"),
        (col("n_all") - col("n_used")).as("n_rows_dropped"),
        col("n_strata"),
        round(col("ate_num_q").cast("double") /
          (lit(1e6) * col("n_used").cast("double")), 4).as("ate"),
        round(col("st_all").cast("double") / col("nt_all").cast("double") -
          col("sc_all").cast("double") / col("nc_all").cast("double"), 4)
          .as("naive_diff"))
  }

  /** DuckDB replay of [[ateIpw]]; `srcSql` must produce
    * (x BIGINT, t BOOLEAN, y BIGINT) rows.
    */
  def ateIpwOracleSql(srcSql: String): String =
    s"""WITH src AS ($srcSql),
       |strata AS (SELECT x, count(*)::BIGINT AS nx,
       |    sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT AS n_t,
       |    sum(CASE WHEN t THEN y ELSE 0 END)::BIGINT AS s_t,
       |    sum(CASE WHEN t THEN 0 ELSE 1 END)::BIGINT AS n_c,
       |    sum(CASE WHEN t THEN 0 ELSE y END)::BIGINT AS s_c
       |  FROM src GROUP BY 1),
       |matched AS (SELECT *,
       |    (nx * (((s_t * 1000000) // n_t) - ((s_c * 1000000) // n_c)))
       |      ::BIGINT AS term_q
       |  FROM strata WHERE n_t > 0 AND n_c > 0),
       |m AS (SELECT count(*)::BIGINT AS n_strata, sum(nx)::BIGINT AS n_used,
       |    sum(term_q)::BIGINT AS ate_num_q FROM matched),
       |tot AS (SELECT sum(nx)::BIGINT AS n_all, sum(n_t)::BIGINT AS nt_all,
       |    sum(s_t)::BIGINT AS st_all, sum(n_c)::BIGINT AS nc_all,
       |    sum(s_c)::BIGINT AS sc_all FROM strata)
       |SELECT m.n_used AS n_rows_used,
       |  (tot.n_all - m.n_used)::BIGINT AS n_rows_dropped,
       |  m.n_strata,
       |  round(m.ate_num_q::DOUBLE / (1e6 * m.n_used::DOUBLE), 4) AS ate,
       |  round(tot.st_all::DOUBLE / tot.nt_all::DOUBLE -
       |    tot.sc_all::DOUBLE / tot.nc_all::DOUBLE, 4) AS naive_diff
       |FROM m CROSS JOIN tot""".stripMargin

  /** DuckDB replay of [[attMatched]]; `srcSql` must produce
    * (x BIGINT, t BOOLEAN, y BIGINT) rows.
    */
  def attMatchedOracleSql(srcSql: String): String =
    s"""WITH src AS ($srcSql),
       |strata AS (SELECT x,
       |    sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT AS n_t,
       |    sum(CASE WHEN t THEN y ELSE 0 END)::BIGINT AS s_t,
       |    sum(CASE WHEN t THEN 0 ELSE 1 END)::BIGINT AS n_c,
       |    sum(CASE WHEN t THEN 0 ELSE y END)::BIGINT AS s_c
       |  FROM src GROUP BY 1),
       |matched AS (SELECT *,
       |    (s_t * 1000000 - n_t * ((s_c * 1000000) // n_c))::BIGINT AS term_q
       |  FROM strata WHERE n_t > 0 AND n_c > 0),
       |m AS (SELECT count(*)::BIGINT AS n_strata_matched,
       |    sum(n_t)::BIGINT AS nt_matched,
       |    sum(term_q)::BIGINT AS att_num_q FROM matched),
       |tot AS (SELECT sum(n_t)::BIGINT AS nt_all, sum(s_t)::BIGINT AS st_all,
       |    sum(n_c)::BIGINT AS nc_all, sum(s_c)::BIGINT AS sc_all
       |  FROM strata)
       |SELECT tot.nt_all AS n_treated, tot.nc_all AS n_control,
       |  m.n_strata_matched,
       |  (tot.nt_all - m.nt_matched)::BIGINT AS n_treated_unmatched,
       |  round(m.att_num_q::DOUBLE / (1e6 * m.nt_matched::DOUBLE), 4) AS att,
       |  round(tot.st_all::DOUBLE / tot.nt_all::DOUBLE -
       |    tot.sc_all::DOUBLE / tot.nc_all::DOUBLE, 4) AS naive_diff
       |FROM m CROSS JOIN tot""".stripMargin
}
