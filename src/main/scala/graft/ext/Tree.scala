package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.Rounds.materialize

/** Histogram-based decision-split finding — the inner kernel of every
  * distributed gradient-boosting / decision-tree trainer (XGBoost
  * `hist`, LightGBM): bin each feature into equi-width histograms of
  * (count, positives), then score every bin boundary as a candidate
  * split by weighted Gini impurity and keep the argmin per feature.
  *
  * Everything after the one melt pass is exact integers: bin counts are
  * longs, the cumulative left/right class counts come from ONE keyed
  * window over ≤ nBins rows per feature, and each candidate's weighted
  * impurity quantizes to micro-units (one fixed-shape double expression
  * over six exact integers) BEFORE the struct-min argmin — so any engine
  * replays the chosen splits bit-for-bit.
  *
  * Scale shape: one melt scan (rows × n_features long format — the
  * histogram method's standard cost), a tiny per-feature stats aggregate
  * broadcast back, one map-side-combinable (feature, bin) count, and
  * windows/argmins over n_features × nBins rows. No per-candidate data
  * passes — the histogram IS the sufficient statistic, which is the
  * whole point of the method.
  */
object Tree {

  def bestSplits(df: DataFrame, featureCols: Seq[String], labelExpr: Column,
      nBins: Int = 16): DataFrame = {
    require(featureCols.nonEmpty, "need at least one feature")
    require(nBins >= 2, "need at least two bins")
    val melted = df.select(
      labelExpr.cast("long").as("_y"),
      explode(array(featureCols.map(c =>
        struct(lit(c).as("f"), col(c).cast("double").as("v"))): _*)).as("_fv"))
      .select(col("_y"), col("_fv.f").as("_f"), col("_fv.v").as("_v"))
      .where(col("_v").isNotNull && col("_y").isNotNull)
    val stats = melted.groupBy("_f")
      .agg(min(col("_v")).as("_mn"), max(col("_v")).as("_mx"))
    val w = (col("_mx") - col("_mn")) / nBins
    val bin = when(col("_mx") === col("_mn"), 0L)
      .otherwise(least(floor((col("_v") - col("_mn")) / w), lit(nBins - 1L)))
    val hist = melted.join(broadcast(stats), Seq("_f"))
      .withColumn("_bin", bin.cast("int"))
      .groupBy("_f", "_bin")
      .agg(count(lit(1)).as("_n"), sum(col("_y")).as("_pos"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_f")).orderBy(col("_bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = org.apache.spark.sql.expressions.Window.partitionBy(col("_f"))
    val cum = hist
      .withColumn("_nl", sum(col("_n")).over(win))
      .withColumn("_pl", sum(col("_pos")).over(win))
      .withColumn("_nt", sum(col("_n")).over(tot))
      .withColumn("_pt", sum(col("_pos")).over(tot))
      // a split AFTER the last bin sends everything left — not a split
      .where(col("_nl") < col("_nt"))
    // weighted Gini of the (left, right) partition, micro-unit quantized:
    // G = nl/n·(1 − (pl/nl)² − (ql/nl)²) + nr/n·(…)
    def gini(n: Column, p: Column) = {
      val q = n - p
      lit(1.0) - (p.cast("double") / n) * (p.cast("double") / n) -
        (q.cast("double") / n) * (q.cast("double") / n)
    }
    val nr = col("_nt") - col("_nl")
    val pr = col("_pt") - col("_pl")
    val weighted =
      (col("_nl").cast("double") / col("_nt")) * gini(col("_nl"), col("_pl")) +
        (nr.cast("double") / col("_nt")) * gini(nr, pr)
    val scored = cum.withColumn("_g_q", round(weighted * 1e6, 0).cast("long"))
    scored
      .groupBy(col("_f"))
      .agg(min(struct(col("_g_q").as("g"), col("_bin").as("b"))).as("_best"),
        first(col("_nt")).as("n_rows"))
      .join(broadcast(stats), Seq("_f"))
      .select(col("_f").as("feature"),
        col("_best.b").as("split_bin"),
        round(col("_mn") + (col("_best.b") + 1).cast("double") *
          ((col("_mx") - col("_mn")) / nBins), 4).as("split_value"),
        round(col("_best.g").cast("double") / 1e6, 4).as("weighted_gini"),
        col("n_rows"))
  }

  // ------------------------------------------------------------- depth-2

  /** One histogram-split pass over melted rows `(rid, y, nd, f, v)`,
    * grouped by node: returns one row per node — the argmin split as a
    * struct carrying everything downstream needs (gq, f, bin, nt, pt,
    * mn, mx). Ties break on (gq, f, bin), so the choice is
    * engine-deterministic.
    */
  private def nodeBest(m: DataFrame, nBins: Int): DataFrame = {
    val stats = m.groupBy("nd", "f").agg(min("v").as("mn"), max("v").as("mx"))
    val bin = when(col("_mx_") === col("_mn_"), 0L)
      .otherwise(least(floor((col("v") - col("_mn_")) /
        ((col("_mx_") - col("_mn_")) / nBins)), lit(nBins - 1L)))
    val hist = m.join(broadcast(stats
        .select(col("nd"), col("f"), col("mn").as("_mn_"), col("mx").as("_mx_"))),
        Seq("nd", "f"))
      .withColumn("bin", bin.cast("int"))
      .groupBy("nd", "f", "bin")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("nd", "f").orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = org.apache.spark.sql.expressions.Window.partitionBy("nd", "f")
    val cum = hist
      .withColumn("nl", sum(col("n")).over(win))
      .withColumn("pl", sum(col("pos")).over(win))
      .withColumn("nt", sum(col("n")).over(tot))
      .withColumn("pt", sum(col("pos")).over(tot))
      .where(col("nl") < col("nt"))
    def gini(n: Column, p: Column) = {
      val q = n - p
      lit(1.0) - (p.cast("double") / n) * (p.cast("double") / n) -
        (q.cast("double") / n) * (q.cast("double") / n)
    }
    val nr = col("nt") - col("nl"); val pr = col("pt") - col("pl")
    val weighted =
      (col("nl").cast("double") / col("nt")) * gini(col("nl"), col("pl")) +
        (nr.cast("double") / col("nt")) * gini(nr, pr)
    cum.withColumn("gq", round(weighted * 1e6, 0).cast("long"))
      .join(broadcast(stats), Seq("nd", "f"))
      .groupBy("nd")
      .agg(min(struct(col("gq"), col("f"), col("bin"), col("nt"), col("pt"),
        col("mn"), col("mx"))).as("b"))
  }

  /** The same equi-width bin expression used everywhere in the chain. */
  private def binOf(v: Column, mn: Column, mx: Column, nBins: Int): Column =
    when(mx === mn, 0L)
      .otherwise(least(floor((v - mn) / ((mx - mn) / nBins)), lit(nBins - 1L)))
      .cast("int")

  /** Depth-2 decision-tree training — two levels of the histogram method
    * ([[bestSplits]]) plus leaf statistics, entirely as joins/aggregates
    * (the chosen splits ride the plan as broadcast 1/2-row frames, never
    * the driver). Output, one row per tree node ordered by name:
    *
    *   '~' (root), 'L', 'R'      — feature, split_value, weighted_gini,
    *                                n_rows, n_pos of the node;
    *   'LL'..'RR' (leaves)       — feature '-', zeros for split fields,
    *                                n_rows/n_pos (the class histogram a
    *                                scorer thresholds).
    *
    * Rows with a NULL value in a node's chosen feature fall to the RIGHT
    * child (the null bin compares false). Row assignment happens on the
    * WIDE frame via a broadcast CASE over the chosen split — no
    * melt-and-join-back, so the only data-sized shuffles are the
    * histogram aggregates themselves.
    *
    * Scale shape: two melt passes over the data (one per level) + one
    * leaf count — the standard histogram-trainer cost; everything else is
    * bins×features×nodes-sized.
    */
  def depth2Tree(df: DataFrame, featureCols: Seq[String],
      labelExpr: Column, nBins: Int = 16): DataFrame = {
    require(featureCols.nonEmpty && nBins >= 2, "need features and bins")
    def melt(src: DataFrame, ndCol: Column): DataFrame = src.select(
        ndCol.as("nd"), col("_y").as("y"),
        explode(array(featureCols.map(c =>
          struct(lit(c).as("f"), col(c).cast("double").as("v"))): _*)).as("_fv"))
      .select(col("nd"), col("y"), col("_fv.f").as("f"), col("_fv.v").as("v"))
      .where(col("v").isNotNull && col("y").isNotNull)
    // chosen-feature value on the wide frame: CASE over the broadcast best
    def chosenV = coalesce(featureCols.map(c =>
      when(col("_bf") === c, col(c).cast("double"))): _*)
    // materialize ONLY what the two melt passes read: features + label
    val base = materialize(df.select(featureCols.map(col) :+
      labelExpr.cast("long").as("_y"): _*))
    val rootBest = materialize(nodeBest(melt(base, lit("~")), nBins)) // 1 row
    val sided = materialize(base
      .crossJoin(broadcast(rootBest.select(col("b.f").as("_bf"),
        col("b.bin").as("_sb"), col("b.mn").as("_mn"), col("b.mx").as("_mx"))))
      .withColumn("_nd",
        when(binOf(chosenV, col("_mn"), col("_mx"), nBins) <= col("_sb"), "L")
          .otherwise("R"))
      .drop("_bf", "_sb", "_mn", "_mx"))
    val childBest = materialize(nodeBest(melt(sided, col("_nd")), nBins)) // 2 rows
    val leaves = sided
      .join(broadcast(childBest.select(col("nd").as("_nd"),
        col("b.f").as("_bf"), col("b.bin").as("_sb"),
        col("b.mn").as("_mn"), col("b.mx").as("_mx"))), Seq("_nd"))
      .where(chosenV.isNotNull && col("_y").isNotNull)
      .groupBy(concat(col("_nd"),
        when(binOf(chosenV, col("_mn"), col("_mx"), nBins) <= col("_sb"),
          "L").otherwise("R")).as("node"))
      .agg(count(lit(1)).as("n_rows"), sum(col("_y")).as("n_pos"))
      .select(col("node"), lit("-").as("feature"), lit(0.0).as("split_value"),
        lit(0.0).as("weighted_gini"), col("n_rows"), col("n_pos"))
    def nodeRow(best: DataFrame, name: Column) = best.select(
      name.as("node"), col("b.f").as("feature"),
      round(col("b.mn") + (col("b.bin") + 1).cast("double") *
        ((col("b.mx") - col("b.mn")) / nBins), 4).as("split_value"),
      round(col("b.gq").cast("double") / 1e6, 4).as("weighted_gini"),
      col("b.nt").as("n_rows"), col("b.pt").as("n_pos"))
    nodeRow(rootBest, lit("~"))
      .unionByName(nodeRow(childBest, col("nd")))
      .unionByName(leaves)
  }

  /** Least-squares gradient boosting with regression stumps (LS_Boost,
    * Friedman 2001) — `rounds` sequential stumps fitted to residuals,
    * learning rate `lrPct`/100. The engine-exact recipe:
    *
    *   - target quantizes to integer cents; the model state per row is an
    *     integer prediction, so RESIDUALS STAY EXACT INTEGERS round after
    *     round (no float drift to accumulate);
    *   - each stump comes from one melt + (feature, bin) histogram of
    *     (count, Σresidual) — map-side combinable; the split argmin uses
    *     the variance-reduction objective quantized AFTER division by the
    *     total count (so it fits a long);
    *   - leaf values are truncating integer divisions (Σres/n, then
    *     ·lr/100) — Spark `div` and DuckDB `//` agree on negatives (both
    *     truncate);
    *   - the per-row update is a broadcast CASE on the wide frame (the
    *     stump is the model — driver-small by definition, like the
    *     k-means centroids and Bradley-Terry ratings).
    *
    * Returns one row per round: the stump (feature, split_value, leaf
    * adds in cents) and the post-round training SSE (quantized
    * Σ(res²/10⁴) — exact, order-free).
    */
  def lsBoost(df: DataFrame, featureCols: Seq[String], targetExpr: Column,
      nBins: Int = 16, rounds: Int = 3, lrPct: Int = 50): DataFrame = {
    require(featureCols.nonEmpty && nBins >= 2 && rounds >= 1, "bad params")
    require(lrPct >= 1 && lrPct <= 100, "lrPct in [1, 100]")
    val base = materialize(df.select(featureCols.map(c => col(c).cast("double").as(c)) :+
      round(targetExpr * 100).cast("long").as("_y"): _*))
    // per-feature range (fixed across rounds — residuals don't move x)
    val statCols = Seq(count(lit(1)).as("n"), sum("_y").as("sy")) ++
      featureCols.flatMap(c =>
        Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c")))
    val statRows = base.agg(statCols.head, statCols.tail: _*).head()
    val n = statRows.getAs[Long]("n")
    val f0 = statRows.getAs[Long]("sy") / n // trunc == oracle //
    val mnmx = featureCols.map(c =>
      c -> (statRows.getAs[Double](s"mn_$c"), statRows.getAs[Double](s"mx_$c")))
      .toMap
    def binOfLit(c: String): Column = {
      val (mn, mx) = mnmx(c)
      if (mx == mn) lit(0)
      else least(floor((col(c) - mn) / ((mx - mn) / nBins)), lit(nBins - 1L))
        .cast("int")
    }
    var cur = base.withColumn("_p", lit(f0))
    val out = scala.collection.mutable.ArrayBuffer.empty[
      (Long, String, Double, Long, Long, Long)]
    for (r <- 1 to rounds) {
      val res = cur.withColumn("_r", col("_y") - col("_p"))
      val hist = res.select(col("_r"),
          explode(array(featureCols.map(c =>
            struct(lit(c).as("f"), binOfLit(c).as("bin"))): _*)).as("_fb"))
        .groupBy(col("_fb.f").as("f"), col("_fb.bin").as("bin"))
        .agg(count(lit(1)).as("cnt"), sum("_r").as("sr"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("f").orderBy("bin")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val scored = hist
        .withColumn("nl", sum(col("cnt")).over(w))
        .withColumn("sl", sum(col("sr")).over(w))
        .crossJoin(broadcast(res.agg(count(lit(1)).as("nt"), sum("_r").as("st"))))
        .where(col("nl") < col("nt"))
        .withColumn("fq", round(
          (col("sl").cast("double") * col("sl") / col("nl") +
            (col("st") - col("sl")).cast("double") * (col("st") - col("sl")) /
              (col("nt") - col("nl"))) / col("nt"), 0).cast("long"))
      val b = scored
        .select(struct((-col("fq")).as("negf"), col("f"), col("bin"),
          col("nl"), col("sl"), col("nt"), col("st")).as("b"))
        .agg(min("b").as("b")).head().getStruct(0)
      val (bf, bb) = (b.getAs[String]("f"), b.getAs[Int]("bin"))
      val (bnl, bsl) = (b.getAs[Long]("nl"), b.getAs[Long]("sl"))
      val (bnt, bst) = (b.getAs[Long]("nt"), b.getAs[Long]("st"))
      val addL = (bsl / bnl) * lrPct / 100 // trunc at each step, like //
      val addR = ((bst - bsl) / (bnt - bnl)) * lrPct / 100
      val (next, c) = materialize(cur.withColumn("_p",
          col("_p") + when(binOfLit(bf) <= bb, addL).otherwise(addR)),
        sum(expr("((_y - _p) * (_y - _p)) div 10000")).as("sse"))
      cur = next
      val sse = c.getLong(0)
      val (mn, mx) = mnmx(bf)
      val splitValue = BigDecimal(mn + (bb + 1).toDouble * ((mx - mn) / nBins))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      out += ((r.toLong, bf, splitValue, addL, addR, sse))
    }
    val spark = df.sparkSession
    import spark.implicits._
    out.toSeq.toDF("round", "feature", "split_value",
      "add_left_cents", "add_right_cents", "sse_q")
  }

  /** Discrete AdaBoost, two rounds of decision stumps — the
    * classification face of the boosting family next to [[lsBoost]]'s
    * least-squares regression. The trick that keeps a WEIGHTED booster
    * exactly replayable: after round 1 every row's weight is one of two
    * integers — misclassified rows weigh `n − e₁`, correct rows `e₁`
    * (the same (1−ε)/ε odds ratio as the classic exp(∓α) update, cleared
    * of its common denominator) — so round-2 weighted histograms are
    * exact integer sums and the round-2 argmin is an integer comparison.
    * The only libm per round is the driver-side α = ½·ln((1−ε)/ε),
    * micro-quantized before it enters the ensemble sign.
    *
    * Scale shape per round: ONE melt scan (rows × features) into
    * map-side-combinable (feature, bin) weighted counts, a window over
    * ≤ features × nBins rows, a 1-row argmin; the final ensemble error is
    * one more narrow pass. Stump candidates are `bin ≤ b` with either
    * polarity; err(pol=−1) = W − err(pol=+1), so each boundary scores
    * both polarities from one number.
    *
    * Output: one row per round — round, feature, split_value, polarity,
    * err_num/err_den (exact weighted error), alpha (6 dp), with the
    * ensemble's training error (4 dp) repeated.
    */
  def adaBoost2(df: DataFrame, featureCols: Seq[String], labelExpr: Column,
      nBins: Int = 16): DataFrame = {
    require(featureCols.nonEmpty && nBins >= 2, "bad params")
    val base = materialize(df.select(featureCols.map(c => col(c).cast("double").as(c)) :+
      when(labelExpr, 1).otherwise(-1).as("_y"): _*))
    val statCols = Seq(count(lit(1)).as("n")) ++ featureCols.flatMap(c =>
      Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c")))
    val statRow = base.agg(statCols.head, statCols.tail: _*).head()
    val n = statRow.getAs[Long]("n")
    val mnmx = featureCols.map(c =>
      c -> (statRow.getAs[Double](s"mn_$c"), statRow.getAs[Double](s"mx_$c")))
      .toMap
    def binOfLit(c: String): Column = {
      val (mn, mx) = mnmx(c)
      if (mx == mn) lit(0)
      else least(floor((col(c) - mn) / ((mx - mn) / nBins)), lit(nBins - 1L))
        .cast("int")
    }
    // one boosting round: weighted stump search. Returns
    // (f, bin, pol, errNum, errDen) with err the weighted error.
    def bestStump(wExpr: Column): (String, Int, Int, Long, Long) = {
      val hist = base.select(col("_y"), wExpr.as("_w"),
          explode(array(featureCols.map(c =>
            struct(lit(c).as("f"), binOfLit(c).as("bin"))): _*)).as("_fb"))
        .groupBy(col("_fb.f").as("f"), col("_fb.bin").as("bin"))
        .agg(sum("_w").as("cw"),
          sum(when(col("_y") === 1, col("_w")).otherwise(0L)).as("pw"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("f").orderBy("bin")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val tot = hist.groupBy("f")
        .agg(sum("cw").as("nt"), sum("pw").as("ptw"))
      val cand = hist
        .withColumn("nl", sum(col("cw")).over(w))
        .withColumn("pl", sum(col("pw")).over(w))
        .join(broadcast(tot), Seq("f"))
        .where(col("nl") < col("nt"))
        // pol=+1 (predict +1 on bin ≤ b) errs on left negatives + right
        // positives; pol=−1 errs on the complement W − err₊
        .withColumn("ep", (col("nl") - col("pl")) + (col("ptw") - col("pl")))
        .withColumn("pol",
          when(col("ep") <= col("nt") - col("ep"), 1).otherwise(-1))
        .withColumn("err", least(col("ep"), col("nt") - col("ep")))
      val b = cand
        .select(struct(col("err"), col("f"), col("bin"), col("pol"),
          col("nt")).as("b"))
        .agg(min("b").as("b")).head().getStruct(0)
      (b.getAs[String]("f"), b.getAs[Int]("bin"), b.getAs[Int]("pol"),
        b.getAs[Long]("err"), b.getAs[Long]("nt"))
    }
    def stumpCol(f: String, bin: Int, pol: Int): Column =
      when(binOfLit(f) <= bin, lit(pol)).otherwise(lit(-pol))
    def alphaQ(errNum: Long, errDen: Long): Long = {
      require(errNum > 0 && errNum * 2 < errDen,
        s"stump error $errNum/$errDen outside (0, 1/2) — cannot boost")
      BigDecimal(0.5 * math.log((errDen - errNum).toDouble / errNum) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    // round 1: uniform unit weights
    val (f1, b1, p1, e1, d1) = bestStump(lit(1L))
    val a1q = alphaQ(e1, d1)
    // round 2: wrong rows weigh n−e₁, right rows e₁
    val h1 = stumpCol(f1, b1, p1)
    val (f2, b2, p2, e2, d2) =
      bestStump(when(h1 =!= col("_y"), lit(n - e1)).otherwise(lit(e1)))
    val a2q = alphaQ(e2, d2)
    // ensemble training error: sign(α₁h₁ + α₂h₂), zero → +1
    val h2 = stumpCol(f2, b2, p2)
    val score = lit(a1q) * h1 + lit(a2q) * h2
    val wrong = base
      .select(when(when(score >= 0, 1).otherwise(-1) =!= col("_y"), 1L)
        .otherwise(0L).as("_e"))
      .agg(sum("_e").as("e")).head().getLong(0)
    val ensErr = BigDecimal(wrong.toDouble / n)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def splitValue(f: String, bin: Int): Double = {
      val (mn, mx) = mnmx(f)
      BigDecimal(mn + (bin + 1).toDouble * ((mx - mn) / nBins))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def alphaOut(aq: Long): Double = BigDecimal(aq.toDouble / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark = df.sparkSession
    import spark.implicits._
    Seq(
      (1L, f1, splitValue(f1, b1), p1, e1, d1, alphaOut(a1q), ensErr),
      (2L, f2, splitValue(f2, b2), p2, e2, d2, alphaOut(a2q), ensErr))
      .toDF("round", "feature", "split_value", "polarity",
        "err_num", "err_den", "alpha", "ens_err")
  }

  /** DuckDB replay of [[adaBoost2]]; `labelSql` must be a boolean
    * expression over `tableSql`'s columns.
    */
  def adaBoost2OracleSql(tableSql: String, features: Seq[String],
      labelSql: String, nBins: Int): String = {
    def binSql(c: String) =
      s"""CAST(CASE WHEN st.mx_$c = st.mn_$c THEN 0
         |  ELSE least(floor(($c - st.mn_$c) / ((st.mx_$c - st.mn_$c) / $nBins)),
         |    ${nBins - 1}) END AS INT)""".stripMargin
    val statSel = (Seq("count(*)::BIGINT AS n") ++ features.map(c =>
      s"min($c) AS mn_$c, max($c) AS mx_$c")).mkString(", ")
    def meltSql(wSrc: String, wCol: String) = features.map(c =>
      s"""SELECT '$c' AS f, ${binSql(c)} AS bin, w.y, $wCol AS w
         |  FROM $wSrc w CROSS JOIN st""".stripMargin)
      .mkString("\n  UNION ALL ")
    // chosen-stump classification of a base row, feature via CASE
    def hSql(bCte: String) = {
      val binCase = features.map(c =>
        s"WHEN '$c' THEN ${binSql(c)}").mkString(" ")
      s"""(CASE WHEN (CASE $bCte.f $binCase END) <= $bCte.bin
         |  THEN $bCte.pol ELSE -$bCte.pol END)""".stripMargin
    }
    def roundSql(r: Int, meltSrc: String): String =
      s"""m$r AS ($meltSrc),
         |h$r AS (SELECT f, bin, sum(w)::BIGINT AS cw,
         |    sum(CASE WHEN y = 1 THEN w ELSE 0 END)::BIGINT AS pw
         |  FROM m$r GROUP BY 1, 2),
         |t$r AS (SELECT f, sum(cw)::BIGINT AS nt, sum(pw)::BIGINT AS ptw
         |  FROM h$r GROUP BY 1),
         |c$r AS (SELECT h.f, h.bin,
         |    sum(h.cw) OVER (PARTITION BY h.f ORDER BY h.bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
         |    sum(h.pw) OVER (PARTITION BY h.f ORDER BY h.bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pl,
         |    t.nt, t.ptw
         |  FROM h$r h JOIN t$r t ON t.f = h.f),
         |s$r AS (SELECT f, bin, nt,
         |    (nl - pl) + (ptw - pl) AS ep FROM c$r WHERE nl < nt),
         |b$r AS (SELECT f, bin,
         |    CASE WHEN ep <= nt - ep THEN 1 ELSE -1 END AS pol,
         |    least(ep, nt - ep)::BIGINT AS err, nt
         |  FROM s$r
         |  ORDER BY least(ep, nt - ep), f, bin,
         |    CASE WHEN ep <= nt - ep THEN 1 ELSE -1 END
         |  LIMIT 1),
         |a$r AS (SELECT b$r.*, CAST(round(
         |    0.5 * ln((nt - err)::DOUBLE / err) * 1e6, 0) AS BIGINT) AS aq
         |  FROM b$r)""".stripMargin
    val splitCase1 = features.map(c =>
      s"WHEN '$c' THEN round(st.mn_$c + (a1.bin + 1) * ((st.mx_$c - st.mn_$c) / $nBins), 4)")
      .mkString(" ")
    val splitCase2 = features.map(c =>
      s"WHEN '$c' THEN round(st.mn_$c + (a2.bin + 1) * ((st.mx_$c - st.mn_$c) / $nBins), 4)")
      .mkString(" ")
    s"""WITH base AS MATERIALIZED (SELECT
       |    ${features.mkString(", ")},
       |    CASE WHEN $labelSql THEN 1 ELSE -1 END AS y
       |  FROM $tableSql),
       |st AS MATERIALIZED (SELECT $statSel FROM base),
       |${roundSql(1, meltSql("base", "1::BIGINT"))},
       |w2 AS MATERIALIZED (SELECT base.*,
       |    CASE WHEN ${hSql("a1")} <> base.y THEN (st.n - a1.err)
       |      ELSE a1.err END AS wt
       |  FROM base CROSS JOIN st CROSS JOIN a1),
       |${roundSql(2, meltSql("w2", "w.wt"))},
       |ens AS (SELECT sum(CASE WHEN
       |      (CASE WHEN a1.aq * ${hSql("a1")} + a2.aq * ${hSql("a2")} >= 0
       |        THEN 1 ELSE -1 END) <> base.y THEN 1 ELSE 0 END)::BIGINT AS e,
       |    count(*)::BIGINT AS n
       |  FROM base CROSS JOIN st CROSS JOIN a1 CROSS JOIN a2)
       |SELECT 1::BIGINT AS round, a1.f AS feature,
       |  (CASE a1.f $splitCase1 END) AS split_value,
       |  a1.pol AS polarity, a1.err AS err_num, a1.nt AS err_den,
       |  round(a1.aq::DOUBLE / 1e6, 6) AS alpha,
       |  round(ens.e::DOUBLE / ens.n, 4) AS ens_err
       |FROM a1 CROSS JOIN st CROSS JOIN ens
       |UNION ALL
       |SELECT 2, a2.f, (CASE a2.f $splitCase2 END), a2.pol, a2.err, a2.nt,
       |  round(a2.aq::DOUBLE / 1e6, 6), round(ens.e::DOUBLE / ens.n, 4)
       |FROM a2 CROSS JOIN st CROSS JOIN ens""".stripMargin
  }

  /** DuckDB replay of [[lsBoost]]. */
  def lsBoostOracleSql(tableSql: String, features: Seq[String],
      targetSql: String, nBins: Int, rounds: Int, lrPct: Int): String = {
    def binSql(c: String) =
      s"""CAST(CASE WHEN st.mx_$c = st.mn_$c THEN 0
         |  ELSE least(floor(($c - st.mn_$c) / ((st.mx_$c - st.mn_$c) / $nBins)),
         |    ${nBins - 1}) END AS INT)""".stripMargin
    val statSel = features.map(c =>
      s"min($c) AS mn_$c, max($c) AS mx_$c").mkString(", ")
    val roundsSql = (1 to rounds).map { r =>
      val melt = features.map(c =>
        s"""SELECT w.rid, w.res, '$c' AS f, ${binSql(c)} AS bin
           |  FROM w${r - 1} w CROSS JOIN st""".stripMargin)
        .mkString("\n  UNION ALL ")
      s"""m$r AS ($melt),
         |h$r AS (SELECT f, bin, count(*)::BIGINT AS cnt,
         |    sum(res)::BIGINT AS sr FROM m$r GROUP BY 1, 2),
         |t$r AS (SELECT count(*)::BIGINT AS nt, sum(res)::BIGINT AS st
         |  FROM w${r - 1}),
         |sc$r AS (SELECT f, bin, nl, sl, nt, st,
         |    CAST(round((sl::DOUBLE * sl / nl
         |      + (st - sl)::DOUBLE * (st - sl) / (nt - nl)) / nt, 0) AS BIGINT)
         |      AS fq
         |  FROM (SELECT f, bin,
         |      sum(cnt) OVER (PARTITION BY f ORDER BY bin
         |        ROWS UNBOUNDED PRECEDING) AS nl,
         |      sum(sr) OVER (PARTITION BY f ORDER BY bin
         |        ROWS UNBOUNDED PRECEDING) AS sl
         |    FROM h$r) CROSS JOIN t$r WHERE nl < nt),
         |b$r AS (SELECT *,
         |    (((sl // nl) * $lrPct) // 100)::BIGINT AS addl,
         |    ((((st - sl) // (nt - nl)) * $lrPct) // 100)::BIGINT AS addr
         |  FROM (SELECT *, row_number() OVER (ORDER BY fq DESC, f, bin) AS rn
         |    FROM sc$r) WHERE rn = 1),
         |w$r AS (SELECT w.rid, ${features.map(c => s"w.$c").mkString(", ")},
         |    w.y, w.p + CASE WHEN (CASE b.f
         |      ${features.map(c => s"WHEN '$c' THEN ${binSql(c)}").mkString(" ")}
         |      END) <= b.bin THEN b.addl ELSE b.addr END AS p,
         |    w.y - (w.p + CASE WHEN (CASE b.f
         |      ${features.map(c => s"WHEN '$c' THEN ${binSql(c)}").mkString(" ")}
         |      END) <= b.bin THEN b.addl ELSE b.addr END) AS res
         |  FROM w${r - 1} w CROSS JOIN b$r b CROSS JOIN st),
         |sse$r AS (SELECT sum(((y - p) * (y - p)) // 10000)::BIGINT AS s
         |  FROM w$r)""".stripMargin
    }.mkString(",\n")
    val roundRows = (1 to rounds).map { r =>
      s"""SELECT $r::BIGINT AS round, b.f AS feature,
         |  round((CASE b.f ${features.map(c =>
              s"WHEN '$c' THEN st.mn_$c + CAST(b.bin + 1 AS DOUBLE) * ((st.mx_$c - st.mn_$c) / $nBins)")
              .mkString(" ")} END), 4) AS split_value,
         |  b.addl AS add_left_cents, b.addr AS add_right_cents,
         |  sse$r.s AS sse_q
         |FROM b$r b CROSS JOIN st CROSS JOIN sse$r""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH rows0 AS (SELECT row_number() OVER () AS rid,
       |    ${features.map(c => s"CAST($c AS DOUBLE) AS $c").mkString(", ")},
       |    CAST(round(($targetSql) * 100) AS BIGINT) AS y
       |  FROM $tableSql),
       |st AS (SELECT count(*)::BIGINT AS n, $statSel FROM rows0),
       |f0 AS (SELECT (sum(y) // count(*))::BIGINT AS p0 FROM rows0),
       |w0 AS (SELECT rid, ${features.mkString(", ")}, y, p0 AS p,
       |    y - p0 AS res FROM rows0 CROSS JOIN f0),
       |$roundsSql
       |$roundRows
       |ORDER BY round""".stripMargin
  }

  /** DuckDB replay of [[depth2Tree]]: `tableSql` supplies the wide rows,
    * `features` the (numeric) column names, `labelSql` the 0/1 label
    * expression. Node assignment happens on the wide rows via a CASE over
    * the broadcast best — the same no-row-id shape as the Spark side.
    */
  def depth2TreeOracleSql(tableSql: String, features: Seq[String],
      labelSql: String, nBins: Int): String = {
    def meltSql(src: String, nd: String) = features.map(f =>
      s"""SELECT $nd AS nd, $labelSql AS y, '$f' AS f,
         |    CAST($f AS DOUBLE) AS v FROM $src
         |  WHERE $f IS NOT NULL AND $labelSql IS NOT NULL""".stripMargin)
      .mkString("\n  UNION ALL ")
    val chosen = "CASE b.f " + features.map(f =>
      s"WHEN '$f' THEN CAST(t.$f AS DOUBLE)").mkString(" ") + " END"
    def chain(p: String, mCte: String) =
      s"""st$p AS (SELECT nd, f, min(v) AS mn, max(v) AS mx
         |  FROM $mCte GROUP BY 1, 2),
         |h$p AS (SELECT m.nd, m.f,
         |    CAST(CASE WHEN st.mx = st.mn THEN 0
         |      ELSE least(floor((m.v - st.mn) / ((st.mx - st.mn) / $nBins)),
         |        ${nBins - 1}) END AS INT) AS bin,
         |    CAST(count(*) AS BIGINT) AS n, CAST(sum(m.y) AS BIGINT) AS pos
         |  FROM $mCte m JOIN st$p st ON st.nd = m.nd AND st.f = m.f
         |  GROUP BY 1, 2, 3),
         |c$p AS (SELECT nd, f, bin,
         |    CAST(sum(n) OVER (PARTITION BY nd, f ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nl,
         |    CAST(sum(pos) OVER (PARTITION BY nd, f ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pl,
         |    CAST(sum(n) OVER (PARTITION BY nd, f) AS BIGINT) AS nt,
         |    CAST(sum(pos) OVER (PARTITION BY nd, f) AS BIGINT) AS pt
         |  FROM h$p),
         |sc$p AS (SELECT nd, f, bin, nt, pt, CAST(round((
         |    (CAST(nl AS DOUBLE) / nt) * (1.0
         |      - (CAST(pl AS DOUBLE) / nl) * (CAST(pl AS DOUBLE) / nl)
         |      - (CAST(nl - pl AS DOUBLE) / nl) * (CAST(nl - pl AS DOUBLE) / nl))
         |    + (CAST(nt - nl AS DOUBLE) / nt) * (1.0
         |      - (CAST(pt - pl AS DOUBLE) / (nt - nl)) *
         |        (CAST(pt - pl AS DOUBLE) / (nt - nl))
         |      - (CAST((nt - nl) - (pt - pl) AS DOUBLE) / (nt - nl)) *
         |        (CAST((nt - nl) - (pt - pl) AS DOUBLE) / (nt - nl)))
         |    ) * 1000000, 0) AS BIGINT) AS gq
         |  FROM c$p WHERE nl < nt),
         |b$p AS (SELECT sc.nd, sc.f, sc.bin, sc.gq, sc.nt, sc.pt, st.mn, st.mx
         |  FROM (SELECT *, row_number() OVER (PARTITION BY nd
         |      ORDER BY gq, f, bin) AS rn FROM sc$p) sc
         |  JOIN st$p st ON st.nd = sc.nd AND st.f = sc.f
         |  WHERE sc.rn = 1)""".stripMargin
    def binSql(v: String, mn: String, mx: String) =
      s"""CAST(CASE WHEN $mx = $mn THEN 0
         |  ELSE least(floor(($v - $mn) / (($mx - $mn) / $nBins)), ${nBins - 1})
         |  END AS INT)""".stripMargin
    def nodeRowSql(b: String, name: String) =
      s"""SELECT $name AS node, f AS feature,
         |  round(mn + CAST(bin + 1 AS DOUBLE) * ((mx - mn) / $nBins), 4)
         |    AS split_value,
         |  round(CAST(gq AS DOUBLE) / 1000000, 4) AS weighted_gini,
         |  nt AS n_rows, pt AS n_pos FROM $b""".stripMargin
    s"""WITH m0 AS (${meltSql(tableSql, "'~'")}),
       |${chain("0", "m0")},
       |w1 AS (SELECT t.*,
       |    CASE WHEN ${binSql(chosen, "b.mn", "b.mx")} <= b.bin
       |      THEN 'L' ELSE 'R' END AS nd
       |  FROM $tableSql t CROSS JOIN b0 b),
       |m1 AS (${meltSql("w1", "nd")}),
       |${chain("1", "m1")},
       |leaves AS (SELECT t.nd ||
       |    CASE WHEN ${binSql(chosen, "b.mn", "b.mx")} <= b.bin
       |      THEN 'L' ELSE 'R' END AS node,
       |    CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(sum($labelSql) AS BIGINT) AS n_pos
       |  FROM w1 t JOIN b1 b ON b.nd = t.nd
       |  WHERE ($chosen) IS NOT NULL AND ($labelSql) IS NOT NULL
       |  GROUP BY 1)
       |SELECT * FROM (
       |  ${nodeRowSql("b0", "'~'")}
       |  UNION ALL ${nodeRowSql("b1", "nd")}
       |  UNION ALL SELECT node, '-', 0.0, 0.0, n_rows, n_pos FROM leaves)
       |ORDER BY node""".stripMargin
  }
}
