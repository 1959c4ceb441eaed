package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.Rounds.materialize

/** Distributed linear regression the way a 100 TB pipeline has to do it:
  * ONE partial-aggregated pass over the data accumulating the integer
  * Gram-matrix sums (sum(x_i*x_j), sum(x_i*y), marginals, n), then an exact
  * normal-equation solve on the DRIVER from those ten numbers. The cluster
  * never sees the model; the model never sees more than ten longs. This is
  * the classic "sufficient statistics" decomposition (reference analogue:
  * graflo's aggregate surface stops at COUNT/MIN/MAX/AVG —
  * graflo/architecture/query/aggregate.py; regression is part of the
  * training-data-pipeline extension surface, not a port).
  *
  * Determinism discipline: inputs are integer-quantized by the caller, so
  * the distributed sums are exact integers (order-free). The solve runs in
  * covariance form (`S = n*sum(xy) - sum(x)*sum(y)`) with Cramer's rule over
  * exact BigInt products; the ONLY inexact steps are the final
  * BigInt->double casts and fixed-order double expressions, which the
  * DuckDB oracle replicates term-for-term in HUGEINT + DOUBLE.
  *
  * Scale notes: the aggregate is a single `groupBy().agg` with map-side
  * partials — 10 longs per partition cross the exchange, nothing else. No
  * iteration, no feature matrix materialization, no driver data path other
  * than the one-row collect.
  */
object Regression {

  /** Exact integer sufficient statistics for a 2-feature regression. */
  final case class Gram2(
      n: BigInt,
      sx1: BigInt, sx2: BigInt, sy: BigInt,
      sx1x1: BigInt, sx2x2: BigInt, sx1x2: BigInt,
      sx1y: BigInt, sx2y: BigInt, syy: BigInt)

  /** One aggregation job: the ten integer sums. Columns must already be
    * integer-quantized (cast to long) by the caller.
    */
  def gram2(df: DataFrame, x1: String, x2: String, y: String): Gram2 = {
    val c1 = col(x1).cast("long"); val c2 = col(x2).cast("long")
    val cy = col(y).cast("long")
    val r = df.agg(
      count(lit(1)).as("n"),
      sum(c1).as("sx1"), sum(c2).as("sx2"), sum(cy).as("sy"),
      sum(c1 * c1).as("sx1x1"), sum(c2 * c2).as("sx2x2"),
      sum(c1 * c2).as("sx1x2"),
      sum(c1 * cy).as("sx1y"), sum(c2 * cy).as("sx2y"),
      sum(cy * cy).as("syy")).head()
    Gram2(BigInt(r.getLong(0)), BigInt(r.getLong(1)), BigInt(r.getLong(2)),
      BigInt(r.getLong(3)), BigInt(r.getLong(4)), BigInt(r.getLong(5)),
      BigInt(r.getLong(6)), BigInt(r.getLong(7)), BigInt(r.getLong(8)),
      BigInt(r.getLong(9)))
  }

  /** Closed-form coefficients for `y ~ b0 + b1*x1 + b2*x2` from the exact
    * sums, plus R². `lambda` > 0 adds a ridge penalty on the diagonal of
    * the covariance-form normal matrix (units: quantized-covariance counts,
    * i.e. comparable to `n*sum(x^2) - sum(x)^2`); 0 = plain OLS.
    *
    * All integer algebra is exact (BigInt); the double expressions are
    * written in one fixed association order that the oracle SQL mirrors.
    */
  def solve2(g: Gram2, lambda: BigInt = BigInt(0)): (Double, Double, Double, Double) = {
    val s11 = g.n * g.sx1x1 - g.sx1 * g.sx1 + lambda
    val s22 = g.n * g.sx2x2 - g.sx2 * g.sx2 + lambda
    val s12 = g.n * g.sx1x2 - g.sx1 * g.sx2
    val c1  = g.n * g.sx1y - g.sx1 * g.sy
    val c2  = g.n * g.sx2y - g.sx2 * g.sy
    val syy = g.n * g.syy - g.sy * g.sy
    val det = s11 * s22 - s12 * s12
    require(det != 0, "singular normal matrix — features are collinear")
    val b1 = (c1 * s22 - c2 * s12).toDouble / det.toDouble
    val b2 = (c2 * s11 - c1 * s12).toDouble / det.toDouble
    val b0 = (g.sy.toDouble - b1 * g.sx1.toDouble - b2 * g.sx2.toDouble) / g.n.toDouble
    // full quadratic-form SSE (valid for ridge too, where the normal
    // equations don't reduce it): SSE_s = Syy - 2(b.c) + b'Sb, all in
    // covariance scale; R^2 = 1 - SSE_s/Syy. Ridge diagonals use the
    // UNPENALIZED S for the fit metric.
    val s11p = s11 - lambda; val s22p = s22 - lambda
    val sse = syy.toDouble - 2.0 * (b1 * c1.toDouble + b2 * c2.toDouble) +
      (b1 * b1 * s11p.toDouble + 2.0 * (b1 * b2 * s12.toDouble) +
        b2 * b2 * s22p.toDouble)
    val r2 = 1.0 - sse / syy.toDouble
    (b0, b1, b2, r2)
  }

  /** Poisson GLM (log link) on a LOW-CARDINALITY ordinal covariate —
    * `y ~ Poisson(exp(b0 + b1·x))` fit by `rounds` Newton steps. The
    * data-sized work is ONE keyed aggregate to the per-level profile
    * (x, n, Σy); training runs on that profile (levels-many rows — the
    * canonical GLM-on-sufficient-statistics decomposition, valid because
    * the Poisson log-likelihood depends on the data only through per-level
    * counts when x is discrete).
    *
    * Engine parity: the only libm calls are `exp` per LEVEL per round
    * (≤ levels·rounds, each immediately quantized to micro-units), so
    * gradient/Hessian sums are exact integers; the Newton solve is exact
    * BigInt Cramer + one double division per coefficient — the same
    * contract as [[solve2]].
    *
    * Returns one row per level: x, n_obs, mean_y, lambda_hat (the fitted
    * rate), with b0/b1 (6 dp) repeated on every row.
    */
  def poissonGlm(df: DataFrame, xCol: String, yCol: String,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "rounds >= 1")
    val prof = df.groupBy(col(xCol).cast("long").as("x"))
      .agg(count(lit(1)).as("n"), sum(col(yCol).cast("long")).as("sy"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    require(prof.nonEmpty, "empty input")
    require(prof.length <= 10000, "xCol must be low-cardinality (levels <= 1e4)")
    val nTot = prof.map(_._2).sum
    val syTot = prof.map(_._3).sum
    var b0 = math.log(syTot.toDouble / nTot)
    var b1 = 0.0
    for (_ <- 1 to rounds) {
      // per-level rate, micro-quantized the instant it leaves libm
      val lamQ = prof.map { case (x, _, _) =>
        BigDecimal(math.exp(b0 + b1 * x) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt
      }
      val h11 = prof.zip(lamQ).map { case ((_, n, _), l) => BigInt(n) * l }.sum
      val h12 = prof.zip(lamQ).map { case ((x, n, _), l) =>
        BigInt(x) * BigInt(n) * l }.sum
      val h22 = prof.zip(lamQ).map { case ((x, n, _), l) =>
        BigInt(x) * BigInt(x) * BigInt(n) * l }.sum
      val g1 = BigInt(syTot) * BigInt(1000000) - h11
      val g2 = prof.map { case (x, _, sy) => BigInt(x) * BigInt(sy) }.sum *
        BigInt(1000000) - h12
      val det = h11 * h22 - h12 * h12
      require(det != 0, "singular Hessian")
      b0 += (h22 * g1 - h12 * g2).toDouble / det.toDouble
      b1 += (h11 * g2 - h12 * g1).toDouble / det.toDouble
    }
    val spark = df.sparkSession
    import spark.implicits._
    val b0r = BigDecimal(b0).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    val b1r = BigDecimal(b1).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    prof.toSeq.map { case (x, n, sy) =>
      val lam = BigDecimal(math.exp(b0 + b1 * x))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val my = BigDecimal(sy.toDouble / n)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (x, n, my, lam, b0r, b1r)
    }.toDF("x", "n_obs", "mean_y", "lambda_hat", "b0", "b1")
  }

  /** Logistic regression (binomial GLM, logit link) of a 0/1 outcome
    * against ONE low-cardinality covariate — the Platt-scaling /
    * propensity-model face of the GLM family, built exactly like
    * [[poissonGlm]]: the data-sized work is ONE profile aggregate
    * (x → trials n, successes sy); Newton-Raphson then runs on the driver
    * over exact BigInt gradient/Hessian sums.
    *
    * Engine parity: the fitted probability is quantized to micro-units the
    * instant it leaves libm (`pq = round(1e6·σ(b0+b1x))`, one sigmoid per
    * LEVEL per round), so the IRLS weight `n·pq·(1e6−pq)` (units 1e12) and
    * gradient `sy·1e6 − n·pq` (units 1e6) are exact integers; the Newton
    * step re-scales by 1e6 after one double division per coefficient —
    * the same contract the HUGEINT oracle mirrors term-for-term.
    *
    * Returns one row per level: x, n_obs (trials), mean_y (empirical rate,
    * 4 dp), p_hat (fitted probability, 4 dp), with b0/b1 (6 dp) repeated.
    */
  def logitGlm(df: DataFrame, xCol: String, yCol: String,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "rounds >= 1")
    val prof = df.groupBy(col(xCol).cast("long").as("x"))
      .agg(count(lit(1)).as("n"), sum(col(yCol).cast("long")).as("sy"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    require(prof.nonEmpty, "empty input")
    require(prof.length <= 10000, "xCol must be low-cardinality (levels <= 1e4)")
    val nTot = prof.map(_._2).sum
    val syTot = prof.map(_._3).sum
    require(syTot > 0 && syTot < nTot, "outcome must have both classes")
    var b0 = math.log(syTot.toDouble / (nTot - syTot))
    var b1 = 0.0
    for (_ <- 1 to rounds) {
      // fitted probability per level, micro-quantized straight out of libm
      val pQ = prof.map { case (x, _, _) =>
        BigDecimal(1000000.0 / (1.0 + math.exp(-(b0 + b1 * x))))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt
      }
      // IRLS weights n·p·(1−p) in 1e12 units — exact integers
      val w = prof.zip(pQ).map { case ((_, n, _), p) =>
        BigInt(n) * p * (BigInt(1000000) - p) }
      val h11 = w.sum
      val h12 = prof.zip(w).map { case ((x, _, _), wi) => BigInt(x) * wi }.sum
      val h22 = prof.zip(w).map { case ((x, _, _), wi) =>
        BigInt(x) * BigInt(x) * wi }.sum
      // score in 1e6 units — exact integers
      val g1 = BigInt(syTot) * BigInt(1000000) -
        prof.zip(pQ).map { case ((_, n, _), p) => BigInt(n) * p }.sum
      val g2 = prof.map { case (x, _, sy) => BigInt(x) * BigInt(sy) }.sum *
        BigInt(1000000) -
        prof.zip(pQ).map { case ((x, n, _), p) => BigInt(x) * BigInt(n) * p }.sum
      val det = h11 * h22 - h12 * h12
      require(det != 0, "singular Hessian")
      // units: grad 1e6, Hessian 1e12 → step re-scales by 1e6
      b0 += 1e6 * (h22 * g1 - h12 * g2).toDouble / det.toDouble
      b1 += 1e6 * (h11 * g2 - h12 * g1).toDouble / det.toDouble
    }
    val spark = df.sparkSession
    import spark.implicits._
    val b0r = BigDecimal(b0).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    val b1r = BigDecimal(b1).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    prof.toSeq.map { case (x, n, sy) =>
      val p = BigDecimal(1.0 / (1.0 + math.exp(-(b0 + b1 * x))))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val my = BigDecimal(sy.toDouble / n)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (x, n, my, p, b0r, b1r)
    }.toDF("x", "n_obs", "mean_y", "p_hat", "b0", "b1")
  }

  /** DuckDB replay of [[logitGlm]] — Newton rounds unrolled over the
    * profile CTE; `srcSql` must produce (x, y) rows with y ∈ {0,1}.
    */
  def logitGlmOracleSql(srcSql: String, rounds: Int): String = {
    val iters = (1 to rounds).map { r =>
      s"""pq$r AS (SELECT p.x, p.n, p.sy,
         |    CAST(round(1000000 / (1 + exp(-(b.b0 + b.b1 * p.x))), 0)
         |      AS HUGEINT) AS pq
         |  FROM prof p CROSS JOIN beta${r - 1} b),
         |hs$r AS (SELECT
         |    sum(n::HUGEINT * pq * (1000000 - pq)) AS h11,
         |    sum(x::HUGEINT * n * pq * (1000000 - pq)) AS h12,
         |    sum(x::HUGEINT * x * n * pq * (1000000 - pq)) AS h22,
         |    (SELECT sum(sy) FROM prof)::HUGEINT * 1000000
         |      - sum(n::HUGEINT * pq) AS g1,
         |    (SELECT sum(x::HUGEINT * sy) FROM prof) * 1000000
         |      - sum(x::HUGEINT * n * pq) AS g2
         |  FROM pq$r),
         |beta$r AS (SELECT
         |    b.b0 + 1e6 * (h.h22 * h.g1 - h.h12 * h.g2)::DOUBLE /
         |      (h.h11 * h.h22 - h.h12 * h.h12)::DOUBLE AS b0,
         |    b.b1 + 1e6 * (h.h11 * h.g2 - h.h12 * h.g1)::DOUBLE /
         |      (h.h11 * h.h22 - h.h12 * h.h12)::DOUBLE AS b1
         |  FROM beta${r - 1} b CROSS JOIN hs$r h)""".stripMargin
    }.mkString(",\n")
    s"""WITH src AS ($srcSql),
       |prof AS (SELECT x::BIGINT AS x, count(*)::BIGINT AS n,
       |    sum(y)::BIGINT AS sy FROM src GROUP BY 1),
       |beta0 AS (SELECT ln((SELECT sum(sy) FROM prof)::DOUBLE /
       |    ((SELECT sum(n) FROM prof) - (SELECT sum(sy) FROM prof))) AS b0,
       |  0.0::DOUBLE AS b1),
       |$iters
       |SELECT p.x, p.n AS n_obs,
       |  round(p.sy::DOUBLE / p.n, 4) AS mean_y,
       |  round(1 / (1 + exp(-(b.b0 + b.b1 * p.x))), 4) AS p_hat,
       |  round(b.b0, 6) AS b0, round(b.b1, 6) AS b1
       |FROM prof p CROSS JOIN beta$rounds b
       |ORDER BY p.x""".stripMargin
  }

  /** DuckDB replay of [[poissonGlm]] — Newton rounds unrolled over the
    * profile CTE; `srcSql` must produce (x, y) rows.
    */
  def poissonGlmOracleSql(srcSql: String, rounds: Int): String = {
    val iters = (1 to rounds).map { r =>
      s"""lam$r AS (SELECT p.x, p.n, p.sy,
         |    CAST(round(exp(b.b0 + b.b1 * p.x) * 1e6, 0) AS HUGEINT) AS lq
         |  FROM prof p CROSS JOIN beta${r - 1} b),
         |hs$r AS (SELECT sum(n::HUGEINT * lq) AS h11,
         |    sum(x::HUGEINT * n * lq) AS h12,
         |    sum(x::HUGEINT * x * n * lq) AS h22,
         |    (SELECT sum(sy) FROM prof)::HUGEINT * 1000000
         |      - sum(n::HUGEINT * lq) AS g1,
         |    (SELECT sum(x::HUGEINT * sy) FROM prof) * 1000000
         |      - sum(x::HUGEINT * n * lq) AS g2
         |  FROM lam$r),
         |beta$r AS (SELECT
         |    b.b0 + (h.h22 * h.g1 - h.h12 * h.g2)::DOUBLE /
         |      (h.h11 * h.h22 - h.h12 * h.h12)::DOUBLE AS b0,
         |    b.b1 + (h.h11 * h.g2 - h.h12 * h.g1)::DOUBLE /
         |      (h.h11 * h.h22 - h.h12 * h.h12)::DOUBLE AS b1
         |  FROM beta${r - 1} b CROSS JOIN hs$r h)""".stripMargin
    }.mkString(",\n")
    s"""WITH src AS ($srcSql),
       |prof AS (SELECT x::BIGINT AS x, count(*)::BIGINT AS n,
       |    sum(y)::BIGINT AS sy FROM src GROUP BY 1),
       |beta0 AS (SELECT ln((SELECT sum(sy) FROM prof)::DOUBLE /
       |    (SELECT sum(n) FROM prof)) AS b0, 0.0::DOUBLE AS b1),
       |$iters
       |SELECT p.x, p.n AS n_obs,
       |  round(p.sy::DOUBLE / p.n, 4) AS mean_y,
       |  round(exp(b.b0 + b.b1 * p.x), 4) AS lambda_hat,
       |  round(b.b0, 6) AS b0, round(b.b1, 6) AS b1
       |FROM prof p CROSS JOIN beta$rounds b
       |ORDER BY p.x""".stripMargin
  }

  /** k-fold cross-validated simple OLS — the leakage-free distributed
    * model-selection loop, done the sufficient-statistics way: ONE keyed
    * aggregate computes the five integer Gram sums PER FOLD; each fold's
    * training stats are then `total − fold` (no second data pass, no
    * per-fold filter jobs), the k driver-side solves quantize their
    * coefficients to micro-units, and ONE more pass scores every row
    * against its own fold's held-out model via a broadcast k-row join.
    *
    * Fold assignment is the house md5 draw (stable under reruns and
    * appends, unlike rand()); residuals `1e6·y − b0q − b1q·x` are exact
    * integers, their squares sum in decimal(38,0) (HUGEINT in the oracle),
    * and the only inexact steps are the per-fold solve divisions and the
    * final rmse = sqrt(sse/1e12/n) — fixed-order double expressions.
    *
    * Returns one row per fold: fold, n_train, n_test, b0, b1 (6 dp),
    * test_rmse (4 dp). Caller quantizes x/y to longs.
    */
  def cvFoldOls(df: DataFrame, keyCol: String, xCol: String, yCol: String,
      k: Int = 5): DataFrame = {
    require(k >= 2, "need at least 2 folds")
    val rows = materialize(df.select(
      (conv(substring(md5(concat(lit("cv:"), col(keyCol).cast("string"))),
        1, 8), 16, 10).cast("long") % k).as("fold"),
      col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y")))
    val fs = rows.groupBy("fold")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .collect()
      .map(r => (r.getLong(0), BigInt(r.getLong(1)), BigInt(r.getLong(2)),
        BigInt(r.getLong(3)), BigInt(r.getLong(4)), BigInt(r.getLong(5))))
      .sortBy(_._1)
    require(fs.length == k, s"expected $k non-empty folds, got ${fs.length}")
    val (tn, tsx, tsy, tsxx, tsxy) =
      (fs.map(_._2).sum, fs.map(_._3).sum, fs.map(_._4).sum,
        fs.map(_._5).sum, fs.map(_._6).sum)
    val models = fs.map { case (fold, n0, sx0, sy0, sxx0, sxy0) =>
      val (n, sx, sy, sxx, sxy) =
        (tn - n0, tsx - sx0, tsy - sy0, tsxx - sxx0, tsxy - sxy0)
      val s11 = n * sxx - sx * sx
      require(s11 != 0, s"fold $fold: degenerate training x")
      val b1 = (n * sxy - sx * sy).toDouble / s11.toDouble
      val b0 = (sy.toDouble - b1 * sx.toDouble) / n.toDouble
      def q6(v: Double) = BigDecimal(v * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      def r6(v: Double) = BigDecimal(v)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (fold, n.toLong, q6(b0), q6(b1), r6(b0), r6(b1))
    }
    val spark = df.sparkSession
    import spark.implicits._
    val mdf = models.toSeq
      .toDF("fold", "n_train", "b0q", "b1q", "b0", "b1")
    rows.join(broadcast(mdf), Seq("fold"))
      .withColumn("_r", (lit(1000000L) * col("y") - col("b0q") -
        col("b1q") * col("x")).cast("decimal(38,0)"))
      .groupBy("fold")
      .agg(max("n_train").as("n_train"), count(lit(1)).as("n_test"),
        max("b0").as("b0"), max("b1").as("b1"),
        sum(col("_r") * col("_r")).as("_sse"))
      .select(col("fold"), col("n_train"), col("n_test"),
        col("b0"), col("b1"),
        round(sqrt(col("_sse").cast("double") / lit(1e12) / col("n_test")), 4)
          .as("test_rmse"))
  }

  /** DuckDB replay of [[cvFoldOls]]; `srcSql` must produce
    * (key VARCHAR, x BIGINT, y BIGINT) rows.
    */
  def cvFoldOlsSql(srcSql: String, k: Int): String = {
    val hex8 =
      """list_sum(list_transform(generate_series(1, 8),
        |      p -> (strpos('0123456789abcdef',
        |              substring(md5('cv:' || key), p, 1)) - 1)
        |           * CAST(power(16, 8 - p) AS BIGINT)))""".stripMargin
    s"""WITH src AS ($srcSql),
       |f AS (SELECT CAST($hex8 % $k AS BIGINT) AS fold, x, y FROM src),
       |fs AS (SELECT fold, count(*)::HUGEINT AS n, sum(x)::HUGEINT AS sx,
       |    sum(y)::HUGEINT AS sy, sum(x*x)::HUGEINT AS sxx,
       |    sum(x*y)::HUGEINT AS sxy FROM f GROUP BY 1),
       |tot AS (SELECT sum(n) AS n, sum(sx) AS sx, sum(sy) AS sy,
       |    sum(sxx) AS sxx, sum(sxy) AS sxy FROM fs),
       |tr AS (SELECT fs.fold, t.n - fs.n AS n, t.sx - fs.sx AS sx,
       |    t.sy - fs.sy AS sy, t.sxx - fs.sxx AS sxx, t.sxy - fs.sxy AS sxy
       |  FROM fs CROSS JOIN tot t),
       |b AS (SELECT fold, n,
       |    (n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE AS b1,
       |    sx, sy FROM tr),
       |b2 AS (SELECT fold, n, b1,
       |    (sy::DOUBLE - b1 * sx::DOUBLE) / n::DOUBLE AS b0 FROM b),
       |bq AS (SELECT fold, n::BIGINT AS n_train,
       |    CAST(round(b0 * 1e6, 0) AS BIGINT) AS b0q,
       |    CAST(round(b1 * 1e6, 0) AS BIGINT) AS b1q,
       |    round(b0, 6) AS b0, round(b1, 6) AS b1 FROM b2),
       |ev AS (SELECT f.fold, count(*)::BIGINT AS n_test,
       |    sum(((1000000*y - b0q - b1q*x)::HUGEINT)
       |      * ((1000000*y - b0q - b1q*x)::HUGEINT)) AS sse
       |  FROM f JOIN bq ON bq.fold = f.fold GROUP BY 1)
       |SELECT bq.fold, bq.n_train, ev.n_test, bq.b0, bq.b1,
       |  round(sqrt(ev.sse::DOUBLE / 1e12 / ev.n_test), 4) AS test_rmse
       |FROM bq JOIN ev ON ev.fold = bq.fold
       |ORDER BY bq.fold""".stripMargin
  }

  /** The DuckDB side of [[solve2]]: CTEs over a one-row CTE `g` holding the
    * ten sums as HUGEINT columns named like [[Gram2]]'s fields, computing
    * b0/b1/b2/r2 with the exact association order of the Scala solve.
    * `lambdaExpr` is a HUGEINT SQL expression (may reference `n`), e.g.
    * `"20::HUGEINT*n*n"`; pass `"0::HUGEINT"` for plain OLS. `sfx` suffixes
    * the CTE names so several models can share one `g`.
    */
  def solve2Sql(lambdaExpr: String, sfx: String): String = {
    val l = s"($lambdaExpr)"
    s"""s$sfx AS (SELECT n*sx1x1 - sx1*sx1 + $l AS s11, n*sx2x2 - sx2*sx2 + $l AS s22,
       |  n*sx1x2 - sx1*sx2 AS s12, n*sx1y - sx1*sy AS c1, n*sx2y - sx2*sy AS c2,
       |  n*syy - sy*sy AS syy, n, sx1, sx2, sy FROM g),
       |b$sfx AS (SELECT
       |  (c1*s22 - c2*s12)::DOUBLE / (s11*s22 - s12*s12)::DOUBLE AS b1,
       |  (c2*s11 - c1*s12)::DOUBLE / (s11*s22 - s12*s12)::DOUBLE AS b2,
       |  s11, s22, s12, c1, c2, syy, n, sx1, sx2, sy FROM s$sfx),
       |m$sfx AS (SELECT
       |  (sy::DOUBLE - b1*sx1::DOUBLE - b2*sx2::DOUBLE) / n::DOUBLE AS b0,
       |  b1, b2,
       |  1.0 - (syy::DOUBLE - 2.0*(b1*c1::DOUBLE + b2*c2::DOUBLE)
       |    + (b1*b1*(s11 - $l)::DOUBLE + 2.0*(b1*b2*s12::DOUBLE)
       |       + b2*b2*(s22 - $l)::DOUBLE)) / syy::DOUBLE AS r2,
       |  n FROM b$sfx)""".stripMargin
  }
}
