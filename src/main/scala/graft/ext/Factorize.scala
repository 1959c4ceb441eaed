package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.Rounds.materialize

/** Rank-1 alternating least squares — the distributed core of recommender
  * training (r̂_ui = x_u · y_i), in the house exact-integer fixed-point
  * style. Each half-step is the closed-form least-squares update
  *
  *   x_u = Σ_i r_ui·y_i / Σ_i y_i²     (then symmetrically for y)
  *
  * evaluated as `(scale² · Σ r·y) floorDiv (Σ y²)` over exact longs, so
  * the whole training replays bit-for-bit in any engine. Factors live in
  * `scale`-scaled units (y₀ = scale = 1.0).
  *
  * Scale shape: per half-step ONE join of the ratings frame against the
  * frozen opposite factor table (the broadcast side while small) + a
  * map-side-combinable keyed aggregate — the classic ALS data flow; no
  * driver data path at all (the factor tables stay distributed; only
  * checkpoint jobs run). Rank-k is the same flow with k-vectors; rank-1
  * keeps the arithmetic long-exact.
  *
  * Caller contract: ratings deduplicated per (user, item);
  * `max_deg · (maxRating·scale)² · scale` within a long — at the default
  * scale (10³) and ratings ≤ ~10², degrees up to ~10⁴ are safe.
  */
object Factorize {

  /** Returns (userFactors(user, x), itemFactors(item, y)) after
    * `rounds` full alternations (x-update then y-update per round).
    */
  def als1(ratings: DataFrame, userCol: String, itemCol: String,
      ratingCol: String, rounds: Int, scale: Long = 1000L): (DataFrame, DataFrame) = {
    require(rounds >= 1, "need at least one round")
    val r = materialize(ratings.select(col(userCol).as("u"), col(itemCol).as("i"),
      col(ratingCol).cast("long").as("r")))
    val s2 = scale * scale
    var y = materialize(r.select(col("i")).distinct().withColumn("y", lit(scale)))
    var x: DataFrame = null
    for (_ <- 1 to rounds) {
      x = materialize(r.join(y, Seq("i"))
        .groupBy("u").agg(sum(col("r") * col("y")).as("_ry"),
          sum(col("y") * col("y")).as("_yy"))
        .select(col("u"), expr(s"($s2 * _ry) div _yy").as("x")))
      y = materialize(r.join(x, Seq("u"))
        .groupBy("i").agg(sum(col("r") * col("x")).as("_rx"),
          sum(col("x") * col("x")).as("_xx"))
        .select(col("i"), expr(s"($s2 * _rx) div _xx").as("y")))
    }
    (x.withColumnRenamed("u", userCol), y.withColumnRenamed("i", itemCol))
  }

  /** Reconstruction RMSE in rating units: absolute errors `|r·scale² − x·y|`
    * are floor-divided back to `scale` units BEFORE squaring so the squared
    * sum stays long-exact (order-free), then one double sqrt. The abs comes
    * first so the integer division is over non-negative values, where
    * Spark's `div` (truncate) and DuckDB's `//` (floor) agree.
    */
  def als1Rmse(ratings: DataFrame, userCol: String, itemCol: String,
      ratingCol: String, x: DataFrame, y: DataFrame,
      scale: Long = 1000L): DataFrame = {
    val s2 = scale * scale
    val joined = ratings
      .select(col(userCol).as("u"), col(itemCol).as("i"),
        col(ratingCol).cast("long").as("r"))
      .join(x.select(col(userCol).as("u"), col("x")), Seq("u"))
      .join(y.select(col(itemCol).as("i"), col("y")), Seq("i"))
      .withColumn("_e", expr(s"abs(r * $s2 - x * y) div $scale"))
    joined.agg(count(lit(1)).as("n_ratings"),
        sum(col("_e") * col("_e")).as("_sse"))
      .select(col("n_ratings"),
        round(sqrt(col("_sse").cast("double") / col("n_ratings")) /
          scale.toDouble, 4).as("rmse"))
  }

  /** DuckDB replay of [[als1]] + [[als1Rmse]]: `ratingsSql` must select
    * (u, i, r) deduplicated. Produces CTEs x1/y1..x$rounds/y$rounds and
    * `metrics(n_ratings, rmse)`.
    */
  def als1OracleSql(ratingsSql: String, rounds: Int,
      scale: Long = 1000L): String = {
    val s2 = scale * scale
    val head =
      s"""WITH R AS ($ratingsSql),
         |y0 AS (SELECT DISTINCT i, ${scale}::BIGINT AS y FROM R)""".stripMargin
    val iters = (1 to rounds).map { k =>
      s"""x$k AS (SELECT u, (($s2 * sum(r * y)) // sum(y * y))::BIGINT AS x
         |  FROM R JOIN y${k - 1} USING (i) GROUP BY u),
         |y$k AS (SELECT i, (($s2 * sum(r * x)) // sum(x * x))::BIGINT AS y
         |  FROM R JOIN x$k USING (u) GROUP BY i)""".stripMargin
    }
    val metrics =
      s"""err AS (SELECT (abs(r * $s2 - x.x * y.y) // $scale)::BIGINT AS e
         |  FROM R JOIN x$rounds x USING (u) JOIN y$rounds y USING (i)),
         |metrics AS (SELECT count(*)::BIGINT AS n_ratings,
         |  round(sqrt(sum(e * e)::DOUBLE / count(*)) / $scale.0, 4) AS rmse
         |  FROM err)""".stripMargin
    (head +: iters :+ metrics).mkString(",\n")
  }
}
