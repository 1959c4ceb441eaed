package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.Rounds.materialize

/** Association mining over basket-shaped data (orders × items, sessions ×
  * pages, documents × entities): pairwise co-occurrence support with
  * confidence and lift — the first round of Apriori, which in practice is
  * the round that matters at 100 TB (higher-order itemsets prune from it).
  *
  * Scale shape: the pair join is keyed on the BASKET id, so its fan-out is
  * quadratic only in the per-basket item count — bounded by real basket
  * sizes, not the corpus; `maxBasketSize` drops degenerate mega-baskets
  * (the classic skew pathology: one crawler session with 10^6 items) before
  * they explode. Item/pair supports are counting groupBys (map-side
  * combinable). Counts are exact integers; confidence/lift mirror one
  * double parenthesization for cross-engine reproducibility.
  */
object Association {

  /** Frequent co-occurring pairs: one row per unordered item pair (a < b)
    * with pair support, item supports, confidence(a→b) = sup(ab)/sup(a)
    * and lift = sup(ab)·N / (sup(a)·sup(b)), filtered to
    * `minSupport` ≤ sup(ab) and ranked by (sup desc, a, b) top-`topK`.
    */
  def pairSupport(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, topK: Int, maxBasketSize: Int = 1000): DataFrame = {
    require(minSupport >= 1, "minSupport must be positive")
    require(topK >= 1, "topK must be positive")
    // the distinct basket-item table feeds an EAGER count (nBaskets), the
    // item-support aggregate, and the bounded self-join — materialize it; the
    // eager count alone would otherwise pay the full distinct again
    val items = materialize(df.select(col(basketCol).as("_b"), col(itemCol).as("_i"))
      .where(col("_i").isNotNull).distinct())
    val bounded = items
      .withColumn("_sz", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("_b"))))
      .where(col("_sz") <= maxBasketSize).drop("_sz")
    val nBaskets = items.select(col("_b")).distinct().count()
    val itemSup = items.groupBy(col("_i")).agg(count(lit(1)).as("sup"))
    val pairs = bounded.as("x").join(bounded.as("y"),
        col("x._b") === col("y._b") && col("x._i") < col("y._i"))
      .select(col("x._i").as("a"), col("y._i").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("pair_sup"))
    val out = pairs.where(col("pair_sup") >= minSupport)
      .join(itemSup.withColumnRenamed("_i", "a").withColumnRenamed("sup", "sup_a"), Seq("a"))
      .join(itemSup.withColumnRenamed("_i", "b").withColumnRenamed("sup", "sup_b"), Seq("b"))
      .select(col("a"), col("b"), col("pair_sup"), col("sup_a"), col("sup_b"),
        round(col("pair_sup").cast("double") / col("sup_a"), 4).as("confidence"),
        round(col("pair_sup").cast("double") * nBaskets /
          (col("sup_a").cast("double") * col("sup_b")), 4).as("lift"))
    out.orderBy(col("pair_sup").desc, col("a"), col("b")).limit(topK)
  }

  /** Item-item collaborative filtering: for every item, its k most-similar
    * items by co-occurrence cosine `co / √(n_a·n_b)` (Sarwar et al. 2001 —
    * the classic "customers who bought X also bought" neighborhood model;
    * [[pairSupport]] scores RULES by confidence/lift, this builds the
    * per-item NEIGHBOR list a recommender serves).
    *
    * Same basket-keyed self-join shape and mega-basket cap as
    * [[pairSupport]] (the quadratic is only in basket size); cosine is
    * exact integers to one fixed expression; neighbor lists are window
    * top-k per item with (score desc, neighbor asc) determinism.
    */
  def itemNeighbors(df: DataFrame, basketCol: String, itemCol: String,
      k: Int, minPairSup: Long = 1, maxBasketSize: Int = 1000): DataFrame = {
    require(k >= 1, "k must be positive")
    val items = materialize(df.select(col(basketCol).as("_b"), col(itemCol).as("_i"))
      .where(col("_i").isNotNull).distinct())
    val bounded = items
      .withColumn("_sz", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("_b"))))
      .where(col("_sz") <= maxBasketSize).drop("_sz")
    val itemSup = items.groupBy(col("_i")).agg(count(lit(1)).as("_sup"))
    val co = bounded.as("x").join(bounded.as("y"),
        col("x._b") === col("y._b") && col("x._i") =!= col("y._i"))
      .select(col("x._i").as("item"), col("y._i").as("neighbor"))
      .groupBy("item", "neighbor").agg(count(lit(1)).as("co"))
      .where(col("co") >= minPairSup)
    val scored = co
      .join(itemSup.select(col("_i").as("item"), col("_sup").as("_na")), Seq("item"))
      .join(itemSup.select(col("_i").as("neighbor"), col("_sup").as("_nb")),
        Seq("neighbor"))
      .withColumn("cos", round(col("co").cast("double") /
        sqrt(col("_na").cast("double") * col("_nb")), 6))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("item")
      .orderBy(col("cos").desc, col("neighbor").asc)
    scored.withColumn("_rk", row_number().over(w)).where(col("_rk") <= k)
      .select(col("item"), col("_rk").cast("long").as("rank"),
        col("neighbor"), col("co"), col("cos"))
  }
}
