package graft.graph

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

/** The round primitive every iterative loop materializes through (the
  * policy — eager `localCheckpoint`, not `persist` — is stated once in
  * [[GraphAlgos]]' scaladoc). A loop keeps its own step logic; what it
  * needs to know about a round (rows, changes, totals) rides the round's
  * own checkpoint job as counters, so no round pays a separate probe job.
  */
private[graft] object Rounds {

  /** Materialize `df` eagerly and sever its lineage. */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** [[materialize]] with `counters` (aggregate columns, each named with
    * `.as`) observed in the same job; returns the frame and one row of
    * counter values in argument order. A counter that comes back null (a
    * `sum` over no rows) fails loudly with its name instead of unboxing
    * to 0.
    */
  def materialize(df: DataFrame, counters: Column*): (DataFrame, Row) = {
    require(counters.nonEmpty, "the counted form needs at least one counter")
    val obs = Observation()
    val out = materialize(df.observe(obs, counters.head, counters.tail: _*))
    val row = Await.result(obs.future, Duration.Inf)
    row.schema.fieldNames.zipWithIndex.foreach { case (name, i) =>
      if (row.isNullAt(i))
        throw new IllegalStateException(s"round counter '$name' came back null")
    }
    (out, row)
  }
}
