package graft.graph

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, GraftStatsBridge, Observation, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType

/** The one materialization primitive of graft. Every frame an operator or
  * a read query computes once and reads more than once goes through
  * [[materialize]]: a loop's per-round state, a loop's edge frame, an
  * index (postings, adjacency, candidate and shingle sets), an id-stamped
  * base, the battery's fixture graphs, and the query plane's hop
  * branches, over-cap frontiers and results. It is an eager
  * `localCheckpoint`, never a cache; `MaterializePolicySpec` keeps every
  * cache call out of `src/main` with no exception, so a reliable-checkpoint
  * switch has one site, and it covers reads as well as operators.
  *
  * Why a checkpoint and not a cache:
  *   - it materializes AND severs lineage. A cache keeps the symbolic plan
  *     of every earlier round inside the new frame, so a cache miss (or any
  *     post-loop aggregate after unpersist) replays the whole iteration
  *     history, and broadcast-subquery plans defeat fragment reuse —
  *     measured superlinear per-round cost on the k-core loop;
  *   - it runs through AQE, so small exchanges coalesce instead of pinning
  *     the session's shuffle-partition count the way a cache does (16x
  *     task-count inflation per round when the PageRank frames persisted);
  *   - it has no lifetime to get wrong: the context cleaner frees
  *     superseded blocks once the frame is unreferenced, so there is no
  *     unpersist to forget, and none to call too early (operators return
  *     lazy frames that read their indexes after the operator returned);
  *   - it freezes values. A frame stamped with `monotonically_increasing_id`
  *     (or `spark_partition_id`, or row ordinals over a shuffle) keeps its
  *     ids. An evicted cache block or `spark.catalog.clearCache()` silently
  *     recomputes a cached frame with NEW ids; a lost checkpoint block
  *     fails the job.
  * Eager means one job at the call. What a caller needs to know about the
  * frame (rows, changes, totals) rides that job as counters.
  *
  * The broadcast rule: a checkpoint's plan statistics become its stored
  * bytes and row count, so Spark's autoBroadcastJoinThreshold decides each
  * join against a frozen frame (or a projection or filter of one); no
  * operator sizes a broadcast. Inherited estimates read 341 GB for a
  * 1,000-row self-join cut that stores 84 KB (a shuffle join that AQE
  * repairs with extra jobs), and a schema estimate prices an array as one
  * element (586 KiB for 50,000 64-double vectors storing 30.6 MB).
  */
private[graft] object Rounds {

  /** Materialize `df` eagerly and sever its lineage. */
  def materialize(df: DataFrame): DataFrame = materialize(df, Nil: _*)._1

  /** [[materialize]] with `counters` (aggregate columns, each named with
    * `.as`) observed in the same job; returns the frame and one row of
    * counter values in argument order. A counter that comes back null (a
    * `sum` over no rows) fails loudly with its name, not unboxed to 0.
    */
  def materialize(df: DataFrame, counters: Column*): (DataFrame, Row) = {
    val obs = Observation()
    val out = df.observe(obs, count(lit(1)).as("_frozen_rows"), counters: _*)
      .localCheckpoint(true)
    val row = Await.result(obs.future, Duration.Inf)
    row.schema.fieldNames.zipWithIndex.foreach { case (name, i) =>
      if (row.isNullAt(i))
        throw new IllegalStateException(s"round counter '$name' came back null")
    }
    (GraftStatsBridge.withStoredStats(out, row.getLong(0)),
      new GenericRowWithSchema(row.toSeq.tail.toArray, StructType(row.schema.tail)))
  }
}
