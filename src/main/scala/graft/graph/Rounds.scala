package graft.graph

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

/** The one materialization primitive of graft's operators. Every frame an
  * operator computes once and reads more than once goes through
  * [[materialize]]: a loop's per-round state, a loop's edge frame, an
  * index (postings, adjacency, candidate and shingle sets) and an
  * id-stamped base. It is an eager `localCheckpoint`, never `persist`. The
  * only `persist` sites left in `src/main` are the query plane's hop frames
  * (filled by one union job), the public `GraphOutput.cache` and the
  * battery's session-lifetime fixture memo; `MaterializePolicySpec` keeps
  * it that way, so a reliable-checkpoint switch has this one site to
  * change.
  *
  * Why a checkpoint and not a cache:
  *   - it materializes AND severs lineage. A cache keeps the symbolic plan
  *     of every earlier round inside the new frame, so a cache miss (or any
  *     post-loop aggregate after unpersist) replays the whole iteration
  *     history, and the broadcast-subquery plans defeat fragment reuse —
  *     measured superlinear per-round cost on the k-core loop;
  *   - it runs through AQE, so small exchanges coalesce instead of pinning
  *     the session's shuffle-partition count the way a cache does (measured
  *     16x task-count inflation per round when the PageRank frames were
  *     persisted);
  *   - it has no lifetime to get wrong. Superseded blocks are freed by the
  *     context cleaner once the frame is unreferenced, so there is no
  *     unpersist to forget (operators return lazy frames that read their
  *     indexes after the operator returned) and none to call too early;
  *   - it freezes values. A frame stamped with `monotonically_increasing_id`
  *     (or `spark_partition_id`, or row ordinals over a shuffle) keeps the
  *     ids it was checkpointed with. A cache is only a hint: an evicted
  *     block or `spark.catalog.clearCache()` silently recomputes the frame
  *     and mints NEW ids, where a lost checkpoint block fails the job.
  * Eager means one job at the call. What a caller needs to know about the
  * frame (rows, changes, totals) rides that job as counters, so no round
  * pays a separate probe job.
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
