package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.model.GraphSchema
import graft.pipeline.{PipelineCompiler, ResourceDef}
import graft.store.GraphStore

/** Streaming surface of the engine.
  *
  * The reference's "streaming" is Kafka batch-consumption with stop
  * conditions (graflo/data_source/kafka.py:27-247 — auto_offset_reset,
  * idle_ms/max_wait_ms); it has no watermarks, event-time windows, or
  * stateful operators. Here the same ingestion pipeline runs over Structured
  * Streaming — `readStream` → the SAME compiled actor pipeline →
  * `foreachBatch` upsert into the graph store. Upsert-on-identity makes the
  * sink idempotent, so at-least-once delivery becomes effectively-once (the
  * reference achieves the same through DB upserts, README "Explicit
  * identities").
  *
  * Windowed/sessionized aggregation over event streams is a Spark-native
  * extension (the driver's `events` table exercises it; FIXTURES.md §B).
  */
object StreamIngest {

  /** Kafka source (needs a live broker; config mirrors kafka.py): JSON-object
    * payloads parsed with an explicit schema.
    */
  def kafkaSource(
      spark: SparkSession,
      bootstrap: String,
      topic: String,
      valueSchemaDdl: String,
      startingOffsets: String = "earliest" // auto_offset_reset (kafka.py)
  ): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()
      .select(from_json(col("value").cast("string"),
        org.apache.spark.sql.types.DataType.fromDDL(valueSchemaDdl)).as("v"),
        col("timestamp").as("_kafka_ts"))
      .select(col("v.*"), col("_kafka_ts"))

  /** File-drop source: new files in a directory become micro-batches. */
  def fileSource(spark: SparkSession, dir: String, schemaDdl: String,
      format: String = "json"): DataFrame =
    spark.readStream.schema(schemaDdl).format(format).load(dir)

  /** Run the actor pipeline per micro-batch and upsert into the store.
    * The pipeline compiler is reused verbatim — batch within foreachBatch is
    * a plain DataFrame, so descend/transform/vertex/edge semantics are
    * identical to batch ingest.
    *
    * Note: micro-batch frames are narrow scans (order-stable), so the
    * compiler's row-id persist is skipped per batch — no per-batch cache
    * accumulation.
    */
  def ingestStream(
      schema: GraphSchema,
      resource: ResourceDef,
      source: DataFrame,
      store: GraphStore,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    source.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // batchId salts blank/assigned synthetic ids: _row_id restarts every
        // micro-batch, so unsalted ids would collide across batches
        if (!batch.isEmpty) store.write(
          PipelineCompiler.compile(schema, resource, batch, idSalt = batchId.toString))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Streaming distinct-count state: HLL registers maintained incrementally
    * — `max(reg)` per bucket is exactly the streaming-aggregation shape
    * (monotone, mergeable, 256 rows of state per group regardless of how
    * many values flow through), so cardinality over an unbounded stream
    * costs O(m) memory where exact distinct state would grow without
    * bound. Run with OutputMode.Complete/Update; estimate a snapshot with
    * [[graft.ext.Sketch.hllEstimate]].
    */
  def hllRegisterStream(source: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // same bucket/rho derivation as the batch side — a register built by
    // the stream equals the register the batch would build on the same rows
    graft.ext.Sketch.hllProject(source, valueCol)
      .groupBy((groupCols.map(col) :+ col("bucket")): _*)
      .agg(max(col("_rho")).as("reg"))
  }

  /** Streaming deduplication for at-least-once sources: one row per id
    * within the watermark horizon (state for ids older than the watermark
    * is evicted, which bounds state size — the scale contract). Duplicates
    * arriving within `watermark` of the original are dropped exactly; pick
    * the horizon from the source's redelivery window (e.g. a Kafka
    * retention / replay bound), not from wall-clock hope.
    */
  def dedupStream(source: DataFrame, idCols: Seq[String], tsCol: String,
      watermark: String): DataFrame =
    source.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** Tumbling event-time window aggregation with a watermark for late data. */
  def tumblingCounts(events: DataFrame, tsCol: String, width: String,
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
      .select(col("window.start").as("ws"), col("cnt"), col("sum_value"))

  /** Sliding event-time window. */
  def slidingCounts(events: DataFrame, tsCol: String, width: String, slide: String,
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width, slide))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("cnt"))

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int, sum: Double)
  final case class SessionOut(user_id: Long, startMs: Long, endMs: Long, n: Int, sum: Double)

  final case class Scd2Event(key: Long, ts: java.sql.Timestamp, value: String)
  final case class Scd2State(curValue: String, curFromMs: Long, lastMs: Long)
  final case class Scd2Out(key: Long, value: String, validFromMs: Long, validToMs: Long)

  final case class SpikeEvent(k: String, b: Long, cnt: Long)
  final case class SpikeState(b0: Long, last: Long, ring: Seq[Long])
  final case class SpikeOut(k: String, bucket_ts: Long, cnt: Long,
    trail_sum: Long, spike: Boolean)

  /** Event-time interval join: each left row pairs with right rows sharing
    * `keyCol` whose timestamp falls in `[leftTs, leftTs + windowSec]` —
    * the attribution/enrichment join (click → purchases within the hour).
    * One code path serves batch AND stream-stream: on streaming inputs
    * pass `watermark` so Spark can bound the join state (state retention =
    * watermark delay + window; without it a stream-stream inner join is
    * rejected for append mode). The time-range predicate is exactly what
    * Spark's streaming joiner uses to expire buffered rows — state never
    * grows beyond the horizon no matter how long the streams run.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String, windowSec: Long,
      watermark: Option[String] = None): DataFrame = {
    val l = watermark.fold(left)(w => left.withWatermark(leftTs, w)).alias("l")
    val r = watermark.fold(right)(w => right.withWatermark(rightTs, w)).alias("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") +
          expr(s"INTERVAL $windowSec SECONDS"))
  }

  /** Streaming SCD2 (the CDC face of [[graft.ext.Events.scd2History]]):
    * per key, state holds the OPEN run (current value + its start); a
    * batch's events process in event-time order, and every value change
    * emits the CLOSED interval [curFrom, changeTs). Open runs stay in
    * state — they are the live dimension row and cannot be emitted in
    * Append mode without later retraction; with per-key ordered delivery
    * (the Kafka-partition-per-key norm) the emitted closed intervals
    * equal the batch scd2History's non-null-valid_to rows, asserted in
    * `StreamingSpec`. State is ONE row per key (the current value), the
    * inherent SCD2 working set — no timeout/eviction needed.
    */
  def scd2Stream(events: Dataset[Scd2Event]): Dataset[Scd2Out] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[Scd2State, Scd2Out](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (k, evs, state: GroupState[Scd2State]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.value))
          var cur = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Out]
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(s) if s.curValue == e.value =>
                cur = Some(s.copy(lastMs = t))
              case Some(s) =>
                out += Scd2Out(k, s.curValue, s.curFromMs, t)
                cur = Some(Scd2State(e.value, t, t))
              case None =>
                cur = Some(Scd2State(e.value, t, t))
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming face of [[graft.ext.Events.spikeDetect]] — the continuous
    * volume alarm over a PRE-BUCKETED count stream (the output of a
    * windowed count; bucketing upstream keeps this operator's state at
    * exactly `trail` longs per key). Per key the state carries the
    * trailing ring of bucket counts; arriving buckets evaluate the same
    * all-integer rule (cnt·den·trail > num·Σtrailing), and gaps ZERO-FILL
    * exactly like the batch grid, so with per-key in-order delivery (the
    * Kafka-partition-per-key norm, same contract as [[scd2Stream]]) the
    * emitted rows equal batch spikeDetect's — asserted in StreamingSpec.
    * Late/duplicate buckets (≤ last seen) are ignored.
    */
  def spikeStream(events: Dataset[SpikeEvent], stepSeconds: Long,
      trail: Int, num: Long, den: Long): Dataset[SpikeOut] = {
    import events.sparkSession.implicits._
    require(stepSeconds > 0 && trail >= 1 && num > 0 && den > 0,
      "positive step, trail, ratio")
    events.groupByKey(_.k)
      .flatMapGroupsWithState[SpikeState, SpikeOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (k, evs, state: GroupState[SpikeState]) =>
          val sorted = evs.toSeq.sortBy(_.b)
          var st = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[SpikeOut]
          def push(b: Long, cnt: Long): Unit = {
            val s = st.get
            val trailSum = s.ring.sum
            val full = b - s.b0 >= trail
            out += SpikeOut(k, b * stepSeconds, cnt, trailSum,
              full && cnt * den * trail > num * trailSum)
            st = Some(s.copy(last = b, ring = (s.ring :+ cnt).takeRight(trail)))
          }
          sorted.foreach { e =>
            st match {
              case None =>
                st = Some(SpikeState(e.b, e.b - 1, Vector.empty))
                push(e.b, e.cnt)
              case Some(s) if e.b > s.last =>
                ((s.last + 1) until e.b).foreach(gb => push(gb, 0L))
                push(e.b, e.cnt)
              case Some(_) => // late or duplicate bucket: ignore
            }
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  final case class CusumEvent(k: String, period: Long, xCents: Long)
  final case class CusumState(cum: Long, last: Long)
  final case class CusumOut(k: String, period: Long, xCents: Long,
    cumDev: Long, drift: Boolean)

  /** Streaming face of [[graft.ext.Events.cusumDrift]] — the continuous
    * drift alarm over a PRE-BUCKETED per-period totals stream. Classic
    * CUSUM needs an a-priori target, so unlike the batch operator (which
    * derives the mean from the full series) the expected per-period total
    * is a PARAMETER; state per key is two longs (cumulative deviation +
    * last period). Missing periods zero-fill (each contributes −target),
    * late/duplicate periods are ignored — with per-key in-order delivery
    * the emitted rows equal a batch fold with the same target, asserted
    * in StreamingSpec. All arithmetic is exact longs.
    */
  def cusumStream(events: Dataset[CusumEvent], targetCents: Long,
      theta: Int): Dataset[CusumOut] = {
    import events.sparkSession.implicits._
    require(targetCents > 0 && theta >= 1, "positive target and theta")
    events.groupByKey(_.k)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (k, evs, state: GroupState[CusumState]) =>
          val sorted = evs.toSeq.sortBy(_.period)
          var st = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[CusumOut]
          sorted.foreach { e =>
            st match {
              case Some(s) if e.period <= s.last => // late/duplicate: ignore
              case _ =>
                val gap = st.map(s => e.period - s.last - 1).getOrElse(0L)
                val cum = st.map(_.cum).getOrElse(0L) -
                  gap * targetCents + (e.xCents - targetCents)
                out += CusumOut(k, e.period, e.xCents, cum,
                  math.abs(cum) > theta.toLong * targetCents)
                st = Some(CusumState(cum, e.period))
            }
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  /** Custom session state via flatMapGroupsWithState: a session closes (and
    * is emitted) when a later event arrives past `gapMs`, or when the
    * EVENT-TIME timeout fires — the watermark passing `last + gapMs` — so
    * trailing sessions are eventually emitted and their state cleaned up.
    * Event time, not processing time, deliberately: a wall-clock timeout
    * would close sessions by ingestion speed (wrong under backfill /
    * catch-up), AND pending processing-time timeouts keep the micro-batch
    * engine spinning empty batches at full tilt until they fire — measured
    * as a busy-looped never-quiescing query on this very operator. The
    * final open session per key stays in state awaiting more data or a
    * further watermark advance — batch sessionization is `q_sessionize`'s
    * window program. This is the engine's `mapGroupsWithState` surface —
    * the reference has no stateful operator at all (SURVEY §2.11).
    */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", s"$gapMs milliseconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, evs, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // idle key: close and emit the open session, clear state
            val out = state.getOption.map(s => SessionOut(uid, s.start, s.last, s.n, s.sum))
            state.remove()
            out.iterator
          } else {
            val sorted = evs.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = t, n = s.n + 1, sum = s.sum + e.value))
                case Some(s) =>
                  out += SessionOut(uid, s.start, s.last, s.n, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // timeout must sit strictly past the current watermark or
              // Spark rejects it (late-arriving state after catch-up)
              state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs() + 1, s.last + gapMs))
            }
            out.iterator
          }
      }
  }
}
