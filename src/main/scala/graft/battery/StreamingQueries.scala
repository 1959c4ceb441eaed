package graft
package battery

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.fixtures.TpchGraph
import graft.store.GraphStore

import BatteryFixtures._

/** Streaming: windowed and stateful streams, stream ingest into the
  * store, and their batch-equivalent semantics.
  */
object StreamingQueries extends Family("streaming") {

  val specs: Seq[QuerySpec] = Seq(

    // streaming-equivalent batch semantics: tumbling window aggregation
    QuerySpec("q_window_tumbling", { (s, d) =>
      TpchGraph.eventsTable(s, d)
        .groupBy(window(col("ts"), "1 hour").getField("start").as("ws"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
        .orderBy("ws")
    },
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws, count(*) AS cnt,
        |round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // streaming-equivalent batch semantics: session windows (30-min gap)
    QuerySpec("q_sessionize", { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      TpchGraph.eventsTable(s, d)
        .withColumn("_prev", lag(col("ts"), 1).over(w))
        .withColumn("_new", when(col("_prev").isNull ||
          (unix_micros(col("ts")) - unix_micros(col("_prev"))) > 1800L * 1000000L, 1L)
          .otherwise(0L))
        .groupBy("user_id").agg(sum("_new").as("n_sessions"))
        .orderBy("user_id")
    },
      """WITH x AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
        |y AS (SELECT user_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM x)
        |SELECT user_id, CAST(sum(CASE WHEN prev IS NULL OR
        |  epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_sessions
        |FROM y GROUP BY 1 ORDER BY 1""".stripMargin),

    // streaming-equivalent batch semantics: sliding window
    QuerySpec("q_window_sliding", { (s, d) =>
      TpchGraph.eventsTable(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").getField("start").as("ws"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("ws")
    },
      """WITH x AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
        |w AS (SELECT make_timestamp(CAST((floor(epoch(ts) / 1800) * 1800 - i * 1800)
        |    AS BIGINT) * 1000000) AS ws
        |  FROM x, (SELECT unnest([0, 1]) AS i) offs)
        |SELECT ws, count(*) AS cnt FROM w GROUP BY 1 ORDER BY 1""".stripMargin),

    // §2.11 streaming ingest: file micro-batches → compiled pipeline →
    // idempotent store upserts (foreachBatch, AvailableNow)
    QuerySpec("q_stream_ingest", { (s, d) =>
      import graft.streaming.StreamIngest
      val root = BatteryFixtures.scratch(s, "stream", d)
      deleteRecursively(new java.io.File(root))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the streaming file source wants a DIRECTORY of drop files
      val inDir = java.nio.file.Paths.get(s"$root/in")
      java.nio.file.Files.createDirectories(inDir)
      BatteryFixtures.copyParquetInto(s"$d/events.parquet", inDir, "events")
      val batchSchema = TpchGraph.table(s, d, "events").schema
      val src = TpchGraph.normalizeEventTs(
        s.readStream.schema(batchSchema).parquet(inDir.toString))
      val store = new GraphStore(s"$root/store", TpchGraph.schema, s)
      val q = StreamIngest.ingestStream(TpchGraph.schema, TpchGraph.eventsResource,
        src, store, s"$root/ckpt")
      q.awaitTermination()
      store.vertices("user").agg(count(lit(1)).as("n_users"))
        .crossJoin(store.vertices("event").agg(count(lit(1)).as("n_events")))
    },
      """SELECT count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events""".stripMargin),

    // §2.11 streaming dedup: an at-least-once source (the same events file
    // dropped twice) passes dropDuplicatesWithinWatermark exactly once per
    // event id; the sink is plain append, so the dedup operator — not the
    // store's upsert — is what's proven
    QuerySpec("q_stream_dedup", { (s, d) =>
      import graft.streaming.StreamIngest
      val root = BatteryFixtures.scratch(s, "sdedup", d)
      deleteRecursively(new java.io.File(root))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val inDir = java.nio.file.Paths.get(s"$root/in")
      java.nio.file.Files.createDirectories(inDir)
      // two copies = redelivery; the watermark horizon exceeds the table's
      // event-time span so no duplicate is ever outside the dedup state
      BatteryFixtures.copyParquetInto(s"$d/events.parquet", inDir, "events_a")
      BatteryFixtures.copyParquetInto(s"$d/events.parquet", inDir, "events_b")
      val batchSchema = TpchGraph.table(s, d, "events").schema
      val src = TpchGraph.normalizeEventTs(
        s.readStream.schema(batchSchema).parquet(inDir.toString))
      val deduped = StreamIngest.dedupStream(src, Seq("event_id"), "ts", "365 days")
      // state partitions sized from the (doubled) input — see helper doc
      BatteryFixtures.withStreamShufflePartitions(s,
        2L * BatteryFixtures.parquetInputBytes(s"$d/events.parquet")) {
        val q = deduped.writeStream.format("parquet")
          .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.read.parquet(s"$root/out").agg(
        count(lit(1)).as("n_rows"),
        count_distinct(col("event_id")).as("n_ids"))
    },
      // exactly one surviving row per event id despite double delivery
      """SELECT count(DISTINCT event_id) AS n_rows,
        |count(DISTINCT event_id) AS n_ids FROM events""".stripMargin),

    // §2.11 extension: event-time interval join (click → purchases of the
    // same user within 30 min) — the batch face of the stream-stream join;
    // StreamingSpec drives the same operator as two watermarked streams
    QuerySpec("q_interval_join", { (s, d) =>
      import graft.streaming.StreamIngest
      val ev = TpchGraph.eventsTable(s, d)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
      StreamIngest.intervalJoin(clicks, purchases, "user_id",
        "click_ts", "purchase_ts", windowSec = 1800)
        .select(col("l.user_id").as("user_id"), col("click_id"), col("purchase_id"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
            .as("lag_us"))
        .orderBy("user_id", "click_id", "purchase_id")
    },
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |    event_type FROM events),
        |c AS (SELECT user_id, event_id AS click_id, ts AS cts
        |  FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, ts AS pts
        |  FROM e WHERE event_type = 'purchase')
        |SELECT c.user_id, click_id, purchase_id,
        |  CAST(epoch_us(pts) - epoch_us(cts) AS BIGINT) AS lag_us
        |FROM c JOIN p ON p.user_id = c.user_id
        |  AND pts >= cts AND pts <= cts + INTERVAL 1800 SECOND
        |ORDER BY 1, 2, 3""".stripMargin),

    // §2.11 stream-stream INTERVAL join: two watermarked streams of the
    // same event feed (even/odd split), per-user join within a 30-minute
    // event-time bound, append-mode sink — with complete input the
    // streaming answer equals the static interval join the oracle runs
    QuerySpec("q_stream_join", { (s, d) =>
      val root = BatteryFixtures.scratch(s, "sjoin", d)
      deleteRecursively(new java.io.File(root))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val inDir = java.nio.file.Paths.get(s"$root/in")
      java.nio.file.Files.createDirectories(inDir)
      copyParquetInto(s"$d/events.parquet", inDir, "events")
      val batchSchema = graft.fixtures.TpchGraph.table(s, d, "events").schema
      def src() = graft.fixtures.TpchGraph.normalizeEventTs(
        s.readStream.schema(batchSchema).parquet(inDir.toString))
      val a = src().where(col("event_id") % 2 === 0)
        .select(col("user_id"), col("ts").as("a_ts"))
        .withWatermark("a_ts", "365 days")
      val b = src().where(col("event_id") % 2 === 1)
        .select(col("user_id").as("user_id_b"), col("ts").as("b_ts"))
        .withWatermark("b_ts", "365 days")
      val joined = a.join(b,
        col("user_id") === col("user_id_b") &&
          col("b_ts") >= col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr("INTERVAL 30 MINUTES"))
      // state-partition count from input size (4 state stores per
      // partition for an interval join — see withStreamShufflePartitions)
      BatteryFixtures.withStreamShufflePartitions(s,
        BatteryFixtures.parquetInputBytes(s"$d/events.parquet")) {
        val q = joined.writeStream.format("parquet")
          .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.read.parquet(s"$root/out")
        .groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    },
      // the static interval join the streaming answer converges to
      """WITH e AS (SELECT event_id, user_id, ts FROM events),
        |a AS (SELECT user_id, ts AS a_ts FROM e WHERE event_id % 2 = 0),
        |b AS (SELECT user_id, ts AS b_ts FROM e WHERE event_id % 2 = 1)
        |SELECT a.user_id, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM a JOIN b ON a.user_id = b.user_id
        |  AND b.b_ts >= a.a_ts
        |  AND b.b_ts <= a.a_ts + INTERVAL 30 MINUTE
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin)
  )
}
