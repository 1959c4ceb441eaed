package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side, launched as a plain JVM by `perfbench/run.py`:
  *
  *   graftbench.Main <plan.json> <result.json>
  *
  * The plan (written by run.py) names the generated inputs, the query
  * sequence and the run's shape. The JVM times graft and writes every
  * measurement and every collected result to the result file; run.py
  * checks the results and derives the metrics.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val plan = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(argv(0)))
    val spark = Session.build(plan.get("cores").asInt, plan.get("run_dir").asText)
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    try Out.write(argv(1), new Runner(spark, plan, sessionS).run())
    finally spark.stop()
  }
}

/** JSON out, through the Jackson that ships with Spark. */
object Out {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
}

/** One run: the timed pass, traced or not. The JVM's first (cold) pass
  * over each code path is part of it, as it is for a CLI command.
  */
final class Runner(spark: SparkSession, plan: JsonNode, sessionS: Double) {
  val bench = new Bench(spark, plan)
  val runDir = plan.get("run_dir").asText
  private val off = new Tracer(false, "untraced")
  private def now() = System.nanoTime()
  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
  private val born = now()
  private def note(msg: String): Unit = System.err.println(f"[perfbench ${secs(born)}%7.1fs] $msg")

  val batches: Seq[(String, Seq[(String, Long)])] = plan.get("batches").elements.asScala.toSeq.map { b =>
    b.get("dir").asText -> b.get("probes").elements.asScala.toSeq.map(p => p.get(0).asText -> p.get(1).asLong)
  }

  /** The timed pass: the ingest phase, then the workload's read phase
    * (the query sequence, or rounds of the three algorithms) until
    * `seconds` have passed since the pass began, and at least one block of
    * queries or one round of algorithms. The self-test runs both.
    */
  def pass(t: Tracer, name: String, seconds: Double): Map[String, Any] = {
    val t0 = now()
    val deadline = t0 + (seconds * 1e9).toLong
    val source = plan.get("sssp_source").asText
    val (ing, reads, outputs) = t.span("pass") {
      val ing = bench.ingest(t, s"$runDir/store-$name", plan.get("base").asText, batches)
      note(f"$name: bulk ${ing.bulkSeconds}%.2f s, " +
        s"batches ${ing.batchSeconds.map(x => f"$x%.2f").mkString(" ")}")
      val phases = plan.get("phases").elements.asScala.toSeq.map(_.asText).map {
        case "queries" =>
          val ops = plan.get("ops").elements.asScala.toSeq
          (bench.queryLoop(t, ing.store, ops, plan.get("min_ops").asInt, deadline), Map.empty[String, DataFrame])
        case "analytics" => bench.analytics(t, ing.store, source, deadline)
      }
      val (reads, outputs) = (phases.flatMap(_._1), phases.flatMap(_._2).toMap)
      note(s"$name: " + reads.map(s => f"${s.kind} ${s.seconds}%.2f").mkString(", "))
      (ing, reads, outputs)
    }
    val wall = secs(t0)
    note(f"$name: pass $wall%.1f s")
    // outside the timed pass: what the checks need
    val oracleDir = s"$runDir/oracle-$name"
    if (outputs.nonEmpty) bench.writeOracleInputs(oracleDir, ing.store, outputs, source)
    Map(
      "wall_s" -> wall, "bulk_s" -> ing.bulkSeconds, "batch_s" -> ing.batchSeconds,
      "reads" -> ing.reads.map(_.json), "calls" -> reads.map(_.json),
      "store_bytes" -> Files.bytes(ing.store.root), "batch_written_bytes" -> ing.batchWrittenBytes,
      "store_root" -> ing.store.root,
      "bulk_report" -> ing.reports.head.upserts.map(u => u.vertex -> u.incoming).toMap,
      "dropped_unkeyed" -> ing.reports.flatMap(_.upserts).map(_.droppedUnkeyed).sum,
      "rows_out" -> ing.rowsOut, "store_files" -> Files.count(ing.store.root, Files.isParquet),
      "oracle_dir" -> (if (outputs.nonEmpty) oracleDir else null))
  }

  def run(): Map[String, Any] = {
    val seconds = plan.get("seconds").asDouble
    if (plan.get("trace").asInt == 0) Map("session_s" -> sessionS, "pass" -> pass(off, "plain", seconds))
    else {
      val t = new Tracer(true, s"seed${plan.get("seed").asLong}")
      t.attach(spark)
      val traced = pass(t, "traced", seconds)
      val attr = t.finish(spark)
      Out.write(s"$runDir/spans.json", attr.spanRecords)
      Map("session_s" -> sessionS, "pass" -> traced,
        "layers" -> Layers.metrics(attr, plan.get("cores").asInt))
    }
  }
}
