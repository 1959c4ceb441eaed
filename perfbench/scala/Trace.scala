package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer: name (`<layer>.<op>`), wall-clock window,
  * parent span and run id. Kept in memory; written out when the run ends.
  */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startMs: Long, startNs: Long, var endMs: Long = -1L, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-job counters summed over the job's tasks. */
final class JobStat(val id: Int, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inRecords = 0L
  var inBytes = 0L
  var outRecords = 0L
  var outBytes = 0L
}

/** Job-level SparkListener: the per-job view of `graft.tools.ProfileQuery`
  * (jobs, stages, tasks, task time) plus CPU, GC, scheduler delay,
  * shuffle, spill and input/output counters. Tasks map to their job via
  * the stage ids announced at job start.
  */
final class JobCollector extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobStat]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobStat(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid) if m != null) {
      val i = e.taskInfo
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      // the Spark UI's scheduler-delay formula
      j.schedDelayMs += math.max(0L, (i.finishTime - i.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
      j.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.inRecords += m.inputMetrics.recordsRead
      j.inBytes += m.inputMetrics.bytesRead
      j.outRecords += m.outputMetrics.recordsWritten
      j.outBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** Span recorder. With `enabled = false` `span` only runs its body, so the
  * untraced run pays for no bookkeeping. Operations run one at a time from
  * the thread that made the tracer, which is what lets a job be
  * attributed to the innermost span open when it started; a span opened
  * by a helper thread graft starts (a traverse walk) hangs under that
  * thread's current span.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val collector = new JobCollector
  private val owner = Thread.currentThread()
  @volatile private var ownerTop = -1
  private val local = ThreadLocal.withInitial[List[Int]](() => Nil)

  def attach(spark: SparkSession): Unit =
    if (enabled) spark.sparkContext.addSparkListener(collector)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val mine = Thread.currentThread() eq owner
      val stack = local.get
      val parent = stack.headOption.getOrElse(if (mine) -1 else ownerTop)
      val s = spans.synchronized {
        val s = Span(spans.size, name, parent, runId, System.currentTimeMillis(), System.nanoTime())
        spans += s
        s
      }
      local.set(s.id :: stack)
      if (mine) ownerTop = s.id
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        local.set(stack)
        if (mine) ownerTop = stack.headOption.getOrElse(-1)
      }
    }

  /** Deliver every queued listener event, then assign each job to the
    * innermost span whose window holds the job's start.
    */
  def finish(spark: SparkSession): Attribution = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val js = collector.synchronized(collector.jobs.values.toList)
    val owners = js.flatMap { j =>
      spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .sortBy(s => (depth(s), s.startNs)).lastOption.map(s => j -> s)
    }
    Attribution(spans.toSeq, js, owners.groupBy(_._2.id).map { case (k, v) => k -> v.map(_._1) })
  }

  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + depth(spans(s.parent))
}

/** Jobs grouped by the span they were attributed to. */
final case class Attribution(spans: Seq[Span], jobs: Seq[JobStat],
    direct: Map[Int, Seq[JobStat]]) {

  private val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)

  /** Jobs attributed to `s` or to any span below it. */
  def jobsUnder(s: Span): Seq[JobStat] =
    direct.getOrElse(s.id, Nil) ++ children.getOrElse(s.id, Nil).flatMap(jobsUnder)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Span wall time not covered by any of its jobs (driver-side work). */
  def driverSeconds(s: Span): Double = {
    val iv = jobsUnder(s).map(j => (math.max(j.startMs, s.startMs),
      math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))).filter(x => x._2 > x._1)
      .sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += math.max(0L, curE - curS); curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += math.max(0L, curE - curS)
    math.max(0.0, s.seconds - covered / 1000.0)
  }

  /** Span time minus the time its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum

  /** Each span with its time split and the counters of its jobs. */
  def spanRecords: Seq[Map[String, Any]] = spans.map { s =>
    val js = jobsUnder(s)
    def sum(f: JobStat => Long) = js.map(f).sum
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.runId,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.seconds,
      "self_s" -> selfSeconds(s), "driver_s" -> driverSeconds(s), "jobs" -> js.size,
      "stages" -> sum(_.stages.toLong), "tasks" -> sum(_.tasks.toLong),
      "task_s" -> sum(_.runMs) / 1000.0, "cpu_s" -> sum(_.cpuNs) / 1e9, "gc_s" -> sum(_.gcMs) / 1000.0,
      "scheduler_delay_s" -> sum(_.schedDelayMs) / 1000.0,
      "shuffle_read_bytes" -> sum(_.shuffleReadBytes), "shuffle_write_bytes" -> sum(_.shuffleWriteBytes),
      "spill_bytes" -> sum(_.spillBytes), "input_records" -> sum(_.inRecords),
      "input_bytes" -> sum(_.inBytes), "output_records" -> sum(_.outRecords),
      "output_bytes" -> sum(_.outBytes))
  }
}
