package graftbench

/** Per-layer metrics of a traced pass, from its spans and the jobs
  * attributed to them. Layers are graft's modules: `sources`, `pipeline`
  * (compile + assembly), `store`, `query`, `graph`, plus `spark` for
  * engine-wide counters over the timed pass. Ingest-side figures are totals
  * over the fixed ingest work (bulk load + batches); query and graph
  * figures are means per call.
  */
object Layers {
  val QueryOps = Seq("node", "agg", "nbr1", "nbr2", "traverse")
  val Algos = Seq("pagerank", "lpa", "sssp")

  def metrics(a: Attribution, cores: Int): Map[String, Double] = {
    def spans(n: String) = a.named(n)
    def dur(n: String) = spans(n).map(_.seconds).sum
    def jobs(n: String) = spans(n).flatMap(a.jobsUnder)
    def sum(js: Seq[JobStat])(f: JobStat => Long) = js.map(f).sum.toDouble
    val out = Map.newBuilder[String, Double]

    val src = jobs("sources.scan")
    out += "sources.scan_s" -> dur("sources.scan")
    out += "sources.rows" -> sum(src)(_.inRecords)
    out += "sources.bytes" -> sum(src)(_.inBytes)

    val pipe = jobs("pipeline.compile") ++ jobs("pipeline.exec")
    out += "pipeline.compile_s" -> dur("pipeline.compile")
    out += "pipeline.exec_s" -> dur("pipeline.exec")
    out += "pipeline.jobs" -> pipe.size.toDouble
    out += "pipeline.tasks" -> sum(pipe)(_.tasks)
    out += "pipeline.task_s" -> sum(pipe)(_.runMs) / 1000
    out += "pipeline.shuffle_write_bytes" -> sum(pipe)(_.shuffleWriteBytes)
    out += "pipeline.spill_bytes" -> sum(pipe)(_.spillBytes)

    val st = jobs("store.write")
    out += "store.write_s" -> dur("store.write")
    out += "store.jobs" -> st.size.toDouble
    out += "store.task_s" -> sum(st)(_.runMs) / 1000
    out += "store.shuffle_write_bytes" -> sum(st)(_.shuffleWriteBytes)
    out += "store.bytes_written" -> sum(st)(_.outBytes)
    out += "store.read_s" -> dur("store.read")

    QueryOps.foreach { op =>
      val ss = spans(s"query.$op")
      val n = math.max(1, ss.size).toDouble
      val js = ss.flatMap(a.jobsUnder)
      out += s"query.$op.calls" -> ss.size.toDouble
      out += s"query.$op.wall_s" -> ss.map(_.seconds).sum / n
      out += s"query.$op.jobs" -> js.size / n
      out += s"query.$op.tasks" -> sum(js)(_.tasks) / n
      out += s"query.$op.task_s" -> sum(js)(_.runMs) / 1000 / n
      out += s"query.$op.driver_s" -> ss.map(a.driverSeconds).sum / n
      out += s"query.$op.rows_read" -> sum(js)(_.inRecords) / n
    }

    Algos.foreach { algo =>
      val ss = spans(s"graph.$algo")
      val n = math.max(1, ss.size).toDouble
      val js = ss.flatMap(a.jobsUnder)
      out += s"graph.$algo.wall_s" -> ss.map(_.seconds).sum / n
      out += s"graph.$algo.jobs" -> js.size / n
      out += s"graph.$algo.stages" -> sum(js)(_.stages.toLong) / n
      out += s"graph.$algo.tasks" -> sum(js)(_.tasks) / n
      out += s"graph.$algo.task_s" -> sum(js)(_.runMs) / 1000 / n
      out += s"graph.$algo.shuffle_write_bytes" -> sum(js)(_.shuffleWriteBytes) / n
      out += s"graph.$algo.spill_bytes" -> sum(js)(_.spillBytes) / n
      out += s"graph.$algo.driver_s" -> ss.map(a.driverSeconds).sum / n
    }

    // cpu_util = task time ÷ (wall × cores) over the timed pass
    val all = jobs("pass")
    out += "spark.gc_s" -> sum(all)(_.gcMs) / 1000
    out += "spark.scheduler_delay_s" -> sum(all)(_.schedDelayMs) / 1000
    out += "spark.cpu_util" -> sum(all)(_.runMs) / 1000 / (dur("pass") * cores)
    out.result()
  }
}
