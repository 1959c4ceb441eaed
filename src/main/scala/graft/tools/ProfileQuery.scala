package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Dev profiling main: run one battery query with a listener that breaks
  * wall-clock into per-job spans (and idle gaps between jobs — pure
  * driver/planning time), so "where does a 5 s query spend its time"
  * has a measured answer instead of a guess. Guide §1: measure first.
  *
  * Usage: runMain graft.tools.ProfileQuery <sfDir> <query> [repeats]
  * Env: SPARK_GRAFT_CPUS (default 32).
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val qname = args(1)
    val repeats = if (args.length > 2) args(2).toInt else 2
    val spark = graft.HarnessSession.build(defaultCpus = 32)
    try run(spark, sfDir, qname, repeats)
    finally { graft.battery.BatteryFixtures.cleanup(spark); spark.stop() }
  }

  private def run(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      qname: String, repeats: Int): Unit = {
    case class Job(id: Int, t0: Long, var t1: Long = 0L,
      var nTasks: Int = 0, var taskTimeMs: Long = 0L, var nStages: Int = 0)
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs(e.jobId) = Job(e.jobId, e.time, nStages = e.stageIds.size)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.t1 = e.time) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        jobs.synchronized {
          // attribute the task to the most recent open job (local mode,
          // single query at a time — good enough for profiling)
          val m = e.taskMetrics
          if (m != null) jobs.values.lastOption.foreach { j =>
            j.nTasks += 1; j.taskTimeMs += m.executorRunTime
          }
        }
    }
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    graft.battery.BatteryFixtures.prewarmFixtures(spark, sfDir)
    val fn = graft.SparkEntry.queries(qname)
    (1 to repeats).foreach { rep =>
      jobs.synchronized(jobs.clear())
      val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count(): Unit
      val wall = (System.nanoTime() - t0) / 1e6
      spark.sparkContext.removeSparkListener(listener)
      val snap = jobs.synchronized(jobs.values.toSeq.sortBy(_.t0))
      println(f"== $qname rep $rep: wall ${wall}%.0f ms, ${snap.size} jobs ==")
      var prevEnd = 0L
      snap.foreach { j =>
        val gap = if (prevEnd == 0L) 0L else j.t0 - prevEnd
        prevEnd = j.t1
        println(f"  job ${j.id}%3d  ${j.t1 - j.t0}%6d ms  gap ${gap}%5d ms  " +
          f"stages ${j.nStages}%2d tasks ${j.nTasks}%4d taskTime ${j.taskTimeMs}%6d ms")
      }
      val jobMs = snap.map(j => j.t1 - j.t0).sum
      println(f"  jobs total ${jobMs}%d ms; outside-jobs ${wall - jobMs}%.0f ms")
      // free the repeat's checkpoint blocks now rather than at a driver
      // GC, so every repeat starts from the same block-manager state
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => cachedBefore(id) }
        .values.foreach(_.unpersist(blocking = false))
      System.gc()
    }
  }
}
