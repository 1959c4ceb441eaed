package graft

import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (tests fork one JVM). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Recursive delete of a test scratch dir; returns the path. */
  def freshDir(path: String): String = {
    def del(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(del))
      f.delete(): Unit
    }
    del(new java.io.File(path))
    path
  }

  /** What `pick` takes from the listener events `body` causes. Listener
    * events arrive in order, so once the start of a marker job run after
    * `body` is seen, every event of `body` has been seen. The marker is an
    * RDD job, so it posts no SQL execution event of its own.
    */
  private def eventsDuring[T](body: => Unit)(
      pick: PartialFunction[SparkListenerEvent, T]): Seq[T] = {
    val marker = s"graft-spec-barrier-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.LinkedBlockingQueue[Option[T]]()
    val l = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit = e match {
        case j: SparkListenerJobStart if Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .contains(marker) => seen.add(None)
        case _ => pick.lift(e).foreach(t => seen.add(Some(t)))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(null)
      Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .map(e => { assert(e != null, "listener saw no marker job"); e })
        .takeWhile(_.isDefined).flatten.toSeq
    } finally sc.removeSparkListener(l)
  }

  /** Spark jobs started while `body` runs. */
  def jobsDuring(body: => Unit): Int =
    eventsDuring(body) { case _: SparkListenerJobStart => () }.size

  /** The physical plans of the SQL executions `body` runs: each one's
    * initial plan and every adaptive re-plan.
    */
  def plansDuring(body: => Unit): Seq[String] = eventsDuring(body) {
    case e: SparkListenerSQLExecutionStart          => e.physicalPlanDescription
    case e: SparkListenerSQLAdaptiveExecutionUpdate => e.physicalPlanDescription
  }
}
