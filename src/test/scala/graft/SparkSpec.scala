package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Spark jobs started while `body` runs. Listener events arrive in
    * order, so once a marker job run after `body` is seen, every job
    * `body` started has been counted.
    */
  def jobsDuring(body: => Unit): Int = {
    val marker = s"graft-spec-barrier-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(marker)
      try spark.range(1).count() finally sc.setJobDescription(null)
      Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .map(d => { assert(d != null, "listener saw no marker job"); d })
        .takeWhile(_ != marker).size
    } finally sc.removeSparkListener(l)
  }
}
