package org.apache.spark

/** The listener bus is Spark-private; the tracer needs every queued event
  * delivered before it reads its counters.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
