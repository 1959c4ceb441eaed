package graftbench

import org.apache.spark.sql.SparkSession

/** The one place the benchmark makes its Spark session: `local[cores]`
  * with the CLI's Spark settings (UTC session time zone, no UI) and one
  * shuffle partition per core. `SPARK_EXTRA_CONF` and the legacy
  * battery's shuffle tuning are deliberately not applied. Spark's scratch
  * and warehouse dirs live in the run dir, so a run leaves nothing behind
  * in the tree.
  */
object Session {
  def confs(cores: Int, runDir: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> "graft-perfbench",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$runDir/spark-local",
    "spark.sql.warehouse.dir" -> s"$runDir/warehouse")

  def build(cores: Int, runDir: String): SparkSession = {
    val cs = confs(cores, runDir)
    println(cs.map { case (k, v) => s""""$k": "$v"""" }.mkString("""{"spark_conf": {""", ", ", "}}"))
    val b = SparkSession.builder()
    cs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
