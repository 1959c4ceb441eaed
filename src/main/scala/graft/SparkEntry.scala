package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.battery.Battery
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_revenue_by_nation")(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2, from the
    * battery's records (`graft.battery`, one module per operator family). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Battery.byName(Battery.specs)(_.run)
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables, from the same records. */
  def oracleSql: Map[String, String] =
    Battery.byName(Battery.specs)(_.oracleSql)
}
