package graft
package battery

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One battery query: its Spark code and the DuckDB SQL that must return
  * the same rows over the same parquet tables. Column names are aligned
  * between the Spark result and the oracle SQL (the oracle check sorts
  * columns by name before hashing).
  *
  * Determinism discipline: every query ends in an ORDER BY on a unique key
  * prefix; every derived integer is cast to bigint on both sides; every
  * derived double is rounded on both sides.
  */
final case class QuerySpec(name: String, run: QuerySpec.Q, oracleSql: String)

object QuerySpec {
  type Q = (SparkSession, String) => DataFrame
}

/** A family module: the records of one operator family. */
abstract class Family(val name: String) {
  def specs: Seq[QuerySpec]
}

/** The whole battery, one family module per operator family. */
object Battery {
  val families: Seq[Family] = Seq(RelationalQueries, IngestQueries,
    StoreQueries, QueryPlaneQueries, GraphQueries, DedupQueries, TextQueries,
    StatsQueries, MultimodalQueries, StreamingQueries)

  def specs: Seq[QuerySpec] = families.flatMap(_.specs)

  /** Query name → its family's name. */
  def familyOf: Map[String, String] =
    families.flatMap(f => f.specs.map(_.name -> f.name)).toMap

  /** Map each record's name to `f(record)`; a name given twice throws
    * instead of one record silently replacing the other.
    */
  def byName[V](specs: Seq[QuerySpec])(f: QuerySpec => V): Map[String, V] = {
    val dups = specs.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"battery query names given twice: ${dups.toSeq.sorted.mkString(", ")}")
    specs.map(q => q.name -> f(q)).toMap
  }
}
