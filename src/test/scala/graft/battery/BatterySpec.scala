package graft
package battery

import org.scalatest.funsuite.AnyFunSuite

/** The battery registry itself: one record per query, every record in a
  * family module, both driver maps built from the same records. Runs no
  * Spark query.
  */
class BatterySpec extends AnyFunSuite {

  test("queries and oracles cover the same 370 names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 370)
  }

  test("every oracle is non-blank") {
    val blank = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(blank.isEmpty, s"blank oracle SQL: ${blank.mkString(", ")}")
  }

  test("every family module holds at least one record") {
    Battery.families.foreach { f =>
      assert(f.specs.nonEmpty, s"family ${f.name} has no records")
    }
    assert(Battery.families.map(_.name).distinct.size == Battery.families.size)
  }

  test("a name given twice fails the map build and is named") {
    val run: QuerySpec.Q = (s, _) => s.emptyDataFrame
    val specs = Seq(QuerySpec("q_one", run, "SELECT 1"),
      QuerySpec("q_twice", run, "SELECT 2"), QuerySpec("q_twice", run, "SELECT 3"))
    val e = intercept[IllegalArgumentException](Battery.byName(specs)(_.oracleSql))
    assert(e.getMessage.contains("q_twice"))
    assert(!e.getMessage.contains("q_one"))
  }
}
