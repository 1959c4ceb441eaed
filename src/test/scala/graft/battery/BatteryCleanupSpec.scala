package graft.battery

import graft.SparkSpec

/** `BatteryFixtures.cleanup` removes this session's scratch directories
  * and Derby database, and nothing that belongs to another applicationId.
  */
class BatteryCleanupSpec extends SparkSpec {

  import spark.implicits._

  test("cleanup removes this session's scratch and Derby dirs, not another app's") {
    val sf = freshDir("target/cleanup-spec-sf")
    Seq((0, "AFRICA"), (1, "AMERICA")).toDF("r_regionkey", "r_name")
      .write.parquet(s"$sf/region.parquet")
    Seq((0, "ALGERIA", 0), (1, "BRAZIL", 1)).toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$sf/nation.parquet")
    val scratch = new java.io.File(BatteryFixtures.scratch(spark, "cleanupspec", sf))
    assert(scratch.mkdirs())
    val url = BatteryFixtures.derbyDb(spark, sf)
    val derby = new java.io.File(url.stripPrefix("jdbc:derby:"))
    assert(derby.isDirectory)
    val other = new java.io.File(scratch.getPath.replaceAll("-[^-]+$", "-otherapp0"))
    assert(other.mkdirs())
    try {
      BatteryFixtures.cleanup(spark)
      assert(!scratch.exists() && !derby.exists())
      assert(other.isDirectory)
      // the memo forgot the removed database: the next caller rebuilds it
      assert(BatteryFixtures.derbyDb(spark, sf) == url && derby.isDirectory)
    } finally {
      BatteryFixtures.cleanup(spark)
      BatteryFixtures.deleteRecursively(other)
      freshDir(sf)
    }
  }
}
