package graft.graph

import graft.SparkSpec
import graft.ext.Dedup
import org.apache.spark.sql.functions._

/** The round primitive: counters observed on the materialize job, and the
  * probe jobs that folding them into each round's checkpoint removed.
  */
class RoundsSpec extends SparkSpec {

  test("counted materialize returns the same numbers as separate jobs") {
    val df = spark.range(0, 100).withColumn("odd", col("id") % 2 === 1)
    val (out, c) = Rounds.materialize(df,
      count(lit(1)).as("rows"), count(when(col("odd"), lit(1))).as("odd"),
      sum(col("id")).as("total"))
    assert(c.getLong(0) == out.count())
    assert(c.getLong(1) == out.where(col("odd")).count())
    assert(c.getLong(2) == out.agg(sum(col("id"))).head().getLong(0))
    assert(c.schema.fieldNames.toSeq == Seq("rows", "odd", "total"))
    assert(out.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("a null counter fails loudly with its name") {
    val empty = spark.range(0, 10).toDF().where(col("id") < 0)
    val err = intercept[IllegalStateException](Rounds.materialize(empty,
      count(lit(1)).as("rows"), sum(col("id")).as("total_mass")))
    assert(err.getMessage.contains("total_mass"), err.getMessage)
  }

  // Job counts per call on the fixtures below, before → after folding each
  // round's probe into the round's own materialize job. Every loop round
  // drops its probe, the converging round included; kCore's probe was an
  // `isEmpty` (1 job), connectedComponents' a `limit(1).count()` (2 jobs
  // under AQE: the limit's shuffle-map stage and the result stage):
  //   kCore, k = 2 (3 rounds: drop f, drop e, stable): 17 → 14
  //   connectedComponents, 8-node chain (4 rounds):     52 → 44
  // connectedComponents then went 44 → 31 when its edge frame moved from a
  // lazy persist to a checkpoint: one prelude job for the checkpoint, and
  // each round sheds 3 jobs — the cached edge frame kept the distinct's
  // 4 shuffle partitions and every round re-exchanged it in two extra
  // 4-task map-stage jobs, where the checkpoint's AQE-coalesced edges join
  // without them.
  test("kCore pays no probe job per round") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
      ("c", "d"), ("a", "e"), ("e", "f")).toDF("s", "t")
    val jobs = jobsDuring(GraphAlgos.kCore(e, "s", "t", k = 2, maxRounds = 5)
      .collect(): Unit)
    assert(jobs == 14, s"kCore ran $jobs jobs")
  }

  test("connectedComponents pays no probe job per round") {
    import spark.implicits._
    val nodes = (1 to 8).map(i => f"n$i%02d").toDF("id")
    val pairs = (1 to 7).map(i => (f"n$i%02d", f"n${i + 1}%02d")).toDF("a", "b")
    var got: Map[String, String] = Map.empty
    val jobs = jobsDuring {
      got = Dedup.connectedComponents(nodes, "id", pairs, "a", "b")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }
    assert(got.values.toSet == Set("n01") && got.size == 8, s"$got")
    assert(jobs == 31, s"connectedComponents ran $jobs jobs")
  }
}
