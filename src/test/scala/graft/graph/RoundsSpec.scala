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

  test("a frozen frame reports its stored size and plans joins by it") {
    import org.apache.spark.sql.GraftStatsBridge
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    // 1,000 rows cut from a three-way self-join: the join's estimate is
    // the product of its sides, far above what the checkpoint stores
    val x = spark.range(0, 1000)
    val small = Rounds.materialize(x.as("a").join(x.as("b"), "id")
      .join(x.as("c"), "id").select(col("id"), (col("id") * 2).as("v")))
    // 50,000 rows of a 64-double vector: a schema estimate prices the
    // array as one element, far below what the checkpoint stores
    val vectors = Rounds.materialize(spark.range(0, 50000).select(col("id"),
      array((0 until 64).map(i => (col("id") + i).cast("double")): _*).as("vec")))
    Seq("self-join" -> small, "vector" -> vectors).foreach { case (name, f) =>
      val stored = GraftStatsBridge.storedBytes(f).toDouble
      val reported = f.queryExecution.optimizedPlan.stats.sizeInBytes.toDouble
      assert(stored > 0 && reported <= 2 * stored && stored <= 2 * reported,
        s"$name frame reports $reported bytes, stores $stored")
    }
    // a 3M-row range (24 MB, over the threshold) joined to the small frozen
    // frame, no hint: the frozen frame is the broadcast build side
    val joined = spark.range(0, 3000000).join(small, "id")
    val frozenRdd = small.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    val plan = joined.queryExecution.sparkPlan
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size == 1, s"not a broadcast hash join:\n$plan")
    assert(bhj.head.buildSide == BuildRight && bhj.head.right.exists {
      case s: RDDScanExec => s.rdd eq frozenRdd
      case _ => false
    }, s"the frozen frame is not the build side:\n$plan")
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
  // without them. It then went 31 → 25 when checkpoints started carrying
  // their stored size: from round 2 on, the labels checkpoint (cut from
  // the round's joins) had inherited a join-product estimate, so each
  // later round planned its label joins as shuffles and paid 2 more
  // map-stage jobs than round 1; now every round pays round 1's 5.
  test("kCore pays no probe job per round") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
      ("c", "d"), ("a", "e"), ("e", "f")).toDF("s", "t")
    val jobs = jobsDuring(GraphAlgos.kCore(e, "s", "t", k = 2, maxRounds = 5)
      .collect(): Unit)
    assert(jobs == 14, s"kCore ran $jobs jobs")
  }

  // labelPropagation, 5 rounds: 2 jobs for each prelude checkpoint (edges,
  // labels: a distinct's map stage and the checkpoint), then per round the
  // labels' broadcast, the two aggregations' map stages and the round's
  // checkpoint, and the collect: 4 + 5 × 4 + 1 = 25. A label join planned
  // as a shuffle would add map-stage jobs to every round.
  test("labelPropagation's job count per round stays pinned") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
      ("e", "f"), ("f", "d")).toDF("s", "t")
    var got: Map[String, String] = Map.empty
    val jobs = jobsDuring {
      got = GraphAlgos.labelPropagation(e, "s", "t", rounds = 5)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }
    assert(got.size == 6, s"$got")
    assert(jobs == 25, s"labelPropagation ran $jobs jobs")
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
    assert(jobs == 25, s"connectedComponents ran $jobs jobs")
  }
}
