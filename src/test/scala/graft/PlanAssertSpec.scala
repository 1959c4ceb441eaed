package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan regression gate: [[PlanAudit]] prints these plans for a
  * human; this spec ASSERTS their load-bearing properties so a pushdown or
  * join-strategy regression fails CI instead of an eyeball pass. The
  * checks run on the optimizer's initial plan (no execution needed) except
  * exchange reuse, which AQE only materializes in the final adaptive plan.
  */
class PlanAssertSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def df(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

  private def plan(name: String): String =
    df(name).queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Queries whose SEMANTICS are a bounded all-pairs comparison over a
    * group-cardinality frame (every group's sketch vs every other's) — a
    * broadcast nested-loop there is the correct plan, not a regression.
    */
  private val allPairsByDesign = Set("q_source_overlap")

  test("no flagship plan contains a cartesian or conditioned nested-loop join") {
    PlanAudit.flagships.filterNot(allPairsByDesign).foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plans a CartesianProduct")
      // BroadcastNestedLoopJoin is legitimate ONLY as the scalar-attach
      // idiom (crossJoin of a broadcast 1-row aggregate → "Cross
      // BuildRight"); any other variant (inner/outer with a residual
      // condition, or BuildLeft against the big side) is a real
      // non-equi-join regression
      "BroadcastNestedLoopJoin ([A-Za-z]+ [A-Za-z]+)".r.findAllMatchIn(p)
        .foreach { m =>
          assert(m.group(1) == "Cross BuildRight",
            s"$name plans a non-scalar BroadcastNestedLoopJoin (${m.group(1)})")
        }
    }
  }

  test("filtered scans push their predicates into the parquet reader") {
    Seq("q_filter_predicate", "q_tpch_compound_pred").foreach { name =>
      val p = plan(name)
      assert(p.contains("PushedFilters: ["), s"$name shows no pushdown block")
      assert("PushedFilters: \\[[^\\]]".r.findFirstIn(p).isDefined,
        s"$name has an EMPTY PushedFilters list:\n$p")
    }
  }

  test("partitioned layout scan prunes directories via PartitionFilters") {
    val p = plan("q_partition_prune")
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(p).isDefined,
      s"q_partition_prune lost its partition pruning:\n$p")
  }

  test("TPC-H Q17 shape broadcasts the self-agg side, never double-shuffles") {
    // the per-part aggregate is part-cardinality — broadcastable at any
    // per-executor-sane SF, so the detail-side lineitem scan must flow into
    // the join with NO exchange of its own. (At a scale where AQE falls
    // back to sort-merge, both sides shuffle on l_partkey and exchange
    // reuse takes over — that fallback can't be exercised at test SF.)
    val d = df("q_tpch_small_qty")
    d.collect() // assert on the FINAL adaptive plan, not the static guess
    val p = d.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"),
      s"q_tpch_small_qty lost the broadcast self-agg join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q_tpch_small_qty double-shuffles lineitem through a SortMergeJoin:\n$p")
  }

  test("TPC-H Q10 shape takes top-k with per-partition heaps, no global sort") {
    val p = plan("q_tpch_returned_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"q_tpch_returned_topk lost TakeOrderedAndProject:\n$p")
  }

  test("fixed-point relax round broadcasts the distance table under the limit") {
    // the loop invariant every iterative kernel (sssp, pagerank, temporal
    // reach) depends on: the node-keyed state table is the BROADCAST side
    // while it fits, so the big edge frame joins with no Exchange of its
    // own; no hint asks for it — the planner's size threshold decides, and
    // over it the plan degrades to a shuffle join rather than an
    // overflowing broadcast
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_suppkey").cast("string").as("src"),
        col("l_partkey").cast("string").as("dst"),
        col("l_quantity").cast("long").as("w"))
    val dist = Seq(("1", 0L)).toDF("node", "dist")
    val under = graft.graph.GraphAlgos
      .relaxRound(e, dist)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(under.contains("BroadcastHashJoin"),
      s"relax round lost the distance-side broadcast:\n$under")
    assert(!under.contains("SortMergeJoin") && !under.contains("ShuffledHashJoin"),
      s"relax round shuffles the edge frame under the broadcast limit:\n$under")
  }

  test("every PageRank variant's iteration broadcasts its share table, never re-exchanges the edges") {
    // the plan graph_analytics runs per PageRank iteration: the n-row rank
    // and out-degree frames are the broadcast sides (by their frozen sizes,
    // no hint), and the materialized encoded edge frame reaches its first
    // exchange only through those joins and the partial (map-side) sum per
    // dst — its rows are never shuffled themselves
    import spark.implicits._
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.functions.{col, lit, when}
    import graft.graph.GraphAlgos
    val e = Seq(("a", "b", 2L), ("a", "c", 1L), ("b", "c", 3L), ("c", "a", 1L))
      .toDF("s", "t", "w")
    def pathTo(p: SparkPlan, hit: SparkPlan => Boolean): Option[List[SparkPlan]] =
      if (hit(p)) Some(List(p))
      else p.children.iterator.map(pathTo(_, hit)).collectFirst { case Some(q) => p :: q }
    val variants = Seq(
      ("pageRankFixed", None, lit(15L)),
      ("weightedPageRankFixed", Some("w"), lit(15L)),
      ("personalizedPageRankFixed", None,
        when(col("node").isin(0L), lit(15L)).otherwise(lit(0L))))
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      variants.foreach { case (name, weight, teleport) =>
        val g = GraphAlgos.encodeGraph(e, "s", "t", weight)
        val ranks = g.dict.select(col("nid").as("node")).withColumn("rank", lit(100L))
        val step = GraphAlgos.rankStep(g, GraphAlgos.rankOut(g), ranks, teleport, 85)
        val edgeRdd = g.e.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
        val plan = step.queryExecution.executedPlan
        val up = pathTo(plan, {
          case s: RDDScanExec => s.rdd eq edgeRdd
          case _ => false
        }).getOrElse(fail(s"$name: no scan of the encoded edges:\n$plan")).reverse
        val beforeExchange = up.tail.takeWhile(!_.isInstanceOf[Exchange])
        assert(beforeExchange.exists(_.isInstanceOf[BroadcastHashJoinExec]),
          s"$name: the share table is not broadcast to the edges:\n$plan")
        assert(beforeExchange.exists(_.isInstanceOf[HashAggregateExec]),
          s"$name: the edges reach an exchange before the partial sum:\n$plan")
        assert(up.tail.find(_.isInstanceOf[Exchange])
          .forall(_.isInstanceOf[ShuffleExchangeExec]),
          s"$name: the edge frame is broadcast instead of streamed:\n$plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("wedge orientation is degree-ordered: a hub never fans out wedges") {
    // the O(√m) invariant behind triangleCounts and every kTruss round:
    // orient each edge from its lower-(deg, node) endpoint. On a star
    // K(1,n) whose CENTER has the LEXICALLY SMALLEST id, an id-ordered
    // orientation (the round-5 scale-killer) points all n edges OUT of
    // the hub — fanout n, wedge count n·(n−1)/2; degree-ordered points
    // every edge leaf→hub — max fanout 1, zero wedges
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, max}
    val star = (1 to 40).map(i => ("a_hub", f"leaf_$i%02d")).toDF("a", "b")
    val o = graft.graph.GraphAlgos.orientByDegree(star)
    val maxFan = o.groupBy("lo").agg(count(lit(1)).as("fan"))
      .agg(max("fan")).collect()(0).getLong(0)
    assert(maxFan == 1L,
      s"degree orientation reverted: hub fans out $maxFan oriented edges")
    // and the hub is always the hi endpoint
    assert(o.where(col("lo") === "a_hub").count() == 0L)
  }

  test("the byte-compatible digest expression stays inside whole-stage codegen") {
    // PyJsonCanon implements doGenCode via a reference-object call — a
    // regression to CodegenFallback would split the identity projection
    // out of the codegen stage on every vertex frame. AQE's initial plan
    // hides codegen stages, so assert on a non-adaptive plan directly.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = spark.read.parquet(s"$sfDir/customer.parquet")
        .select(graft.expr.IdentityDigest.hashDigest(Seq("c_name")).as("_id"))
      val exec = df.queryExecution.executedPlan
      import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
      val codegenProjects = exec.collect { case w: WholeStageCodegenExec =>
        w.collect { case p: ProjectExec => p }
      }.flatten
      assert(codegenProjects.exists(_.projectList.exists(
        _.find(_.isInstanceOf[graft.expr.PyJsonCanon]).isDefined)),
        s"digest Project fell out of whole-stage codegen:\n${exec.toString}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("a BFS walk's frontier joins broadcast the frontier, never sort-merge") {
    // the reference-exact walk (GraphReader.walk) joins each hop's tiny
    // frontier against the edge frames: every such join must be a
    // broadcast-hash with the FRONTIER on the build side — a sort-merge
    // there would shuffle the (data-sized) edge frame once per hop per
    // edge type, the exact shape that dies at 100×
    import graft.query._
    import graft.model._
    import graft.expr.FilterExpr
    import org.apache.spark.sql.functions.col
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
    val es = Map(
      EdgeKey("orders", "customer", "placed_by") -> ord.select(
        col("o_orderkey").as("src_o_orderkey"),
        col("o_custkey").as("dst_c_custkey")))
    val reader = new GraphReader(graft.fixtures.TpchGraph.schema,
      Map("customer" -> cust, "orders" -> ord).apply _, es.get(_),
      QueryCaps.Hard.copy(timeoutSeconds = 600))
    // the result is frozen, so read the plans of the walk's own executions
    val plans = plansDuring {
      reader.neighbors(NeighborQuery("customer", FilterExpr.eq("c_custkey", 7L))): Unit
    }
    assert(plans.exists(_.contains("BroadcastHashJoin")),
      "the walk planned no broadcast join:\n" + plans.mkString("\n"))
    assert(!plans.exists(_.contains("SortMergeJoin")),
      "the walk plans a SortMergeJoin:\n" + plans.mkString("\n"))
  }
}
