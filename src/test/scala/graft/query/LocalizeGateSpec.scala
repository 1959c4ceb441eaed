package graft.query

import graft.SparkSpec
import graft.model._
import graft.expr.FilterExpr
import org.apache.spark.sql.DataFrame

/** Forced-branch parity for the BFS id-set localization gate
  * ([[GraphReader.DefaultLocalizeCap]]): the walk must produce IDENTICAL
  * results whether the frontier/visited sets collect to a LocalRelation
  * (plan-depth reset, the capped default) or stay distributed (the scale
  * path an uncapped 100× walk takes). `localizeCap = 0` forces the
  * distributed branch on any input — the same discipline as
  * [[graft.ext.DriverModelGateSpec]] for driver-model gates.
  */
class LocalizeGateSpec extends SparkSpec {

  private val schema = GraphSchema(
    vertices = Seq(
      VertexDef("u", Nil, Identity.Natural(Seq("id"))),
      VertexDef("v", Nil, Identity.Natural(Seq("id"))),
      VertexDef("w", Nil, Identity.Natural(Seq("id")))),
    edges = Seq(
      EdgeDef("u", "v", "uv"),
      EdgeDef("v", "w", "vw", directed = false),
      EdgeDef("w", "u", "wu")))

  // parquet-backed sources: the spec's plan assertion relies on a
  // LocalRelation/LocalTableScan appearing ONLY via the walk's localization
  // (local Seq-backed sources would be LocalTableScans themselves)
  private def viaParquet(df: DataFrame, name: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(s"localize_$name").toString
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  // a 3-type fanout graph: u_i → v_{3i..3i+2}, v_j — w_{j%40}, w_k → u_{(7k)%60}
  private lazy val vs: Map[String, DataFrame] = {
    import spark.implicits._
    Map(
      "u" -> viaParquet((0 until 60).map(i => (s"u$i", i)).toDF("id", "n"), "u"),
      "v" -> viaParquet((0 until 180).map(i => (s"v$i", i)).toDF("id", "n"), "v"),
      "w" -> viaParquet((0 until 40).map(i => (s"w$i", i)).toDF("id", "n"), "w"))
  }
  private lazy val es: Map[EdgeKey, DataFrame] = {
    import spark.implicits._
    Map(
      EdgeKey("u", "v", "uv") -> viaParquet(
        (0 until 60).flatMap(i => (0 until 3).map(d => (s"u$i", s"v${3 * i + d}")))
          .toDF("src_id", "dst_id"), "uv"),
      EdgeKey("v", "w", "vw") -> viaParquet(
        (0 until 180).map(j => (s"v$j", s"w${j % 40}")).toDF("src_id", "dst_id"), "vw"),
      EdgeKey("w", "u", "wu") -> viaParquet(
        (0 until 40).map(k => (s"w$k", s"u${(7 * k) % 60}")).toDF("src_id", "dst_id"), "wu"))
  }

  // wide caps: the gate must be exercised by the WALK shape, not the lattice
  private val wide = QueryCaps(maxHops = 10, maxRows = 1000000,
    maxElements = 1000000, maxSeeds = 100, defaultEdgeLimit = 1000000,
    timeoutSeconds = 0)

  private def reader(localizeCap: Int) =
    new GraphReader(schema, vs(_), es.get(_), wide, localizeCap = localizeCap)

  private def outSignature(g: graft.graph.GraphOutput): (Map[String, Seq[String]], Map[String, Seq[String]]) = (
    g.vertices.map { case (t, df) =>
      t -> df.select("id").collect().map(_.getString(0)).sorted.toSeq },
    g.edges.map { case (k, df) =>
      k.toString -> df.select("src_id", "dst_id").collect()
        .map(r => r.getString(0) + ">" + r.getString(1)).sorted.toSeq })

  test("uncapped 3-hop walk: distributed branch is element-for-element identical") {
    val q = NeighborQuery("u", FilterExpr.eq("id", "u0"), hops = 3,
      edgeLimit = Some(Int.MaxValue)) // the uncapped-budget sentinel
    val local = reader(GraphReader.DefaultLocalizeCap).neighbors(q)
    val dist  = reader(0).neighbors(q)
    assert(outSignature(local) == outSignature(dist))
    // results are non-trivial: the walk reached all three types and the
    // third hop fanned v back out past the first hop's 3
    assert(local.vertices.keySet == Set("u", "v", "w"))
    assert(local.vertices("v").count() >= 15)
  }

  test("the gate changes the plan: localized hops carry a LocalTableScan, distributed do not") {
    // sources are parquet-backed, so a LocalTableScan in the cached result's
    // plan can only come from the walk's id-set localization
    val q = NeighborQuery("u", FilterExpr.eq("id", "u0"), hops = 2,
      edgeLimit = Some(Int.MaxValue))
    def planOf(cap: Int) = {
      val g = reader(cap).neighbors(q)
      g.vertices("v").queryExecution.optimizedPlan.toString
    }
    def hasLocal(p: String) = p.contains("LocalTableScan") || p.contains("LocalRelation")
    assert(hasLocal(planOf(GraphReader.DefaultLocalizeCap)))
    assert(!hasLocal(planOf(0)))
  }

  test("multi-seed traverse: distributed branch identical (per-seed budgets intact)") {
    def single(r: GraphReader, s: (String, FilterExpr), limit: Int) =
      r.neighbors(NeighborQuery(s._1, s._2, hops = 2, edgeLimit = Some(limit)))
    def merged(gs: Seq[graft.graph.GraphOutput]) = {
      val sigs = gs.map(outSignature)
      def union(xs: Seq[Map[String, Seq[String]]]) =
        xs.flatMap(_.keys).distinct.map(k => k -> xs.flatMap(_.getOrElse(k, Nil)).distinct.sorted).toMap
      (union(sigs.map(_._1)), union(sigs.map(_._2)))
    }
    val unbounded = Seq("u" -> FilterExpr.eq("id", "u0"), "w" -> FilterExpr.eq("id", "w1"))
    // budget 12 over 2 hops: u1's walk needs 3 + 6 edge rows and never
    // runs out; w4's needs 6 + 14 and runs out in hop 2, inside the branch
    // that reaches u1 (w4 — v4 → u1). u1's walk reaches w4 (u1 → v4 — w4).
    val bounded = Seq("u" -> FilterExpr.eq("id", "u1"), "w" -> FilterExpr.eq("id", "w4"))
    Seq(unbounded -> Int.MaxValue, bounded -> 12).foreach { case (seeds, limit) =>
      val q = TraverseQuery(seeds, hops = 2, edgeLimit = Some(limit))
      val outs = Seq(GraphReader.DefaultLocalizeCap, 0).map { cap =>
        val r = reader(cap)
        val out = outSignature(r.traverseQuery(q))
        // the tagged walk equals the reference's independent per-seed walks
        assert(out == merged(seeds.map(single(r, _, limit))), s"localizeCap $cap, limit $limit")
        out
      }
      assert(outs(0) == outs(1))
    }
    val r = reader(GraphReader.DefaultLocalizeCap)
    // w4 ran out of budget, u1 did not
    assert(outSignature(single(r, bounded(0), 12)) == outSignature(single(r, bounded(0), Int.MaxValue)))
    assert(outSignature(single(r, bounded(1), 12)) != outSignature(single(r, bounded(1), Int.MaxValue)))
    // each seed is in the result, reached by the other seed's walk
    val out = outSignature(r.traverseQuery(TraverseQuery(bounded, hops = 2, edgeLimit = Some(12))))
    assert(out._1("u").contains("u1") && out._1("w").contains("w4"))
  }

  test("bounded edge budget: truncation point agrees across branches") {
    // a small budget forces the per-hop budget trim; the far-identity
    // ordering inside the walk must make both branches truncate identically
    val q = NeighborQuery("u", FilterExpr.eq("id", "u3"), hops = 2,
      edgeLimit = Some(7))
    val local = reader(GraphReader.DefaultLocalizeCap).neighbors(q)
    val dist  = reader(0).neighbors(q)
    assert(outSignature(local) == outSignature(dist))
  }
}
