package graft.query

import graft.SparkSpec
import graft.model._
import graft.expr.FilterExpr
import org.apache.spark.sql.DataFrame

class QuerySpec extends SparkSpec {

  private val schema = GraphSchema(
    vertices = Seq(
      VertexDef("a", Nil, Identity.Natural(Seq("id"))),
      VertexDef("b", Nil, Identity.Natural(Seq("id"))),
      VertexDef("c", Nil, Identity.Natural(Seq("id")))),
    edges = Seq(
      EdgeDef("a", "b", "ab"),
      EdgeDef("b", "c", "bc", directed = false)))

  // tiny graph: a1→b1, a1→b2, b1—c1 (undirected), b2—c2
  private lazy val vs: Map[String, DataFrame] = {
    import spark.implicits._
    Map(
      "a" -> Seq(("a1", "A")).toDF("id", "label"),
      "b" -> Seq(("b1", "B"), ("b2", "B")).toDF("id", "label"),
      "c" -> Seq(("c1", "C"), ("c2", "C")).toDF("id", "label"))
  }
  private lazy val es: Map[EdgeKey, DataFrame] = {
    import spark.implicits._
    Map(
      EdgeKey("a", "b", "ab") -> Seq(("a1", "b1"), ("a1", "b2")).toDF("src_id", "dst_id"),
      EdgeKey("b", "c", "bc") -> Seq(("b1", "c1"), ("b2", "c2")).toDF("src_id", "dst_id"))
  }
  private lazy val reader = new GraphReader(schema, vs(_), es.get(_))

  test("caps: explicit over-ask raises, default clamps (narrowed semantics)") {
    intercept[IllegalArgumentException](QueryCaps.Hard.narrowLimit(Some(5000)))
    assert(QueryCaps.Hard.narrowLimit(None) == 100)
    assert(QueryCaps.Hard.narrowLimit(Some(7)) == 7)
    intercept[IllegalArgumentException](QueryCaps.Hard.narrowHops(9))
  }

  test("node query: filter + projection + limit") {
    val out = reader.node(NodeQuery("b", Some(FilterExpr.eq("id", "b1")), Seq("id")))
    assert(out.columns.toSeq == Seq("id"))
    assert(out.count() == 1)
  }

  test("aggregate: COUNT with discriminant; non-COUNT needs a field") {
    val g = reader.aggregate(AggregateQuery("b", "COUNT", discriminant = Some("label")))
    assert(g.collect().head.getLong(1) == 2)
    intercept[IllegalArgumentException] {
      reader.aggregate(AggregateQuery("b", "MAX", discriminant = Some("label")))
    }
  }

  test("1-hop OUT from a1 reaches b only") {
    val out = reader.neighbors(NeighborQuery("a", FilterExpr.eq("id", "a1"),
      hops = 1, direction = Direction.Out))
    assert(out.vertices("b").count() == 2)
    assert(!out.vertices.contains("c"))
  }

  test("2-hop ANY from a1 reaches c through b (undirected bc both ways)") {
    val out = reader.neighbors(NeighborQuery("a", FilterExpr.eq("id", "a1"), hops = 2))
    assert(out.vertices("b").count() == 2)
    assert(out.vertices("c").count() == 2)
    assert(out.edges(EdgeKey("b", "c", "bc")).count() == 2)
  }

  test("IN direction from b1: directed cross-type ab is NOT followed, undirected bc is") {
    // reference _anchor_side dialect (db/traversal.py:246-265, pinned by
    // ReferenceQueryParitySpec nb_bi_src_in/nb_bi_tgt_in): IN never follows
    // a directed cross-type edge; undirected edges ignore the direction
    val out = reader.neighbors(NeighborQuery("b", FilterExpr.eq("id", "b1"),
      hops = 1, direction = Direction.In))
    assert(out.vertices.get("a").forall(_.isEmpty))
    assert(out.vertices("c").count() == 1) // undirected → followed regardless
  }

  test("OUT from b1 follows directed ab from the target side (reference dialect)") {
    val out = reader.neighbors(NeighborQuery("b", FilterExpr.eq("id", "b1"),
      hops = 1, direction = Direction.Out))
    assert(out.vertices("a").count() == 1) // 'queried inbound even when OUT'
  }

  test("the anchor vertex is never part of the result container") {
    val out = reader.neighbors(NeighborQuery("a", FilterExpr.eq("id", "a1"), hops = 2))
    assert(out.vertices.get("a").forall(_.isEmpty))
  }

  test("NeighborQuery.filters constrain traversed edges (reference edge-filter semantics)") {
    // edge ab carries no 'w' column in this fixture, bc does not either —
    // build an edge map where ab has a weight to filter on
    val sparkS = spark
    import sparkS.implicits._
    val esW = es.updated(EdgeKey("a", "b", "ab"),
      Seq(("a1", "b1", 0.9), ("a1", "b2", 0.1)).toDF("src_id", "dst_id", "w"))
    val r = new GraphReader(schema, vs(_), esW.get(_))
    val out = r.neighbors(NeighborQuery("a", FilterExpr.eq("id", "a1"), hops = 1,
      direction = Direction.Out, filters = Some(FilterExpr.gt("w", 0.5))))
    assert(out.vertices("b").count() == 1) // only b1 reached through w>0.5
    assert(out.edges(EdgeKey("a", "b", "ab")).count() == 1)
  }

  test("traverseQuery multi-seed respects seed cap") {
    val seeds = (1 to 11).map(i => "a" -> FilterExpr.eq("id", s"a$i"))
    intercept[IllegalArgumentException](reader.traverseQuery(TraverseQuery(seeds)))
    val ok = reader.traverseQuery(TraverseQuery(Seq(
      "a" -> FilterExpr.eq("id", "a1"), "c" -> FilterExpr.eq("id", "c2")), hops = 1))
    assert(ok.vertices("b").count() == 3 - 1) // b1,b2 from a1; b2 from c2 (dedup)
  }

  test("a hop reads an edge collection only when the frontier holds its from-type") {
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[EdgeKey]()
    val counting = new GraphReader(schema, vs(_), k => { calls.add(k); es.get(k) })
    import scala.jdk.CollectionConverters._
    def walked(hops: Int): Seq[EdgeKey] = {
      calls.clear()
      counting.neighbors(NeighborQuery("a", FilterExpr.eq("id", "a1"), hops = hops,
        direction = Direction.Out))
      calls.asScala.toSeq
    }
    val ab = EdgeKey("a", "b", "ab"); val bc = EdgeKey("b", "c", "bc")
    // hop 1's frontier holds only a: ab from its source side, bc not at all
    // (an eager walk reads both edges from both sides: 4 reads per hop)
    assert(walked(1) == Seq(ab))
    // hop 2's frontier holds only b: ab from its target side, bc from its
    // source side; the undirected bc's c side is not read
    assert(walked(2) == Seq(ab, ab, bc))
  }
}
