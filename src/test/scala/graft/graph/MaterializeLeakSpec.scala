package graft.graph

import graft.SparkSpec
import graft.ext.Dedup
import org.apache.spark.sql.graftspec.CacheRegistry
import org.apache.spark.storage.StorageLevel

/** Operators and read queries share their multi-consumer frames through
  * [[Rounds.materialize]], so calling them leaves the session's cache as
  * it was and leaves the caller's frames alone.
  */
class MaterializeLeakSpec extends SparkSpec {

  import spark.implicits._

  private lazy val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"),
    ("d", "e"), ("b", "d"), ("e", "a"), ("f", "a")).toDF("s", "t")

  test("graph and dedup operators register no cached data") {
    val before = CacheRegistry.entries(spark)
    val docs = Seq((1L, "the cat sat on the mat"), (2L, "the cat sat on a mat"),
      (3L, "a dog ran far away")).toDF("id", "text")
    Seq(
      GraphAlgos.adamicAdar(edges, "s", "t"),
      GraphAlgos.assortativity(edges, "s", "t"),
      GraphAlgos.richClub(edges, "s", "t", Seq(1, 2)),
      GraphAlgos.butterflyCensus(edges, "s", "t"),
      GraphAlgos.bipartiteProject(edges, "s", "t", maxPerRight = 10),
      GraphAlgos.triangleCounts(edges, "s", "t"),
      GraphAlgos.linkPredictionAuc(edges, "s", "t"),
      Dedup.jaccardPairs(docs, "id", "text", n = 2, minSim = 0.1)
    ).foreach(_.collect(): Unit)
    assert(CacheRegistry.entries(spark) == before)
  }

  test("neighbor and traverse queries register no cached data") {
    import graft.expr.FilterExpr
    import graft.model._
    import graft.query._
    val schema = GraphSchema(
      vertices = Seq(VertexDef("n", Nil, Identity.Natural(Seq("id")))),
      edges = Seq(EdgeDef("n", "n", "link")))
    val reader = new GraphReader(schema,
      Map("n" -> Seq("a", "b", "c", "d", "e", "f").toDF("id")),
      Map(EdgeKey("n", "n", "link") -> edges.toDF("src_id", "dst_id")).get(_))
    def collected(g: GraphOutput): Long =
      (g.vertices.values ++ g.edges.values).map(_.collect().length.toLong).sum
    val before = CacheRegistry.entries(spark)
    assert(collected(reader.neighbors(
      NeighborQuery("n", FilterExpr.eq("id", "a"), hops = 2))) > 0)
    assert(collected(reader.traverseQuery(TraverseQuery(
      Seq("a", "c", "e").map(k => "n" -> FilterExpr.eq("id", k)), hops = 2))) > 0)
    assert(CacheRegistry.entries(spark) == before)
  }

  test("skipGramPairs leaves the caller's walks frame uncached") {
    val walks = Seq(("w0", 0L, "a"), ("w0", 1L, "b"), ("w0", 2L, "c"))
      .toDF("walk_id", "step", "node")
    assert(GraphAlgos.skipGramPairs(walks, window = 1).count() == 4L)
    assert(walks.storageLevel == StorageLevel.NONE)
  }

  test("communityQuality's result does not re-run its endpoint joins") {
    import org.apache.spark.sql.functions.{col, udf}
    // every read of the edge input counts its rows here
    val reads = spark.sparkContext.longAccumulator("edge rows read")
    val tap = udf { (s: String) => reads.add(1); s }.asNondeterministic()
    val rows = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"))
    val e = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2))
      .select(tap(col("_1")).as("edge_src"), col("_2").as("edge_dst"))
    val comm = Seq(("a", "x"), ("b", "x"), ("c", "x"), ("d", "y"), ("e", "y"))
      .toDF("node", "community")
    val res = GraphAlgos.communityQuality(e, "edge_src", "edge_dst",
      comm, "node", "community")
    val readByCall = reads.sum
    assert(readByCall == rows.size.toLong)
    val intra = res.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(intra == Map("x" -> 3L, "y" -> 1L))
    assert(reads.sum == readByCall, "collecting the result re-read the edges")
  }
}
