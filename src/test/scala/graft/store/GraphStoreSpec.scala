package graft.store

import graft.SparkSpec
import graft.model._
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.nio.file.Files

class GraphStoreSpec extends SparkSpec {

  private val schema = GraphSchema(
    vertices = Seq(
      VertexDef("p", Seq(FieldDef("name"), FieldDef("score")), Identity.Natural(Seq("id")),
        secondary = Seq(SecondaryIdentity("by_name", Seq("name")))),
      VertexDef("q", Nil, Identity.Natural(Seq("qid")))),
    edges = Seq(EdgeDef("p", "q", "rel")))

  private def newStore() = new GraphStore(
    Files.createTempDirectory("graft-store-spec").toString, schema, spark)

  test("upsert inserts then merges on identity (incoming wins field-wise)") {
    import spark.implicits._
    val store = newStore()
    store.upsertVertices("p", Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "score"))
    assert(store.vertices("p").count() == 2)
    // second write: update id=1 score, new id=3; name absent column-wise merge
    store.upsertVertices("p", Seq((1L, "a2", 9.0), (3L, "c", 3.0)).toDF("id", "name", "score"))
    val m = store.vertices("p").collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[String]("name"), r.getAs[Double]("score"))).toMap
    assert(m(1L) == ("a2", 9.0) && m(2L) == ("b", 2.0) && m(3L) == ("c", 3.0))
  }

  test("upsert is idempotent (re-writing the same batch changes nothing)") {
    import spark.implicits._
    val store = newStore()
    val batch = Seq((1L, "a", 1.0)).toDF("id", "name", "score")
    store.upsertVertices("p", batch)
    store.upsertVertices("p", batch)
    assert(store.vertices("p").count() == 1)
  }

  test("upsert tolerates schema drift: missing columns keep old values, new columns appear") {
    import spark.implicits._
    val store = newStore()
    store.upsertVertices("p", Seq((1L, "a", 1.0)).toDF("id", "name", "score"))
    // second batch lacks `score`, adds `email`
    store.upsertVertices("p", Seq((1L, "a2", "a@x"), (2L, "b", "b@x"))
      .toDF("id", "name", "email"))
    val rows = store.vertices("p").collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("name"), Option(r.getAs[Any]("score")), r.getAs[String]("email"))).toMap
    assert(rows(1L) == (("a2", Some(1.0), "a@x"))) // score survives, name/email updated
    assert(rows(2L) == (("b", None, "b@x")))
  }

  test("edge insert dedups on identities across writes") {
    import spark.implicits._
    val store = newStore()
    val e = Seq((1L, 10L), (2L, 20L)).toDF("src_id", "dst_qid")
    store.insertEdges(EdgeKey("p", "q", "rel"), e)
    store.insertEdges(EdgeKey("p", "q", "rel"), e) // same again
    assert(store.edges(EdgeKey("p", "q", "rel")).count() == 2)
  }

  test("vacuum removes superseded versions but keeps current + previous") {
    import spark.implicits._
    val store = newStore()
    (1 to 4).foreach { i =>
      store.upsertVertices("p", Seq((i.toLong, s"n$i", 0.0)).toDF("id", "name", "score"))
    }
    store.vacuum(keepPrevious = 1)
    val root = java.nio.file.Paths.get(store.root, "vertices", "p")
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(root)
    val dirs = try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("v")).toList.sorted finally s.close()
    assert(dirs == List("v2", "v3")) // v0, v1 swept; current v3 + previous v2 kept
    assert(store.vertices("p").count() == 4) // data intact
  }

  test("fetchPresent/keepAbsent are semi/anti joins") {
    import spark.implicits._
    val store = newStore()
    store.upsertVertices("p", Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "score"))
    val probe = Seq((2L), (3L)).toDF("id")
    assert(store.fetchPresent("p", probe).select("id").as[Long].collect().toSet == Set(2L))
    assert(store.keepAbsent("p", probe).select("id").as[Long].collect().toSet == Set(3L))
  }

  test("endpoint resolution: secondary identity to primary with policies") {
    import spark.implicits._
    val vdef = schema.vertex("p")
    // two vertices share name 'dup' → ambiguous on by_name
    val vs = Seq((1L, "solo", 0.0), (2L, "dup", 0.0), (3L, "dup", 0.0))
      .toDF("id", "name", "score")
    val edges = Seq(("solo", 100L), ("dup", 200L)).toDF("src_name", "dst_qid")

    val all = EndpointResolve.resolve(edges, vs, vdef, "by_name", "src_", AmbiguityPolicy.All)
    assert(all.count() == 3) // dup resolves to both 2 and 3

    val first = EndpointResolve.resolve(edges, vs, vdef, "by_name", "src_", AmbiguityPolicy.First)
    val fm = first.select("src_id", "dst_qid").as[(Long, Long)].collect().toSet
    assert(fm == Set((1L, 100L), (2L, 200L))) // deterministic smallest id

    val skip = EndpointResolve.resolve(edges, vs, vdef, "by_name", "src_", AmbiguityPolicy.Skip)
    assert(skip.select("src_id").as[Long].collect().toSet == Set(1L))

    intercept[IllegalStateException] {
      EndpointResolve.resolve(edges, vs, vdef, "by_name", "src_", AmbiguityPolicy.Error)
    }
  }

  test("store write() resolves secondary-matched edges and writes INDEX.json") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store-spec2").toString
    val sch2 = schema.copy(edges = Seq(
      EdgeDef("p", "q", "rel", sourceMatch = Some("by_name"))))
    val store = new GraphStore(root, sch2, spark)
    val g = graft.graph.GraphOutput(
      vertices = Map(
        "p" -> Seq((1L, "a", 1.0)).toDF("id", "name", "score"),
        "q" -> Seq(10L).toDF("qid")),
      edges = Map(EdgeKey("p", "q", "rel") ->
        Seq(("a", 10L)).toDF("src_name", "dst_qid")))
    store.write(g)
    val e = store.edges(EdgeKey("p", "q", "rel")).collect().head
    assert(e.getAs[Long]("src_id") == 1L) // resolved name→primary id
    assert(Files.exists(java.nio.file.Paths.get(root, "INDEX.json")))
  }

  // ------------------------------------------------ current-version memo

  private val rel = EdgeKey("p", "q", "rel")

  /** Spark jobs started while `body` runs. Listener events arrive in
    * order, so once a marker job run after `body` is seen, every job
    * `body` started has been counted.
    */
  private def jobsDuring(body: => Unit): Int = {
    val marker = s"graft-store-spec-barrier-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(marker)
      try spark.range(1).count() finally sc.setJobDescription(null)
      Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .map(d => { assert(d != null, "listener saw no marker job"); d })
        .takeWhile(_ != marker).size
    } finally sc.removeSparkListener(l)
  }

  /** The version dir every file of a read comes from. */
  private def versionOf(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.inputFiles.map(f => java.nio.file.Paths.get(new java.net.URI(f)).getParent
      .getFileName.toString).toSet

  private def ids(store: GraphStore): Seq[Long] = {
    import spark.implicits._
    store.vertices("p").select("id").as[Long].collect().toSeq.sorted
  }

  test("memo: repeated reads of an unchanged version launch no Spark job") {
    import spark.implicits._
    val store = newStore()
    store.upsertVertices("p", Seq((1L, "a", 1.0)).toDF("id", "name", "score"))
    store.insertEdges(rel, Seq((1L, 10L)).toDF("src_id", "dst_qid"))
    store.vertices("p"); store.readEdges(rel) // first reads of these versions
    assert(jobsDuring((1 to 3).foreach { _ =>
      store.vertices("p"); store.readVertices("p"); store.edges(rel); store.readEdges(rel)
    }) == 0)
    assert(store.vertices("p") eq store.vertices("p"))
    // a new instance has no memo: its first read pays the file listing and
    // schema inference that a hit skips
    assert(jobsDuring(new GraphStore(store.root, schema, spark).vertices("p")) > 0)
  }

  test("memo: the next read sees every write that flips a version") {
    import spark.implicits._
    val store = newStore()
    store.upsertVertices("p", Seq((1L, "a", 1.0)).toDF("id", "name", "score"))
    assert(ids(store) == Seq(1L) && versionOf(store.vertices("p")) == Set("v0"))
    store.upsertVertices("p", Seq((2L, "b", 2.0)).toDF("id", "name", "score"))
    assert(ids(store) == Seq(1L, 2L) && versionOf(store.vertices("p")) == Set("v1"))
    store.applyChanges("p", Seq((3L, "c", "upsert", 1L), (1L, "a", "delete", 1L))
      .toDF("id", "name", "op", "seq"), "op", "seq")
    assert(ids(store) == Seq(2L, 3L) && versionOf(store.vertices("p")) == Set("v2"))
    store.overwriteVertices("p", (5L to 44L).map(i => (i, s"n$i", 0.0))
      .toDF("id", "name", "score").repartition(4))
    assert(ids(store) == (5L to 44L) && versionOf(store.vertices("p")) == Set("v3"))
    assert(store.compactVertices("p", targetBytes = 1L << 30).exists(_._2 == 1))
    assert(ids(store) == (5L to 44L) && versionOf(store.vertices("p")) == Set("v4"))
    assert(store.vertices("p").inputFiles.length == 1)

    store.insertEdges(rel, Seq((1L, 10L)).toDF("src_id", "dst_qid"))
    assert(store.edges(rel).count() == 1)
    store.insertEdges(rel, Seq((2L, 20L)).toDF("src_id", "dst_qid"))
    assert(store.edges(rel).count() == 2 && versionOf(store.edges(rel)) == Set("v1"))
    store.overwriteEdges(rel, Seq((3L, 30L)).toDF("src_id", "dst_qid"))
    assert(store.edges(rel).select("src_id").as[Long].collect().toSeq == Seq(3L))
  }

  test("memo: a root deleted and rewritten at the same version is seen by another instance") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store-memo").toString
    val first = new GraphStore(root, schema, spark)
    first.upsertVertices("p", Seq((1L, "a", 1.0)).toDF("id", "name", "score"))
    first.insertEdges(rel, Seq((1L, 10L)).toDF("src_id", "dst_qid"))
    assert(ids(first) == Seq(1L) && first.edges(rel).count() == 1)
    freshDir(root)
    val second = new GraphStore(root, schema, spark)
    second.upsertVertices("p", Seq((7L, "g", 7.0), (8L, "h", 8.0)).toDF("id", "name", "score"))
    second.insertEdges(rel, Seq((7L, 70L), (8L, 80L)).toDF("src_id", "dst_qid"))
    assert(versionOf(first.vertices("p")) == Set("v0")) // same version number
    assert(ids(first) == Seq(7L, 8L))
    assert(first.edges(rel).select("src_id").as[Long].collect().toSeq.sorted == Seq(7L, 8L))
  }

  test("memo: vacuum, then read") {
    import spark.implicits._
    val store = newStore()
    (1 to 3).foreach { i =>
      store.upsertVertices("p", Seq((i.toLong, s"n$i", 0.0)).toDF("id", "name", "score"))
      assert(ids(store) == (1L to i.toLong))
    }
    store.vacuum(keepPrevious = 0)
    assert(store.vertexVersions("p") == Seq(2))
    assert(ids(store) == Seq(1L, 2L, 3L))
    store.upsertVertices("p", Seq((4L, "n4", 0.0)).toDF("id", "name", "score"))
    store.vacuum(keepPrevious = 0)
    assert(ids(store) == Seq(1L, 2L, 3L, 4L) && versionOf(store.vertices("p")) == Set("v3"))
  }
}
