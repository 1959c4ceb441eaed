package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.FilterExpr
import graft.fixtures.TpchGraph
import graft.graph.{GraphAlgos, GraphOutput}
import graft.model.EdgeKey
import graft.pipeline.{PipelineCompiler, ResourceDef}
import graft.query._
import graft.store.{GraphStore, WriteReport}

/** One timed call, with its collected result as canonical lines, or the
  * reason it failed (an exception, a cap refusal or a timeout).
  */
final case class Sample(kind: String, seconds: Double, lines: Seq[String], error: Option[String]) {
  def json: Map[String, Any] =
    Map("kind" -> kind, "s" -> seconds, "lines" -> lines, "error" -> error.orNull)
}

/** Every graft call the benchmark makes, timed from outside. Only the
  * public calls the CLI makes: `TpchGraph` resources, `PipelineCompiler`,
  * `GraphStore`, `GraphReader`, `GraphOutput.graphFrames`, `GraphAlgos`.
  */
final class Bench(spark: SparkSession, plan: JsonNode) {
  val schema = TpchGraph.schema
  val prIterations = plan.get("pr_iterations").asInt
  val lpaRounds = plan.get("lpa_rounds").asInt
  val ssspHops = plan.get("sssp_hops").asInt

  private def now() = System.nanoTime()
  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Time `body`, then turn its result into lines with `render`. */
  def timed[T](kind: String, t: Tracer, span: String)(body: => T)(render: T => Seq[String]): Sample = {
    val t0 = now()
    try {
      val r = t.span(span)(body)
      val s = secs(t0)
      Sample(kind, s, render(r), None)
    } catch {
      case NonFatal(e) => Sample(kind, secs(t0), Nil, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
  }

  // ------------------------------------------------------------------ ingest

  val bulkResources: Seq[(ResourceDef, String)] = Seq(
    TpchGraph.regionResource -> "region", TpchGraph.nationResource -> "nation",
    TpchGraph.customerResource -> "customer", TpchGraph.supplierResource -> "supplier",
    TpchGraph.partResource -> "part", TpchGraph.ordersResource -> "orders",
    TpchGraph.lineitemResource -> "lineitem", TpchGraph.eventsResource -> "events")
  val batchResources: Seq[(ResourceDef, String)] = Seq(TpchGraph.customerResource -> "customer",
    TpchGraph.ordersResource -> "orders", TpchGraph.lineitemResource -> "lineitem")

  private def source(dir: String, table: String): DataFrame =
    if (table == "events") TpchGraph.eventsTable(spark, dir) else TpchGraph.table(spark, dir, table)

  /** Pipeline output as the store receives it. A traced run forces it at
    * the pipeline→store boundary, so `store` time does not re-run the
    * pipeline.
    */
  private def compile(t: Tracer, dir: String, resources: Seq[(ResourceDef, String)]): GraphOutput = {
    val g = t.span("pipeline.compile") {
      resources.map { case (r, table) => PipelineCompiler.compile(schema, r, source(dir, table)) }
        .reduceLeft(_ unionWith _)
    }
    if (!t.enabled) g
    else t.span("pipeline.exec") {
      GraphOutput(g.vertices.map { case (k, v) => k -> v.localCheckpoint(true) },
        g.edges.map { case (k, e) => k -> e.localCheckpoint(true) }, g.errors)
    }
  }

  def reader(t: Tracer, store: GraphStore): GraphReader =
    new GraphReader(schema, v => t.span("store.read")(store.vertices(v)),
      k => t.span("store.read")(store.readEdges(k)))

  final case class IngestOut(store: GraphStore, bulkSeconds: Double, batchSeconds: Seq[Double],
      reads: Seq[Sample], reports: Seq[WriteReport], rowsOut: Map[String, Long],
      batchWrittenBytes: Long)

  /** Bulk load into an empty store, then each incremental batch (compile +
    * upsert) followed by point reads of keys it touched.
    */
  def ingest(t: Tracer, root: String, base: String, batches: Seq[(String, Seq[(String, Long)])])
      : IngestOut = {
    val store = new GraphStore(root, schema, spark)
    val rowsOut = mutable.Map.empty[String, Long].withDefaultValue(0L)
    // rows per collection of the (checkpointed) pipeline output, counted
    // outside the timed calls
    def countOut(g: GraphOutput): Unit = if (t.enabled) {
      g.vertices.foreach { case (k, v) => rowsOut(k) += v.count() }
      g.edges.foreach { case (k, e) => rowsOut(k.storeName) += e.count() }
    }
    if (t.enabled) t.span("sources.scan")(bulkResources.foreach { case (_, tb) => noop(source(base, tb)) })
    val reports = mutable.ArrayBuffer.empty[WriteReport]
    val t0 = now()
    val bulkOut = t.span("ingest.bulk") {
      val g = compile(t, base, bulkResources)
      reports += t.span("store.write")(store.writeReport(g))
      g
    }
    val bulk = secs(t0)
    countOut(bulkOut)
    val batchSecs = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[Sample]
    var written = 0L
    val r = reader(t, store)
    batches.foreach { case (dir, probes) =>
      val before = Files.bytes(root, Files.isParquet)
      val tb = now()
      val batchOut = t.span("ingest.batch") {
        val g = compile(t, dir, batchResources)
        reports += t.span("store.write")(store.writeReport(g))
        g
      }
      batchSecs += secs(tb)
      countOut(batchOut)
      written += Files.bytes(root, Files.isParquet) - before
      probes.foreach { case (v, k) =>
        reads += timed("read_after_write", t, "query.visibility")(
          r.node(NodeQuery(v, Some(FilterExpr.eq(Fields.key(v), k)))).collect())(renderRows(v))
      }
    }
    IngestOut(store, bulk, batchSecs.toSeq, reads.toSeq, reports.toSeq, rowsOut.toMap, written)
  }

  // ------------------------------------------------------------------ queries

  /** Edge budget of every walk: the element cap, so a walk whose result
    * fits `QueryCaps.Hard` is never cut short.
    */
  val EdgeLimit = Some(QueryCaps.Hard.maxElements)

  /** Run one query, collect its whole result and render it as lines. */
  def runOp(r: GraphReader, op: JsonNode): Seq[String] = op.get("type").asText match {
    case "node_by_id" =>
      val v = op.get("vertex").asText
      renderRows(v)(r.node(NodeQuery(v, Some(FilterExpr.eq(Fields.key(v), op.get("key").asLong)))).collect())
    case "node_scan" =>
      renderRows("orders")(r.node(NodeQuery("orders", Some(FilterExpr.And(Seq(
        FilterExpr.eq("o_orderstatus", op.get("status").asText),
        FilterExpr.gt("o_totalprice", op.get("min_price").asDouble)))),
        limit = Some(op.get("limit").asInt))).collect())
    case "agg_count" =>
      r.aggregate(AggregateQuery(op.get("vertex").asText, "COUNT",
        discriminant = Some(op.get("disc").asText)))
        .collect().map(Render.row).toSeq.sorted
    case "agg_max" =>
      r.aggregate(AggregateQuery(op.get("vertex").asText, "MAX",
        aggregatedField = Some(op.get("field").asText),
        filters = Some(FilterExpr.eq(op.get("by").asText, op.get("value").asText))))
        .collect().map(Render.row).toSeq
    case "nbr" =>
      val v = op.get("vertex").asText
      val hops = op.get("hops").asInt
      renderGraph(r.neighbors(NeighborQuery(v, FilterExpr.eq(Fields.key(v), op.get("key").asLong),
        hops = hops, relations = if (hops == 1) Nil else Fields.TwoHopRelations, edgeLimit = EdgeLimit)))
    case "traverse" =>
      renderGraph(r.traverseQuery(TraverseQuery(
        op.get("keys").elements.asScala.toSeq.map(k => "customer" -> FilterExpr.eq("c_custkey", k.asLong)),
        edgeLimit = EdgeLimit)))
    case other => sys.error(s"unknown op $other")
  }

  private def renderRows(v: String)(rows: Array[Row]): Seq[String] =
    rows.map(r => Fields.byVertex(v).map(c => Render.value(r.getAs[Any](c))).mkString("|")).toSeq.sorted

  /** Collect every vertex and edge frame of a graph result. */
  private def renderGraph(g: GraphOutput): Seq[String] = {
    val vs = g.vertices.toSeq.flatMap { case (tp, df) =>
      df.select(schema.vertex(tp).idColumns.map(col): _*).collect().map(r => s"V $tp|${Render.row(r)}")
    }
    val es = g.edges.toSeq.flatMap { case (k, df) =>
      val props = if (k.relation == "contains") Seq("l_quantity", "l_extendedprice") else Nil
      val cols = schema.vertex(k.source).idColumns.map("src_" + _) ++
        schema.vertex(k.target).idColumns.map("dst_" + _) ++ props
      df.select(cols.map(col): _*).collect().map(r => s"E ${k.storeName}|${Render.row(r)}")
    }
    g.unpersist()
    (vs ++ es).sorted
  }

  /** Closed loop, one client: each call starts when the previous one
    * returned. Runs the plan's sequence until `deadline`, and at least
    * `minOps` calls.
    */
  def queryLoop(t: Tracer, store: GraphStore, ops: Seq[JsonNode], minOps: Int,
      deadline: Long): Seq[Sample] = {
    val r = reader(t, store)
    val out = mutable.ArrayBuffer.empty[Sample]
    var i = 0
    while (i < ops.size && (i < minOps || now() < deadline)) {
      val kind = ops(i).get("kind").asText
      out += timed(kind, t, s"query.$kind")(runOp(r, ops(i)))(identity)
      i += 1
    }
    out.toSeq
  }

  // ------------------------------------------------------------------ graph

  /** Edge collection directory `<src>__<rel>__<tgt>` → key. */
  def edgeKey(dir: String): Option[EdgeKey] = dir.split("__", 3) match {
    case Array(s, rel, tg) => Some(EdgeKey(s, tg, rel))
    case _ => None
  }

  /** The store as one GraphFrames-shaped edge list, built as `export-gf` builds it. */
  def exportEdges(store: GraphStore): DataFrame =
    GraphOutput(store.vertexCollections.map(n => n -> store.vertices(n)).toMap,
      store.edgeCollections.flatMap(d => edgeKey(d).map(k => k -> store.edges(k))).toMap)
      .graphFrames(schema)._2

  /** Both directions of every exported edge: no node dangles, so PageRank
    * keeps its mass, and SSSP spreads from a customer through its orders
    * and parts over the whole graph.
    */
  def undirected(es: DataFrame): DataFrame =
    es.select(col("src"), col("dst")).union(es.select(col("dst").as("src"), col("src").as("dst")))

  def pagerank(store: GraphStore): DataFrame =
    GraphAlgos.pageRankFixed(undirected(exportEdges(store)), "src", "dst", prIterations)
  def lpa(store: GraphStore): DataFrame =
    GraphAlgos.labelPropagation(exportEdges(store), "src", "dst", lpaRounds)
  def sssp(store: GraphStore, source: String): DataFrame =
    GraphAlgos.shortestPathsFixed(undirected(exportEdges(store)).withColumn("w", lit(1L)),
      "src", "dst", "w", source, ssspHops)

  /** Rounds of (PageRank, LPA, SSSP), each output written to `noop`,
    * until `deadline` (at least one round); returns the samples and the
    * last outputs.
    */
  def analytics(t: Tracer, store: GraphStore, source: String, deadline: Long)
      : (Seq[Sample], Map[String, DataFrame]) = {
    val samples = mutable.ArrayBuffer.empty[Sample]
    val last = mutable.Map.empty[String, DataFrame]
    def run(kind: String)(f: => DataFrame): Unit =
      samples += timed(kind, t, s"graph.$kind") { val d = f; noop(d); d } { d => last(kind) = d; Nil }
    do {
      run("pagerank")(pagerank(store))
      run("lpa")(lpa(store))
      run("sssp")(sssp(store, source))
    } while (now() < deadline)
    (samples.toSeq, last.toMap)
  }

  /** The exported graph, graft's outputs of the three algorithms on it,
    * and the `*OracleSql` texts that reproduce them in DuckDB.
    */
  def writeOracleInputs(dir: String, store: GraphStore, out: Map[String, DataFrame], source: String): Unit = {
    def w(df: DataFrame, name: String) = df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    // LPA's oracle undirects its input itself, so one edge list serves all three
    w(undirected(exportEdges(store)).distinct(), "edges")
    out.foreach { case (k, df) => w(df, k) }
    Out.write(s"$dir/oracle.json", Map(
      "pagerank" -> (GraphAlgos.pageRankOracleSql("SELECT src, dst FROM edges", prIterations) +
        s"\nSELECT node, rank FROM r$prIterations"),
      "lpa" -> (GraphAlgos.labelPropagationOracleSql("SELECT src, dst FROM edges", lpaRounds) +
        s"\nSELECT node, label FROM l$lpaRounds"),
      "sssp" -> (GraphAlgos.shortestPathsOracleSql(
        "SELECT src, dst, CAST(1 AS BIGINT) AS w FROM edges", source, ssspHops) +
        s"\nSELECT node, dist FROM d$ssspHops")))
  }
}

/** The vertex fields rendered for node reads, identity first. */
object Fields {
  val byVertex: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"),
    "part" -> Seq("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice"))
  def key(vertex: String): String = byVertex(vertex).head
  val TwoHopRelations = Seq("placed_by", "contains")
}

/** The canonical line form shared with the DuckDB side (`checks.py`). */
object Render {
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))
    case x => x.toString
  }
  def row(r: Row): String = r.toSeq.map(value).mkString("|")
}

object Files {
  val isParquet: String => Boolean = _.endsWith(".parquet")

  /** Total size of the regular files under `dir` whose name passes `keep`. */
  def bytes(dir: String, keep: String => Boolean = _ => true): Long =
    walk(dir, keep).map(java.nio.file.Files.size).sum
  def count(dir: String, keep: String => Boolean): Long = walk(dir, keep).size.toLong

  private def walk(dir: String, keep: String => Boolean): Seq[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) Nil
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(f => java.nio.file.Files.isRegularFile(f) &&
        keep(f.getFileName.toString)).toList
      finally s.close()
    }
  }
}
