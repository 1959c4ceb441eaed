package graft.graph

import org.apache.spark.sql.DataFrame
import graft.model.EdgeKey

/** The engine's graph container — the Spark analogue of the reference's
  * `GraphContainer` (graflo/architecture/graph_types/container.py:53-151):
  * vertex-type → DataFrame, edge-key → DataFrame.
  *
  * Where the reference accumulates Python lists per batch, this holds lazy
  * DataFrames; cross-batch accumulation (container.py:115-151
  * `from_docs_list`) becomes `unionByName(allowMissingColumns = true)`.
  *
  * Edge DataFrames use flattened endpoint columns `src_<idField>` /
  * `dst_<idField>` plus property columns — one canonical edge schema, which
  * replaces the reference's per-backend row normalization
  * (graflo/db/traversal.py:330-384).
  */
final case class GraphOutput(
    vertices: Map[String, DataFrame],
    edges: Map[EdgeKey, DataFrame],
    /** tolerated transform-failure records (lineage, label, input) — the
      * reference's doc-error sink (graflo/hq/doc_error_sink.py) as a
      * side-output DataFrame per resource.
      */
    errors: Map[String, DataFrame] = Map.empty
) {

  def vertex(name: String): DataFrame =
    vertices.getOrElse(name, throw new NoSuchElementException(s"no vertex collection: $name"))

  def edge(key: EdgeKey): DataFrame =
    edges.getOrElse(key, throw new NoSuchElementException(s"no edge collection: $key"))

  /** Union of two containers, per collection (reference container.py:115-151). */
  def unionWith(other: GraphOutput): GraphOutput = {
    def merge[K](a: Map[K, DataFrame], b: Map[K, DataFrame]): Map[K, DataFrame] =
      (a.keySet ++ b.keySet).map { k =>
        k -> ((a.get(k), b.get(k)) match {
          case (Some(x), Some(y)) => x.unionByName(y, allowMissingColumns = true)
          case (x, y)             => x.orElse(y).get
        })
      }.toMap
    GraphOutput(merge(vertices, other.vertices), merge(edges, other.edges),
      merge(errors, other.errors))
  }

  /** Golden-size view (the reference's `*_sizes.yaml` test pattern). */
  def sizes(): Map[String, Long] =
    vertices.map { case (k, v) => k -> v.count() } ++
      edges.map { case (k, e) => k.storeName -> e.count() }

  /** GraphFrames-shaped flattened view — the de-facto public Spark graph
    * schema (graphframes.github.io): ONE `vertices(id, vertex_type)`
    * frame and ONE `edges(src, dst, relationship)` frame, global ids
    * minted as `<type>/<identity values>`. This is the interchange
    * surface for GraphX/GraphFrames-style libraries and for engines that
    * want a homogeneous edge list (the per-type property frames stay the
    * engine-native representation; heterogeneous properties do not
    * survive a lossless union, so this view carries identity + typing
    * only). `schema` supplies each type's identity columns — edge frames
    * carry them as `src_<field>` / `dst_<field>`.
    */
  def graphFrames(schema: graft.model.GraphSchema): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    def gid(tpe: String, cols: Seq[Column]): Column =
      concat_ws("/", (lit(tpe) +: cols.map(_.cast("string"))): _*)
    val vs = vertices.map { case (name, df) =>
      val ids = schema.vertex(name).idColumns.map(df(_))
      df.select(gid(name, ids).as("id"), lit(name).as("vertex_type"))
    }.reduceLeft(_ unionByName _)
    val es =
      if (edges.isEmpty) {
        val spark = vertices.head._2.sparkSession
        spark.emptyDataFrame
          .select(lit("").as("src"), lit("").as("dst"),
            lit("").as("relationship")).limit(0)
      } else edges.map { case (k, df) =>
        val sIds = schema.vertex(k.source).idColumns.map(f => df(s"src_$f"))
        val tIds = schema.vertex(k.target).idColumns.map(f => df(s"dst_$f"))
        df.select(gid(k.source, sIds).as("src"), gid(k.target, tIds).as("dst"),
          lit(k.relation).as("relationship"))
      }.reduceLeft(_ unionByName _)
    (vs, es)
  }

  /** Register every collection as a session temp view — the SQL surface
    * over the property graph: `<prefix><vertex>` per vertex collection and
    * `<prefix><src>__<rel>__<tgt>` per edge collection, so SQL-only
    * clients (JDBC, notebooks, `spark.sql`) can join vertices through
    * edges without touching the Scala API. Views are lazy plan aliases —
    * no materialization, full pushdown through them.
    */
  def registerViews(prefix: String = "g_"): Unit = {
    vertices.foreach { case (name, df) =>
      df.createOrReplaceTempView(s"$prefix$name") }
    edges.foreach { case (k, df) =>
      df.createOrReplaceTempView(s"$prefix${k.storeName}") }
  }

  /** Unpersist every collection (blocking = false): releases a caller's
    * own `persist`, and does nothing to frames that hold no cache, such as
    * the query plane's frozen results.
    */
  def unpersist(): GraphOutput = {
    vertices.values.foreach(_.unpersist())
    edges.values.foreach(_.unpersist())
    this
  }
}

object GraphOutput {
  val empty: GraphOutput = GraphOutput(Map.empty, Map.empty)
}
