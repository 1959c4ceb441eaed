package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 battery additions.
  *
  * q_evolution_cascade — the evolution INGESTION-MODEL cascade end to
  * end: a YAML manifest is evolved (vertex rename + vertex-property
  * rename) through [[graft.evolve.ManifestEvolution]], whose pipeline
  * rewrites must keep the manifest RUNNABLE — the renamed property's
  * `from:`-map coverage means the raw doc columns still feed the renamed
  * vertex field, and edge steps repoint at the renamed type. The evolved
  * manifest re-ingests the real tables and the counts (plus the renamed
  * property's non-null count, which is exactly what a missed from-map
  * rewrite would zero out) replay in DuckDB.
  */
object GraftQueriesR9 {

  private def t(s: SparkSession, dir: String)(name: String): DataFrame =
    graft.fixtures.TpchGraph.table(s, dir, name)

  type Q = (SparkSession, String) => DataFrame

  /** The TPC-H core as raw graph collections (no pipeline compile): the
    * substrate for the UNCAPPED walk rows, whose point is the walk's own
    * scaling — frontier id-sets past [[graft.query.GraphReader.DefaultLocalizeCap]]
    * at probe scale, not ingest cost.
    */
  private def rawGraph(s: SparkSession, d: String) = {
    import graft.model._
    val cust = t(s, d)("customer"); val nat = t(s, d)("nation")
    val ord = t(s, d)("orders"); val reg = t(s, d)("region")
    val supp = t(s, d)("supplier")
    val vs = Map("customer" -> cust, "nation" -> nat, "orders" -> ord,
      "region" -> reg, "supplier" -> supp)
    val es = Map(
      EdgeKey("nation", "region", "in_region") -> nat.select(
        col("n_nationkey").as("src_n_nationkey"), col("n_regionkey").as("dst_r_regionkey")),
      EdgeKey("customer", "nation", "in_nation") -> cust.select(
        col("c_custkey").as("src_c_custkey"), col("c_nationkey").as("dst_n_nationkey")),
      EdgeKey("supplier", "nation", "in_nation") -> supp.select(
        col("s_suppkey").as("src_s_suppkey"), col("s_nationkey").as("dst_n_nationkey")),
      EdgeKey("orders", "customer", "placed_by") -> ord.select(
        col("o_orderkey").as("src_o_orderkey"), col("o_custkey").as("dst_c_custkey")))
    (vs, es)
  }

  /** Ceilings wide open + the unbounded edge-budget sentinel: the
    * programmatic-walk configuration a 100 TB user runs, and the one
    * whose frontiers cross the id-set localization cap at probe scale
    * (LocalizeGateSpec pins branch identity; the 30x scale probe rides
    * these rows).
    */
  private def uncapped = graft.query.QueryCaps(maxHops = 10,
    maxRows = Int.MaxValue / 4, maxElements = Int.MaxValue / 4,
    maxSeeds = 100, defaultEdgeLimit = Int.MaxValue, timeoutSeconds = 0)

  private def typeCounts(out: graft.graph.GraphOutput): DataFrame =
    out.vertices.toSeq.sortBy(_._1).map { case (n, df) =>
      df.agg(count(lit(1)).as("cnt")).withColumn("vtype", lit(n))
    }.reduce(_.unionByName(_)).select("vtype", "cnt").orderBy("vtype")

  val all: Map[String, Q] = Map(

    // §2.10 uncapped 2-hop walk from one nation: every customer, their
    // every order, the sibling nations — no edge budget, no element cap
    "q_traverse_2hop_uncapped" -> { (s, d) =>
      import graft.query._
      import graft.expr.FilterExpr
      val (vs, es) = rawGraph(s, d)
      val reader = new GraphReader(graft.fixtures.TpchGraph.schema, vs(_), es.get(_), uncapped)
      typeCounts(reader.neighbors(NeighborQuery("nation",
        FilterExpr.eq("n_nationkey", 0), hops = 2,
        edgeLimit = Some(Int.MaxValue))))
    },

    // §2.10 uncapped 2-seed 2-hop traverse: per-seed unbounded budgets,
    // merged containers (seed exclusion per walk, cross-seed inclusion)
    "q_traverse_multiseed_uncapped" -> { (s, d) =>
      import graft.query._
      import graft.expr.FilterExpr
      val (vs, es) = rawGraph(s, d)
      val reader = new GraphReader(graft.fixtures.TpchGraph.schema, vs(_), es.get(_), uncapped)
      typeCounts(reader.traverseQuery(TraverseQuery(
        seeds = Seq("nation" -> FilterExpr.eq("n_nationkey", 0),
          "nation" -> FilterExpr.eq("n_nationkey", 1)),
        hops = 2, edgeLimit = Some(Int.MaxValue))))
    },

    // §2.10 uncapped 2-hop OUT from a raw-id customer anchor (the
    // reference direction dialect: directed cross-type edges serve OUT
    // from either side; the anchor never appears in the result)
    "q_neighbor_out_uncapped" -> { (s, d) =>
      import graft.query._
      val (vs, es) = rawGraph(s, d)
      val reader = new GraphReader(graft.fixtures.TpchGraph.schema, vs(_), es.get(_), uncapped)
      typeCounts(reader.neighbors(NeighborQuery.byId("customer", "7",
        hops = 2, direction = Direction.Out, edgeLimit = Some(Int.MaxValue))))
    },

    "q_evolution_cascade" -> { (s, d) =>
      import graft.evolve._
      import graft.evolve.CascadeOp._
      val manifest =
        """schema:
          |    metadata:
          |        name: tpch-evolved
          |    graph:
          |        vertex_config:
          |            vertices:
          |            -   name: customer
          |                properties:
          |                -   c_name
          |                -   c_mktsegment
          |                identity:
          |                -   c_custkey
          |            -   name: orders
          |                properties:
          |                -   o_orderstatus
          |                identity:
          |                -   o_orderkey
          |        edge_config:
          |            edges:
          |            -   source: orders
          |                target: customer
          |                relation: placed_by
          |ingestion_model:
          |    resources:
          |    -   name: customer
          |        pipeline:
          |        -   vertex: customer
          |    -   name: orders
          |        pipeline:
          |        -   vertex: orders
          |        -   vertex: customer
          |            from:
          |                c_custkey: o_custkey
          |            mapped_only: true
          |            lookup_only: true
          |""".stripMargin
      val evolved = ManifestEvolution.evolveManifest(manifest, Seq(
        // property rename: the cascade must extend the customer resource's
        // vertex step with {segment: c_mktsegment} so the raw column still
        // feeds the renamed property
        RenameVertexProperties(Seq("customer" -> Seq("c_mktsegment" -> "segment"))),
        // vertex rename: pipeline vertex/edge steps repoint at `purchase`
        RenameVertices(Seq("orders" -> "purchase"))))
      val parts = evolved.resources.map(r =>
        graft.pipeline.PipelineCompiler.compile(evolved.schema, r, t(s, d)(r.name)))
      val g = parts.reduceLeft(_.unionWith(_))
      Seq(
        g.vertex("customer").agg(count(lit(1)).as("cnt"))
          .withColumn("coll", lit("customer")),
        g.vertex("customer").agg(count(col("segment")).as("cnt"))
          .withColumn("coll", lit("segment_nonnull")),
        g.vertex("purchase").agg(count(lit(1)).as("cnt"))
          .withColumn("coll", lit("purchase")),
        g.edge(graft.model.EdgeKey("purchase", "customer", "placed_by"))
          .agg(count(lit(1)).as("cnt")).withColumn("coll", lit("placed_by"))
      ).reduce(_.unionByName(_)).select("coll", "cnt").orderBy("coll")
    }
  )

  val oracles: Map[String, String] = Map(
    "q_traverse_2hop_uncapped" ->
      """SELECT 'customer' AS vtype, count(*) AS cnt FROM customer WHERE c_nationkey = 0
        |UNION ALL SELECT 'nation', count(*) FROM nation
        |  WHERE n_regionkey = (SELECT n_regionkey FROM nation WHERE n_nationkey = 0)
        |    AND n_nationkey <> 0
        |UNION ALL SELECT 'orders', count(*) FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey = 0)
        |UNION ALL SELECT 'region', 1
        |UNION ALL SELECT 'supplier', count(*) FROM supplier WHERE s_nationkey = 0
        |ORDER BY vtype""".stripMargin,

    "q_traverse_multiseed_uncapped" ->
      """SELECT 'customer' AS vtype, count(*) AS cnt FROM customer
        |  WHERE c_nationkey IN (0, 1)
        |UNION ALL SELECT 'nation', count(*) FROM nation
        |  WHERE n_regionkey IN (SELECT n_regionkey FROM nation WHERE n_nationkey IN (0, 1))
        |    AND n_nationkey NOT IN (0, 1)
        |UNION ALL SELECT 'orders', count(*) FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey IN (0, 1))
        |UNION ALL SELECT 'region', count(DISTINCT n_regionkey) FROM nation
        |  WHERE n_nationkey IN (0, 1)
        |UNION ALL SELECT 'supplier', count(*) FROM supplier
        |  WHERE s_nationkey IN (0, 1)
        |ORDER BY vtype""".stripMargin,

    "q_neighbor_out_uncapped" ->
      """WITH anchor AS (SELECT c_nationkey FROM customer WHERE c_custkey = 7)
        |SELECT 'customer' AS vtype, count(*) AS cnt FROM customer
        |  WHERE c_nationkey = (SELECT c_nationkey FROM anchor) AND c_custkey <> 7
        |UNION ALL SELECT 'nation', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'orders', count(*) FROM orders WHERE o_custkey = 7
        |UNION ALL SELECT 'region', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'supplier', count(*) FROM supplier
        |  WHERE s_nationkey = (SELECT c_nationkey FROM anchor)
        |ORDER BY vtype""".stripMargin,

    "q_evolution_cascade" ->
      """SELECT 'customer' AS coll, count(*) AS cnt FROM customer
        |UNION ALL SELECT 'placed_by', count(DISTINCT o_orderkey) FROM orders
        |UNION ALL SELECT 'purchase', count(*) FROM orders
        |UNION ALL SELECT 'segment_nonnull', count(c_mktsegment) FROM customer
        |ORDER BY coll""".stripMargin
  )
}
