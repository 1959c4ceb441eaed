package graft
package battery

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expr.FilterExpr
import graft.fixtures.TpchGraph
import graft.query._

import BatteryFixtures._

/** Query plane: node, aggregate, neighbor and traverse queries, and the
  * schema-context views over the graph's types.
  */
object QueryPlaneQueries extends Family("query") {

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

  val specs: Seq[QuerySpec] = Seq(

    // §2.10 NodeQuery with caps-clamped default limit
    QuerySpec("q_node_query", { (s, d) =>
      val reader = new GraphReader(TpchGraph.schema, t(s, d), _ => None)
      reader.node(NodeQuery("customer", Some(FilterExpr.eq("c_mktsegment", "BUILDING")),
        Seq("c_custkey", "c_name")))
    },
      """SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey LIMIT 100""".stripMargin),

    // §2.10/§2.7 AggregateQuery COUNT + discriminant
    QuerySpec("q_aggregate_count_by", { (s, d) =>
      val reader = new GraphReader(TpchGraph.schema, t(s, d), _ => None)
      reader.aggregate(AggregateQuery("customer", "COUNT", discriminant = Some("c_nationkey")))
        .orderBy("c_nationkey")
    },
      """SELECT c_nationkey, count(*) AS _value FROM customer GROUP BY 1 ORDER BY 1"""),

    // §2.7 SORTED_UNIQUE aggregation
    QuerySpec("q_agg_sorted_unique", { (s, d) =>
      val reader = new GraphReader(TpchGraph.schema, t(s, d), _ => None)
      reader.aggregate(AggregateQuery("orders", "SORTED_UNIQUE",
        aggregatedField = Some("o_orderpriority")))
        .select(array_join(col("_value"), ",").as("_value"))
    },
      """SELECT array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',')
        |AS _value FROM orders""".stripMargin),

    // §2.7 MIN/MAX/AVERAGE AggregateQuery with filters
    QuerySpec("q_aggregate_minmax", { (s, d) =>
      val reader = new GraphReader(TpchGraph.schema, t(s, d), _ => None)
      def agg(fn: String) = reader.aggregate(AggregateQuery("orders", fn,
        aggregatedField = Some("o_totalprice"),
        filters = Some(FilterExpr.eq("o_orderstatus", "F"))))
        .select(lit(fn).as("agg"), round(col("_value"), 2).as("_value"))
      agg("MIN").unionByName(agg("MAX")).unionByName(agg("AVERAGE")).orderBy("agg")
    },
      """SELECT 'AVERAGE' AS agg, round(avg(o_totalprice), 2) AS _value FROM orders
        |  WHERE o_orderstatus = 'F'
        |UNION ALL SELECT 'MAX', round(max(o_totalprice), 2) FROM orders
        |  WHERE o_orderstatus = 'F'
        |UNION ALL SELECT 'MIN', round(min(o_totalprice), 2) FROM orders
        |  WHERE o_orderstatus = 'F'
        |ORDER BY agg""".stripMargin),

    // §2.10 BFS traversal: 2-hop neighborhood, ANY direction
    QuerySpec("q_traverse_2hop", { (s, d) =>
      val g = ingestCore(s, d)
      // generous wall budget: the 30 s default cap is semantics under test
      // in TimeoutSpec; a loaded bench machine must not flake the battery
      val caps = QueryCaps.Hard.copy(timeoutSeconds = 600)
      val reader = new GraphReader(TpchGraph.schema, g.vertex, k => g.edges.get(k), caps)
      val out = reader.neighbors(NeighborQuery("nation", FilterExpr.eq("n_nationkey", 0), hops = 2))
      out.vertices.toSeq.sortBy(_._1).map { case (n, df) =>
        df.agg(count(lit(1)).as("cnt")).withColumn("vtype", lit(n))
      }.reduce(_.unionByName(_)).select("vtype", "cnt").orderBy("vtype")
    },
      // the anchor (nation 0) is never part of the result container —
      // reference bfs_neighbors semantics, ReferenceQueryParitySpec
      """SELECT 'customer' AS vtype, count(*) AS cnt FROM customer WHERE c_nationkey = 0
        |UNION ALL SELECT 'nation', count(*) FROM nation
        |  WHERE n_regionkey = (SELECT n_regionkey FROM nation WHERE n_nationkey = 0)
        |    AND n_nationkey <> 0
        |UNION ALL SELECT 'orders', count(*) FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey = 0)
        |UNION ALL SELECT 'region', 1
        |UNION ALL SELECT 'supplier', count(*) FROM supplier WHERE s_nationkey = 0
        |ORDER BY vtype""".stripMargin),

    // §2.10 TraverseQuery: multi-seed 1-hop reachability
    QuerySpec("q_traverse_multiseed", { (s, d) =>
      val g = ingestCore(s, d)
      val caps = QueryCaps.Hard.copy(defaultEdgeLimit = Int.MaxValue,
        maxElements = 10000000, timeoutSeconds = 600)
      val reader = new GraphReader(TpchGraph.schema, g.vertex, k => g.edges.get(k), caps)
      val out = reader.traverseQuery(TraverseQuery(
        seeds = Seq("nation" -> FilterExpr.eq("n_nationkey", 0),
          "nation" -> FilterExpr.eq("n_nationkey", 1)),
        hops = 1))
      out.vertices.toSeq.sortBy(_._1).map { case (n, df) =>
        df.agg(count(lit(1)).as("cnt")).withColumn("vtype", lit(n))
      }.reduce(_.unionByName(_)).select("vtype", "cnt").orderBy("vtype")
    },
      // the two seeds don't reach each other in 1 hop, and a walk never
      // contains its own anchor (reference traverse = merged per-seed
      // bfs_neighbors, ReferenceQueryParitySpec) -> nation count is 0
      """SELECT 'customer' AS vtype, count(*) AS cnt FROM customer
        |  WHERE c_nationkey IN (0, 1)
        |UNION ALL SELECT 'nation', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'region', count(DISTINCT n_regionkey) FROM nation
        |  WHERE n_nationkey IN (0, 1)
        |UNION ALL SELECT 'supplier', count(*) FROM supplier
        |  WHERE s_nationkey IN (0, 1)
        |ORDER BY vtype""".stripMargin),

    // extension: SQL surface over the property graph — collections
    // registered as temp views, vertices joined THROUGH an edge view in
    // plain spark.sql (the JDBC/notebook face of the store)
    QuerySpec("q_graph_sql", { (s, d) =>
      val g = ingestCore(s, d)
      g.registerViews("g_")
      s.sql("""SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_customers
        FROM g_customer c
        JOIN g_customer__in_nation__nation e ON e.src_c_custkey = c.c_custkey
        JOIN g_nation n ON n.n_nationkey = e.dst_n_nationkey
        GROUP BY n.n_name ORDER BY n.n_name""")
    },
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // §2.7 AggregateQuery constraint contract (reference models.py:252-283):
    // the valid spec computes against live data; each invalid spec must be
    // rejected by the constraint checks, not silently computed
    QuerySpec("q_agg_constraints", { (s, d) =>
      val reader = new GraphReader(TpchGraph.schema, t(s, d), _ => None)
      def outcome(q: AggregateQuery): String =
        try {
          val v = reader.aggregate(q).collect()(0).get(0)
          s"ok:$v"
        } catch { case _: IllegalArgumentException => "rejected" }
      import s.implicits._
      Seq(
        ("count_total", outcome(AggregateQuery("customer", "COUNT"))),
        ("group_by_non_count", outcome(AggregateQuery("customer", "MAX",
          aggregatedField = Some("c_acctbal"),
          discriminant = Some("c_nationkey")))),
        ("missing_aggregated_field", outcome(AggregateQuery("customer", "MAX"))),
        ("unknown_aggregation", outcome(AggregateQuery("customer", "MEDIAN",
          aggregatedField = Some("c_acctbal")))))
        .toDF("spec", "status").orderBy("spec")
    },
      """SELECT 'count_total' AS spec,
        |  'ok:' || CAST((SELECT count(*) FROM customer) AS VARCHAR) AS status
        |UNION ALL SELECT 'group_by_non_count', 'rejected'
        |UNION ALL SELECT 'missing_aggregated_field', 'rejected'
        |UNION ALL SELECT 'unknown_aggregation', 'rejected'
        |ORDER BY spec""".stripMargin),

    // §2.10 the reference's direction dialect, battery-pinned: OUT from a
    // raw-id anchor follows a directed CROSS-TYPE edge from EITHER side
    // (customer→nation outbound AND orders→customer served inbound,
    // db/traversal.py:246-265), and the anchor itself is never in the
    // result container. Executed-parity corners live in
    // ReferenceQueryParitySpec; this row keeps the dialect under the
    // DuckDB gate too.
    QuerySpec("q_neighbor_out", { (s, d) =>
      import graft.query._
      import graft.model._
      val cust = t(s, d)("customer"); val nat = t(s, d)("nation")
      val ord = t(s, d)("orders")
      val vs = Map("customer" -> cust, "nation" -> nat, "orders" -> ord)
      val es = Map(
        EdgeKey("customer", "nation", "in_nation") -> cust.select(
          col("c_custkey").as("src_c_custkey"),
          col("c_nationkey").as("dst_n_nationkey")),
        EdgeKey("orders", "customer", "placed_by") -> ord.select(
          col("o_orderkey").as("src_o_orderkey"),
          col("o_custkey").as("dst_c_custkey")))
      val reader = new GraphReader(graft.fixtures.TpchGraph.schema,
        n => vs.getOrElse(n, throw new NoSuchElementException(s"no vertex collection: $n")),
        k => es.get(k), QueryCaps.Hard.copy(timeoutSeconds = 600))
      val out = reader.neighbors(
        NeighborQuery.byId("customer", "7", direction = Direction.Out))
      out.vertices.toSeq.sortBy(_._1).map { case (n, df) =>
        df.agg(count(lit(1)).as("cnt")).withColumn("vtype", lit(n))
      }.reduce(_.unionByName(_)).select("vtype", "cnt").orderBy("vtype")
    },
      """SELECT 'customer' AS vtype, CAST(0 AS BIGINT) AS cnt
        |UNION ALL SELECT 'nation', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'orders', count(*) FROM orders WHERE o_custkey = 7
        |ORDER BY vtype""".stripMargin),

    // schema-context orientation card (reference schema/context/card.py,
    // executed-parity in ReferenceSchemaContextParitySpec): local-signal
    // ranking over the TPC-H schema — pure metadata, so the oracle pins
    // the exact ranked signals as constants
    QuerySpec("q_schema_card", { (s, d) =>
      import graft.evolve.SchemaContext._
      val card = buildCard(graft.fixtures.TpchGraph.schema, name = "tpch")
      val rows = card.hubTypes.zipWithIndex.map { case (h, i) =>
        (i.toLong, h.name, h.degree.toLong, h.identityMode,
          h.propertyCount.toLong, f"${h.score}%.6f")
      }
      import s.implicits._
      rows.toDF("rank", "name", "degree", "identity_mode",
        "property_count", "score").orderBy("rank")
    },
      """SELECT CAST(rank AS BIGINT) AS rank, name,
        |  CAST(degree AS BIGINT) AS degree, identity_mode,
        |  CAST(property_count AS BIGINT) AS property_count, score
        |FROM (VALUES
        |  (0, 'customer', 2, 'natural', 5, '0.475412'),
        |  (1, 'nation',   3, 'natural', 3, '0.421241'),
        |  (2, 'orders',   2, 'natural', 6, '0.383333'),
        |  (3, 'part',     2, 'natural', 6, '0.383333'),
        |  (4, 'supplier', 2, 'natural', 4, '0.366042'),
        |  (5, 'event',    1, 'natural', 4, '0.299375'),
        |  (6, 'region',   1, 'natural', 2, '0.273124'),
        |  (7, 'user',     1, 'hash',    2, '0.235624')
        |) AS t(rank, name, degree, identity_mode, property_count, score)
        |ORDER BY rank""".stripMargin),

    // budgeted schema slice + elision report (subschema.py): seeds are
    // never elided, unreachable vs budget reasons, endpoint_elided edges
    QuerySpec("q_subschema_slice", { (s, d) =>
      import graft.evolve.SchemaContext._
      val (sl, rep) = subschema(graft.fixtures.TpchGraph.schema,
        Seq("customer"),
        budget = Budget(maxElements = Some(5), maxTokens = None),
        metadata = Map("name" -> "tpch"))
      val rows =
        sl.vertices.map(v => ("kept_vertex", v.name, "")).sortBy(_._2) ++
        rep.elidedVertices.map(e => ("elided_vertex", e.name, e.reason)) ++
        rep.elidedEdges.map(e => ("elided_edge", e.edgeId.storeName, e.reason))
          .sortBy(_._2) :+
        ("accounting", s"elements=${rep.budget.elementsUsed}",
          rep.budget.exhaustedBy)
      import s.implicits._
      rows.toDF("kind", "name", "reason").orderBy("kind", "name")
    },
      """SELECT * FROM (VALUES
        |  ('accounting', 'elements=5', 'elements'),
        |  ('elided_edge', 'customer__in_nation__nation', 'budget'),
        |  ('elided_edge', 'event__by_user__user', 'endpoint_elided'),
        |  ('elided_edge', 'nation__in_region__region', 'endpoint_elided'),
        |  ('elided_edge', 'orders__contains__part', 'budget'),
        |  ('elided_edge', 'orders__placed_by__customer', 'budget'),
        |  ('elided_edge', 'part__supplied_by__supplier', 'budget'),
        |  ('elided_edge', 'supplier__in_nation__nation', 'budget'),
        |  ('elided_vertex', 'event', 'unreachable'),
        |  ('elided_vertex', 'region', 'budget'),
        |  ('elided_vertex', 'user', 'unreachable'),
        |  ('kept_vertex', 'customer', ''),
        |  ('kept_vertex', 'nation', ''),
        |  ('kept_vertex', 'orders', ''),
        |  ('kept_vertex', 'part', ''),
        |  ('kept_vertex', 'supplier', '')
        |) AS t(kind, name, reason)
        |ORDER BY kind, name""".stripMargin),

    // schema-TYPE adjacency (SchemaGraph.schemaNeighbors — "what is
    // adjacent to nation in the SCHEMA", never the instance plane): 2-hop
    // BFS distances over the TPC-H type graph, constants-oracled
    QuerySpec("q_schema_neighbors", { (s, d) =>
      import graft.evolve.SchemaContext._
      val g = new SchemaGraph(graft.fixtures.TpchGraph.schema)
      val nb = g.schemaNeighbors("nation", hops = 2)
      import s.implicits._
      nb.distances.toSeq.map { case (n, dist) => (n, dist.toLong) }
        .toDF("vtype", "dist").orderBy("dist", "vtype")
    },
      """SELECT vtype, CAST(dist AS BIGINT) AS dist FROM (VALUES
        |  ('nation', 0), ('customer', 1), ('region', 1), ('supplier', 1),
        |  ('orders', 2), ('part', 2)
        |) AS t(vtype, dist) ORDER BY dist, vtype""".stripMargin),

    // bounded simple-path enumeration between two TYPES
    // (SchemaGraph.relationsBetween): how customer connects to region
    QuerySpec("q_relations_between", { (s, d) =>
      import graft.evolve.SchemaContext._
      val g = new SchemaGraph(graft.fixtures.TpchGraph.schema)
      val paths = g.relationsBetween("customer", "region", maxLen = 3)
      import s.implicits._
      paths.zipWithIndex.map { case (p, i) =>
        (i.toLong, p.vertices.mkString(">"), p.edges.map(_.relation).mkString(";"))
      }.toDF("path_rank", "vertices", "relations").orderBy("path_rank")
    },
      """SELECT CAST(0 AS BIGINT) AS path_rank,
        |  'customer>nation>region' AS vertices,
        |  'in_nation;in_region' AS relations""".stripMargin),

    // §2.10 uncapped 2-hop walk from one nation: every customer, their
    // every order, the sibling nations — no edge budget, no element cap
    QuerySpec("q_traverse_2hop_uncapped", { (s, d) =>
      import graft.query._
      import graft.expr.FilterExpr
      val (vs, es) = rawGraph(s, d)
      val reader = new GraphReader(graft.fixtures.TpchGraph.schema, vs(_), es.get(_), uncapped)
      typeCounts(reader.neighbors(NeighborQuery("nation",
        FilterExpr.eq("n_nationkey", 0), hops = 2,
        edgeLimit = Some(Int.MaxValue))))
    },
      """SELECT 'customer' AS vtype, count(*) AS cnt FROM customer WHERE c_nationkey = 0
        |UNION ALL SELECT 'nation', count(*) FROM nation
        |  WHERE n_regionkey = (SELECT n_regionkey FROM nation WHERE n_nationkey = 0)
        |    AND n_nationkey <> 0
        |UNION ALL SELECT 'orders', count(*) FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey = 0)
        |UNION ALL SELECT 'region', 1
        |UNION ALL SELECT 'supplier', count(*) FROM supplier WHERE s_nationkey = 0
        |ORDER BY vtype""".stripMargin),

    // §2.10 uncapped 2-seed 2-hop traverse: per-seed unbounded budgets,
    // merged containers (seed exclusion per walk, cross-seed inclusion)
    QuerySpec("q_traverse_multiseed_uncapped", { (s, d) =>
      import graft.query._
      import graft.expr.FilterExpr
      val (vs, es) = rawGraph(s, d)
      val reader = new GraphReader(graft.fixtures.TpchGraph.schema, vs(_), es.get(_), uncapped)
      typeCounts(reader.traverseQuery(TraverseQuery(
        seeds = Seq("nation" -> FilterExpr.eq("n_nationkey", 0),
          "nation" -> FilterExpr.eq("n_nationkey", 1)),
        hops = 2, edgeLimit = Some(Int.MaxValue))))
    },
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
        |ORDER BY vtype""".stripMargin),

    // §2.10 uncapped 2-hop OUT from a raw-id customer anchor (the
    // reference direction dialect: directed cross-type edges serve OUT
    // from either side; the anchor never appears in the result)
    QuerySpec("q_neighbor_out_uncapped", { (s, d) =>
      import graft.query._
      val (vs, es) = rawGraph(s, d)
      val reader = new GraphReader(graft.fixtures.TpchGraph.schema, vs(_), es.get(_), uncapped)
      typeCounts(reader.neighbors(NeighborQuery.byId("customer", "7",
        hops = 2, direction = Direction.Out, edgeLimit = Some(Int.MaxValue))))
    },
      """WITH anchor AS (SELECT c_nationkey FROM customer WHERE c_custkey = 7)
        |SELECT 'customer' AS vtype, count(*) AS cnt FROM customer
        |  WHERE c_nationkey = (SELECT c_nationkey FROM anchor) AND c_custkey <> 7
        |UNION ALL SELECT 'nation', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'orders', count(*) FROM orders WHERE o_custkey = 7
        |UNION ALL SELECT 'region', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'supplier', count(*) FROM supplier
        |  WHERE s_nationkey = (SELECT c_nationkey FROM anchor)
        |ORDER BY vtype""".stripMargin)
  )
}
