package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 battery additions. */
object GraftQueriesR8 {

  private def t(s: SparkSession, dir: String)(name: String): DataFrame =
    graft.fixtures.TpchGraph.table(s, dir, name)

  type Q = (SparkSession, String) => DataFrame

  val all: Map[String, Q] = Map(
    // §2.10 the reference's direction dialect, battery-pinned: OUT from a
    // raw-id anchor follows a directed CROSS-TYPE edge from EITHER side
    // (customer→nation outbound AND orders→customer served inbound,
    // db/traversal.py:246-265), and the anchor itself is never in the
    // result container. Executed-parity corners live in
    // ReferenceQueryParitySpec; this row keeps the dialect under the
    // DuckDB gate too.
    "q_neighbor_out" -> { (s, d) =>
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

    // schema-context orientation card (reference schema/context/card.py,
    // executed-parity in ReferenceSchemaContextParitySpec): local-signal
    // ranking over the TPC-H schema — pure metadata, so the oracle pins
    // the exact ranked signals as constants
    "q_schema_card" -> { (s, d) =>
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

    // budgeted schema slice + elision report (subschema.py): seeds are
    // never elided, unreachable vs budget reasons, endpoint_elided edges
    "q_subschema_slice" -> { (s, d) =>
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

    // schema-TYPE adjacency (SchemaGraph.schemaNeighbors — "what is
    // adjacent to nation in the SCHEMA", never the instance plane): 2-hop
    // BFS distances over the TPC-H type graph, constants-oracled
    "q_schema_neighbors" -> { (s, d) =>
      import graft.evolve.SchemaContext._
      val g = new SchemaGraph(graft.fixtures.TpchGraph.schema)
      val nb = g.schemaNeighbors("nation", hops = 2)
      import s.implicits._
      nb.distances.toSeq.map { case (n, dist) => (n, dist.toLong) }
        .toDF("vtype", "dist").orderBy("dist", "vtype")
    },

    // bounded simple-path enumeration between two TYPES
    // (SchemaGraph.relationsBetween): how customer connects to region
    "q_relations_between" -> { (s, d) =>
      import graft.evolve.SchemaContext._
      val g = new SchemaGraph(graft.fixtures.TpchGraph.schema)
      val paths = g.relationsBetween("customer", "region", maxLen = 3)
      import s.implicits._
      paths.zipWithIndex.map { case (p, i) =>
        (i.toLong, p.vertices.mkString(">"), p.edges.map(_.relation).mkString(";"))
      }.toDF("path_rank", "vertices", "relations").orderBy("path_rank")
    }
  )

  val oracles: Map[String, String] = Map(
    "q_neighbor_out" ->
      """SELECT 'customer' AS vtype, CAST(0 AS BIGINT) AS cnt
        |UNION ALL SELECT 'nation', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'orders', count(*) FROM orders WHERE o_custkey = 7
        |ORDER BY vtype""".stripMargin,

    "q_schema_card" ->
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
        |ORDER BY rank""".stripMargin,

    "q_subschema_slice" ->
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
        |ORDER BY kind, name""".stripMargin,

    "q_schema_neighbors" ->
      """SELECT vtype, CAST(dist AS BIGINT) AS dist FROM (VALUES
        |  ('nation', 0), ('customer', 1), ('region', 1), ('supplier', 1),
        |  ('orders', 2), ('part', 2)
        |) AS t(vtype, dist) ORDER BY dist, vtype""".stripMargin,

    "q_relations_between" ->
      """SELECT CAST(0 AS BIGINT) AS path_rank,
        |  'customer>nation>region' AS vertices,
        |  'in_nation;in_region' AS relations""".stripMargin
  )
}
