package graft
package battery

import org.apache.spark.sql.functions._
import graft.model._
import graft.expr.{FilterExpr, IdentityDigest}
import graft.functions.TransformLib
import graft.pipeline._
import graft.fixtures.TpchGraph
import graft.store.GraphStore

import BatteryFixtures._

/** Ingest and pipeline: data sources, filters, identities, transforms,
  * descend/routing and edge casting on the manifest → pipeline path.
  */
object IngestQueries extends Family("ingest") {
  import FilterExpr._

  val specs: Seq[QuerySpec] = Seq(

    // §2.5 FilterExpr → Column compiler (leaf ops + AND + IN)
    QuerySpec("q_filter_predicate", { (s, d) =>
      val f = gte("c_acctbal", 5000) && in("c_mktsegment", Seq("BUILDING", "AUTOMOBILE"))
      t(s, d)("customer").where(FilterExpr.compile(f))
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
        |WHERE c_acctbal >= 5000 AND c_mktsegment IN ('BUILDING','AUTOMOBILE')
        |ORDER BY c_custkey""".stripMargin),

    // §2.5 IF_THEN implication
    QuerySpec("q_filter_ifthen", { (s, d) =>
      val f = IfThen(FilterExpr.eq("o_orderstatus", "F"), gt("o_totalprice", 150000))
      t(s, d)("orders").where(FilterExpr.compile(f))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE (NOT (o_orderstatus = 'F')) OR o_totalprice > 150000
        |ORDER BY o_orderkey""".stripMargin),

    // §2.6 edge rendering, PAIR casting (zip at same lineage)
    QuerySpec("q_edge_pair", { (s, d) =>
      val g = PipelineCompiler.compile(TpchGraph.schema, TpchGraph.ordersResource,
        t(s, d)("orders"))
      g.edge(EdgeKey("orders", "customer", "placed_by"))
        .select("src_o_orderkey", "dst_c_custkey").orderBy("src_o_orderkey")
    },
      """SELECT o_orderkey AS src_o_orderkey, o_custkey AS dst_c_custkey FROM orders
        |ORDER BY 1""".stripMargin),

    // §2.6 PRODUCT casting: root-level obs × descend-level obs
    QuerySpec("q_edge_product", { (s, d) =>
      val g = nestedOrders(s, d)
      g.edge(EdgeKey("customer", "part", "bought"))
        .select("src_c_custkey", "dst_p_partkey")
        .orderBy("src_c_custkey", "dst_p_partkey")
    },
      """SELECT DISTINCT o_custkey AS src_c_custkey, l_partkey AS dst_p_partkey
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey ORDER BY 1, 2""".stripMargin),

    // §2.6 same-type same-bucket casting: the reference's anchor split —
    // the document's first item pairs with each other item
    // (edge_render.py:196-207; asserted by ReferenceActorParitySpec)
    QuerySpec("q_edge_combinations", { (s, d) =>
      val g = nestedOrders(s, d)
      g.edge(EdgeKey("part", "part", "co_occurs"))
        .select("src_p_partkey", "dst_p_partkey")
        .orderBy("src_p_partkey", "dst_p_partkey")
    },
      // a.l_partkey <> b.l_partkey: same-identity items at one location
      // FUSE in the reference accumulator (merge_doc_basis per location),
      // so an order holding the same part on two line items is ONE part
      // observation and never self-pairs
      """WITH pos AS (SELECT l_orderkey, l_partkey, row_number() OVER
        |  (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS rn
        |  FROM lineitem)
        |SELECT DISTINCT a.l_partkey AS src_p_partkey, b.l_partkey AS dst_p_partkey
        |FROM pos a JOIN pos b ON a.l_orderkey = b.l_orderkey
        |  AND a.rn = 1 AND b.rn > 1 AND a.l_partkey <> b.l_partkey
        |ORDER BY 1, 2""".stripMargin),

    // §2.6 edge properties: weights carried from the intent's row
    QuerySpec("q_edge_weights", { (s, d) =>
      val g = PipelineCompiler.compile(TpchGraph.schema, TpchGraph.lineitemResource,
        t(s, d)("lineitem"))
      g.edge(EdgeKey("orders", "part", "contains"))
        .select("src_o_orderkey", "dst_p_partkey", "l_quantity", "l_extendedprice",
          "l_discount")
        .orderBy("src_o_orderkey", "dst_p_partkey", "l_quantity", "l_extendedprice",
          "l_discount")
    },
      """SELECT DISTINCT l_orderkey AS src_o_orderkey, l_partkey AS dst_p_partkey,
        |l_quantity, l_extendedprice, l_discount
        |FROM lineitem ORDER BY 1, 2, 3, 4, 5""".stripMargin),

    // §2.7 merge_doc_basis: order-sensitive last-wins merge
    QuerySpec("q_merge_last_wins", { (s, d) =>
      MergeOps.mergeDocBasis(
        t(s, d)("orders").select("o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice"),
        Seq("o_custkey"), "o_orderkey")
        .orderBy("o_custkey")
    },
      """SELECT o_custkey, arg_max(o_orderstatus, o_orderkey) AS o_orderstatus,
        |arg_max(o_totalprice, o_orderkey) AS o_totalprice
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // §2.1 TableConnector / SelectSpec: base + FK joins + WHERE
    QuerySpec("q_select_spec", { (s, d) =>
      import graft.sources._
      SelectSpec(
        base = t(s, d)("lineitem"), baseAlias = "l",
        joins = Seq(
          JoinClause(t(s, d)("orders"), "o", Seq(("l_orderkey", "o_orderkey")), "inner"),
          JoinClause(t(s, d)("customer"), "c", Seq(("o.o_custkey", "c_custkey")), "inner")),
        selectFields = Seq("l.l_orderkey", "l.l_linenumber", "o.o_orderdate",
          "c.c_mktsegment AS segment"),
        where = Some(gt("o_totalprice", 150000))
      ).compile.orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber, o_orderdate, c_mktsegment AS segment
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 150000 ORDER BY 1, 2""".stripMargin),

    // §2.1 ColumnTimeFilter: half-open [after, after+interval)
    QuerySpec("q_time_filter", { (s, d) =>
      import graft.sources.ColumnTimeFilter
      val ctf = ColumnTimeFilter("o_orderdate",
        after = Some(java.sql.Timestamp.from(java.time.Instant.parse("1997-01-01T00:00:00Z"))),
        interval = Some("90D"))
      ctf(t(s, d)("orders")).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt")).orderBy("o_orderstatus")
    },
      """SELECT o_orderstatus, count(*) AS cnt FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' + INTERVAL 90 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // §1.3 hash identity: sha-256 digest via the events→user pipeline
    QuerySpec("q_hash_identity", { (s, d) =>
      val g = PipelineCompiler.compile(TpchGraph.schema, TpchGraph.eventsResource,
        TpchGraph.eventsTable(s, d))
      g.vertex("user").select(col("user_id"), col("_id")).orderBy("user_id")
    },
      // the digest payload is the reference's Python-json canonicalization:
      // json.dumps({"user_id": <int>}, sort_keys=True) — byte-compatible
      """SELECT DISTINCT user_id,
        |sha256('{"user_id": ' || CAST(user_id AS VARCHAR) || '}') AS _id
        |FROM events WHERE user_id IS NOT NULL ORDER BY user_id""".stripMargin),

    // §1.3 identity funnel: ordered fallback branches
    QuerySpec("q_funnel_identity", { (s, d) =>
      val branches = Seq(
        FunnelBranch("by_name", Seq("cname"), Seq("cname")),
        FunnelBranch("by_key", Seq("ckey"), Seq("ckey")))
      t(s, d)("customer")
        .select(when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_name")).as("cname"),
          col("c_custkey").cast("string").as("ckey"))
        .withColumn("_id", IdentityDigest.funnelDigest(branches, markBranch = false))
        .select(col("ckey").cast("long").as("ckey"), col("_id"))
        .orderBy("ckey")
    },
      """SELECT c_custkey AS ckey,
        |CASE WHEN (c_custkey % 7) <> 0
        |     THEN sha256('{"cname": "' || c_name || '"}')
        |     ELSE sha256('{"ckey": "' || CAST(c_custkey AS VARCHAR) || '"}')
        |END AS _id
        |FROM customer ORDER BY ckey""".stripMargin),

    // §2.3 descend any_key over a JSON map + PRODUCT edge join
    QuerySpec("q_descend_json", { (s, d) =>
      val sch = GraphSchema(
        vertices = Seq(
          VertexDef("event", Seq(FieldDef("event_type")), Identity.Natural(Seq("event_id"))),
          VertexDef("propkv", Nil, Identity.Natural(Seq("k", "v")))),
        edges = Seq(EdgeDef("event", "propkv", "has_prop")))
      val res = ResourceDef("r", Seq(
        TransformStep(strategy = "single", input = Seq("props"), output = Seq("props_map"),
          inline = Some(cs => from_json(cs.head,
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType)))),
        VertexStep("event", lookupOnly = true),
        Descend(Some("props_map"), anyKey = true, steps = Seq(
          VertexStep("propkv", from = Map("k" -> "_key", "v" -> "_value"),
            extractionScope = "mapped_only", lookupOnly = true))),
        EdgeStep(source = "event", target = "propkv", relation = "has_prop")
      ), inferEdges = false)
      PipelineCompiler.compile(sch, res, TpchGraph.eventsTable(s, d))
        .edge(EdgeKey("event", "propkv", "has_prop"))
        .select("src_event_id", "dst_k", "dst_v").orderBy("src_event_id")
    },
      """SELECT event_id AS src_event_id, 'k' AS dst_k,
        |regexp_extract(props, '"k": (\d+)', 1) AS dst_v
        |FROM events ORDER BY src_event_id""".stripMargin),

    // §2.3 vertex_router: route rows to types by data value
    QuerySpec("q_router", { (s, d) =>
      val sch = GraphSchema(vertices = Seq(
        VertexDef("click_event", Nil, Identity.Natural(Seq("event_id"))),
        VertexDef("error_event", Nil, Identity.Natural(Seq("event_id")))))
      val res = ResourceDef("r", Seq(
        VertexRouterStep(typeField = "event_type",
          typeMap = Map("click" -> "click_event", "error" -> "error_event"))))
      val g = PipelineCompiler.compile(sch, res, TpchGraph.eventsTable(s, d))
      Seq("click_event", "error_event").map { n =>
        g.vertex(n).agg(count(lit(1)).as("cnt")).withColumn("vtype", lit(n))
      }.reduce(_.unionByName(_)).select("vtype", "cnt").orderBy("vtype")
    },
      """SELECT 'click_event' AS vtype, count(*) AS cnt FROM events WHERE event_type='click'
        |UNION ALL
        |SELECT 'error_event', count(*) FROM events WHERE event_type='error'
        |ORDER BY vtype""".stripMargin),

    // §2.4 dress pivot/melt: wide columns → (key, value) rows
    QuerySpec("q_dress_pivot", { (s, d) =>
      TransformLib.melt(t(s, d)("orders"), Seq("o_orderkey"),
        Seq("o_orderstatus", "o_orderpriority"), "metric", "val")
        .orderBy("o_orderkey", "metric")
    },
      """SELECT o_orderkey, 'o_orderstatus' AS metric, o_orderstatus AS val FROM orders
        |UNION ALL
        |SELECT o_orderkey, 'o_orderpriority', o_orderpriority FROM orders
        |ORDER BY 1, 2""".stripMargin),

    // §2.4 date-parsing transform family
    QuerySpec("q_transform_dates", { (s, d) =>
      val ds = date_format(col("l_shipdate"), "yyyy-MM-dd")
      t(s, d)("lineitem")
        .withColumn("_p", TransformLib.parseDateStandard(ds))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("_p.year").cast("long").as("y"),
          col("_p.month").cast("long").as("m"),
          col("_p.day").cast("long").as("dd"),
          TransformLib.parseDateToEpoch(ds).as("epoch"))
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber,
        |CAST(year(l_shipdate) AS BIGINT) AS y, CAST(month(l_shipdate) AS BIGINT) AS m,
        |CAST(day(l_shipdate) AS BIGINT) AS dd,
        |CAST(epoch(date_trunc('day', l_shipdate)) AS BIGINT) AS epoch
        |FROM lineitem ORDER BY 1, 2""".stripMargin),

    // §2.4 standardize (name canonicalization)
    QuerySpec("q_standardize", { (s, d) =>
      t(s, d)("part")
        .select(col("p_partkey"), TransformLib.standardize(col("p_name")).as("std"))
        .orderBy("p_partkey")
    },
      """WITH raw AS (SELECT p_partkey, replace(p_name, '.', '') AS cleaned
        |  FROM part),
        |t AS (SELECT p_partkey, cleaned,
        |  string_split(cleaned, ', ') AS pc FROM raw)
        |SELECT p_partkey,
        |  CASE WHEN len(pc) < 2
        |    THEN array_to_string(string_split(cleaned, ' '), ',')
        |    ELSE array_to_string(
        |      pc[1:1] || [replace(pc[2], ' ', '')] || pc[3:], ',')
        |  END AS std
        |FROM t ORDER BY p_partkey""".stripMargin),

    // §2.4 camel_to_snake on column values
    QuerySpec("q_camel_to_snake", { (s, d) =>
      t(s, d)("customer")
        .select(col("c_custkey"),
          TransformLib.camelToSnake(concat(lit("myVar"), col("c_mktsegment"))).as("snake"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, lower(regexp_replace(regexp_replace(
        |'myVar' || c_mktsegment, '(.)([A-Z][a-z]+)', '\1_\2', 'g'),
        |'([a-z0-9])([A-Z])', '\1_\2', 'g')) AS snake
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // §2.6 endpoint resolution: secondary identity → primary (policy all)
    QuerySpec("q_endpoint_resolve", { (s, d) =>
      import graft.store.EndpointResolve
      val cust = t(s, d)("customer")
      val edges = t(s, d)("orders")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey").as("src_o_orderkey"), col("c_name").as("dst_c_name"))
      EndpointResolve.resolve(edges, cust, TpchGraph.schema.vertex("customer"),
        "by_name", "dst_", AmbiguityPolicy.All)
        .select("src_o_orderkey", "dst_c_custkey").orderBy("src_o_orderkey")
    },
      """SELECT o_orderkey AS src_o_orderkey, o_custkey AS dst_c_custkey FROM orders
        |ORDER BY 1""".stripMargin),

    // §2.6 ambiguity policy `first`: deterministic candidate pick
    QuerySpec("q_ambiguity_first", { (s, d) =>
      import graft.store.EndpointResolve
      val cust = t(s, d)("customer")
      val edges = cust.select(col("c_mktsegment")).distinct()
        .select(col("c_mktsegment").as("seg"), col("c_mktsegment").as("dst_c_mktsegment"))
      EndpointResolve.resolve(edges, cust, TpchGraph.schema.vertex("customer"),
        "by_segment", "dst_", AmbiguityPolicy.First)
        .select("seg", "dst_c_custkey").orderBy("seg")
    },
      // `first` orders candidates by str(primary) — the reference's
      // _sorted_candidates contract (endpoint_resolve.py), so "10" < "9"
      """SELECT c_mktsegment AS seg,
        |  min_by(c_custkey, CAST(c_custkey AS VARCHAR)) AS dst_c_custkey
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin),

    // §1.3 blank identity: deterministic synthetic ids, one per observation
    QuerySpec("q_blank_identity", { (s, d) =>
      val sch = GraphSchema(Seq(VertexDef("doc", Seq(FieldDef("doc_id")), Identity.Blank)))
      val g = PipelineCompiler.compile(sch,
        ResourceDef("r", Seq(VertexStep("doc"))), t(s, d)("documents"))
      g.vertex("doc").agg(
        count_distinct(col("_id")).as("n_ids"),
        count(lit(1)).as("n_rows"))
    },
      """SELECT count(*) AS n_ids, count(*) AS n_rows FROM documents"""),

    // §2.12 identity inference: per-column uniqueness ratios
    QuerySpec("q_identity_infer", { (s, d) =>
      graft.infer.IdentityInference.uniquenessRatios(t(s, d)("customer"))
        .orderBy("field")
    },
      """SELECT 'c_acctbal' AS field, round(count(DISTINCT c_acctbal)::DOUBLE / count(*), 4) AS ratio FROM customer
        |UNION ALL SELECT 'c_custkey', round(count(DISTINCT c_custkey)::DOUBLE / count(*), 4) FROM customer
        |UNION ALL SELECT 'c_mktsegment', round(count(DISTINCT c_mktsegment)::DOUBLE / count(*), 4) FROM customer
        |UNION ALL SELECT 'c_name', round(count(DISTINCT c_name)::DOUBLE / count(*), 4) FROM customer
        |UNION ALL SELECT 'c_nationkey', round(count(DISTINCT c_nationkey)::DOUBLE / count(*), 4) FROM customer
        |ORDER BY field""".stripMargin),

    // §2.12 cross-resource identity: value-overlap jaccard
    QuerySpec("q_cross_resource_jaccard", { (s, d) =>
      graft.infer.CrossResourceIdentity.valueJaccard(
        t(s, d)("customer"), "c_custkey", t(s, d)("orders"), "o_custkey")
    },
      """WITH va AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS v FROM customer
        |  WHERE c_custkey IS NOT NULL),
        |vb AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS v FROM orders
        |  WHERE o_custkey IS NOT NULL)
        |SELECT 'c_custkey' AS col_a, 'o_custkey' AS col_b,
        |  round((SELECT count(*) FROM va WHERE v IN (SELECT v FROM vb))::DOUBLE /
        |    (SELECT count(*) FROM (SELECT v FROM va UNION SELECT v FROM vb)), 4)
        |  AS jaccard""".stripMargin),

    // §2.4 string transform family: split_keep_part / try_int / remove_prefix
    QuerySpec("q_transform_strings", { (s, d) =>
      t(s, d)("customer").select(col("c_custkey"),
        TransformLib.splitKeepPart(col("c_name"), "#", 0).as("part0"),
        TransformLib.tryInt(TransformLib.splitKeepPart(col("c_name"), "#", 1)).as("num"),
        TransformLib.removePrefix(col("c_name"), "Customer#").as("stripped"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, split_part(c_name, '#', 1) AS part0,
        |TRY_CAST(split_part(c_name, '#', 2) AS BIGINT) AS num,
        |CASE WHEN starts_with(c_name, 'Customer#') THEN substr(c_name, 10)
        |     ELSE c_name END AS stripped
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // §2.3 bare descend: iterate the sole array column (list-root documents)
    QuerySpec("q_descend_bare", { (s, d) =>
      val nested = nestedInput(s, d) // shared persisted fixture input
      val sch = GraphSchema(
        vertices = Seq(
          VertexDef("customer", Nil, Identity.Natural(Seq("c_custkey"))),
          VertexDef("part", Nil, Identity.Natural(Seq("p_partkey")))),
        edges = Nil)
      val res = ResourceDef("r_bare", Seq(
        VertexStep("customer", from = Map("c_custkey" -> "o_custkey"),
          extractionScope = "mapped_only", lookupOnly = true),
        Descend(None, steps = Seq( // items is the frame's only array column
          VertexStep("part", from = Map("p_partkey" -> "l_partkey"),
            extractionScope = "mapped_only", lookupOnly = true))),
        EdgeStep(source = "customer", target = "part", relation = "bought")
      ), inferEdges = false)
      PipelineCompiler.compile(sch, res, nested)
        .edge(EdgeKey("customer", "part", "bought"))
        .select("src_c_custkey", "dst_p_partkey")
        .orderBy("src_c_custkey", "dst_p_partkey")
    },
      """SELECT DISTINCT o_custkey AS src_c_custkey, l_partkey AS dst_p_partkey
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey ORDER BY 1, 2""".stripMargin),

    // §2.6 extra-weight enrichment from STORED vertices (db_writer.py:355-387)
    QuerySpec("q_edge_enrich", { (s, d) =>
      val root = BatteryFixtures.scratch(s, "enrich", d)
      deleteRecursively(new java.io.File(root))
      val sch = GraphSchema(
        vertices = Seq(
          VertexDef("customer", Seq(FieldDef("c_mktsegment")),
            Identity.Natural(Seq("c_custkey"))),
          VertexDef("orders", Nil, Identity.Natural(Seq("o_orderkey")))),
        edges = Seq(EdgeDef("orders", "customer", "placed_by",
          extraWeights = Seq(VertexWeightSpec("customer", Seq("c_mktsegment"))))))
      val store = new GraphStore(root, sch, s)
      val gCust = PipelineCompiler.compile(sch,
        ResourceDef("r_c", Seq(VertexStep("customer"))), t(s, d)("customer"))
      val gOrd = PipelineCompiler.compile(sch,
        ResourceDef("r_o", Seq(
          VertexStep("orders"),
          VertexStep("customer", from = Map("c_custkey" -> "o_custkey"),
            extractionScope = "mapped_only", lookupOnly = true))),
        t(s, d)("orders"))
      store.write(gCust.unionWith(gOrd))
      store.edges(EdgeKey("orders", "customer", "placed_by"))
        .select(col("src_o_orderkey"), col("dst_c_custkey"),
          col("customer@c_mktsegment"))
        .orderBy("src_o_orderkey")
    },
      """SELECT o_orderkey AS src_o_orderkey, o_custkey AS dst_c_custkey,
        |c_mktsegment AS "customer@c_mktsegment"
        |FROM orders JOIN customer ON o_custkey = c_custkey ORDER BY 1""".stripMargin),

    // §2.14/§2.3 manifest plane: YAML manifest → schema + resources →
    // compiled ingest (reference contract/manifest.py:17-90; a user declares
    // the whole pipeline without Scala)
    QuerySpec("q_manifest_ingest", { (s, d) =>
      val m = graft.manifest.ManifestLoader.fromYamlString(
        """schema:
          |    metadata:
          |        name: tpch-mini
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
          |""".stripMargin)
      val parts = m.resources.map(r =>
        PipelineCompiler.compile(m.schema, r, t(s, d)(r.name)))
      val g = parts.reduceLeft(_.unionWith(_))
      Seq(
        g.vertex("customer").agg(count(lit(1)).as("cnt"))
          .withColumn("coll", lit("customer")),
        g.vertex("orders").agg(count(lit(1)).as("cnt"))
          .withColumn("coll", lit("orders")),
        g.edge(EdgeKey("orders", "customer", "placed_by"))
          .agg(count(lit(1)).as("cnt")).withColumn("coll", lit("placed_by"))
      ).reduce(_.unionByName(_)).select("coll", "cnt").orderBy("coll")
    },
      """SELECT 'customer' AS coll, count(*) AS cnt FROM customer
        |UNION ALL SELECT 'orders', count(*) FROM orders
        |UNION ALL SELECT 'placed_by', count(DISTINCT o_orderkey) FROM orders
        |ORDER BY coll""".stripMargin),

    // §2.1 FileDataSource: CSV round-trip (write gzip CSV, read via format
    // dispatch, schema inferred)
    QuerySpec("q_file_csv", { (s, d) =>
      val dir = BatteryFixtures.scratch(s, "file", d)
      deleteRecursively(new java.io.File(s"$dir/nation_csv"))
      t(s, d)("nation").coalesce(1).write.mode("overwrite")
        .option("header", true).option("compression", "gzip").csv(s"$dir/nation_csv")
      graft.sources.FileSource.read(s, s"$dir/nation_csv", format = Some("csv"))
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
        .orderBy("n_nationkey")
    },
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation ORDER BY 1""".stripMargin),

    // §2.1 FileDataSource: JSONL + .gz extension sniffing
    QuerySpec("q_file_jsonl", { (s, d) =>
      val dir = BatteryFixtures.scratch(s, "file", d)
      deleteRecursively(new java.io.File(s"$dir/region_jsonl"))
      t(s, d)("region").coalesce(1).write.mode("overwrite")
        .option("compression", "gzip").json(s"$dir/region_jsonl")
      // rename the part file to exercise .jsonl.gz extension sniffing
      val part = new java.io.File(s"$dir/region_jsonl").listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".gz")).get
      val target = new java.io.File(s"$dir/region.jsonl.gz")
      target.delete()
      java.nio.file.Files.copy(part.toPath, target.toPath)
      graft.sources.FileSource.read(s, target.getPath)
        .select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name"))
        .orderBy("r_regionkey")
    },
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region
        |ORDER BY 1""".stripMargin),

    // §2.1 APIDataSource: offset pagination against an injected fetch that
    // serves supplier rows as JSON pages (the source is driver-paced by
    // contract; records land distributed via spark.read.json)
    QuerySpec("q_api_source", { (s, d) =>
      import graft.sources.{ApiSource, PaginationSpec}
      val rows: Array[String] = t(s, d)("supplier")
        .select(col("s_suppkey").cast("long"), col("s_name"))
        .orderBy("s_suppkey").toJSON.collect()
      val fetch: Map[String, String] => String = { params =>
        val off = params.getOrElse("offset", "0").toInt
        val lim = params.getOrElse("limit", "50").toInt
        rows.slice(off, off + lim).mkString("""{"records":[""", ",", "]}")
      }
      ApiSource.read(s, fetch, PaginationSpec(strategy = "offset", pageSize = 50))
        .select(col("s_suppkey"), col("s_name")).orderBy("s_suppkey")
    },
      """SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name FROM supplier
        |ORDER BY 1""".stripMargin),

    // §2.1 RdfFileDataSource: N-Triples → per-subject documents
    QuerySpec("q_rdf_docs", { (s, d) =>
      import graft.rdf.Rdf
      val lines = t(s, d)("region").select(concat(
        lit("<http://g/region/"), col("r_regionkey"), lit("> "),
        lit("<http://g/p/name> \""), col("r_name"), lit("\" .")).as("value"))
      Rdf.triplesToDocs(Rdf.parseNTriples(lines))
        .select(col("id"), element_at(element_at(col("props"), "name"), 1).as("name"))
        .orderBy("id")
    },
      """SELECT 'http://g/region/' || r_regionkey AS id, r_name AS name
        |FROM region ORDER BY id""".stripMargin),

    // §2.1 RdfFileDataSource: Turtle (@prefix expansion, pnames, `a`) →
    // same docs as the N-Triples path
    QuerySpec("q_rdf_turtle", { (s, d) =>
      import graft.rdf.Rdf
      import s.implicits._
      val header = Seq("@prefix r: <http://g/region/> .",
        "@prefix p: <http://g/p/> .").toDF("value")
      val body = t(s, d)("region").select(concat(
        lit("r:"), col("r_regionkey"),
        lit(" p:name \""), col("r_name"), lit("\" .")).as("value"))
      Rdf.triplesToDocs(Rdf.parseTurtle(header.unionByName(body)))
        .select(col("id"), element_at(element_at(col("props"), "name"), 1).as("name"))
        .orderBy("id")
    },
      """SELECT 'http://g/region/' || r_regionkey AS id, r_name AS name
        |FROM region ORDER BY id""".stripMargin),

    // §2.1 RdfFileDataSource: RDF/XML (.rdf) — whole-file DOM parse per
    // task, same docs as the N-Triples/Turtle paths (rdf.py:42-48 "xml")
    QuerySpec("q_rdf_xml", { (s, d) =>
      import graft.rdf.Rdf
      val dir = new java.io.File(BatteryFixtures.scratch(s, "rdfxml", d))
      deleteRecursively(dir); dir.mkdirs()
      // escape text nodes: a value containing & or < must survive the
      // build→parse round-trip, not crash the parser
      def esc(v: Any): String = v.toString
        .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      val body = t(s, d)("region").select(col("r_regionkey"), col("r_name"))
        .collect().sortBy(_.get(0).toString).map { r =>
          s"""  <rdf:Description rdf:about="http://g/region/${esc(r.get(0))}">
             |    <p:name>${esc(r.get(1))}</p:name>
             |  </rdf:Description>""".stripMargin
        }.mkString("\n")
      val xml =
        s"""<?xml version="1.0"?>
           |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:p="http://g/p/">
           |$body
           |</rdf:RDF>""".stripMargin
      java.nio.file.Files.writeString(dir.toPath.resolve("regions.rdf"), xml)
      Rdf.triplesToDocs(Rdf.read(s, s"$dir/regions.rdf"))
        .select(col("id"), element_at(element_at(col("props"), "name"), 1).as("name"))
        .orderBy("id")
    },
      """SELECT 'http://g/region/' || r_regionkey AS id, r_name AS name
        |FROM region ORDER BY id""".stripMargin),

    // §2.1 SQLDataSource live: embedded-Derby database built from the sf
    // parquet, read back through the partitioned JDBC path (4 range slices
    // on the PK — the reference's keyset pagination, sql.py cursor loop)
    QuerySpec("q_jdbc_source", { (s, d) =>
      val url = derbyDb(s, d)
      graft.sources.JdbcSource.read(s, url,
        "SELECT n_nationkey, n_name, n_regionkey FROM nation",
        partitionColumn = Some("n_nationkey"), numPartitions = 4,
        lowerBound = 0L, upperBound = 32L)
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name").as("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
        .orderBy("n_nationkey")
    },
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin),

    // §2.12 Postgres-3NF inference over a LIVE JDBC catalog: PK/FK facts
    // read via DatabaseMetaData (schema_inference.py:25-400), link table
    // with composite PK over its two FKs becomes an edge
    QuerySpec("q_infer_3nf", { (s, d) =>
      import s.implicits._
      val sch = graft.infer.RelationalInference.fromJdbcMetadata(derbyDb(s, d))
      val vrows = sch.vertices.map(v => ("vertex", v.name, v.idColumns.mkString(",")))
      val erows = sch.edges.map(e => ("edge", s"${e.source}->${e.target}", e.relation))
      (vrows ++ erows).toDF("kind", "name", "detail").orderBy("kind", "name")
    },
      """SELECT * FROM (VALUES
        |  ('edge', 'nation->region', 'adjacency'),
        |  ('vertex', 'nation', 'n_nationkey'),
        |  ('vertex', 'region', 'r_regionkey')) t(kind, name, detail)
        |ORDER BY kind, name""".stripMargin),

    // §2.3 dynamic edges: relation read from a data field with renames and
    // the strict declared-edge gate (undeclared types drop)
    QuerySpec("q_edge_dynamic", { (s, d) =>
      val sch = GraphSchema(
        vertices = Seq(
          VertexDef("event", Nil, Identity.Natural(Seq("event_id"))),
          VertexDef("user", Nil, Identity.Natural(Seq("user_id")))),
        edges = Seq(
          EdgeDef("event", "user", "clicked"),
          EdgeDef("event", "user", "errored")))
      val res = ResourceDef("r", Seq(
        VertexStep("event", lookupOnly = true),
        VertexStep("user", from = Map("user_id" -> "user_id"),
          extractionScope = "mapped_only", lookupOnly = true),
        EdgeStep(source = "event", target = "user",
          relationField = Some("event_type"),
          relationMap = Map("click" -> "clicked", "error" -> "errored"))
      ), inferEdges = false)
      val g = PipelineCompiler.compile(sch, res, TpchGraph.eventsTable(s, d))
      Seq("clicked", "errored").map { rel =>
        g.edge(EdgeKey("event", "user", rel))
          .agg(count(lit(1)).as("cnt")).withColumn("relation", lit(rel))
      }.reduce(_.unionByName(_)).select("relation", "cnt").orderBy("relation")
    },
      """SELECT 'clicked' AS relation, count(*) AS cnt FROM events
        |  WHERE event_type = 'click'
        |UNION ALL SELECT 'errored', count(*) FROM events WHERE event_type = 'error'
        |ORDER BY relation""".stripMargin),

    // §2.3 multi-link edges: several edges from one flat row
    QuerySpec("q_edge_multilink", { (s, d) =>
      val res = ResourceDef("r_li_multi", Seq(
        VertexStep("orders", from = Map("o_orderkey" -> "l_orderkey"),
          lookupOnly = true, extractionScope = "mapped_only"),
        VertexStep("part", from = Map("p_partkey" -> "l_partkey"),
          lookupOnly = true, extractionScope = "mapped_only"),
        VertexStep("supplier", from = Map("s_suppkey" -> "l_suppkey"),
          lookupOnly = true, extractionScope = "mapped_only"),
        MultiEdgeStep(Seq(
          EdgeStep(source = "orders", target = "part", relation = "contains"),
          EdgeStep(source = "part", target = "supplier", relation = "supplied_by")))
      ), inferEdges = false)
      val g = PipelineCompiler.compile(TpchGraph.schema, res, t(s, d)("lineitem"))
      Seq(
        g.edge(EdgeKey("orders", "part", "contains"))
          .select("src_o_orderkey", "dst_p_partkey").distinct()
          .agg(count(lit(1)).as("cnt")).withColumn("relation", lit("contains")),
        g.edge(EdgeKey("part", "supplier", "supplied_by"))
          .select("src_p_partkey", "dst_s_suppkey").distinct()
          .agg(count(lit(1)).as("cnt")).withColumn("relation", lit("supplied_by"))
      ).reduce(_.unionByName(_)).select("relation", "cnt").orderBy("relation")
    },
      """SELECT 'contains' AS relation,
        |  (SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem))
        |  AS cnt
        |UNION ALL SELECT 'supplied_by',
        |  (SELECT count(*) FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem))
        |ORDER BY relation""".stripMargin),

    // §2.3 type casters: strict allowlist with UINT non-negative validation
    QuerySpec("q_cast_uint", { (s, d) =>
      val sch = GraphSchema(Seq(VertexDef("c", Seq(FieldDef("v")),
        Identity.Natural(Seq("c_custkey")))))
      val res = ResourceDef("r", Seq(
        TransformStep(strategy = "single", input = Seq("c_nationkey"),
          output = Seq("v"), inline = Some(cs => cs.head - lit(12))),
        CastStep(Map("v" -> "uint")),
        VertexStep("c", extractionScope = "mapped_only",
          from = Map("c_custkey" -> "c_custkey", "v" -> "v"))))
      PipelineCompiler.compile(sch, res, t(s, d)("customer"))
        .vertex("c").select(col("c_custkey"), col("v")).orderBy("c_custkey")
    },
      """SELECT c_custkey, CASE WHEN c_nationkey - 12 >= 0
        |  THEN CAST(c_nationkey - 12 AS BIGINT) END AS v
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // §2.4 cast_ibes_analyst: "'LAST  F'" → (last_name, first_name)
    QuerySpec("q_cast_ibes", { (s, d) =>
      // exercise BOTH reference branches: even keys get the whitespace
      // form ('NAME   X'), odd keys the slash form ('NAME/X')
      val raw = concat(regexp_replace(col("c_name"), "Customer#", "ANALYST"),
        when(col("c_custkey") % 2 === 0, lit("   ")).otherwise(lit("/")),
        substring(col("c_name"), 10, 1))
      val parsed = TransformLib.castIbesAnalyst(raw)
      t(s, d)("customer").select(col("c_custkey"),
        parsed.getField("last_name").as("last_name"),
        parsed.getField("first_name").as("first_name"))
        .orderBy("c_custkey")
    },
      """WITH raw AS (SELECT c_custkey,
        |  replace(c_name, 'Customer#', 'ANALYST')
        |    || CASE WHEN c_custkey % 2 = 0 THEN '   ' ELSE '/' END
        |    || substring(c_name, 10, 1) AS s
        |  FROM customer),
        |toks AS (SELECT c_custkey,
        |  CASE WHEN regexp_matches(s, '[ \t]')
        |    THEN (list_filter(regexp_split_to_array(s, '[ \t]+'),
        |          x -> length(x) > 0))[1:2]
        |    ELSE CASE WHEN starts_with(s, '/')
        |      THEN string_split(s, '/')[2:3]
        |      ELSE string_split(s, '/')[1:2] END
        |  END AS t FROM raw)
        |SELECT c_custkey, coalesce(t[1], '') AS last_name,
        |  CASE WHEN len(t) >= 2 THEN substring(coalesce(t[2], ''), 1, 1)
        |       ELSE '' END AS first_name
        |FROM toks ORDER BY c_custkey""".stripMargin),

    // §2.4 parse_multi_item: quoted kv-list strings → typed map
    QuerySpec("q_parse_multi", { (s, d) =>
      val raw = concat(lit("{'seg': ['"), col("c_mktsegment"), lit("'], 'k': ['a','b']}"))
      val m = TransformLib.parseMultiItem(raw)
      t(s, d)("customer").select(col("c_custkey"),
        element_at(element_at(m, "seg"), 1).as("seg"),
        size(element_at(m, "k")).cast("long").as("nk"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_mktsegment AS seg, CAST(2 AS BIGINT) AS nk
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // §2.3/§2.4 failure tolerance: failed transforms null outputs and land
    // on the error side-channel with lineage + label
    QuerySpec("q_error_channel", { (s, d) =>
      val input = t(s, d)("customer").select(col("c_custkey"),
        when(col("c_custkey") % 3 === 0, col("c_name"))
          .otherwise(col("c_custkey").cast("string")).as("num_str"))
      val sch = GraphSchema(Seq(VertexDef("c", Seq(FieldDef("num")),
        Identity.Natural(Seq("c_custkey")))))
      val res = ResourceDef("r_tolerant", Seq(
        TransformStep(fn = "try_int", input = Seq("num_str"), output = Seq("num"),
          errorTolerant = true, label = "parse_num"),
        VertexStep("c")))
      val g = PipelineCompiler.compile(sch, res, input)
      g.errors("r_tolerant").groupBy("label")
        .agg(count(lit(1)).as("cnt")).orderBy("label")
    },
      """SELECT 'parse_num' AS label, count(*) AS cnt FROM customer
        |WHERE c_custkey % 3 = 0""".stripMargin),

    // §2.1 InMemoryDataSource: literal rows → DataFrame
    QuerySpec("q_inmemory", { (s, d) =>
      graft.sources.InMemorySource.fromRows(s, Seq("id", "v"),
        Seq(Seq(1, "a"), Seq(2, "b"), Seq(3, "c")))
        .orderBy("id")
    },
      """SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c')) t(id, v) ORDER BY id"""),

    // §2.4 pick_unique_dict: content-hash distinct
    QuerySpec("q_pick_unique", { (s, d) =>
      MergeOps.pickUnique(
        t(s, d)("orders").select("o_orderstatus", "o_orderpriority"))
        .orderBy("o_orderstatus", "o_orderpriority")
    },
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY 1, 2""".stripMargin),

    // §2.3 strip_trivial_top_level_fields: ""→null before extraction
    QuerySpec("q_strip_trivial", { (s, d) =>
      val input = t(s, d)("customer").select(col("c_custkey"),
        when(col("c_custkey") % 5 === 0, lit("")).otherwise(col("c_mktsegment"))
          .as("seg"))
      val sch = GraphSchema(Seq(VertexDef("c", Seq(FieldDef("seg")),
        Identity.Natural(Seq("c_custkey")))))
      val res = ResourceDef("r", Seq(VertexStep("c")), dropTrivialFields = true)
      PipelineCompiler.compile(sch, res, input).vertex("c")
        .agg(sum(when(col("seg").isNull, 1L).otherwise(0L)).as("n_null"),
          sum(when(col("seg").isNotNull, 1L).otherwise(0L)).as("n_set"))
    },
      """SELECT CAST(sum(CASE WHEN c_custkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_null,
        |CAST(sum(CASE WHEN c_custkey % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_set
        |FROM customer""".stripMargin),

    // §2.7 keyless attachment: forward-fill keys onto following keyless rows
    QuerySpec("q_attach_keyless", { (s, d) =>
      val input = t(s, d)("orders").select(col("o_custkey"), col("o_orderkey"),
        when(col("o_orderkey") % 3 === 0, col("o_orderkey")).as("anchor"))
      MergeOps.attachKeyless(input, Seq("anchor"), "o_custkey", "o_orderkey")
        .select("o_custkey", "o_orderkey", "anchor")
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
        |last_value(CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey END IGNORE NULLS)
        |  OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |        ROWS UNBOUNDED PRECEDING) AS anchor
        |FROM orders ORDER BY 1, 2""".stripMargin),

    // §2.4 fuzzy matching: banded Levenshtein pairs (length-bucket equi-join)
    QuerySpec("q_fuzzy_match", { (s, d) =>
      graft.infer.CrossResourceIdentity.fuzzyPairs(
        t(s, d)("nation"), "n_nationkey", "n_name", maxDist = 1)
        .orderBy("id_a", "id_b")
    },
      """SELECT a.n_nationkey AS id_a, b.n_nationkey AS id_b,
        |CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS dist
        |FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
        |WHERE levenshtein(a.n_name, b.n_name) <= 1
        |ORDER BY 1, 2""".stripMargin),

    // §2.6 positional-zip blank-edge fallback (db_writer.py:314-349):
    // parallel per-order part/supplier arrays zip element-by-element, so
    // the rendered edges are exactly the per-lineitem (part, supplier)
    // pairs — which is the oracle
    QuerySpec("q_edge_zip", { (s, d) =>
      // bounded slice: the zip semantics are fully exercised on any order
      // subset, and the fixture build (join + collect_list) stays flat
      // across scale factors
      val o = t(s, d)("orders").where(col("o_orderkey") < 60000)
      val li = t(s, d)("lineitem").where(col("l_orderkey") < 60000)
      // ONE sorted struct array feeds both parallel projections — sorting
      // two arrays independently would misalign on duplicate linenumbers
      val nested = o.join(li, o("o_orderkey") === li("l_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(sort_array(collect_list(struct(
          col("l_linenumber"), col("l_partkey"), col("l_suppkey")))).as("ls"))
        .select(col("o_orderkey"),
          org.apache.spark.sql.functions.transform(col("ls"),
            x => x.getField("l_partkey")).as("part_ids"),
          org.apache.spark.sql.functions.transform(col("ls"),
            x => x.getField("l_suppkey")).as("supp_ids"))
      val sch = GraphSchema(
        vertices = Seq(
          VertexDef("part", Nil, Identity.Natural(Seq("p_partkey"))),
          VertexDef("supplier", Nil, Identity.Natural(Seq("s_suppkey")))),
        edges = Seq(EdgeDef("part", "supplier", "zip_supplied")))
      val res = ResourceDef("r_zip", Seq(
        Descend(Some("part_ids"), steps = Seq(
          VertexStep("part", from = Map("p_partkey" -> "_value"),
            lookupOnly = true, extractionScope = "mapped_only"))),
        Descend(Some("supp_ids"), steps = Seq(
          VertexStep("supplier", from = Map("s_suppkey" -> "_value"),
            lookupOnly = true, extractionScope = "mapped_only"))),
        EdgeStep(source = "part", target = "supplier", relation = "zip_supplied",
          casting = "zip")
      ), inferEdges = false)
      val g = PipelineCompiler.compile(sch, res, nested)
      g.edge(EdgeKey("part", "supplier", "zip_supplied"))
        .select(col("src_p_partkey"), col("dst_s_suppkey"))
        .orderBy("src_p_partkey", "dst_s_suppkey")
    },
      // zip of per-order parallel arrays == the per-lineitem pairs
      """SELECT DISTINCT l_partkey AS src_p_partkey, l_suppkey AS dst_s_suppkey
        |FROM lineitem WHERE l_orderkey < 60000 ORDER BY 1, 2""".stripMargin),

    // §2.1 FileDataSource breadth: ORC round-trip through the same format
    // dispatch as csv/jsonl/parquet (columnar interchange beyond the
    // reference's chunker formats)
    QuerySpec("q_file_orc", { (s, d) =>
      val dir = BatteryFixtures.scratch(s, "file", d)
      deleteRecursively(new java.io.File(s"$dir/supplier_orc"))
      t(s, d)("supplier").write.mode("overwrite").orc(s"$dir/supplier_orc")
      graft.sources.FileSource.read(s, s"$dir/supplier_orc", format = Some("orc"))
        .select(col("s_suppkey"), col("s_name"),
          col("s_nationkey").cast("long").as("s_nationkey"))
        .orderBy("s_suppkey")
    },
      """SELECT s_suppkey, s_name, CAST(s_nationkey AS BIGINT) AS s_nationkey
        |FROM supplier ORDER BY 1""".stripMargin),

    // §2.1 SPARQL endpoint paging (graflo/data_source/rdf.py:224-424): the
    // injected fetch serves SPARQL 1.1 JSON pages of the nation table; page
    // size 7 over 25 rows exercises three full pages + the short-page stop
    QuerySpec("q_sparql_page", { (s, d) =>
      import graft.rdf.SparqlSource
      val rows = t(s, d)("nation")
        .select(col("n_nationkey").cast("long"), col("n_name"))
        .orderBy("n_nationkey").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val limRe = "LIMIT (\\d+) OFFSET (\\d+)".r
      val fetch: String => String = { q =>
        val m = limRe.findFirstMatchIn(q).get
        val (lim, off) = (m.group(1).toInt, m.group(2).toInt)
        val bindings = rows.slice(off, off + lim).map { case (k, n) =>
          s"""{"key":{"type":"literal","value":"$k"},"name":{"type":"literal","value":"$n"}}"""
        }.mkString(",")
        s"""{"head":{"vars":["key","name"]},"results":{"bindings":[$bindings]}}"""
      }
      SparqlSource.read(s, fetch,
        "SELECT ?key ?name WHERE { ?x <http://g/p/key> ?key ; <http://g/p/name> ?name }",
        pageSize = 7)
        .select(col("key").cast("long").as("n_nationkey"), col("name").as("n_name"))
        .orderBy("n_nationkey")
    },
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
        |FROM nation ORDER BY 1""".stripMargin),

    // §2.12 OWL/RDFS TBox inference (graflo/hq/rdf_inferencer.py:98-260):
    // a TBox generated FROM the region/nation tables (classes = regions,
    // datatype properties = nations under their region, object properties =
    // key-adjacent region links) so the triple→schema mapping replays in SQL
    QuerySpec("q_owl_infer", { (s, d) =>
      import graft.rdf.Rdf
      val reg = t(s, d)("region").select(
        regexp_replace(col("r_name"), " ", "_").as("rn"), col("r_regionkey"))
      val nat = t(s, d)("nation")
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .select(regexp_replace(col("n_name"), " ", "_").as("nn"), col("rn"))
      val classT = reg.select(concat(lit("http://g/c/"), col("rn")).as("s"),
        lit(Rdf.RdfType).as("p"), lit(Rdf.OwlClass).as("o"))
      val dpT = nat.select(concat(lit("http://g/p/"), col("nn")).as("s"),
          lit(Rdf.RdfType).as("p"), lit(Rdf.OwlDatatypeProperty).as("o"))
        .unionByName(nat.select(concat(lit("http://g/p/"), col("nn")).as("s"),
          lit(Rdf.RdfsDomain).as("p"), concat(lit("http://g/c/"), col("rn")).as("o")))
      val pairs = reg.as("a").join(reg.as("b"),
          col("a.r_regionkey") + 1 === col("b.r_regionkey"))
        .select(col("a.rn").as("rn1"), col("b.rn").as("rn2"))
      val opT = pairs.select(concat(lit("http://g/r/to_"), col("rn1")).as("s"),
          lit(Rdf.RdfType).as("p"), lit(Rdf.OwlObjectProperty).as("o"))
        .unionByName(pairs.select(concat(lit("http://g/r/to_"), col("rn1")).as("s"),
          lit(Rdf.RdfsDomain).as("p"), concat(lit("http://g/c/"), col("rn1")).as("o")))
        .unionByName(pairs.select(concat(lit("http://g/r/to_"), col("rn1")).as("s"),
          lit(Rdf.RdfsRange).as("p"), concat(lit("http://g/c/"), col("rn2")).as("o")))
      val sch = Rdf.inferSchema(classT.unionByName(dpT).unionByName(opT))
      import s.implicits._
      val out =
        sch.vertices.map(v => ("vertex", v.name,
          v.properties.map(_.name).sorted.mkString(","))) ++
        sch.edges.map(e => ("edge", e.relation, s"${e.source}->${e.target}"))
      out.toDF("kind", "name", "detail").orderBy("kind", "name")
    },
      """WITH r AS (SELECT replace(r_name, ' ', '_') AS rn, r_regionkey FROM region),
        |n AS (SELECT replace(n_name, ' ', '_') AS nn, r.rn
        |      FROM nation JOIN r ON n_regionkey = r.r_regionkey)
        |SELECT 'vertex' AS kind, r.rn AS name,
        |  (SELECT string_agg(nn, ',' ORDER BY nn) FROM n WHERE n.rn = r.rn) AS detail
        |FROM r
        |UNION ALL
        |SELECT 'edge', 'to_' || a.rn, a.rn || '->' || b.rn
        |FROM r a JOIN r b ON a.r_regionkey + 1 = b.r_regionkey
        |ORDER BY kind, name""".stripMargin),

    // §2.4 `target: keys` through the manifest dialect
    // (contract/ingestion/transform.py:217-232): camel_to_snake over an
    // include selection; the un-selected column keeps its camelCase name
    QuerySpec("q_target_keys", { (s, d) =>
      val input = t(s, d)("customer").select(
        col("c_custkey").as("custKey"),
        col("c_name").as("custName"),
        col("c_mktsegment").as("mktSegment"))
      val m = graft.manifest.ManifestLoader.fromYamlString(
        """schema:
          |    metadata:
          |        name: keys-demo
          |    graph:
          |        vertex_config:
          |            vertices:
          |            -   name: cust
          |                properties:
          |                -   cust_name
          |                -   mktSegment
          |                identity:
          |                -   cust_key
          |ingestion_model:
          |    resources:
          |    -   name: customer
          |        pipeline:
          |        -   transform:
          |                target: keys
          |                keys:
          |                -   custKey
          |                -   custName
          |                call:
          |                    foo: camel_to_snake
          |        -   vertex: cust
          |""".stripMargin)
      PipelineCompiler.compile(m.schema, m.resources.head, input)
        .vertex("cust")
        .select(col("cust_key"), col("cust_name"), col("mktSegment"))
        .orderBy("cust_key")
    },
      """SELECT c_custkey AS cust_key, c_name AS cust_name,
        |  c_mktsegment AS "mktSegment"
        |FROM customer ORDER BY 1""".stripMargin),

    // §2.4 input_groups/output_groups through the manifest dialect
    // (transform.py:663-678): one n-ary fn tuple-called over two field
    // groups, collision-checked outputs
    QuerySpec("q_input_groups", { (s, d) =>
      val m = graft.manifest.ManifestLoader.fromYamlString(
        """schema:
          |    metadata:
          |        name: groups-demo
          |    graph:
          |        vertex_config:
          |            vertices:
          |            -   name: li
          |                properties: []
          |                identity:
          |                -   flag_status
          |                -   status_flag
          |ingestion_model:
          |    resources:
          |    -   name: lineitem
          |        pipeline:
          |        -   transform:
          |                call:
          |                    foo: concat_ws_pipe
          |                    input_groups:
          |                    -   [l_returnflag, l_linestatus]
          |                    -   [l_linestatus, l_returnflag]
          |                    output_groups:
          |                    -   [flag_status]
          |                    -   [status_flag]
          |        -   vertex: li
          |""".stripMargin)
      PipelineCompiler.compile(m.schema, m.resources.head, t(s, d)("lineitem"))
        .vertex("li")
        .select(col("flag_status"), col("status_flag"))
        .orderBy("flag_status")
    },
      """SELECT DISTINCT l_returnflag || '|' || l_linestatus AS flag_status,
        |  l_linestatus || '|' || l_returnflag AS status_flag
        |FROM lineitem ORDER BY 1""".stripMargin),

    // §2.12 bounded sampler (graflo/hq/sampler.py:48-407): first-N rows of a
    // deterministic order with long cells truncated to maxCellChars + '…'
    QuerySpec("q_sample", { (s, d) =>
      import s.implicits._
      val rows = graft.infer.Sampler.sample(
        t(s, d)("documents").select("doc_id", "lang", "text").orderBy("doc_id"),
        n = 25, maxCellChars = 40)
      rows.map(m => (m("doc_id").toLong, m("lang"), m("text")))
        .toDF("doc_id", "lang", "text").orderBy("doc_id")
    },
      """SELECT doc_id, lang,
        |  CASE WHEN length(text) > 40 THEN substring(text, 1, 40) || '…'
        |       ELSE text END AS text
        |FROM documents ORDER BY doc_id LIMIT 25""".stripMargin),

    // §2.6 relation_from_key: per-order docs with a struct of keyed part
    // lists; the edge relation is the any_key map entry each target part
    // was descended under
    QuerySpec("q_relation_from_key", { (s, d) =>
      val li = t(s, d)("lineitem").where(col("l_orderkey") % 50 === 0)
      val docs = li.groupBy(col("l_orderkey").as("okey")).agg(
        struct(
          array_sort(collect_list(when(col("l_quantity") <= 10,
            struct(concat(lit("p"), col("l_partkey")).as("pid"))))).as("light"),
          array_sort(collect_list(when(col("l_quantity") >= 40,
            struct(concat(lit("p"), col("l_partkey")).as("pid"))))).as("heavy"))
          .as("deps"))
      val m = graft.manifest.ManifestLoader.fromYamlString(
        """schema:
          |    metadata:
          |        name: rfk
          |    graph:
          |        vertex_config:
          |            vertices:
          |            -   name: order
          |                properties: [okey]
          |                identity: [okey]
          |            -   name: part
          |                properties: [pid]
          |                identity: [pid]
          |        edge_config:
          |            edges:
          |            -   source: order
          |                target: part
          |ingestion_model:
          |    resources:
          |    -   name: orders
          |        pipeline:
          |        -   vertex: order
          |        -   key: deps
          |            pipeline:
          |            -   any_key: true
          |                pipeline:
          |                -   vertex: part
          |        -   source: order
          |            target: part
          |            relation_from_key: true
          |bindings: {}
          |""".stripMargin)
      val g = PipelineCompiler.compile(m.schema, m.resource("orders"), docs)
      g.edges.collect {
        case (k, e) if k.source == "order" && k.target == "part" => e
      }.map(_.select(col("src_okey").as("okey"), col("dst_pid").as("pid"),
          col("relation")))
        .reduceLeft(_.unionByName(_))
        .distinct().orderBy("okey", "pid", "relation")
    },
      """WITH li AS (SELECT * FROM lineitem WHERE l_orderkey % 50 = 0)
        |SELECT okey, pid, relation FROM (
        |  SELECT CAST(l_orderkey AS BIGINT) AS okey,
        |    'p' || CAST(l_partkey AS VARCHAR) AS pid, 'light' AS relation
        |  FROM li WHERE l_quantity <= 10
        |  UNION
        |  SELECT CAST(l_orderkey AS BIGINT),
        |    'p' || CAST(l_partkey AS VARCHAR), 'heavy'
        |  FROM li WHERE l_quantity >= 40)
        |ORDER BY okey, pid, relation""".stripMargin),

    // §2.3 fully dynamic edge slots: both endpoints routed by type fields,
    // the relation by a mapped relation field (objects-relations dialect)
    QuerySpec("q_edge_typed_slots", { (s, d) =>
      val rows = t(s, d)("customer").where(col("c_custkey") % 20 === 0)
        .select(concat(lit("c"), col("c_custkey")).as("source_id"),
          lit("Cust").as("source_type"),
          concat(lit("n"), col("c_nationkey")).as("target_id"),
          lit("Nat").as("target_type"),
          when(col("c_acctbal") < 0, lit("OWES")).otherwise(lit("HOLDS"))
            .as("relation_type"))
        .unionAll(t(s, d)("supplier").where(col("s_suppkey") % 5 === 0)
          .select(concat(lit("s"), col("s_suppkey")).as("source_id"),
            lit("Supp").as("source_type"),
            concat(lit("n"), col("s_nationkey")).as("target_id"),
            lit("Nat").as("target_type"),
            lit("SUPPLIES").as("relation_type")))
      val m = graft.manifest.ManifestLoader.fromYamlString(
        """schema:
          |    metadata:
          |        name: typed-slots
          |    graph:
          |        vertex_config:
          |            vertices:
          |            -   name: customer
          |                properties: [id]
          |                identity: [id]
          |            -   name: supplier
          |                properties: [id]
          |                identity: [id]
          |            -   name: nation
          |                properties: [id]
          |                identity: [id]
          |        edge_config:
          |            edges: []
          |ingestion_model:
          |    resources:
          |    -   name: relations
          |        pipeline:
          |        -   vertex_router:
          |                type_field: source_type
          |                from:
          |                    id: source_id
          |                type_map:
          |                    Cust: customer
          |                    Supp: supplier
          |        -   vertex_router:
          |                type_field: target_type
          |                from:
          |                    id: target_id
          |                type_map:
          |                    Nat: nation
          |        -   edge:
          |                source_type_field: source_type
          |                target_type_field: target_type
          |                relation_field: relation_type
          |                relation_map:
          |                    OWES: owes
          |                    HOLDS: holds
          |                    SUPPLIES: supplies
          |bindings: {}
          |""".stripMargin)
      val g = PipelineCompiler.compile(m.schema, m.resource("relations"), rows)
      g.edges.values
        .map(_.select(col("src_id"), col("dst_id"), col("relation")))
        .reduceLeft(_.unionByName(_))
        .distinct().orderBy("src_id", "dst_id", "relation")
    },
      """SELECT src_id, dst_id, relation FROM (
        |  SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS src_id,
        |    'n' || CAST(c_nationkey AS VARCHAR) AS dst_id,
        |    CASE WHEN c_acctbal < 0 THEN 'owes' ELSE 'holds' END AS relation
        |  FROM customer WHERE c_custkey % 20 = 0
        |  UNION
        |  SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR),
        |    'n' || CAST(s_nationkey AS VARCHAR), 'supplies'
        |  FROM supplier WHERE s_suppkey % 5 = 0)
        |ORDER BY src_id, dst_id, relation""".stripMargin),

    // §2.6 direct edge weights + same-type emission-ordered pairing: two
    // same-type vertex extractions pair once per row (never mirrored), and
    // the schema-declared edge property rides the edge off its own row
    QuerySpec("q_edge_direct_weights", { (s, d) =>
      val rows = t(s, d)("orders").where(col("o_orderkey") % 100 === 0)
        .select(concat(lit("c"), col("o_custkey")).as("a"),
          concat(lit("m"), pmod(col("o_orderkey"), lit(7))).as("b"),
          col("o_orderpriority").as("rel"),
          col("o_orderdate").cast("string").as("odate"))
      val m = graft.manifest.ManifestLoader.fromYamlString(
        """schema:
          |    metadata:
          |        name: direct-weights
          |    graph:
          |        vertex_config:
          |            vertices:
          |            -   name: party
          |                properties: [name]
          |                identity: [name]
          |        edge_config:
          |            edges:
          |            -   source: party
          |                target: party
          |                properties: [odate]
          |ingestion_model:
          |    resources:
          |    -   name: relations
          |        pipeline:
          |        -   vertex: party
          |            from:
          |                name: a
          |        -   vertex: party
          |            from:
          |                name: b
          |        -   source: party
          |            target: party
          |            relation_field: rel
          |bindings: {}
          |""".stripMargin)
      val g = PipelineCompiler.compile(m.schema, m.resource("relations"), rows)
      g.edges.collect {
        case (k, e) if k.source == "party" && k.target == "party" => e
      }.map(_.select(col("src_name"), col("dst_name"), col("relation"),
          col("odate")))
        .reduceLeft(_.unionByName(_))
        .distinct().orderBy("src_name", "dst_name", "relation", "odate")
    },
      """SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src_name,
        |  'm' || CAST(o_orderkey % 7 AS VARCHAR) AS dst_name,
        |  o_orderpriority AS relation,
        |  CAST(o_orderdate AS VARCHAR) AS odate
        |FROM orders WHERE o_orderkey % 100 = 0
        |ORDER BY src_name, dst_name, relation, odate""".stripMargin),

    // §2.12 schema-inference fuzzy name matcher (util/fuzzy_matcher.py,
    // reference-exact port incl. difflib SequenceMatcher.ratio): fragments
    // derived from the testdata table vocabulary match vertex names; the
    // oracle is the REFERENCE'S OWN executed output for the same grid
    // (literal rows — the same golden discipline as the manifest goldens)
    QuerySpec("q_fuzzy_fragment", { (s, d) =>
      import s.implicits._
      val names = Seq("customer", "supplier", "nation", "region", "part",
        "orders", "lineitem")
      val frags = Seq("c_custkey", "customer_id", "supplier_fk", "nationkey",
        "region", "part_key", "order", "lineitems", "l_orderkey", "custome",
        "suplier", "regio", "fk_nation", "reference_part", "partsupp",
        "o_orderdate", "lineitem_ref", "natio")
      val m = new graft.infer.FuzzyMatcher(names, threshold = 0.8)
      frags.map { f =>
        val (mm, score) = m.matchFragment(f)
        (f, mm.orNull, BigDecimal(score).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toDF("fragment", "matched", "score").orderBy("fragment")
    },
      // literal rows = the reference FuzzyMatcher's own executed output for
      // this grid (tools/gen_fuzzy_fixture.py provenance)
      """SELECT fragment, matched, score FROM (VALUES
        |    ('c_custkey', NULL, 0.0),
        |    ('customer_id', 'customer', 0.9),
        |    ('supplier_fk', 'supplier', 0.9),
        |    ('nationkey', 'nation', 0.8),
        |    ('region', 'region', 1.0),
        |    ('part_key', 'part', 0.9),
        |    ('order', 'orders', 0.95),
        |    ('lineitems', 'lineitem', 0.95),
        |    ('l_orderkey', NULL, 0.0),
        |    ('custome', 'customer', 0.95),
        |    ('suplier', 'supplier', 0.933333),
        |    ('regio', 'region', 0.95),
        |    ('fk_nation', 'nation', 0.9),
        |    ('reference_part', 'part', 0.9),
        |    ('partsupp', NULL, 0.0),
        |    ('o_orderdate', NULL, 0.0),
        |    ('lineitem_ref', 'lineitem', 0.9),
        |    ('natio', 'nation', 0.95)
        |) t(fragment, matched, score)
        |ORDER BY fragment""".stripMargin),

    // §2.5 the reference's strict PYTHON filter flavor (dunder-direct, no
    // coercion — onto.py:499-523), compiled statically against the frame
    // schema: the cross-type `== "25"` leaf is constant-false (so its NOT
    // passes every row), and IN coerces numeric kinds like real Python `in`
    QuerySpec("q_filter_python_flavor", { (s, d) =>
      import graft.expr.FilterExpr
      val filt = FilterExpr.parse(Map("AND" -> Seq(
        Seq(">", 20L, "p_size"),
        Map("NOT" -> Seq(Seq("==", "25", "p_size"))), // str vs int col → False → NOT → True
        Map("field" -> "p_size", "cmp_operator" -> "IN",
          "value" -> Seq(30.0, 35L, true))))) // 30.0 and true coerce; "1" would not
      val df = t(s, d)("part")
      df.where(FilterExpr.compilePython(filt, df.schema))
        .select(col("p_partkey"), col("p_size"))
        .orderBy("p_partkey")
    },
      // the strict-flavor tree reduces to: p_size > 20 AND p_size IN (30, 35, 1)
      // (the cross-type NOT leaf is always true; 30.0/true coerce under IN)
      """SELECT p_partkey, p_size FROM part
        |WHERE p_size > 20 AND p_size IN (30, 35, 1)
        |ORDER BY p_partkey""".stripMargin),

    // §2.12 full identity inference (identity_inference.py): eligible
    // columns by type cost, parsimony + semantic ranking, unary winner
    // with bootstrap stability — c_custkey (unique, int, *key suffix)
    // beats the equally-unique c_name string
    QuerySpec("q_identity_full", { (s, d) =>
      import s.implicits._
      val r = graft.infer.IdentityInferencer.infer(
        t(s, d)("customer").select("c_custkey", "c_name", "c_nationkey",
          "c_mktsegment"),
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"),
        maxSampleSize = 2000)
      r.identity.zipWithIndex
        .map { case (f, i) => (r.strategy, i.toLong, f) }
        .toDF("strategy", "pos", "field").orderBy("pos")
    },
      // the unary winner is fully determined by the data contract (unique
      // integer key column with the semantic suffix)
      """SELECT 'unary' AS strategy, CAST(0 AS BIGINT) AS pos,
        |  'c_custkey' AS field""".stripMargin),

    // §2.3 assigned identity mode (identity_uuid.py keep-present /
    // mint-when-empty): even custkeys arrive with a closed-form UUID that
    // must survive untouched; odd custkeys arrive empty and mint — minted
    // values are engine-deterministic but not SQL-replicable, so the
    // oracle checks the KEPT flag and UUID validity per row
    QuerySpec("q_assigned_identity", { (s, d) =>
      val m = graft.manifest.ManifestLoader.fromYamlString(
        """schema:
          |    metadata:
          |        name: t
          |    graph:
          |        vertex_config:
          |            vertices:
          |            -   name: session
          |                properties: [sid, user]
          |                identity: [sid]
          |                assigned: true
          |        edge_config:
          |            edges: []
          |ingestion_model:
          |    resources:
          |    -   name: r
          |        pipeline:
          |        -   vertex: session
          |""".stripMargin)
      val mhex = md5(col("c_custkey").cast("string"))
      val presentUuid = concat_ws("-",
        substring(mhex, 1, 8), substring(mhex, 9, 4), substring(mhex, 13, 4),
        substring(mhex, 17, 4), substring(mhex, 21, 12))
      val base = t(s, d)("customer").where(col("c_custkey") <= 1000)
      val rows = base.select(
        when(col("c_custkey") % 2 === 0, presentUuid).otherwise(lit(null))
          .as("sid"),
        col("c_name").as("user"))
      val g = graft.pipeline.PipelineCompiler.compile(m.schema,
        m.resource("r"), rows)
      // the vertex frame carries only declared properties — join the
      // expected closed-form UUID back by the unique user name
      val expect = base.select(col("c_name").as("user"),
        presentUuid.as("_expect"))
      g.vertex("session").join(broadcast(expect), Seq("user"))
        .select(col("user"),
          (col("sid") === col("_expect")).as("kept"),
          col("sid").rlike(
            "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$")
            .as("valid"))
        .orderBy("user")
    },
      // kept = the present (even-key) closed-form UUID survived untouched;
      // odd keys minted an engine-deterministic UUID the oracle checks only
      // for validity
      """SELECT c_name AS user, (c_custkey % 2 = 0) AS kept, true AS valid
        |FROM customer WHERE c_custkey <= 1000
        |ORDER BY user""".stripMargin)
  )
}
