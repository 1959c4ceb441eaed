package graft
package battery

import org.apache.spark.sql.functions._
import graft.model._
import graft.pipeline._
import graft.fixtures.TpchGraph
import graft.store.GraphStore
import graft.ext.Corpus

import BatteryFixtures._

/** Store and evolution: store writes and layouts, change capture, and
  * manifest/schema evolution replayed against a live store.
  */
object StoreQueries extends Family("store") {

  val specs: Seq[QuerySpec] = Seq(

    // §2.2 native store round-trip with idempotent upsert (written twice)
    QuerySpec("q_store_roundtrip", { (s, d) =>
      val root = BatteryFixtures.scratch(s, "store", d)
      deleteRecursively(new java.io.File(root))
      val store = new GraphStore(root, TpchGraph.schema, s)
      val g = PipelineCompiler.compile(TpchGraph.schema, TpchGraph.customerResource,
        t(s, d)("customer"))
      val cust = g.vertex("customer")
      store.upsertVertices("customer", cust)
      store.upsertVertices("customer", cust) // idempotency: second write merges
      store.vertices("customer").groupBy("c_nationkey")
        .agg(count(lit(1)).as("cnt")).orderBy("c_nationkey")
    },
      """SELECT c_nationkey, count(*) AS cnt FROM customer GROUP BY 1 ORDER BY 1"""),

    // §2.1/§2.2 graflo file backend: the engine WRITES the reference's
    // chunked gzip-JSONL layout (+ INDEX.json) and reads it back
    QuerySpec("q_graflo_backend", { (s, d) =>
      val root = BatteryFixtures.scratch(s, "backend", d)
      deleteRecursively(new java.io.File(root))
      graft.store.GrafloBackendWriter.writeAll(
        graft.graph.GraphOutput(Map("nation" -> t(s, d)("nation")), Map.empty), root)
      graft.store.GrafloBackendReader.readAll(s, root)
        .vertex("nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
        .orderBy("n_nationkey")
    },
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name FROM nation
        |ORDER BY 1""".stripMargin),

    // §2.13 evolution: rename-property round-trip through a live store
    QuerySpec("q_evolution_rename", { (s, d) =>
      import graft.evolve._
      val root = BatteryFixtures.scratch(s, "evolve", d)
      deleteRecursively(new java.io.File(root))
      val sch = GraphSchema(Seq(VertexDef("customer", Seq(FieldDef("c_name")),
        Identity.Natural(Seq("c_custkey")))))
      val store = new GraphStore(root, sch, s)
      store.upsertVertices("customer",
        t(s, d)("customer").select("c_custkey", "c_name"))
      Evolution.migrateStore(store,
        Seq(EvolutionOp.RenameProperty("customer", "c_name", "customer_name")))
      store.vertices("customer").select("c_custkey", "customer_name")
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name AS customer_name FROM customer
        |ORDER BY c_custkey""".stripMargin),

    // §2.13 evolution: merge-vertices rewrite on a live store (two split
    // collections of one logical entity fold into one, re-merged on identity)
    QuerySpec("q_evolution_merge", { (s, d) =>
      import graft.evolve._
      val root = BatteryFixtures.scratch(s, "evmerge", d)
      deleteRecursively(new java.io.File(root))
      val sch = GraphSchema(Seq(
        VertexDef("cust_a", Seq(FieldDef("c_name")), Identity.Natural(Seq("c_custkey"))),
        VertexDef("cust_b", Seq(FieldDef("c_name")), Identity.Natural(Seq("c_custkey")))))
      val store = new GraphStore(root, sch, s)
      val cust = t(s, d)("customer").select("c_custkey", "c_name")
      store.upsertVertices("cust_a", cust.where(col("c_custkey") % 2 === 0))
      store.upsertVertices("cust_b", cust.where(col("c_custkey") % 2 === 1))
      Evolution.migrateStore(store, Seq(EvolutionOp.MergeVertices(Seq("cust_b"), "cust_a")))
      store.vertices("cust_a").agg(count(lit(1)).as("cnt"))
    },
      """SELECT count(*) AS cnt FROM customer"""),

    // extension: SCD2 change history — per-customer order-status runs
    // with validity intervals (change points + lead, one keyed shuffle)
    QuerySpec("q_scd2", { (s, d) =>
      import graft.ext.Events
      val src = t(s, d)("orders").where(col("o_custkey") <= 200)
        .select(col("o_custkey"), col("o_orderstatus"),
          col("o_orderdate").as("_ts"), col("o_orderkey"))
      Events.scd2History(src, "o_custkey", "_ts", "o_orderstatus", "o_orderkey")
        .select(col("o_custkey"), col("o_orderstatus"),
          date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd").as("valid_to"))
        .orderBy("o_custkey", "valid_from", "o_orderstatus")
    },
      """WITH src AS (SELECT o_custkey, o_orderstatus, o_orderdate AS ts,
        |    o_orderkey AS tie
        |  FROM orders WHERE o_custkey <= 200),
        |marked AS (SELECT o_custkey, o_orderstatus, ts, tie,
        |    lag(o_orderstatus) OVER w AS prev, row_number() OVER w AS rn
        |  FROM src WINDOW w AS (PARTITION BY o_custkey ORDER BY ts, tie)),
        |ch AS (SELECT o_custkey, o_orderstatus, ts, tie FROM marked
        |  WHERE rn = 1 OR o_orderstatus IS DISTINCT FROM prev)
        |SELECT o_custkey, o_orderstatus,
        |  strftime(ts, '%Y-%m-%d') AS valid_from,
        |  strftime(lead(ts) OVER w2, '%Y-%m-%d') AS valid_to
        |FROM ch WINDOW w2 AS (PARTITION BY o_custkey ORDER BY ts, tie)
        |ORDER BY o_custkey, valid_from, o_orderstatus""".stripMargin),

    // §2.2 bucketed store collections: versions written as bucketed
    // external tables (bucketBy on the identity) — collection-side joins
    // scan pre-hashed buckets with no exchange; upsert stays idempotent
    QuerySpec("q_bucketed_store", { (s, d) =>
      val root = BatteryFixtures.scratch(s, "bucketed", d)
      deleteRecursively(new java.io.File(root))
      val sch = GraphSchema(Seq(
        VertexDef("customer", Seq(FieldDef("c_name"), FieldDef("c_mktsegment")),
          Identity.Natural(Seq("c_custkey")))))
      val store = new GraphStore(root, sch, s, buckets = Some(8))
      val cust = t(s, d)("customer").select("c_custkey", "c_name", "c_mktsegment")
      store.upsertVertices("customer", cust)
      store.upsertVertices("customer", cust) // idempotent second write
      store.vertices("customer")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // extension: snapshot diff (CDC) between two corpus versions — docs
    // 450+ added, docs <20 removed, every 7th doc drifted
    QuerySpec("q_snapshot_diff", { (s, d) =>
      val docs = t(s, d)("documents")
      val old = docs.where(col("doc_id") < 450)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" drift"))).otherwise(col("text")))
      val cur = docs.where(col("doc_id") >= 20)
      Corpus.snapshotDiff(old, cur, "doc_id", "text").orderBy("doc_id")
    },
      // CDC diff by normalized-content md5 over a full outer join
      """WITH o AS (SELECT doc_id, md5(trim(regexp_replace(lower(
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' drift' ELSE text END),
        |    '\s+', ' ', 'g'))) AS h
        |  FROM documents WHERE doc_id < 450),
        |c AS (SELECT doc_id, md5(trim(regexp_replace(lower(text),'\s+',' ','g'))) AS h
        |  FROM documents WHERE doc_id >= 20)
        |SELECT coalesce(o.doc_id, c.doc_id) AS doc_id,
        |  CASE WHEN o.h IS NULL THEN 'added' WHEN c.h IS NULL THEN 'removed'
        |       WHEN o.h = c.h THEN 'unchanged' ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN c ON o.doc_id = c.doc_id
        |ORDER BY doc_id""".stripMargin),

    // §2.13: store-flavor name sanitization — the rename table the
    // evolution-op generator would emit for real (space-laden) names
    QuerySpec("q_sanitize_names", { (s, d) =>
      import s.implicits._
      val names = t(s, d)("part").select(col("p_type").as("n"))
        .union(t(s, d)("part").select(col("p_brand"))).distinct()
        .as[String].collect().toSeq
      graft.evolve.Sanitize.table(names)
        .toDF("original", "sanitized").orderBy("original")
    },
      // replicates Sanitize.clean: lowercase → non-[a-z0-9] → '_' → collapse
      // runs → strip edge '_' → digit/empty prefix → truncate 63; suffix _rn
      // on collisions in sorted-original order
      """WITH n AS (SELECT DISTINCT p_type AS orig FROM part
        |  UNION SELECT DISTINCT p_brand FROM part),
        |c AS (SELECT orig, substring(
        |    CASE WHEN cleaned = '' OR substring(cleaned, 1, 1) BETWEEN '0' AND '9'
        |         THEN 'n_' || cleaned ELSE cleaned END, 1, 63) AS base
        |  FROM (SELECT orig, trim(regexp_replace(regexp_replace(lower(orig),
        |      '[^a-z0-9]', '_', 'g'), '_+', '_', 'g'), '_') AS cleaned FROM n)),
        |r AS (SELECT orig, base,
        |    row_number() OVER (PARTITION BY base ORDER BY orig) AS rn FROM c)
        |SELECT orig AS original,
        |  CASE WHEN rn = 1 THEN base
        |       ELSE substring(base, 1, 61) || '_' || rn END AS sanitized
        |FROM r ORDER BY original""".stripMargin),

    // extension: Z-order layout clustering — interleaved-bit z-values over
    // (price, quantity) global min/max bins; the write-side ordering that
    // gives parquet row-group pruning on BOTH filter dimensions at once
    QuerySpec("q_zorder", { (s, d) =>
      import graft.ext.Layout
      Layout.zValue(t(s, d)("lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"),
        Seq("l_extendedprice", "l_quantity"), bits = 8)
        .select(col("l_orderkey"), col("l_linenumber"), col("zvalue"))
        .orderBy("zvalue", "l_orderkey", "l_linenumber")
    },
      // z-value: 8-bit global-min/max bins per dimension, bits interleaved
      // (price = dimension 0 → even positions, quantity = dimension 1 → odd)
      """WITH st AS (SELECT min(CAST(l_extendedprice AS DOUBLE)) AS mn0,
        |    max(CAST(l_extendedprice AS DOUBLE)) AS mx0,
        |    min(CAST(l_quantity AS DOUBLE)) AS mn1,
        |    max(CAST(l_quantity AS DOUBLE)) AS mx1 FROM lineitem),
        |b AS (SELECT l_orderkey, l_linenumber,
        |    CASE WHEN mx0 = mn0 THEN 0 ELSE least(CAST(floor(
        |      (CAST(l_extendedprice AS DOUBLE) - mn0) / (mx0 - mn0) * 256) AS BIGINT),
        |      255) END AS b0,
        |    CASE WHEN mx1 = mn1 THEN 0 ELSE least(CAST(floor(
        |      (CAST(l_quantity AS DOUBLE) - mn1) / (mx1 - mn1) * 256) AS BIGINT),
        |      255) END AS b1
        |  FROM lineitem CROSS JOIN st)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(list_sum(list_transform(generate_series(0, 7),
        |    i -> (((b0 >> i) & 1) << (2 * i)) + (((b1 >> i) & 1) << (2 * i + 1))))
        |    AS BIGINT) AS zvalue
        |FROM b ORDER BY zvalue, l_orderkey, l_linenumber""".stripMargin),

    // extension: size-based compaction planning (Delta/Iceberg OPTIMIZE
    // bin-packing) — documents stand in for a per-source file listing;
    // files ≥ the 500-byte target keep bin −1, the rest pack largest-first
    // by cumulative fill (one keyed window, deterministic)
    QuerySpec("q_compaction_plan", { (s, d) =>
      import graft.ext.Layout
      Layout.compactionPlan(
        t(s, d)("documents").select("source", "doc_id", "n_chars"),
        Seq("source"), "doc_id", "n_chars", targetBytes = 500L)
        .orderBy("source", "doc_id")
    },
      // cumulative-fill bin packing per source; files >= target stay -1
      """WITH c AS (SELECT source, doc_id, n_chars,
        |    sum(CASE WHEN n_chars < 500 THEN n_chars ELSE 0 END)
        |      OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
        |            ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents)
        |SELECT source, doc_id, n_chars,
        |  CASE WHEN n_chars >= 500 THEN CAST(-1 AS BIGINT)
        |       ELSE greatest(CAST(floor((cum - 1) / 500.0) AS BIGINT), 0)
        |  END AS bin
        |FROM c ORDER BY source, doc_id""".stripMargin),

    // extension: CDC apply (MERGE of a change feed) — latest change per
    // key wins; upserts replace change columns wholesale, deletes drop
    QuerySpec("q_merge_cdc", { (s, d) =>
      val root = BatteryFixtures.scratch(s, "cdc", d)
      deleteRecursively(new java.io.File(root))
      val sch = GraphSchema(vertices = Seq(
        VertexDef("cust",
          Seq(FieldDef("c_name"), FieldDef("c_acctbal"), FieldDef("c_nationkey")),
          Identity.Natural(Seq("c_custkey")))), edges = Nil)
      val store = new GraphStore(root, sch, s)
      store.upsertVertices("cust", t(s, d)("customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey"))
      val changes = t(s, d)("orders").select(
        col("o_custkey").as("c_custkey"),
        col("o_orderkey").as("_seq"),
        when(col("o_orderstatus") === "F", lit("delete"))
          .otherwise(lit("upsert")).as("_op"),
        col("o_totalprice").as("c_acctbal"))
      store.applyChanges("cust", changes, "_op", "_seq")
      store.vertices("cust")
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal"), 2).as("c_acctbal"), col("c_nationkey"))
        .orderBy("c_custkey")
    },
      // CDC replay: latest order per customer is the applied change
      """WITH ch AS (SELECT o_custkey AS c_custkey, o_orderkey AS seq,
        |    CASE WHEN o_orderstatus = 'F' THEN 'delete' ELSE 'upsert' END AS op,
        |    o_totalprice AS new_bal,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC,
        |      CASE WHEN o_orderstatus = 'F' THEN 'delete' ELSE 'upsert' END DESC)
        |      AS rn
        |  FROM orders),
        |latest AS (SELECT c_custkey, op, new_bal FROM ch WHERE rn = 1)
        |SELECT c.c_custkey, c.c_name,
        |  round(CASE WHEN l.c_custkey IS NOT NULL AND l.op = 'upsert'
        |    THEN l.new_bal ELSE c.c_acctbal END, 2) AS c_acctbal,
        |  c.c_nationkey
        |FROM customer c LEFT JOIN latest l USING (c_custkey)
        |WHERE NOT (l.c_custkey IS NOT NULL AND l.op = 'delete')
        |ORDER BY c_custkey""".stripMargin),

    // extension: data-skipping simulation — the measured argument for
    // sort-on-write (date layout skips most files; key layout cannot)
    QuerySpec("q_skipping", { (s, d) =>
      import graft.ext.Layout
      val o = t(s, d)("orders").withColumn("_day",
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
          .cast("double"))
      Layout.skippingStats(o, "o_orderdate", "o_orderkey", "_day",
        lo = 10227, hi = 10407, rowsPerFile = 1000L, label = "by_date")
        .unionAll(Layout.skippingStats(o, "o_orderkey", "o_orderkey", "_day",
          lo = 10227, hi = 10407, rowsPerFile = 1000L, label = "by_key"))
        .orderBy("layout")
    },
      // global (key, id) order replayed with one window; file = rank div N
      """WITH o AS (SELECT o_orderkey, o_orderdate,
        |    CAST(epoch_us(o_orderdate) // 86400000000 AS DOUBLE) AS day
        |  FROM orders),
        |bydate AS (SELECT day,
        |    (row_number() OVER (ORDER BY o_orderdate, o_orderkey) - 1) // 1000
        |      AS f FROM o),
        |pf1 AS (SELECT f, min(day) AS mn, max(day) AS mx,
        |    CAST(count(*) AS BIGINT) AS n FROM bydate GROUP BY 1),
        |r1 AS (SELECT 'by_date' AS layout, CAST(count(*) AS BIGINT) AS n_files,
        |    CAST(sum(CASE WHEN mx >= 10227 AND mn <= 10407 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS files_scanned,
        |    CAST(sum(n) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN mx >= 10227 AND mn <= 10407 THEN n ELSE 0 END)
        |      AS BIGINT) AS rows_scanned
        |  FROM pf1),
        |bykey AS (SELECT day,
        |    (row_number() OVER (ORDER BY o_orderkey, o_orderkey) - 1) // 1000
        |      AS f FROM o),
        |pf2 AS (SELECT f, min(day) AS mn, max(day) AS mx,
        |    CAST(count(*) AS BIGINT) AS n FROM bykey GROUP BY 1),
        |r2 AS (SELECT 'by_key' AS layout, CAST(count(*) AS BIGINT) AS n_files,
        |    CAST(sum(CASE WHEN mx >= 10227 AND mn <= 10407 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS files_scanned,
        |    CAST(sum(n) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN mx >= 10227 AND mn <= 10407 THEN n ELSE 0 END)
        |      AS BIGINT) AS rows_scanned
        |  FROM pf2)
        |SELECT layout, n_files, files_scanned, n_rows, rows_scanned,
        |  round(1.0 - CAST(files_scanned AS DOUBLE) / n_files, 4) AS skip_ratio
        |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
        |ORDER BY layout""".stripMargin),

    // extension: incremental aggregate maintenance — base + delta partial
    // aggregates merged by a keyed full-outer join equal the full recompute
    // (the oracle IS the recompute)
    QuerySpec("q_ivm", { (s, d) =>
      val ev = TpchGraph.eventsTable(s, d)
      graft.ext.Events.mergePartialAggs(
        ev.where(col("event_id") % 10 =!= 0),
        ev.where(col("event_id") % 10 === 0),
        "user_id", "value")
        .orderBy("user_id")
    },
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2)
        |    AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // extension: hive-style partitioned layout + partition pruning — the
    // directory-level analogue of q_skipping's file stats: a year-
    // partitioned write, then a pruned read (the filter eliminates whole
    // directories before any file I/O; see PlanAudit for the scan)
    QuerySpec("q_partition_prune", { (s, d) =>
      val dir = BatteryFixtures.scratch(s, "file", d)
      val target = s"$dir/orders_by_year"
      deleteRecursively(new java.io.File(target))
      t(s, d)("orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.partitionBy("o_year").parquet(target)
      s.read.parquet(target)
        .where(col("o_year") === 1995)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice")).cast("long")).as("total_dollars"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
        |  sum(CAST(round(o_totalprice) AS BIGINT))::BIGINT AS total_dollars
        |FROM orders WHERE year(o_orderdate) = 1995
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // §2.2 dry run (graflo/hq/ingestion_parameters.py:155): a real write of
    // the even half, then a DRY write of the odd half through the full plan
    // — the store must still hold exactly the even half
    QuerySpec("q_dry_run", { (s, d) =>
      val root = BatteryFixtures.scratch(s, "dryrun", d)
      deleteRecursively(new java.io.File(root))
      val sch = GraphSchema(Seq(VertexDef("customer", Seq(FieldDef("c_name")),
        Identity.Natural(Seq("c_custkey")))))
      val store = new GraphStore(root, sch, s)
      val cust = t(s, d)("customer").select("c_custkey", "c_name")
      store.upsertVertices("customer", cust.where(col("c_custkey") % 2 === 0))
      val g = PipelineCompiler.compile(sch, ResourceDef("r",
        Seq(VertexStep("customer"))), cust.where(col("c_custkey") % 2 === 1))
      store.write(g, dry = true)
      store.vertices("customer")
        .agg(count(lit(1)).as("cnt_after_dry"),
          sum((col("c_custkey") % 2 === 0).cast("long")).as("n_even"))
    },
      """SELECT count(*) AS cnt_after_dry, count(*) AS n_even
        |FROM customer WHERE c_custkey % 2 = 0""".stripMargin),

    // §2.13 compose_manifests (reference evolution/compose.py:586-660):
    // two independently-authored manifests (clients over customer, vendors
    // over supplier) compose under explicit vertex/property equivalences
    // into ONE party graph; both resources ingest through the composed
    // manifest and same-key docs merge across sources
    QuerySpec("q_compose_manifests", { (s, d) =>
      import graft.evolve.Compose
      import graft.evolve.Compose._
      val leftM = graft.manifest.ManifestLoader.fromYamlString(
        """schema:
          |    metadata:
          |        name: clients
          |    graph:
          |        vertex_config:
          |            vertices:
          |            -   name: client
          |                properties:
          |                -   name
          |                identity:
          |                -   client_id
          |ingestion_model:
          |    resources:
          |    -   name: customers
          |        pipeline:
          |        -   transform:
          |                rename:
          |                    c_custkey: client_id
          |                    c_name: name
          |        -   vertex: client
          |""".stripMargin)
      val rightM = graft.manifest.ManifestLoader.fromYamlString(
        """schema:
          |    metadata:
          |        name: vendors
          |    graph:
          |        vertex_config:
          |            vertices:
          |            -   name: vendor
          |                properties:
          |                -   vname
          |                identity:
          |                -   vendor_id
          |ingestion_model:
          |    resources:
          |    -   name: suppliers
          |        pipeline:
          |        -   transform:
          |                rename:
          |                    s_suppkey: vendor_id
          |                    s_name: vname
          |        -   vertex: vendor
          |""".stripMargin)
      val composed = Compose.composeManifests(leftM, rightM, ComposeManifestsOp(
        vertices = Seq(VertexEquiv("client", "vendor", "party",
          properties = Seq(
            PropertyEquiv(Some("name"), Some("vname"), "name"),
            PropertyEquiv(Some("client_id"), Some("vendor_id"), "party_id")),
          identity = Some(Seq("party_id"))))))
      val root = BatteryFixtures.scratch(s, "compose", d)
      deleteRecursively(new java.io.File(root))
      val store = new GraphStore(root, composed.schema, s)
      composed.resources.foreach { r =>
        val src = if (r.name == "customers") "customer" else "supplier"
        store.write(PipelineCompiler.compile(composed.schema, r, t(s, d)(src)))
      }
      store.vertices("party")
        .agg(count(lit(1)).as("n_parties"),
          sum(when(col("name").isNotNull, 1L).otherwise(0L)).as("n_named"))
    },
      """SELECT count(*) AS n_parties, count(*) AS n_named FROM (
        |  SELECT c_custkey AS k FROM customer
        |  UNION SELECT s_suppkey FROM supplier)""".stripMargin),

    // §2.13 manifest projection (ProjectManifestOp / select_induced):
    // slice a manifest to a vertex/edge subgraph — endpoint-closed edges,
    // induced prune of isolated requested vertices, pipeline cascade — then
    // RUN the projected pipeline; the dropped segment vertex/edge must not
    // appear even though the original pipeline declared them
    QuerySpec("q_project_manifest", { (s, d) =>
      import graft.model.EdgeKey
      val m = graft.manifest.ManifestLoader.fromYamlString(
        """schema:
          |    metadata:
          |        name: proj
          |    graph:
          |        vertex_config:
          |            vertices:
          |            -   name: customer
          |                properties: [c_name]
          |                identity: [c_custkey]
          |            -   name: nation
          |                properties: []
          |                identity: [n_id]
          |            -   name: segment
          |                properties: []
          |                identity: [seg]
          |        edge_config:
          |            edges:
          |            -   source: customer
          |                target: nation
          |                relation: in_nation
          |            -   source: customer
          |                target: segment
          |                relation: in_segment
          |ingestion_model:
          |    resources:
          |    -   name: customer
          |        pipeline:
          |        -   vertex: customer
          |        -   vertex: nation
          |            from:
          |                n_id: c_nationkey
          |            mapped_only: true
          |        -   vertex: segment
          |            from:
          |                seg: c_mktsegment
          |            mapped_only: true
          |        -   source: customer
          |            target: nation
          |        -   source: customer
          |            target: segment
          |""".stripMargin)
      val p = graft.evolve.Project.projectManifest(m,
        keepVertices = Some(Seq("customer", "nation")))
      val g = graft.pipeline.PipelineCompiler.compile(p.schema,
        p.resource("customer"), t(s, d)("customer"))
      val vRows = p.schema.vertices.map(v =>
        g.vertex(v.name).agg(countDistinct(col(v.idColumns.head)).as("cnt"))
          .withColumn("coll", lit(v.name)))
      val eRows = p.schema.edges.map(e =>
        g.edge(EdgeKey(e.source, e.target, e.relation))
          .agg(count(lit(1)).as("cnt")).withColumn("coll", lit(e.relation)))
      (vRows ++ eRows).reduce(_.unionByName(_))
        .select(col("coll"), col("cnt")).orderBy("coll")
    },
      // the projected manifest keeps customer/nation/in_nation only; segment
      // and in_segment are gone, so the replay is plain counts over customer
      """SELECT 'customer' AS coll, COUNT(DISTINCT c_custkey) AS cnt FROM customer
        |UNION ALL
        |SELECT 'in_nation', COUNT(DISTINCT (c_custkey, c_nationkey)) FROM customer
        |UNION ALL
        |SELECT 'nation', COUNT(DISTINCT c_nationkey) FROM customer
        |ORDER BY coll""".stripMargin),

    // q_evolution_cascade — the evolution INGESTION-MODEL cascade end to
    // end: a YAML manifest is evolved (vertex rename + vertex-property
    // rename) through [[graft.evolve.ManifestEvolution]], whose pipeline
    // rewrites must keep the manifest RUNNABLE — the renamed property's
    // `from:`-map coverage means the raw doc columns still feed the renamed
    // vertex field, and edge steps repoint at the renamed type. The evolved
    // manifest re-ingests the real tables and the counts (plus the renamed
    // property's non-null count, which is exactly what a missed from-map
    // rewrite would zero out) replay in DuckDB.
    QuerySpec("q_evolution_cascade", { (s, d) =>
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
    },
      """SELECT 'customer' AS coll, count(*) AS cnt FROM customer
        |UNION ALL SELECT 'placed_by', count(DISTINCT o_orderkey) FROM orders
        |UNION ALL SELECT 'purchase', count(*) FROM orders
        |UNION ALL SELECT 'segment_nonnull', count(c_mktsegment) FROM customer
        |ORDER BY coll""".stripMargin),

    // q_evolution_relmap — the evolution round-trip on a RELATION-MAPPED
    // edge step: cascade-normalizing ops flatten `edge:` wrappers into flat
    // `type: edge` steps, and the loader must keep the wrapper's
    // relation_map semantics on the normalized form (a dispatch that falls
    // into the source/target SHORTHAND branch silently stops applying the
    // map and every mapped relation count drops to zero — the regression
    // this row pins).
    QuerySpec("q_evolution_relmap", { (s, d) =>
      import graft.evolve._
      import graft.evolve.CascadeOp._
      val manifest =
        """schema:
          |    metadata:
          |        name: events-relmap
          |    graph:
          |        vertex_config:
          |            vertices:
          |            -   name: event
          |                properties:
          |                -   value
          |                identity:
          |                -   event_id
          |            -   name: user
          |                identity:
          |                -   user_id
          |        edge_config:
          |            edges:
          |            -   source: event
          |                target: user
          |                relation: clicked
          |            -   source: event
          |                target: user
          |                relation: errored
          |ingestion_model:
          |    resources:
          |    -   name: events
          |        pipeline:
          |        -   vertex: event
          |        -   vertex: user
          |            from:
          |                user_id: user_id
          |            mapped_only: true
          |            lookup_only: true
          |        -   edge:
          |                source: event
          |                target: user
          |                relation_field: event_type
          |                relation_map:
          |                    click: clicked
          |                    error: errored
          |""".stripMargin
      // the property rename triggers the cascade's step normalization:
      // the edge: wrapper flattens to {type: edge, ...} and must re-load
      // with relation_map still APPLYING
      val evolved = ManifestEvolution.evolveManifest(manifest, Seq(
        RenameVertexProperties(Seq("event" -> Seq("value" -> "amount")))))
      val events = graft.fixtures.TpchGraph.eventsTable(s, d)
      val parts = evolved.resources.map(r =>
        graft.pipeline.PipelineCompiler.compile(evolved.schema, r, events))
      val g = parts.reduceLeft(_.unionWith(_))
      Seq(
        g.edge(graft.model.EdgeKey("event", "user", "clicked"))
          .agg(count(lit(1)).as("cnt")).withColumn("item", lit("clicked")),
        g.edge(graft.model.EdgeKey("event", "user", "errored"))
          .agg(count(lit(1)).as("cnt")).withColumn("item", lit("errored")),
        g.vertex("event").agg(count(col("amount")).as("cnt"))
          .withColumn("item", lit("amount_nonnull"))
      ).reduce(_.unionByName(_)).select("item", "cnt").orderBy("item")
    },
      """SELECT 'amount_nonnull' AS item, count(value) AS cnt FROM events
        |UNION ALL SELECT 'clicked', count(*) FROM events WHERE event_type = 'click'
        |UNION ALL SELECT 'errored', count(*) FROM events WHERE event_type = 'error'
        |ORDER BY item""".stripMargin),

    // q_evolution_physical — the physical/field-type evolution surface end
    // to end: a manifest with a db_profile evolves through the index ops +
    // SetFieldType/SetEdgeFieldType + the index-pruning cascades
    // (RemoveProperty endpoint pruning, RemoveSecondaryIdentity derived-
    // index pruning — reference apply.py:684-696, identity.py:533-540),
    // with every op ridden through the revision codec, and the evolved
    // index/type surface is exposed as a DataFrame alongside a re-ingested
    // row count from the evolved schema.
    QuerySpec("q_evolution_physical", { (s, d) =>
      import graft.evolve._
      import graft.model._
      val manifest =
        """schema:
          |    metadata:
          |        name: phys
          |    graph:
          |        vertex_config:
          |            vertices:
          |            -   name: customer
          |                properties:
          |                -   c_name
          |                -   c_mktsegment
          |                -   c_acctbal
          |                identity:
          |                -   c_custkey
          |                secondary_identities:
          |                -   name: by_name
          |                    fields:
          |                    -   c_name
          |            -   name: orders
          |                properties:
          |                -   o_orderstatus
          |                -   o_totalprice
          |                identity:
          |                -   o_orderkey
          |        edge_config:
          |            edges:
          |            -   source: orders
          |                target: customer
          |                relation: placed_by
          |                properties:
          |                -   weight
          |    db_profile:
          |        vertex_indexes:
          |            customer:
          |            -   fields:
          |                -   c_mktsegment
          |                unique: false
          |        edge_specs:
          |        -   source: orders
          |            target: customer
          |            relation: placed_by
          |            indexes:
          |            -   fields:
          |                -   weight
          |            -   fields:
          |                -   weight
          |                -   c_mktsegment
          |ingestion_model:
          |    resources:
          |    -   name: customer
          |        pipeline:
          |        -   vertex: customer
          |""".stripMargin
      val loaded = graft.manifest.ManifestLoader.fromYamlString(manifest)
      import EvolutionOp._
      val ops: Seq[EvolutionOp] = Seq(
        AddVertexIndexes("orders", Seq(IndexDef(Seq("o_orderstatus"), unique = false))),
        SetFieldType("customer", "c_acctbal", FieldType.DoubleT),
        SetEdgeFieldType("placed_by", "weight", FieldType.DoubleT),
        // prunes the authored [c_mktsegment] vertex index (emptied → drops)
        // AND the edge-spec [weight, c_mktsegment] → [weight], which the
        // reference keeps as a duplicate of the existing [weight]
        RemoveProperty("customer", "c_mktsegment"),
        // prunes the secondary-derived [c_name] lookup index with the identity
        RemoveSecondaryIdentity("customer", "by_name"))
      // every op rides the revision codec (persistence face of migrate)
      val decoded = ops.map(op => RevisionStore.opFromJson(RevisionStore.opToJson(op)))
      val schema = Evolution(loaded.schema, decoded)
      def ixRows(owner: String, ixs: Seq[IndexDef], kind: String) =
        ixs.map(ix => (kind, owner,
          ix.fields.mkString(",") + "|unique=" + ix.unique))
      val surface =
        schema.vertices.flatMap(v => ixRows(v.name, v.indexes, "vertex_index")) ++
        schema.vertices.flatMap(v => v.properties.flatMap(p =>
          p.ftype.map(ft => ("field_type", v.name, s"${p.name}:$ft")))) ++
        schema.edges.flatMap(e =>
          ixRows(e.relation, e.specIndexes.getOrElse(Nil), "edge_index") ++
            e.properties.flatMap(p =>
              p.ftype.map(ft => ("edge_field_type", e.relation, s"${p.name}:$ft"))))
      import s.implicits._
      val meta = surface.toDF("kind", "owner", "detail")
      // re-ingest through the EVOLVED schema: the removed property must be
      // gone from the compiled vertex frame, the kept ones still feed
      val res = loaded.resources.find(_.name == "customer").get
      val cust = graft.pipeline.PipelineCompiler.compile(schema, res, t(s, d)("customer"))
        .vertex("customer")
      val dataRow = cust.agg(count(col("c_acctbal")).as("cnt"))
        .select(lit("data").as("kind"), lit("customer").as("owner"),
          concat(lit("acctbal_nonnull="), col("cnt")).as("detail"))
      meta.unionByName(dataRow).orderBy("kind", "owner", "detail")
    },
      """SELECT kind, owner, detail FROM (
        |  SELECT 'vertex_index' AS kind, 'orders' AS owner,
        |         'o_orderstatus|unique=false' AS detail
        |  UNION ALL SELECT 'field_type', 'customer', 'c_acctbal:DoubleT'
        |  UNION ALL SELECT 'edge_index', 'placed_by', 'weight|unique=true'
        |  UNION ALL SELECT 'edge_index', 'placed_by', 'weight|unique=true'
        |  UNION ALL SELECT 'edge_field_type', 'placed_by', 'weight:DoubleT'
        |  UNION ALL SELECT 'data', 'customer',
        |    'acctbal_nonnull=' || (SELECT count(c_acctbal) FROM customer)
        |) ORDER BY kind, owner, detail""".stripMargin),

    // q_evolution_sanitize — the TigerGraph-flavor sanitize op END TO END
    // (reference apply.py:1368-1419 apply_sanitize): one cascade op drives
    // all three legs — db_profile storage-name sanitization (reserved
    // vertex name escapes with `_vertex`, reserved relation with
    // `_relation`), vertex field renames against the default GSQL/C++
    // keyword sets, and consistent-identity-per-relation normalization
    // (two edges share the relation, so the second source vertex's identity
    // rewrites onto the first's) — then the evolved manifest re-ingests
    // real rows through the rewritten pipeline (the from-maps the cascade
    // composed must actually feed the renamed fields). Executed schema/
    // profile parity for the same legs lives in
    // ReferenceSanitizeParitySpec (`san_storage_*` / `nri_*`).
    QuerySpec("q_evolution_sanitize", { (s, d) =>
      import graft.evolve._
      import graft.evolve.CascadeOp._
      val manifest =
        """schema:
          |    metadata:
          |        name: sanitize-tg
          |    graph:
          |        vertex_config:
          |            vertices:
          |            -   name: vertex
          |                properties:
          |                -   avg
          |                -   c_name
          |                identity:
          |                -   c_custkey
          |            -   name: account
          |                properties:
          |                -   balance
          |                identity:
          |                -   acct_id
          |            -   name: market
          |                identity:
          |                -   segment
          |        edge_config:
          |            edges:
          |            -   source: vertex
          |                target: market
          |                relation: avg
          |            -   source: account
          |                target: market
          |                relation: avg
          |ingestion_model:
          |    resources:
          |    -   name: customer
          |        pipeline:
          |        -   vertex: vertex
          |            from:
          |                avg: c_acctbal
          |        -   vertex: account
          |            from:
          |                acct_id: c_custkey
          |                balance: c_acctbal
          |            mapped_only: true
          |        -   vertex: market
          |            from:
          |                segment: c_mktsegment
          |        -   edge:
          |                source: vertex
          |                target: market
          |                relation: avg
          |""".stripMargin
      // the single sanitize op: `vertex` (reserved GSQL word) gets the
      // `vertex_vertex` storage name, relation `avg` gets `avg_relation`,
      // field `avg` renames to `avg_attr`, and identity normalization
      // rewrites account's acct_id onto c_custkey (both edges share the
      // physical relation `avg_relation`)
      val evolved = ManifestEvolution.evolveManifest(manifest, Seq(
        SanitizeFields(None, "tigergraph")))
      val sch = evolved.schema
      import s.implicits._
      val meta = (
        sch.vertices.flatMap(v => v.storageName.map(sn =>
          ("storage_name", v.name, sn))) ++
        sch.edges.flatMap(e => e.relationName.map(rn =>
          ("relation_name", s"${e.source}->${e.target}", rn))) ++
        sch.vertices.map(v =>
          ("identity", v.name, v.identityList.mkString(",")))
      ).toDF("kind", "owner", "detail")
      // re-ingest through the evolved pipeline: the composed from-maps
      // must feed the RENAMED fields from the original source columns
      val cust = t(s, d)("customer")
      val parts = evolved.resources.map(r =>
        graft.pipeline.PipelineCompiler.compile(sch, r, cust))
      val g = parts.reduceLeft(_.unionWith(_))
      val data = Seq(
        g.vertex("vertex").agg(count(col("avg_attr")).as("n"))
          .select(lit("data").as("kind"), lit("vertex").as("owner"),
            concat(lit("avg_attr_nonnull="), col("n")).as("detail")),
        g.vertex("account").agg(countDistinct(col("c_custkey")).as("n"))
          .select(lit("data").as("kind"), lit("account").as("owner"),
            concat(lit("custkey_distinct="), col("n")).as("detail")),
        g.vertex("market").agg(countDistinct(col("segment")).as("n"))
          .select(lit("data").as("kind"), lit("market").as("owner"),
            concat(lit("segments="), col("n")).as("detail")),
        g.edge(graft.model.EdgeKey("vertex", "market", "avg"))
          .agg(count(lit(1)).as("n"))
          .select(lit("data").as("kind"), lit("edge").as("owner"),
            concat(lit("avg_edges="), col("n")).as("detail"))
      ).reduce(_.unionByName(_))
      meta.unionByName(data).orderBy("kind", "owner", "detail")
    },
      """SELECT kind, owner, detail FROM (
        |  SELECT 'storage_name' AS kind, 'vertex' AS owner,
        |         'vertex_vertex' AS detail
        |  UNION ALL SELECT 'relation_name', 'vertex->market', 'avg_relation'
        |  UNION ALL SELECT 'relation_name', 'account->market', 'avg_relation'
        |  UNION ALL SELECT 'identity', 'vertex', 'c_custkey'
        |  UNION ALL SELECT 'identity', 'account', 'c_custkey'
        |  UNION ALL SELECT 'identity', 'market', 'segment'
        |  UNION ALL SELECT 'data', 'vertex',
        |    'avg_attr_nonnull=' || (SELECT count(c_acctbal) FROM customer)
        |  UNION ALL SELECT 'data', 'account',
        |    'custkey_distinct=' || (SELECT count(DISTINCT c_custkey) FROM customer)
        |  UNION ALL SELECT 'data', 'market',
        |    'segments=' || (SELECT count(DISTINCT c_mktsegment) FROM customer)
        |  UNION ALL SELECT 'data', 'edge',
        |    'avg_edges=' || (SELECT count(*) FROM customer)
        |) ORDER BY kind, owner, detail""".stripMargin)
  )
}
