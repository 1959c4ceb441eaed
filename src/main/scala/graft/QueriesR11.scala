package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-11 battery additions.
  *
  * q_evolution_sanitize — the TigerGraph-flavor sanitize op END TO END
  * (reference apply.py:1368-1419 apply_sanitize): one cascade op drives
  * all three legs — db_profile storage-name sanitization (reserved
  * vertex name escapes with `_vertex`, reserved relation with
  * `_relation`), vertex field renames against the default GSQL/C++
  * keyword sets, and consistent-identity-per-relation normalization
  * (two edges share the relation, so the second source vertex's identity
  * rewrites onto the first's) — then the evolved manifest re-ingests
  * real rows through the rewritten pipeline (the from-maps the cascade
  * composed must actually feed the renamed fields). Executed schema/
  * profile parity for the same legs lives in
  * ReferenceSanitizeParitySpec (`san_storage_*` / `nri_*`).
  */
object GraftQueriesR11 {

  private def t(s: SparkSession, dir: String)(name: String): DataFrame =
    graft.fixtures.TpchGraph.table(s, dir, name)

  type Q = (SparkSession, String) => DataFrame

  val all: Map[String, Q] = Map(

    "q_evolution_sanitize" -> { (s, d) =>
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
    }
  )

  val oracles: Map[String, String] = Map(
    "q_evolution_sanitize" ->
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
        |) ORDER BY kind, owner, detail""".stripMargin
  )
}
