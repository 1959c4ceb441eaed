package graft.cli

import org.apache.spark.sql.SparkSession

import graft.fixtures.TpchGraph
import graft.model.EdgeKey
import graft.query._
import graft.store.{GraphStore, GraphMigration}
import graft.expr.FilterExpr
import graft.graph.Rounds

/** CLI entry points mirroring the reference's console scripts
  * (pyproject.toml [project.scripts]: ingest, migrate_schema, ...) as one
  * spark-submit main with subcommands:
  *
  *   ingest  <sfDir> <storeDir> [--dry]     full manifest ingest → store
  *   node    <storeDir> <vertex> [limit]    NodeQuery against the store
  *   agg     <storeDir> <vertex> <disc>     COUNT-by AggregateQuery
  *   bfs     <storeDir> <vertex> <key>=<v> <hops>
  *   migrate <srcStore> <dstStore>          graph→graph migration
  *   export-gf <storeDir> <outDir>          GraphFrames-shaped parquet export
  *   curate  <docsParquet> <outDir> [--span-dedup N]   training-corpus curation run
  *   tokenize <docsParquet> <outDir> [nMerges]   BPE train + encode + shard
  *   analyze <docsParquet>                  one-pass corpus health report
  */
object Main {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toList)
    finally spark.stop()
  }

  private[graft] def run(spark: SparkSession, args: List[String]): Unit = args match {
    case "ingest-manifest" :: manifestPath :: dataDir :: storeDir :: rest =>
      // declarative ingest: YAML/JSON manifest → schema + resources; inputs
      // resolve per-resource from bindings or by name under <dataDir>
      // (reference: every CLI entry takes a schema path, graflo/cli/ingest.py)
      val m = graft.manifest.ManifestLoader.load(manifestPath)
      val store = new GraphStore(storeDir, m.schema, spark)
      val parts = m.resources.map { res =>
        val input = resolveInput(spark, m, res.name, dataDir)
        graft.pipeline.PipelineCompiler.compile(m.schema, res, input)
      }
      val g = parts.reduceLeft(_.unionWith(_))
      store.write(g, dry = rest.contains("--dry"))
      val sizes = g.sizes().toSeq.sorted.map { case (k, n) => s""""$k": $n""" }
      println(sizes.mkString("{", ", ", "}"))
    case "ingest" :: sfDir :: storeDir :: rest =>
      val store = new GraphStore(storeDir, TpchGraph.schema, spark)
      val g = TpchGraph.ingest(spark, sfDir)
      store.write(g, dry = rest.contains("--dry"))
      println(s"""{"ingested": ${g.vertices.size} vertex + ${g.edges.size} edge collections, "dry": ${rest.contains("--dry")}}""")
    case "node" :: storeDir :: vertex :: rest =>
      val store = new GraphStore(storeDir, TpchGraph.schema, spark)
      val reader = new GraphReader(TpchGraph.schema, store.vertices, store.readEdges)
      reader.node(NodeQuery(vertex, limit = rest.headOption.map(_.toInt))).show(false)
    case "agg" :: storeDir :: vertex :: disc :: Nil =>
      val store = new GraphStore(storeDir, TpchGraph.schema, spark)
      val reader = new GraphReader(TpchGraph.schema, store.vertices, store.readEdges)
      reader.aggregate(AggregateQuery(vertex, "COUNT", discriminant = Some(disc))).show(false)
    case "bfs" :: storeDir :: vertex :: anchor :: hops :: Nil =>
      val store = new GraphStore(storeDir, TpchGraph.schema, spark)
      val reader = new GraphReader(TpchGraph.schema, store.vertices, store.readEdges)
      val Array(k, v) = anchor.split("=", 2)
      val out = reader.neighbors(NeighborQuery(vertex,
        FilterExpr.eq(k, v.toLongOption.getOrElse(v)), hops = hops.toInt))
      out.vertices.toSeq.sortBy(_._1).foreach { case (t, df) =>
        println(s"$t: ${df.count()}")
      }
    case "migrate" :: src :: dst :: Nil =>
      val s = new GraphStore(src, TpchGraph.schema, spark)
      val d = new GraphStore(dst, TpchGraph.schema, spark)
      GraphMigration.migrate(s, d).toSeq.sorted.foreach { case (k, n) => println(s"$k: $n") }
    // migrate_schema plan (reference cli/migrate_schema.py:41-106): diff two
    // manifest YAMLs, order ops by structural dependency, gate risk
    case "plan-migration" :: fromPath :: toPath :: rest =>
      val allowHighRisk = rest.contains("--allow-high-risk")
      val from = graft.manifest.ManifestLoader.load(fromPath).schema
      val to = graft.manifest.ManifestLoader.load(toPath).schema
      val plan = graft.evolve.Planner.build(
        graft.evolve.Evolution.diff(from, to), allowHighRisk)
      println("Migration Plan")
      println("================")
      println(s"Operations: ${plan.operations.size}")
      println(s"Blocked: ${plan.blocked.size}")
      if (plan.operations.nonEmpty) {
        println("\nRunnable operations:")
        plan.operations.foreach(op =>
          println(s"- $op [${graft.evolve.Risk.classify(op)}]"))
      }
      if (plan.blocked.nonEmpty) {
        println("\nBlocked operations:")
        plan.blocked.foreach { case (op, r) => println(s"- $op [$r]") }
      }
      plan.warnings.foreach(w => println(s"\nWarnings:\n- $w"))
    case "export-gf" :: storeDir :: outDir :: Nil =>
      // GraphFrames-shaped interchange export: one vertices + one edges
      // parquet in the de-facto public Spark graph schema
      val store = new GraphStore(storeDir, TpchGraph.schema, spark)
      val g = graft.graph.GraphOutput(
        store.vertexCollections.map(n => n -> store.vertices(n)).toMap,
        store.edgeCollections.flatMap { dir =>
          dir.split("__", 3) match {
            case Array(s0, r, t0) =>
              Some(EdgeKey(s0, t0, r) -> store.edges(EdgeKey(s0, t0, r)))
            case _ => None
          }
        }.toMap)
      val (vs, es) = g.graphFrames(TpchGraph.schema)
      vs.write.mode("overwrite").parquet(s"$outDir/vertices")
      es.write.mode("overwrite").parquet(s"$outDir/edges")
      println(s"""{"vertices": ${vs.count()}, "edges": ${es.count()}}""")
    case "curate" :: docsPath :: outDir :: rest =>
      // end-to-end corpus curation (the public pretraining recipe shape),
      // composed entirely from the ext operators: Gopher quality rules →
      // exact dedup → [--span-dedup N: C4-style cross-doc span dedup] →
      // MinHash-LSH near-dup clusters → best-quality survivor per
      // cluster → deterministic train/val/test split → reproducible
      // export shards. Expects (doc_id, text) columns.
      import org.apache.spark.sql.functions._
      import graft.ext.{Corpus, Dedup, TextAnalysis}
      // each stage's frame is materialized once with its row count
      def counted(df: org.apache.spark.sql.DataFrame) = {
        val (m, c) = Rounds.materialize(df, count(lit(1)).as("rows"))
        (m, c.getLong(0))
      }
      val docs = spark.read.parquet(docsPath)
      val nInput = docs.count()
      val (passed, nRules) = counted(docs
        .where(TextAnalysis.gopherRules(col("text")).getField("pass")))
      val (exactD, nExact) = counted(Dedup.dropExactDuplicates(passed, "doc_id", "text"))
      val (exact, nSpan) = rest match {
        case "--span-dedup" :: n :: Nil if n.toIntOption.exists(_ >= 1) =>
          // rewrite docs to their globally-first spans; docs whose every
          // span already appeared elsewhere drop out entirely
          counted(Corpus.spanDedup(exactD.select(col("doc_id"), col("text")),
            "doc_id", "text", n.toInt)
            .where(col("n_kept") > 0)
            .select(col("doc_id"), col("dedup_text").as("text")))
        case Nil => (exactD, nExact)
        case other =>
          System.err.println(s"unknown curate options: ${other.mkString(" ")}")
          sys.exit(2)
      }
      val pairs = Dedup.minhashNearDups(exact, "doc_id", "text",
        n = 3, bands = 8, rowsPerBand = 4, minSim = 0.7)
      val clusters = Dedup.connectedComponents(
        exact.select("doc_id"), "doc_id", pairs, "id_a", "id_b")
      val scored = exact.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("_q"))
      val survivors = Corpus.clusterSurvivors(
        clusters, "doc_id", "component", scored, "_q")
        .select(col("survivor_id").as("doc_id"))
      val kept = exact.join(survivors, Seq("doc_id"), "left_semi")
      val split = Corpus.hashSplit(kept, "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      Corpus.exportShards(split, "doc_id", nShards = 8)
        .write.mode("overwrite").partitionBy("split").parquet(s"$outDir/docs")
      val out = spark.read.parquet(s"$outDir/docs")
      val perSplit = out.groupBy("split").count().collect()
        .map(r => s""""${r.getString(0)}": ${r.getLong(1)}""").sorted.mkString(", ")
      println(s"""{"input": $nInput, "after_rules": $nRules, """ +
        s""""after_exact": $nExact, "after_span": $nSpan, """ +
        s""""after_neardup": ${out.count()}, """ +
        s""""splits": {$perSplit}}""")
    case "analyze" :: docsPath :: Nil =>
      // corpus health report: the pre-curation numbers a data engineer
      // reads before choosing filter thresholds — one JSON object, all
      // from single-pass aggregates over the ext operators
      import org.apache.spark.sql.functions._
      import graft.ext.{Corpus, Dedup, TextAnalysis}
      val (docs, c) = Rounds.materialize(spark.read.parquet(docsPath),
        count(lit(1)).as("docs"))
      val n = c.getLong(0)
      val stats = docs.agg(
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("tokens"),
        round(avg(TextAnalysis.qualityScore(col("text"))), 4).as("avg_quality"),
        sum(when(TextAnalysis.gopherRules(col("text")).getField("pass"), 1L)
          .otherwise(0L)).as("pass_gopher")).collect().head
      val langs = docs.select(TextAnalysis.langId(col("text")).as("lang"))
        .groupBy("lang").count().orderBy(col("count").desc, col("lang"))
        .collect().map(r => s""""${r.getString(0)}": ${r.getLong(1)}""")
      val exactDupGroups = Dedup.exactGroups(docs, "doc_id", "text")
        .where(col("n_dups") > 1).count()
      val q = Corpus.tokenQuantiles(docs, "text", Seq(0.5, 0.9, 0.99))
        .collect().map(r => s""""p${(r.getDouble(0) * 100).toInt}": ${r.getDouble(1)}""")
      println(s"""{"docs": $n, "tokens": ${stats.getLong(0)}, """ +
        s""""avg_quality": ${stats.getDouble(1)}, """ +
        s""""gopher_pass_rate": ${math.round(stats.getLong(2) * 10000.0 / n) / 10000.0}, """ +
        s""""langs": {${langs.mkString(", ")}}, """ +
        s""""exact_dup_groups": $exactDupGroups, """ +
        s""""token_quantiles": {${q.mkString(", ")}}}""")
    case "tokenize" :: docsPath :: outDir :: rest =>
      // end-to-end tokenizer pipeline: BPE training on the corpus (merge
      // rounds over the distinct-word table) → encode by merge replay →
      // token-count stats → reproducible shards. Expects (doc_id, text).
      import org.apache.spark.sql.functions._
      import graft.ext.Corpus
      val nMerges = rest match {
        case n :: Nil if n.toIntOption.exists(_ >= 1) => n.toInt
        case Nil => 32
        case other =>
          System.err.println(s"unknown tokenize options: ${other.mkString(" ")}")
          sys.exit(2)
      }
      val docs = spark.read.parquet(docsPath)
      val merges = Corpus.bpeTrain(docs, "text", nMerges)
      val spark2 = spark
      import spark2.implicits._
      merges.zipWithIndex
        .map { case ((a, b, c), i) => (i + 1, a, b, c) }
        .toDF("rank", "a", "b", "cnt")
        .coalesce(1).write.mode("overwrite").json(s"$outDir/merges")
      val encoded = Corpus.bpeEncode(docs, "doc_id", "text",
        merges.map(m => (m._1, m._2)))
      Corpus.exportShards(encoded, "doc_id", nShards = 8)
        .write.mode("overwrite").parquet(s"$outDir/tokens")
      val out = spark.read.parquet(s"$outDir/tokens")
      val stats = out.agg(count(lit(1)).as("docs"), sum("n_tokens").as("tokens"),
        round(avg("n_tokens"), 2).as("avg_tokens")).collect().head
      println(s"""{"merges": ${merges.size}, "docs": ${stats.getLong(0)}, """ +
        s""""tokens": ${stats.getLong(1)}, "avg_tokens": ${stats.getDouble(2)}}""")
    case "drift" :: basePath :: curPath :: valueCol :: Nil =>
      // distribution-drift gate between two snapshots of one numeric
      // column: PSI verdict + the per-bin report — the check a scheduled
      // pipeline runs before promoting a new batch
      import org.apache.spark.sql.functions._
      val base = spark.read.parquet(basePath).where(col(valueCol).isNotNull)
      val cur = spark.read.parquet(curPath).where(col(valueCol).isNotNull)
      val rows = graft.ext.Stats.psi(base, cur, valueCol, nBins = 10)
        .orderBy("bin").collect()
      val psi = rows.head.getAs[Double]("psi_total")
      val verdict =
        if (psi < 0.1) "stable" else if (psi <= 0.25) "drifting" else "shifted"
      val bins = rows.map(r => s"""{"bin": ${r.getAs[Int]("bin")}, """ +
        s""""n_base": ${r.getAs[Long]("n_base")}, """ +
        s""""n_cur": ${r.getAs[Long]("n_cur")}, """ +
        s""""contrib": ${r.getAs[Double]("contrib")}}""")
      println(s"""{"psi": $psi, "verdict": "$verdict", """ +
        s""""bins": [${bins.mkString(", ")}]}""")
    case "schema-card" :: manifestPath :: rest =>
      // compact schema summary, optionally sliced around seed types:
      // schema-card <manifest> [seed1,seed2 [maxHops [maxVertices]]]
      val m = graft.manifest.ManifestLoader.load(manifestPath)
      val (schema, report) = rest match {
        case seeds :: tail =>
          val hops = tail.headOption.map(_.toInt).getOrElse(3)
          val cap = tail.lift(1).map(_.toInt)
          val (s2, r) = graft.evolve.SchemaContext.subschema(
            m.schema, seeds.split(",").toSeq,
            budget = graft.evolve.SchemaContext.Budget(
              maxElements = cap, maxTokens = None),
            maxHops = hops)
          (s2, Some(r))
        case Nil => (m.schema, None)
      }
      println(graft.evolve.SchemaContext.schemaCardText(schema))
      report.filter(r => r.elidedVertices.nonEmpty || r.elidedEdges.nonEmpty)
        .foreach(r => println(s"(elided: ${r.elidedVertices.size} vertices, " +
          s"${r.elidedEdges.size} edges)"))

    case "manifest-to-rdf" :: manifestPath :: outPath :: Nil =>
      // reference CLI `manifest_to_rdf` (pyproject scripts; rdf/serializer.py):
      // schema → OWL/RDFS TBox as N-Triples
      val m = graft.manifest.ManifestLoader.load(manifestPath)
      val lines = graft.rdf.Rdf.schemaToNTriples(m.schema)
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
      println(s"""{"triples": ${lines.size}, "out": "$outPath"}""")

    case "rdf-to-manifest" :: ntPath :: outPath :: Nil =>
      // reference CLI `rdf_to_manifest` (rdf/deserializer.py +
      // hq/rdf_inferencer.py): OWL TBox → manifest schema YAML
      import spark.implicits._
      val lines = scala.io.Source.fromFile(ntPath, "UTF-8").getLines().toSeq.toDF("line")
      val schema = graft.rdf.Rdf.inferSchema(graft.rdf.Rdf.parseNTriples(lines))
      val sb = new StringBuilder
      sb.append("schema:\n    metadata:\n        name: inferred\n    graph:\n")
      sb.append("        vertex_config:\n            vertices:\n")
      schema.vertices.foreach { v =>
        sb.append(s"            -   name: ${v.name}\n")
        if (v.properties.nonEmpty) {
          sb.append("                properties:\n")
          v.properties.foreach(p => sb.append(s"                -   ${p.name}\n"))
        }
        sb.append("                identity:\n")
        v.idColumns.foreach(c => sb.append(s"                -   $c\n"))
      }
      if (schema.edges.nonEmpty) {
        sb.append("        edge_config:\n            edges:\n")
        schema.edges.foreach { e =>
          sb.append(s"            -   source: ${e.source}\n")
          sb.append(s"                target: ${e.target}\n")
          sb.append(s"                relation: ${e.relation}\n")
        }
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        sb.toString.getBytes("UTF-8"))
      println(s"""{"vertices": ${schema.vertices.size}, """ +
        s""""edges": ${schema.edges.size}, "out": "$outPath"}""")

    case "fairness" :: path :: groupCol :: predExpr :: labelExpr :: Nil =>
      // model-governance gate: per-group selection rate / TPR / FPR and
      // the demographic-parity gap, with a verdict the pipeline can gate
      // on (the four-fifths rule: min selection rate ≥ 0.8 × max)
      import org.apache.spark.sql.functions._
      val df = spark.read.parquet(path)
        .withColumn("_p", expr(predExpr))
        .withColumn("_y", expr(labelExpr))
      val rows = graft.ext.Stats.fairnessProfile(df, groupCol, "_p", "_y")
        .orderBy(groupCol).collect()
      val rates = rows.map(_.getAs[Double]("selection_rate"))
      val fourFifths = rates.max <= 0.0 || rates.min >= 0.8 * rates.max
      val gap = rows.head.getAs[Double]("dp_gap")
      val groups = rows.map { r =>
        def numOrNull(c: String) =
          if (r.isNullAt(r.fieldIndex(c))) "null" else r.getAs[Double](c).toString
        s"""{"group": "${r.getAs[String](groupCol)}", """ +
          s""""n": ${r.getAs[Long]("n")}, """ +
          s""""selection_rate": ${r.getAs[Double]("selection_rate")}, """ +
          s""""tpr": ${numOrNull("tpr")}, "fpr": ${numOrNull("fpr")}}"""
      }
      println(s"""{"dp_gap": $gap, "four_fifths_pass": $fourFifths, """ +
        s""""groups": [${groups.mkString(", ")}]}""")
    case other =>
      System.err.println(s"unknown command: ${other.mkString(" ")}")
      System.err.println(
        "usage: ingest-manifest|ingest|node|agg|bfs|migrate|plan-migration|curate|tokenize|analyze|drift|fairness ...")
      sys.exit(2)
  }

  /** Resolve a resource's input frame: explicit binding path first (absolute
    * or relative to dataDir), else `<dataDir>/<resource>.<ext>` autodetect.
    */
  def resolveInput(spark: SparkSession,
      m: graft.manifest.GraphManifest, resource: String,
      dataDir: String): org.apache.spark.sql.DataFrame = {
    import graft.sources.FileSource
    // ALL bindings for the resource contribute (a manifest may bind several
    // connectors to one resource); regex matching is a FULL-name match
    val bindings = m.bindings.filter(_.resource == resource)
    val frames = bindings.flatMap { b =>
      b.path match {
        case Some(p) =>
          val full = if (new java.io.File(p).isAbsolute) p else s"$dataDir/$p"
          // manifest-driven CSV reads stay STRING-typed like the
          // reference's csv plane; declared property types cast later
          Seq(FileSource.read(spark, full, format = b.format,
            inferTypes = false))
        case None => b.regex.toSeq.flatMap { rx =>
          val dir = new java.io.File(b.subPath.map(sp => s"$dataDir/$sp").getOrElse(dataDir))
          val matches = Option(dir.listFiles).getOrElse(Array.empty)
            .filter(_.getName.matches(rx)).sortBy(_.getName)
          require(matches.nonEmpty,
            s"no file under $dir matches binding regex '$rx' for '$resource'")
          matches.map(f => FileSource.read(spark, f.getPath, format = b.format,
            inferTypes = false)).toSeq
        }
      }
    }
    frames match {
      case fs if fs.nonEmpty =>
        fs.reduceLeft(_.unionByName(_, allowMissingColumns = true))
      case _ =>
        val exts = Seq("parquet", "csv", "tsv", "jsonl", "json",
          "csv.gz", "jsonl.gz", "json.gz")
        exts.map(e => s"$dataDir/$resource.$e")
          .find(p => new java.io.File(p).exists())
          .map(p => FileSource.read(spark, p))
          .getOrElse(throw new IllegalArgumentException(
            s"no binding and no $dataDir/$resource.{${exts.mkString(",")}} found"))
    }
  }
}
