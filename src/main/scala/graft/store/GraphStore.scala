package graft.store

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.model._
import graft.pipeline.MergeOps
import graft.graph.GraphOutput

/** The engine's native graph store — the reference's chunked-file "graflo
  * backend" (graflo/architecture/backend/{layout,writer,reader}.py,
  * graflo/db/graflo_backend/connection.py:38-420) redesigned for Spark:
  *
  *  - parquet instead of gzip JSONL chunks (columnar scans, predicate
  *    pushdown, schema evolution);
  *  - layout: `<root>/vertices/<name>/v<N>/` and
  *    `<root>/edges/<src__rel__tgt>/v<N>/` with a `_CURRENT` pointer file —
  *    writes go to a new version dir then flip the pointer, so readers never
  *    see partial data (the reference serializes via a single-writer lock
  *    instead; versioned dirs give the same isolation without locking);
  *  - `INDEX.json` manifest mirroring the reference's INDEX.json
  *    (layout.py:23-120).
  *
  * Reads of a collection's current version are memoized per instance: one
  * entry per collection dir holds (version, pointer stamp, DataFrame),
  * where the stamp is the `_CURRENT` file's modification time and file
  * key. Every read still re-reads `_CURRENT`; the entry is reused only
  * while both the version and the stamp are unchanged, so a flip by any
  * writer, or a root deleted and rewritten at the same version number, is
  * seen by the next read. A hit costs no Spark job (a fresh
  * `spark.read.parquet` lists the files and infers the schema in one);
  * the data itself is still scanned on every action.
  *
  * Upsert semantics ("Explicit identities", reference README): writing a
  * batch merges on the vertex identity — existing docs are updated
  * field-wise (later wins), new docs inserted. Implemented as
  * read-current ∪ new → merge_doc_basis → write-next-version. At cluster
  * scale the store directory lives on a distributed FS and each collection
  * version is written with hash partitioning on the identity columns, so a
  * re-ingest shuffles only the new batch (the existing side is already
  * bucketed by the previous write).
  */
final class GraphStore(val root: String, val schema: GraphSchema, spark: SparkSession,
    /** When set, vertex collection versions are written as BUCKETED external
      * tables (`bucketBy(n, idColumns)` + sorted within buckets): joins
      * against a collection — endpoint resolution, semi/anti existence
      * joins, read-query anchors — then scan pre-hashed data and skip the
      * collection-side shuffle entirely (Catalyst sees the bucket spec as
      * the scan's outputPartitioning). At 100 TB this is the difference
      * between shuffling the whole store per ingest batch and shuffling
      * only the incoming batch. Bucket metadata lives in the session
      * catalog; a fresh session reading the same root falls back to plain
      * parquet scans of the identical files (correctness unchanged).
      */
    val buckets: Option[Int] = None) {

  import GraphStore.{Loaded, Stamp}

  def this(root: String, schema: GraphSchema, spark: SparkSession) =
    this(root, schema, spark, None)

  private def vdir(name: String) = s"$root/vertices/$name"
  private def edir(k: EdgeKey)   = s"$root/edges/${k.storeName}"

  /** Catalog-safe unique table name per (store root, collection, version).
    * The readable sanitized name alone is NOT unique ("user-event" and
    * "user_event" both sanitize to user_event, and would silently serve
    * each other's data in bucketed mode), so a digest of the RAW name is
    * part of the identity.
    */
  private def tableName(collection: String, v: Int): String = {
    def tag(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"graft_${tag(root)}_${collection.replaceAll("[^A-Za-z0-9]", "_")}_${tag(collection)}_v$v"
  }

  /** The `_CURRENT` pointer: version and stamp (modification time, file
    * key). The attributes are read BEFORE the contents: a flip between the
    * two pairs the new version with the old stamp, which the next read
    * sees as a change (the other order could pin an old version to the new
    * stamp). A flip replaces the file, so its file key changes too.
    */
  private def pointer(dir: String): Option[(Int, Stamp)] = {
    val p = Paths.get(dir, "_CURRENT")
    Try {
      val a = Files.readAttributes(p, classOf[BasicFileAttributes])
      new String(Files.readAllBytes(p)).trim.toInt -> (a.lastModifiedTime -> a.fileKey)
    }.toOption
  }

  private def currentVersion(dir: String): Option[Int] = pointer(dir).map(_._1)

  private val loaded = new java.util.concurrent.ConcurrentHashMap[String, Loaded]()

  /** The current version of a collection dir and its relation, served from
    * the memo while the pointer is unchanged (see the class doc). Safe to
    * call concurrently: racing misses may both read the version, and
    * whichever entry lands last is checked against the pointer on the next
    * read like any other.
    */
  private def current(dir: String): Option[(Int, DataFrame)] = pointer(dir).map {
    case (v, stamp) =>
      val hit = loaded.get(dir)
      if (hit != null && hit.version == v && hit.stamp == stamp) v -> hit.df
      else {
        val df = spark.read.parquet(s"$dir/v$v")
        loaded.put(dir, Loaded(v, stamp, df))
        v -> df
      }
  }

  /** Atomic pointer flip: write a temp file, then ATOMIC_MOVE over
    * `_CURRENT` — a truncate-in-place would let a concurrent reader observe
    * an empty pointer and misreport the collection as absent. Writers are
    * single-per-collection by contract (same as the reference's single-writer
    * lock, backend/writer.py:29-260).
    */
  private def flip(dir: String, v: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, s"_CURRENT.tmp${System.nanoTime()}")
    Files.write(tmp, v.toString.getBytes, StandardOpenOption.CREATE)
    Files.move(tmp, Paths.get(dir, "_CURRENT"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Monotonic write generation, used as the merge order between existing
    * and incoming docs (incoming wins field-wise).
    */
  private val GenCol = "_gen"

  def readVertices(name: String): Option[DataFrame] = {
    // prefer the bucketed catalog table (exchange-free join scans); fall
    // back to the path when this session didn't write it
    val bucketed = if (buckets.isEmpty) None
      else currentVersion(vdir(name)).map(tableName(name, _))
        .filter(spark.catalog.tableExists).map(spark.table)
    bucketed.orElse(current(vdir(name)).map(_._2))
  }

  def readEdges(k: EdgeKey): Option[DataFrame] = current(edir(k)).map(_._2)

  def vertices(name: String): DataFrame =
    readVertices(name).getOrElse(
      throw new NoSuchElementException(s"store has no vertex collection '$name'"))

  def edges(k: EdgeKey): DataFrame =
    readEdges(k).getOrElse(
      throw new NoSuchElementException(s"store has no edge collection '$k'"))

  /** Keyed upsert of one vertex collection (reference `upsert_docs_batch`,
    * graflo/db/conn.py:390-405): merge on identity, incoming fields win.
    */
  def upsertVertices(name: String, incoming: DataFrame): UpsertReport = {
    val vdef = schema.vertex(name)
    val dir = vdir(name)
    val cur = current(dir)
    val next = cur.fold(-1)(_._1) + 1
    // Drop-unkeyed accounting (reference `_drop_unkeyed_docs`,
    // graflo/hq/db_writer.py:206-238): a doc carrying NONE of its vertex's
    // identity fields cannot be upserted — every backend would invent a key
    // or fold the batch onto one keyless vertex. The actual drop happens in
    // mergeDocBasis (same any-identity-non-null predicate; "" IS a value at
    // this plane — `doc.get(field) is not None` — unlike the cast plane's
    // blank-string prune). Counting rides the write action itself via
    // `Observation` — zero extra scan, which matters when the incoming
    // batch is a 100 TB frame.
    val ids = vdef.idColumns
    val withIds = ids.foldLeft(incoming)((d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast("string")))
    val keep = ids.map(col(_).isNotNull).reduceLeft(_ || _)
    val obs = org.apache.spark.sql.Observation()
    val observed = withIds.observe(obs,
      count(lit(1)).as("total"), count(when(keep, 1)).as("kept"))
    // Incoming rows get a PER-ROW generation (1 + row ordinal), not a
    // constant: a batch holding several docs with the same identity must
    // resolve last-wins in document order (merge_doc_basis semantics) —
    // with a constant gen the struct-max would mix field values across the
    // duplicates arbitrarily. The ordinal reflects partition order, i.e.
    // input order for a narrow-read batch; merge and write evaluate in one
    // action, so id non-determinism across evaluations can't split state.
    val neu = observed.withColumn(GenCol, monotonically_increasing_id() + 1L)
    val merged = cur match {
      case None => MergeOps.mergeDocBasis(neu, vdef.idColumns, GenCol)
      case Some((_, stored)) =>
        val existing = stored.withColumn(GenCol, lit(0L))
        MergeOps.mergeDocBasis(
          existing.unionByName(neu, allowMissingColumns = true), vdef.idColumns, GenCol)
    }
    // repartition on the identity so each version is co-partitioned for the
    // next merge and for endpoint-resolution joins
    buckets match {
      case Some(n) =>
        // bucketed external table: hash-bucketed + sorted on the identity,
        // so downstream joins read pre-partitioned, pre-sorted buckets.
        // The table path must be absolute/qualified: saveAsTable resolves a
        // relative path against the warehouse dir, which would diverge from
        // the parquet fallback reader's cwd-relative resolution.
        val ids = vdef.idColumns
        val versionPath =
          if (dir.contains("://") || dir.startsWith("/")) s"$dir/v$next"
          else new java.io.File(s"$dir/v$next").getAbsolutePath
        merged.write.mode("overwrite")
          .option("path", versionPath)
          .bucketBy(n, ids.head, ids.tail: _*)
          .sortBy(ids.head, ids.tail: _*)
          .format("parquet")
          .saveAsTable(tableName(name, next))
        // retire the previous version's catalog entry (external table drop
        // keeps the files; version dirs remain the durable format)
        cur.foreach(p => spark.sql(s"DROP TABLE IF EXISTS ${tableName(name, p._1)}"))
      case None =>
        merged.repartition(vdef.idColumns.map(col): _*)
          .write.mode("overwrite").parquet(s"$dir/v$next")
    }
    flip(dir, next)
    val m = obs.get
    val total = m("total").asInstanceOf[Long]
    val kept = m("kept").asInstanceOf[Long]
    UpsertReport(name, total, total - kept, ids)
  }

  /** Edge insert with endpoint uniqueness (reference `insert_edges_batch`,
    * graflo/db/conn.py:407-443): dedup on the edge identities against what
    * is already stored.
    */
  def insertEdges(k: EdgeKey, incoming: DataFrame): Unit = {
    val edef = schema.edgeByKey.getOrElse(k, EdgeDef(k.source, k.target, k.relation))
    val dir = edir(k)
    val cur = current(dir)
    val next = cur.fold(-1)(_._1) + 1
    val all = cur match {
      case None              => incoming
      case Some((_, stored)) => stored.unionByName(incoming, allowMissingColumns = true)
    }
    val dedupCols = edef.identities.flatMap {
      case "source" => schema.vertex(k.source).idColumns.map("src_" + _)
      case "target" => schema.vertex(k.target).idColumns.map("dst_" + _)
      case p        => Seq(p)
    }.filter(all.columns.contains)
    val deduped = if (dedupCols.nonEmpty) all.dropDuplicates(dedupCols) else all.dropDuplicates()
    deduped.write.mode("overwrite").parquet(s"$dir/v$next")
    flip(dir, next)
  }

  /** CDC apply — the MERGE-of-a-change-feed shape (Delta Live Tables
    * `apply_changes`, Debezium log compaction): `changes` carries the
    * vertex identity columns, any subset of payload columns, an `opCol`
    * ('upsert' | 'delete') and a `seqCol` ordering changes per key.
    *
    * Per identity only the LATEST change applies (row_number over
    * (seq desc, op desc) — no cross-change field mixing): a final upsert
    * replaces the stored doc's change columns WHOLESALE (explicit nulls
    * included — the SQL-standard `UPDATE SET *`, deliberately different
    * from [[upsertVertices]]'s field-wise last-wins merge); stored columns
    * absent from the change frame carry over. A final delete removes the
    * doc. Unmatched upserts insert; unmatched stored docs carry over;
    * op values other than the two are treated as no-ops.
    *
    * Scale shape: one keyed argmax over the change feed + one full-outer
    * join against the current version — both shuffle on the identity the
    * store is already partitioned by; the result goes through the
    * standard version flip (plain-parquet path, like migration rewrites).
    */
  def applyChanges(name: String, changes: DataFrame, opCol: String,
      seqCol: String): Unit = {
    val vdef = schema.vertex(name)
    val ids = vdef.idColumns
    require(ids.forall(changes.columns.contains),
      s"change feed must carry the identity columns ${ids.mkString(", ")}")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(ids.map(col): _*).orderBy(col(seqCol).desc, col(opCol).desc)
    val latest = changes.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn", seqCol)
    val payloadC = latest.columns.filterNot(c => ids.contains(c) || c == opCol)
    val cSide = payloadC.foldLeft(latest)((d, c) => d.withColumnRenamed(c, s"_c_$c"))
      .withColumnRenamed(opCol, "_c_op")
      .withColumn("_c_present", lit(1))
    val out = readVertices(name) match {
      case None =>
        cSide.where(col("_c_op") === "upsert")
          .select(ids.map(col) ++ payloadC.map(c => col(s"_c_$c").as(c)): _*)
      case Some(target) =>
        val payloadT = target.columns.filterNot(ids.contains)
        val tSide = target.withColumn("_t_present", lit(1))
        val joined = tSide.join(cSide, ids.toSeq, "full_outer")
        val tPresent = col("_t_present").isNotNull
        val cUpsert = col("_c_present").isNotNull && col("_c_op") === "upsert"
        val cDelete = col("_c_present").isNotNull && col("_c_op") === "delete"
        val cols = (payloadT ++ payloadC.filterNot(payloadT.contains)).map { c =>
          val hasC = payloadC.contains(c)
          if (hasC && payloadT.contains(c))
            when(cUpsert, col(s"_c_$c")).otherwise(col(c)).as(c)
          else if (hasC) when(cUpsert, col(s"_c_$c")).as(c)
          else col(c).as(c)
        }
        joined
          // stored rows survive unless deleted; change-only rows insert
          // only on upsert (a delete/no-op without a match emits nothing)
          .where((tPresent && !cDelete) || (!tPresent && cUpsert))
          .select(ids.map(col) ++ cols: _*)
    }
    overwriteVertices(name, out)
  }

  /** Replace a collection wholesale (schema-migration rewrites,
    * graft.evolve.Evolution.migrateStore).
    */
  def overwriteVertices(name: String, df: DataFrame): Unit = {
    val dir = vdir(name)
    val next = currentVersion(dir).getOrElse(-1) + 1
    df.write.mode("overwrite").parquet(s"$dir/v$next")
    flip(dir, next)
  }

  /** Replace an edge collection wholesale (schema-migration rewrites). */
  def overwriteEdges(k: EdgeKey, df: DataFrame): Unit = {
    val dir = edir(k)
    val next = currentVersion(dir).getOrElse(-1) + 1
    df.write.mode("overwrite").parquet(s"$dir/v$next")
    flip(dir, next)
  }

  /** Small-file compaction of one vertex collection (the store-maintenance
    * counterpart of [[graft.ext.Layout.compactionPlan]]): incremental
    * upserts leave the live version with however many part files the merge
    * shuffle produced; after many small batches a collection is thousands
    * of kilobyte files and every scan pays per-file open/seek cost. Rewrite
    * the live version into ceil(totalBytes / targetBytes) identity-hashed
    * files (same co-partitioning contract as upsert) as v<N+1> and flip
    * `_CURRENT`. No-op (None) when the collection is missing or already at
    * or below the planned file count. Returns (filesBefore, filesAfter).
    */
  def compactVertices(name: String, targetBytes: Long): Option[(Int, Int)] = {
    require(targetBytes > 0, "targetBytes must be positive")
    val vdef = schema.vertex(name)
    val dir = vdir(name)
    current(dir).flatMap { case (cur, stored) =>
      val live = Paths.get(dir, s"v$cur")
      import scala.jdk.CollectionConverters._
      val s = Files.list(live)
      val sizes = try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(Files.size).toList
      finally s.close()
      val nOut = math.max(1,
        math.ceil(sizes.sum.toDouble / targetBytes).toInt)
      if (sizes.size <= nOut) None
      else {
        val next = cur + 1
        stored.repartition(nOut, vdef.idColumns.map(col): _*)
          .write.mode("overwrite").parquet(s"$dir/v$next")
        flip(dir, next)
        Some((sizes.size, nOut))
      }
    }
  }

  /** Remove superseded version directories, keeping the current one (+
    * `keepPrevious` older versions for in-flight readers). Upserts create a
    * new version per write; without vacuuming a frequently-updated
    * collection accumulates every historical copy.
    */
  def vacuum(keepPrevious: Int = 1): Unit = {
    def sweep(dir: String): Unit = currentVersion(dir).foreach { cur =>
      val keep = (cur - keepPrevious to cur).toSet
      import scala.jdk.CollectionConverters._
      val d = Paths.get(dir)
      if (Files.exists(d)) {
        val s = Files.list(d)
        val victims = try s.iterator().asScala
          .filter(p => p.getFileName.toString.startsWith("v"))
          .filter(p => p.getFileName.toString.stripPrefix("v").toIntOption
            .exists(v => !keep.contains(v)))
          .toList
        finally s.close()
        victims.foreach(deleteRecursively)
      }
    }
    vertexCollections.foreach(n => sweep(vdir(n)))
    schema.edges.map(_.key).foreach(k => sweep(edir(k)))
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.toList.foreach(deleteRecursively) finally s.close()
    }
    Files.deleteIfExists(p): Unit
  }

  /** Versions retained on disk for a vertex collection, ascending — the
    * time-travel surface over the versioned layout (each upsert writes
    * `v<N>` and flips `_CURRENT`; [[vacuum]] trims the tail).
    */
  def vertexVersions(name: String): Seq[Int] = {
    import scala.jdk.CollectionConverters._
    val d = Paths.get(vdir(name))
    if (!Files.exists(d)) Nil
    else {
      val s = Files.list(d)
      try s.iterator().asScala
        .flatMap(_.getFileName.toString.stripPrefix("v").toIntOption)
        .toList.sorted
      finally s.close()
    }
  }

  /** Time-travel read (Delta-style `VERSION AS OF`): a RETAINED version of
    * a vertex collection. Versions are immutable once written, so this is
    * a plain parquet scan; vacuumed versions raise.
    */
  def verticesAt(name: String, version: Int): DataFrame = {
    val dir = s"${vdir(name)}/v$version"
    if (!Files.exists(Paths.get(dir)))
      throw new NoSuchElementException(
        s"vertex collection '$name' has no retained version $version " +
          s"(retained: ${vertexVersions(name).mkString(",")})")
    spark.read.parquet(dir)
  }

  /** Collections currently present (INDEX listing). */
  def vertexCollections: Seq[String] = listDir("vertices")
  def edgeCollections: Seq[String] = listDir("edges")
  private[store] def listDir(sub: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val d = Paths.get(s"$root/$sub")
    if (!Files.exists(d)) Nil
    else {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString).toList.sorted
      finally s.close()
    }
  }

  /** Write a whole GraphOutput: vertices first (upsert), then edges with
    * secondary-identity endpoint resolution — the reference's write order
    * (graflo/hq/db_writer.py:91-134). With DataFrames the "DB state
    * dependency" is just a join against the post-upsert vertex data.
    */
  def write(g: GraphOutput): Unit = write(g, dry = false)

  def write(g: GraphOutput, dry: Boolean): Unit = { writeReport(g, dry): Unit }

  /** `dry = true` mirrors the reference's dry run
    * (graflo/hq/ingestion_parameters.py:155): execute the full plan (counts
    * force evaluation) but mutate nothing.
    *
    * Returns the write's drop-unkeyed accounting — the stats behind the
    * reference's per-collection skip warnings (db_writer.py:228-237).
    */
  def writeReport(g: GraphOutput, dry: Boolean = false): WriteReport = {
    if (dry) { g.sizes(): Unit; return WriteReport(Nil) }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // collections are disjoint directories — their merge+write jobs are
    // independent and overlap across the cluster; the vertices→edges
    // BARRIER is semantic (endpoint resolution and weight enrichment read
    // the post-upsert vertex collections, db_writer.py:91-134).
    // Failures propagate only AFTER every sibling future settles: a
    // fail-fast await would leave detached writers mutating collections
    // while the caller already handles (or retries on) the exception.
    def awaitAll[T](fs: Seq[Future[T]]): Seq[T] = {
      val settled = Await.result(
        Future.traverse(fs)(f => f.transform(scala.util.Success(_))),
        Duration.Inf)
      settled.collectFirst { case scala.util.Failure(e) => throw e }: Unit
      settled.collect { case scala.util.Success(v) => v }
    }
    val reports = awaitAll(g.vertices.toSeq.map { case (name, df) =>
      Future(upsertVertices(name, df))
    })
    awaitAll(g.edges.toSeq.map { case (k, df) =>
      Future {
        val edef = schema.edgeByKey.getOrElse(k, EdgeDef(k.source, k.target, k.relation))
        var e = df
        edef.sourceMatch.foreach { m =>
          e = EndpointResolve.resolve(e, vertices(k.source), schema.vertex(k.source), m,
            "src_", edef.ambiguity)
        }
        edef.targetMatch.foreach { m =>
          e = EndpointResolve.resolve(e, vertices(k.target), schema.vertex(k.target), m,
            "dst_", edef.ambiguity)
        }
        if (edef.extraWeights.nonEmpty) e = enrichEdgeWeights(k, e, edef.extraWeights)
        insertEdges(k, e)
      }
    }): Unit
    writeIndex()
    WriteReport(reports.sortBy(_.vertex))
  }

  /** Extra-weight enrichment (reference `_enrich_extra_weights`,
    * graflo/hq/db_writer.py:355-387): merge selected fields of the
    * POST-UPSERT vertex collection into the edge frame, matched on the
    * edge's endpoint identity columns. The reference fetches the weight docs
    * from the DB per batch item; here it is one broadcast join per spec —
    * the lookup side is a two-ish-column projection keyed and deduped on the
    * vertex identity (the reference likewise takes `weights[0]` per key).
    */
  def enrichEdgeWeights(k: EdgeKey, edges: DataFrame,
      specs: Seq[VertexWeightSpec]): DataFrame =
    specs.foldLeft(edges)((e, spec) => enrichOneWeight(k, e, spec))

  /** One vertex_weights spec applied to the edge frame. Separate method so
    * the non-endpoint pass-through is a LOCAL return — inside a foldLeft
    * lambda a `return` would abort the whole fold and silently skip every
    * remaining spec.
    */
  private def enrichOneWeight(k: EdgeKey, e: DataFrame,
      spec: VertexWeightSpec): DataFrame = {
    val side = spec.endpoint match {
      case Some("source") => "src_"
      case Some("target") => "dst_"
      case Some(other) =>
        throw new IllegalArgumentException(s"bad endpoint '$other' (source|target)")
      case None =>
        if (spec.vertex == k.source) "src_"
        else if (spec.vertex == k.target) "dst_"
        else {
          // non-endpoint weight vertex: the association is per DOCUMENT
          // and only the compiler sees document ids, so the fields were
          // attached at render time (Compiler.renderIntent) if the vertex
          // was emitted at all. Absent fields pass through unchanged — the
          // reference skips a weight vertex that is invalid or not in the
          // batch container (db_writer.py:368-372 logger.error + continue /
          // `weight.name not in gc.vertices` continue), it never fails the
          // write (executed writer-parity cases xw_invalid_vertex,
          // xw_vertex_absent).
          return e
        }
    }
    if (!schema.vertexByName.contains(spec.vertex)) return e
    val vdef = schema.vertex(spec.vertex)
    val ids = vdef.idColumns
    val lookup = vertices(spec.vertex)
      .select((ids ++ spec.fields).distinct.map(col): _*)
      .dropDuplicates(ids) // one weight doc per identity (reference weights[0])
    val prefixed = ids.foldLeft(lookup)((d, c) => d.withColumnRenamed(c, side + c))
    val named = spec.fields.filterNot(ids.contains).foldLeft(prefixed)((d, f) =>
      if (spec.keepVertexName) d.withColumnRenamed(f, s"${spec.vertex}@$f") else d)
    e.join(broadcast(named), ids.map(side + _), "left")
  }

  /** INDEX.json manifest (reference layout.py:23-120). */
  def writeIndex(): Unit = {
    val vs = listDir("vertices")
    val es = listDir("edges")
    def arr(xs: Seq[String]) = xs.map(x => "\"" + x + "\"").mkString("[", ",", "]")
    Files.createDirectories(Paths.get(root))
    Files.write(Paths.get(root, "INDEX.json"),
      s"""{"vertices":${arr(vs)},"edges":${arr(es)}}""".getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** Existence joins (reference db/conn.py:530-553,637-657). */
  def fetchPresent(name: String, probe: DataFrame): DataFrame = {
    val keys = schema.vertex(name).idColumns
    vertices(name).join(probe.select(keys.map(col): _*).distinct(), keys, "left_semi")
  }
  def keepAbsent(name: String, probe: DataFrame): DataFrame = {
    val keys = schema.vertex(name).idColumns
    probe.join(vertices(name), keys, "left_anti")
  }
}

object GraphStore {
  /** `_CURRENT`'s modification time and file key. */
  private type Stamp = (FileTime, AnyRef)

  /** A memoized current-version relation (see [[GraphStore]]). */
  private final case class Loaded(version: Int, stamp: Stamp, df: DataFrame)
}

/** One collection's upsert accounting (the stats behind the reference's
  * drop-unkeyed warning, graflo/hq/db_writer.py:228-237).
  */
final case class UpsertReport(vertex: String, incoming: Long,
    droppedUnkeyed: Long, identityFields: Seq[String]) {
  /** The reference's warning payload, byte-for-byte (db_writer.py:230-237:
    * `logger.warning("Skipped %s '%s' document(s) ...", dropped, vcol,
    * identity_fields)` — the field list renders as a Python list literal).
    */
  def warning: Option[String] =
    if (droppedUnkeyed == 0L) None
    else Some(s"Skipped $droppedUnkeyed '$vertex' document(s) with no " +
      s"identity value for [${identityFields.map(f => s"'$f'").mkString(", ")}]; " +
      "they cannot be upserted. Mark the step lookup_only if the resource " +
      "only references this vertex.")
}

final case class WriteReport(upserts: Seq[UpsertReport]) {
  def warnings: Seq[String] = upserts.flatMap(_.warning)
}

/** Graph→graph migration (reference `migrate_graph`,
  * graflo/hq/graph_engine.py:690-759 + graph introspection,
  * graflo/db/graph_introspection.py): export every collection from one store
  * and upsert into another. With DataFrames the "introspection" is just the
  * INDEX listing; per-collection reads/writes stream through Spark with no
  * driver materialization.
  */
object GraphMigration {
  def migrate(src: GraphStore, dst: GraphStore): Map[String, Long] = {
    // collections on disk but absent from the schema are skipped WITH a
    // warning on both halves — silently dropping (or crashing on) stale
    // collections would make migration behavior inconsistent
    val vCounts = src.vertexCollections.flatMap { name =>
      if (!src.schema.vertexByName.contains(name)) {
        System.err.println(s"[graft] migrate: skipping unknown vertex collection '$name'")
        None
      } else {
        val df = src.vertices(name)
        dst.upsertVertices(name, df)
        Some(s"vertices/$name" -> df.count())
      }
    }
    val eCounts = src.edgeCollections.flatMap { storeName =>
      src.schema.edges.find(_.key.storeName == storeName) match {
        case None =>
          System.err.println(s"[graft] migrate: skipping unknown edge collection '$storeName'")
          None
        case Some(e) =>
          val df = src.edges(e.key)
          dst.insertEdges(e.key, df)
          Some(s"edges/$storeName" -> df.count())
      }
    }
    dst.writeIndex()
    (vCounts ++ eCounts).toMap
  }
}

/** Secondary-identity endpoint resolution — the reference's
  * `resolve_vertices` + ambiguity policy (graflo/hq/endpoint_resolve.py:
  * 73-169, graflo/db/conn.py:555-611, graflo/onto.py:176-188): edges whose
  * endpoint was declared by an alternate key are joined against the vertex
  * collection on that key and re-projected onto the primary identity.
  *
  * Policies: `all` = plain inner join (multiplicity preserved); `first` =
  * deterministic pick via row_number over the candidates (the reference's
  * `_sorted_candidates`, endpoint_resolve.py:63-71); `skip` = drop ambiguous
  * matches; `error` = fail the job if any key is ambiguous.
  *
  * Scale note: the vertex side is keyed and usually much smaller than the
  * edge side after projection to (secondary, primary) — Spark auto-broadcasts
  * under the threshold; otherwise it is an equi-shuffle join on the
  * secondary key.
  */
object EndpointResolve {
  def resolve(
      edges: DataFrame,
      vertexDf: DataFrame,
      vdef: VertexDef,
      secondaryName: String,
      prefix: String, // "src_" | "dst_"
      policy: AmbiguityPolicy
  ): DataFrame = {
    val sec = vdef.secondaryByName(secondaryName)
    val prim = vdef.idColumns
    val lookupBase = vertexDf
      .select((sec.fields ++ prim).distinct.map(col): _*)
      .distinct()

    val lookup = policy match {
      case AmbiguityPolicy.All => lookupBase
      case AmbiguityPolicy.First =>
        // the reference orders candidates by str() of the primary identity
        // ("so `first` is reproducible", endpoint_resolve.py
        // _sorted_candidates) — cast to string so numeric identities sort
        // the same way here ("10" < "9")
        val w = Window.partitionBy(sec.fields.map(col): _*)
          .orderBy(prim.map(c => col(c).cast("string")): _*)
        lookupBase.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn")
      case AmbiguityPolicy.Skip =>
        val w = Window.partitionBy(sec.fields.map(col): _*)
        lookupBase.withColumn("_n", count(lit(1)).over(w)).where(col("_n") === 1).drop("_n")
      case AmbiguityPolicy.Error =>
        val dup = lookupBase.groupBy(sec.fields.map(col): _*).count().where(col("count") > 1)
        if (!dup.isEmpty)
          throw new IllegalStateException(
            s"ambiguous secondary identity '$secondaryName' on ${vdef.name}")
        lookupBase
    }
    val renamedLookup = sec.fields.foldLeft(lookup)((d, f) =>
      d.withColumnRenamed(f, s"$prefix$f"))
    val joinKeys = sec.fields.map(f => s"$prefix$f")
    val others = edges.columns.filterNot(joinKeys.contains)
    edges.join(renamedLookup, joinKeys, "inner")
      .select((others ++ prim.map(p => s"$p")).map(col): _*)
      .withColumnsRenamed(prim.map(p => p -> s"$prefix$p").toMap)
  }
}
