package graft.infer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model._
import graft.graph.Rounds.materialize

/** Identity & schema inference — the reference's §2.12 surface re-expressed
  * as DataFrame aggregations (all of it is sampling + ratio heuristics).
  */
object IdentityInference {

  /** Per-column uniqueness ratios from data — the core signal of the
    * reference's identity inference (graflo/db/identity_inference.py:1-461,
    * sampler.py:99-407): ratio = distinct/count. One aggregation pass over
    * all columns (no per-column jobs), melted to (field, ratio) rows.
    */
  def uniquenessRatios(df: DataFrame): DataFrame = {
    val n = greatest(count(lit(1)), lit(1L)).cast("double")
    val aggs: Seq[Column] = df.columns.toSeq.flatMap { c =>
      Seq(round(count_distinct(col(c)).cast("double") / n, 4).as(s"__r_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val pairs = df.columns.toSeq.map(c =>
      struct(lit(c).as("field"), col(s"__r_$c").as("ratio")))
    one.select(explode(array(pairs: _*)).as("kv"))
      .select(col("kv.field").as("field"), col("kv.ratio").as("ratio"))
  }

  /** Propose identity fields: all columns whose uniqueness ratio ≥ threshold
    * (the reference proposes the minimal near-unique set; single-column
    * candidates cover its common case).
    */
  def proposeIdentity(df: DataFrame, threshold: Double = 0.999): Seq[String] =
    uniquenessRatios(df).where(col("ratio") >= threshold)
      .orderBy(col("ratio").desc, col("field"))
      .collect().map(_.getString(0)).toSeq
}

/** Full identity inference — the reference's `IdentityInferencer`
  * (graflo/db/identity_inference.py:43-383): eligible-column selection
  * with per-type costs (lists/bytes/long-text/mostly-null disqualify),
  * candidate ranking by parsimony + type cost − semantic bonus
  * (field name ending id/uuid/key/code/pk), a stable unary winner if one
  * column is unique AND bootstrap-stable, else a GREEDY composite key
  * grown in ranked order then minimized, else the hash fallback over the
  * minimal key. Runs on a bounded sample (the reference's contract too —
  * `max_sample_size`), so the driver-side work is sample-capped, never
  * data-sized. Bootstrap subsampling is seeded per boot index for
  * engine-deterministic re-runs (the reference uses an unseeded rng; its
  * own contract demands the verdict be stable under resampling, so a
  * fixed seed changes nothing a correct answer depends on).
  */
object IdentityInferencer {
  final case class Result(
      identity: Seq[String],
      hashIdentityProperties: Seq[String],
      confidence: Double,
      strategy: String, // unary | composite | hash_fallback | no_viable_identity
      warning: Option[String] = None)

  private val SemanticRe = "(?i)(id|uuid|key|code|pk)$".r
  private val UuidRe =
    "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$".r
  private val IsoRe = "^\\d{4}-\\d{2}-\\d{2}([T ].*)?$".r
  private val LongTextThreshold = 256
  private val NoneRatioReject = 0.5

  /** per-column type suitability cost; None = disqualified */
  private[infer] def typeCost(values: Seq[Any]): Option[Double] = {
    if (values.isEmpty) return None
    val nonNull = values.filter(_ != null)
    if (nonNull.isEmpty) return None
    if (nonNull.size.toDouble / values.size < 1.0 - NoneRatioReject) return None
    val costs = nonNull.map {
      case _: Boolean                => 0.1
      case _: Int | _: Long | _: Short | _: Byte => 0.0
      case _: Float | _: Double      => 1.0
      case _: java.math.BigDecimal   => 1.0
      case _: java.sql.Timestamp | _: java.sql.Date => 0.5
      case _: Array[_] | _: Seq[_] | _: Array[Byte] => return None
      case s: String =>
        if (UuidRe.findFirstIn(s).isDefined) 0.0
        else if (s.length > LongTextThreshold) return None
        else if (IsoRe.findFirstIn(s).isDefined) 0.5
        else 0.1
      case _ => return None
    }
    Some(costs.sum / costs.size)
  }

  private def score(fields: Seq[String], costs: Map[String, Double],
      typeCostWeight: Double, semanticWeight: Double): Double = {
    val parsimony = (fields.size * fields.size).toDouble
    val tc = fields.map(costs).sum
    val bonus = if (fields.exists(f => SemanticRe.findFirstIn(f).isDefined))
      semanticWeight else 0.0
    parsimony + typeCostWeight * tc - bonus
  }

  private def uniqRatio(samples: Seq[Map[String, Any]], key: Seq[String]): Double =
    if (samples.isEmpty || key.isEmpty) 0.0
    else samples.map(s => key.map(s.get)).distinct.size.toDouble / samples.size

  private def bootstrapPassRate(samples: Seq[Map[String, Any]], key: Seq[String],
      nBoots: Int, subsampleRatio: Double, minSample: Int): Double = {
    if (samples.size < minSample) return 0.0
    val k = math.max(1, (samples.size * subsampleRatio).toInt)
    val passes = (0 until nBoots).count { b =>
      val rng = new scala.util.Random(1234567L + b)
      val sub = rng.shuffle(samples.indices.toVector).take(k).map(samples)
      uniqRatio(sub, key) >= 1.0
    }
    passes.toDouble / nBoots
  }

  private def minimize(samples: Seq[Map[String, Any]],
      key: Seq[String]): Seq[String] = {
    var minimal = key
    var changed = true
    while (changed) {
      changed = false
      val it = minimal.indices.iterator
      while (it.hasNext && !changed) {
        val i = it.next()
        val subset = minimal.patch(i, Nil, 1)
        if (subset.nonEmpty && uniqRatio(samples, subset) >= 1.0) {
          minimal = subset; changed = true
        }
      }
    }
    minimal
  }

  /** Infer the identity for one vertex type from a bounded sample of `df`.
    * `maxSampleSize` is ALWAYS applied (the reference's config allows an
    * unbounded sample; here the driver-side collect is gated by design —
    * the bpeTrain discipline: inference is a model decision, its cost must
    * be sample-sized, never data-sized).
    */
  def infer(df: DataFrame, propertyNames: Seq[String] = Nil,
      maxKeyWidth: Int = 3, minSampleSize: Int = 100,
      maxSampleSize: Int = 100000, typeCostWeight: Double = 0.2,
      semanticWeight: Double = 0.5, nBoots: Int = 5,
      subsampleRatio: Double = 0.8): Result = {
    require(maxSampleSize >= minSampleSize,
      "maxSampleSize must cover minSampleSize")
    val capped = df.limit(maxSampleSize)
    val cols = if (propertyNames.nonEmpty) propertyNames else df.columns.toSeq.sorted
    val rows = capped.select(cols.map(col): _*).collect()
    val samples: Seq[Map[String, Any]] =
      rows.toSeq.map(r => cols.zipWithIndex.map { case (c, i) =>
        c -> (if (r.isNullAt(i)) null else r.get(i)) }.toMap)
    if (samples.size < minSampleSize)
      return Result(Nil, Nil, 0.0, "no_viable_identity", Some("sample too small"))
    val costs = cols.flatMap(c =>
      typeCost(samples.map(_(c))).map(c -> _)).toMap
    val eligible = cols.filter(costs.contains)
    if (eligible.isEmpty)
      return Result(Nil, Nil, 0.0, "no_viable_identity",
        Some("all columns disqualified"))
    val ranked = eligible.sortBy(f =>
      score(Seq(f), costs, typeCostWeight, semanticWeight))
    val unary = ranked.filter(f => uniqRatio(samples, Seq(f)) >= 1.0)
    if (unary.nonEmpty) {
      val best = unary.minBy(f => score(Seq(f), costs, typeCostWeight, semanticWeight))
      if (bootstrapPassRate(samples, Seq(best), nBoots, subsampleRatio,
          minSampleSize) == 1.0)
        return Result(Seq(best), Nil, 1.0, "unary")
    }
    // greedy composite: grow in ranked order until the TUPLE is unique
    var selected = Seq(ranked.head)
    var found = uniqRatio(samples, selected) >= 1.0
    val rest = ranked.tail.iterator
    while (!found && rest.hasNext) {
      selected = selected :+ rest.next()
      found = uniqRatio(samples, selected) >= 1.0
    }
    if (!found)
      return Result(Nil, Nil, 0.0, "no_viable_identity",
        Some("no unique combination found"))
    val minimal = minimize(samples, selected)
    val passRate = bootstrapPassRate(samples, minimal, nBoots, subsampleRatio,
      minSampleSize)
    if (passRate == 1.0 && minimal.size <= maxKeyWidth)
      Result(minimal, Nil, passRate, "composite")
    else Result(Seq("id"), minimal, math.max(passRate * 0.5, 0.1),
      "hash_fallback",
      Some(if (minimal.size > maxKeyWidth) "identity key exceeds max_key_width"
        else "bootstrap validation failed"))
  }
}

/** Bounded row sampling with cell truncation — the reference's sampler
  * (graflo/hq/sampler.py:48-407): JSON-able projections of the first N rows
  * with long cells truncated (drives identity/schema inference and UI
  * previews).
  */
object Sampler {
  def sample(df: org.apache.spark.sql.DataFrame, n: Int = 100,
      maxCellChars: Int = 200): Seq[Map[String, String]] = {
    val cols = df.columns
    df.limit(n).collect().map { row =>
      cols.zipWithIndex.map { case (c, i) =>
        val v = if (row.isNullAt(i)) null else {
          val s = String.valueOf(row.get(i))
          if (s.length > maxCellChars) s.take(maxCellChars) + "…" else s
        }
        c -> v
      }.toMap
    }.toSeq
  }
}

/** Cross-resource identity alignment (graflo/db/cross_resource_identity.py:
  * 74-790): align columns across resources by name similarity + value
  * Jaccard, to propose a shared natural key.
  */
object CrossResourceIdentity {

  /** Value-overlap Jaccard between two columns (distinct string-cast
    * values): |A∩B| / |A∪B| (`value_jaccard`, cross_resource_identity.py:116).
    */
  def valueJaccard(a: DataFrame, colA: String, b: DataFrame, colB: String): DataFrame = {
    val va = a.select(col(colA).cast("string").as("v")).where(col("v").isNotNull).distinct()
    val vb = b.select(col(colB).cast("string").as("v")).where(col("v").isNotNull).distinct()
    val inter = va.join(vb, Seq("v"), "left_semi").count()
    val union = va.union(vb).distinct().count()
    val j = if (union == 0) 0.0 else inter.toDouble / union
    val spark = a.sparkSession
    import spark.implicits._
    Seq((colA, colB, math.rint(j * 10000) / 10000)).toDF("col_a", "col_b", "jaccard")
  }

  /** Fuzzy string matching over a column (reference
    * graflo/hq/inference_utils.py:15-67 token-fragment matcher — here the
    * standard edit-distance form): all id pairs whose strings are within
    * `maxDist` Levenshtein distance.
    *
    * Scale path: candidate generation is BLOCKED on length buckets of width
    * `maxDist + 1` — `|len(a) - len(b)| <= maxDist` is necessary for
    * `lev(a,b) <= maxDist`, so each left row equi-joins only the buckets its
    * length band can reach (≤ 3 buckets). A keyed equi-join, not an
    * all-pairs nested loop; `levenshtein()` (codegen'd) prunes the rest.
    */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int): DataFrame = {
    val bsize = maxDist + 1
    val a = df.select(col(idCol).as("id_a"), col(strCol).as("s_a"),
      length(col(strCol)).as("l_a"))
      .withColumn("bucket", explode(sequence(
        floor((col("l_a") - lit(maxDist)) / lit(bsize)).cast("bigint"),
        floor((col("l_a") + lit(maxDist)) / lit(bsize)).cast("bigint"))))
    val b = df.select(col(idCol).as("id_b"), col(strCol).as("s_b"),
      length(col(strCol)).as("l_b"))
      .withColumn("bucket", floor(col("l_b") / lit(bsize)).cast("bigint"))
    a.join(b, Seq("bucket"))
      .where(col("id_a") < col("id_b") &&
        abs(col("l_a") - col("l_b")) <= maxDist)
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .where(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Jaro-Winkler-scored candidate pairs with first-token blocking — the
    * transposition-tolerant face of fuzzy identity matching ([[fuzzyPairs]]
    * is the edit-distance face). Candidates must share their first
    * whitespace token (the standard cheap blocking key for name data:
    * typos and reorderings concentrate later in the string); each
    * candidate is scored by the native [[graft.expr.JaroWinkler]] codegen
    * kernel and kept at `sim >= minSim` (threshold applied to the 6-dp
    * rounded score, engine-portably). Keyed equi-join on the block token —
    * never all-pairs; block skew is bounded by the first-token vocabulary.
    */
  def jaroWinklerPairs(df: DataFrame, idCol: String, strCol: String,
      minSim: Double): DataFrame = {
    val blocked = df.select(col(idCol).as("_id"), col(strCol).as("_s"),
      split(col(strCol), "\\s+").getItem(0).as("_blk"))
    val a = blocked.select(col("_blk"), col("_id").as("id_a"), col("_s").as("s_a"))
    val b = blocked.select(col("_blk"), col("_id").as("id_b"), col("_s").as("s_b"))
    a.join(b, Seq("_blk"))
      .where(col("id_a") < col("id_b"))
      .withColumn("sim",
        round(graft.expr.JaroWinkler.column(col("s_a"), col("s_b")), 6))
      .where(col("sim") >= minSim)
      .select("id_a", "id_b", "sim")
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo 1995, "The
    * merge/purge problem for large databases"): sort records by a
    * blocking key and emit every pair within a sliding window of `w`
    * positions — the classic entity-resolution candidate generator for
    * typo-heavy keys, where a sort displaces a corrupted record only
    * locally (length buckets and token blocks can miss it entirely).
    *
    * The global ordinal is TWO-PHASE, never a single-partition window:
    * range-exchange on (key, id), per-partition row_number, plus
    * per-partition base offsets from an nParts-row count collect,
    * broadcast back as a map literal. The partition id is frozen by a
    * checkpoint before use (spark_partition_id is evaluation-dependent on
    * a plan that is not materialized). Pair generation is an equi-join on the
    * ordinal — keyed and uniform at any scale.
    *
    * Output: (id_a, id_b, key_a, key_b), rank(a) < rank(b) ≤ rank(a)+w−1.
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, keyCol: String,
      window: Int, numPartitions: Int = 0): DataFrame = {
    require(window >= 2, "window must be >= 2")
    val spark = df.sparkSession
    val nParts = if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = materialize(df.select(col(idCol).as("_id"), col(keyCol).as("_key"))
      .repartitionByRange(nParts, col("_key"), col("_id"))
      .sortWithinPartitions("_key", "_id")
      .withColumn("_pid", spark_partition_id()))
    val counts = sorted.groupBy("_pid").agg(count(lit(1)).as("_c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var running = 0L
    val offsets = scala.collection.mutable.Map.empty[Int, Long]
    counts.foreach { case (pid, c) => offsets(pid) = running; running += c }
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("_pid").orderBy(col("_key"), col("_id"))
    val ranked = sorted.withColumn("rank",
      row_number().over(wp).cast("long") +
        element_at(typedLit(offsets.toMap), col("_pid")))
    val right = ranked.select(col("rank").as("_rr"), col("_id").as("id_b"),
      col("_key").as("key_b"))
    ranked.select(col("rank"), col("_id").as("id_a"), col("_key").as("key_a"))
      .withColumn("_rr", explode(sequence(col("rank") + 1,
        col("rank") + (window - 1))))
      .join(right, Seq("_rr"))
      .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"))
  }

  /** One Fellegi–Sunter comparison field: `agree` is the boolean
    * agreement predicate over a candidate-pair row; `m`/`u` are the
    * match/unmatch agreement probabilities (P(agree | same entity),
    * P(agree | different entities)).
    */
  final case class FsField(name: String, agree: org.apache.spark.sql.Column,
      m: Double, u: Double) {
    require(m > 0 && m < 1 && u > 0 && u < 1, s"$name: m,u must be in (0,1)")
    /** Agreement weight ln(m/u) in integer micro-nats. */
    def wAgree: Long = math.round(math.log(m / u) * 1e6)
    /** Disagreement weight ln((1−m)/(1−u)) in micro-nats (negative). */
    def wDisagree: Long = math.round(math.log((1 - m) / (1 - u)) * 1e6)
  }

  /** Fellegi–Sunter record-linkage scoring (Fellegi & Sunter 1969, "A
    * theory for record linkage"): each candidate pair's score is the sum
    * of per-field log-likelihood-ratio weights — ln(m/u) on agreement,
    * ln((1−m)/(1−u)) on disagreement — thresholded into
    * match / possible / non_match. The scoring half of the ER pipeline
    * whose blocking half is [[sortedNeighborhoodPairs]] / [[fuzzyPairs]].
    *
    * Determinism: the logs are computed ON THE DRIVER and shipped as
    * integer micro-nat literals, so the distributed plan contains no
    * transcendentals at all — scores are exact integer sums in any
    * engine ([[fellegiSunterOracleCase]] emits the identical constants
    * for the SQL oracle). Narrow per-row math over the pair frame.
    */
  def fellegiSunterScore(pairs: DataFrame, fields: Seq[FsField],
      matchThresholdMicro: Long, possibleThresholdMicro: Long): DataFrame = {
    require(fields.nonEmpty, "need at least one comparison field")
    val score = fields.map(f =>
      when(f.agree, lit(f.wAgree)).otherwise(lit(f.wDisagree)))
      .reduceLeft(_ + _)
    pairs.withColumn("fs_micro", score)
      .withColumn("fs_class",
        when(col("fs_micro") >= matchThresholdMicro, lit("match"))
          .when(col("fs_micro") >= possibleThresholdMicro, lit("possible"))
          .otherwise(lit("non_match")))
  }

  /** The SQL CASE-sum replica of [[fellegiSunterScore]]'s weights for a
    * DuckDB oracle — generated from the same FsField m/u so the integer
    * constants can never drift from the implementation. `preds` maps
    * field name → SQL agreement predicate.
    */
  def fellegiSunterOracleCase(fields: Seq[FsField],
      preds: Map[String, String]): String =
    fields.map { f =>
      val p = preds.getOrElse(f.name,
        throw new IllegalArgumentException(s"no SQL predicate for ${f.name}"))
      s"(CASE WHEN $p THEN ${f.wAgree} ELSE ${f.wDisagree} END)"
    }.mkString(" + ")

  /** Jaro-free name similarity: normalized longest-common-subsequence over
    * snake-cased names (the reference uses fuzzy token matching,
    * inference_utils.py:15-67 — any deterministic similarity serves the
    * heuristic).
    */
  def nameSimilarity(a: String, b: String): Double = {
    val x = a.toLowerCase.replaceAll("[^a-z0-9]", "")
    val y = b.toLowerCase.replaceAll("[^a-z0-9]", "")
    if (x.isEmpty || y.isEmpty) return 0.0
    val dp = Array.ofDim[Int](x.length + 1, y.length + 1)
    for (i <- 1 to x.length; j <- 1 to y.length)
      dp(i)(j) = if (x(i - 1) == y(j - 1)) dp(i - 1)(j - 1) + 1
        else math.max(dp(i - 1)(j), dp(i)(j - 1))
    2.0 * dp(x.length)(y.length) / (x.length + y.length)
  }

  /** Propose aligned key candidates across two resources: column pairs
    * ranked by name similarity then value Jaccard (the `_search_shared_key`
    * idea, cross_resource_identity.py:439).
    */
  def proposeSharedKey(
      a: DataFrame, b: DataFrame,
      minNameSim: Double = 0.5, minJaccard: Double = 0.5
  ): Seq[(String, String, Double)] = {
    val pairs = for {
      ca <- a.columns.toSeq; cb <- b.columns.toSeq
      ns = nameSimilarity(ca, cb) if ns >= minNameSim
    } yield (ca, cb, ns)
    pairs.flatMap { case (ca, cb, _) =>
      val j = valueJaccard(a, ca, b, cb).collect().head.getDouble(2)
      if (j >= minJaccard) Some((ca, cb, j)) else None
    }.sortBy(-_._3)
  }
}

/** Relational-3NF schema inference (graflo/db/postgres/schema_inference.py:
  * 25-400): vertex tables (single PK) vs edge tables (two FKs), driven by
  * catalog metadata rows rather than a live PG connection — the heuristics
  * are identical, the catalog source is a DataFrame (JDBC
  * information_schema, or anything shaped like it).
  */
object RelationalInference {
  /** One row per column: (table, column, isPrimaryKey, fkTargetTable). */
  final case class CatalogColumn(table: String, column: String,
      isPk: Boolean, fkTable: Option[String])

  /** Build the catalog from information_schema-shaped DataFrames — the live
    * JDBC wiring (reference schema_inference.py:25-400 reads the same
    * views over a Postgres connection):
    *  - `columns`: (table_name, column_name) — `information_schema.columns`
    *  - `keyUsage`: (table_name, column_name, constraint_type,
    *    foreign_table_name?) — the join of `table_constraints` +
    *    `key_column_usage` + `constraint_column_usage` a PG catalog query
    *    produces (constraint_type ∈ PRIMARY KEY | FOREIGN KEY).
    * Catalog metadata is driver-small by nature; `.collect()` here is the
    * same boundary the reference's catalog query crosses.
    */
  def fromInformationSchema(columns: org.apache.spark.sql.DataFrame,
      keyUsage: org.apache.spark.sql.DataFrame): GraphSchema = {
    val keys = keyUsage.select(
      col("table_name"), col("column_name"), col("constraint_type"),
      col("foreign_table_name")).collect()
    val pk = keys.filter(_.getAs[String]("constraint_type") == "PRIMARY KEY")
      .map(r => (r.getAs[String]("table_name"), r.getAs[String]("column_name"))).toSet
    val fk = keys.filter(_.getAs[String]("constraint_type") == "FOREIGN KEY")
      .map(r => (r.getAs[String]("table_name"), r.getAs[String]("column_name")) ->
        r.getAs[String]("foreign_table_name")).toMap
    val catalog = columns.select(col("table_name"), col("column_name")).collect()
      .map { r =>
        val t = r.getAs[String]("table_name"); val c = r.getAs[String]("column_name")
        CatalogColumn(t, c, pk((t, c)), fk.get((t, c)))
      }
    infer(catalog.toSeq)
  }

  /** Live JDBC catalog wiring (reference schema_inference.py:25-400 reads
    * Postgres `information_schema` views over a connection): read the same
    * catalog facts through the JDBC-standard `DatabaseMetaData` surface —
    * `getColumns` / `getPrimaryKeys` / `getImportedKeys` — which works
    * against any compliant driver (Postgres, Derby, …), and hand the
    * driver-small catalog to [[infer]]. System/catalog schemas are skipped.
    */
  def fromJdbcMetadata(url: String,
      properties: java.util.Properties = new java.util.Properties()): GraphSchema = {
    val conn = java.sql.DriverManager.getConnection(url, properties)
    try {
      val md = conn.getMetaData
      // TABLE_SCHEM stays an Option: JDBC distinguishes null (schema not
      // used in selection — MySQL) from "" (tables WITHOUT a schema);
      // collapsing null to "" would filter every MySQL table out of the
      // PK/FK lookups below
      val tables = scala.collection.mutable.ArrayBuffer[(Option[String], String)]()
      val trs = md.getTables(null, null, "%", Array("TABLE"))
      while (trs.next()) {
        val schOpt = Option(trs.getString("TABLE_SCHEM"))
        val up = schOpt.getOrElse("").toUpperCase
        if (!up.startsWith("SYS") && up != "INFORMATION_SCHEMA" && up != "PG_CATALOG")
          tables += ((schOpt, trs.getString("TABLE_NAME")))
      }
      trs.close()
      val catalog = tables.flatMap { case (schOpt, tbl) =>
        val sch = schOpt.orNull
        val pks = {
          val r = md.getPrimaryKeys(null, sch, tbl)
          val b = Set.newBuilder[String]
          while (r.next()) b += r.getString("COLUMN_NAME")
          r.close(); b.result()
        }
        val fks = {
          val r = md.getImportedKeys(null, sch, tbl)
          val b = Map.newBuilder[String, String]
          while (r.next())
            b += (r.getString("FKCOLUMN_NAME") -> r.getString("PKTABLE_NAME"))
          r.close(); b.result()
        }
        // getColumns returns rows in ORDINAL_POSITION order — preserved so
        // the first FK column of a link table is the edge source.
        val cols = scala.collection.mutable.ArrayBuffer[CatalogColumn]()
        // getColumns' schema/table args are SEARCH PATTERNS ('_'/'%' are
        // wildcards): "user_role" would also match "userXrole". Escaping
        // is driver-specific, so filter result rows to the exact table
        // instead (getPrimaryKeys/getImportedKeys above take exact names)
        val r = md.getColumns(null, sch, tbl, "%")
        while (r.next()) {
          val sameTable = r.getString("TABLE_NAME") == tbl &&
            Option(r.getString("TABLE_SCHEM")) == schOpt
          if (sameTable) {
            val c = r.getString("COLUMN_NAME")
            cols += CatalogColumn(tbl.toLowerCase, c.toLowerCase,
              pks.contains(c), fks.get(c).map(_.toLowerCase))
          }
        }
        r.close(); cols
      }
      infer(catalog.toSeq)
    } finally conn.close()
  }

  def infer(catalog: Seq[CatalogColumn]): GraphSchema = {
    val byTable = catalog.groupBy(_.table)
    val (edgeTables, vertexTables) = byTable.partition { case (_, cols) =>
      // edge table: exactly two FK columns and no identity of its own — every
      // PK column must itself be one of the FKs (covers both the classic M:N
      // table with composite PK over its FKs and keyless link tables)
      cols.count(_.fkTable.isDefined) == 2 &&
        cols.filter(_.isPk).forall(_.fkTable.isDefined)
    }
    val vertices = vertexTables.map { case (t, cols) =>
      val pk = cols.filter(_.isPk).map(_.column)
      VertexDef(t,
        cols.filterNot(_.isPk).map(c => FieldDef(c.column)).toSeq,
        if (pk.nonEmpty) Identity.Natural(pk.toSeq) else Identity.Hash(cols.map(_.column).toSeq))
    }.toSeq.sortBy(_.name)
    val edges = edgeTables.flatMap { case (t, cols) =>
      val fks = cols.filter(_.fkTable.isDefined).toSeq
      for {
        s <- fks.headOption; tg <- fks.lift(1)
        st <- s.fkTable; tt <- tg.fkTable
        if vertices.exists(_.name == st) && vertices.exists(_.name == tt)
      } yield EdgeDef(st, tt, t,
        properties = cols.filterNot(_.fkTable.isDefined).filterNot(_.isPk)
          .map(c => FieldDef(c.column)).toSeq)
    }.toSeq.sortBy(_.relation)
    GraphSchema(vertices, edges)
  }
}
