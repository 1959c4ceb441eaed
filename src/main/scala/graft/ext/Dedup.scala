package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.graph.Rounds.materialize

/** Large-scale deduplication operators for training-data pipelines —
  * extensions beyond the reference surface (BASELINE.json north star).
  *
  * All operators are keyed/partitioned DataFrame programs with no driver-side
  * collect: at 100 TB the shuffles are the per-shingle/per-band groupBys,
  * which partition uniformly because the keys are hashes.
  *
  * Hash choice: `md5` (hex string) rather than `xxhash64` wherever a result
  * feeds a correctness oracle — DuckDB computes identical md5 strings, so the
  * whole operator is cross-checkable end-to-end. Hot paths that need speed
  * and no oracle (SimHash) use `xxhash64`.
  */
object Dedup {

  /** Canonical text normalization shared by all text-dedup ops. */
  def normalize(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Exact dedup by content hash (hash-groupBy): one row per distinct
    * normalized content, with group size and the kept representative
    * (smallest id — deterministic).
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(normalize(col(textCol))).as("content_hash"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))

  /** Keep one representative per duplicate group. */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Word n-gram shingles as a distinct array column (codegen-only: split +
    * transform over an index sequence, no UDF).
    */
  def shingles(textCol: Column, n: Int): Column = {
    // empty text: split returns [""], which would mint a bogus "" shingle
    // and make all empty docs near-dups of each other — drop empty tokens
    val toks = filter(split(normalize(textCol), " "), t => length(t) > 0)
    val idx = when(size(toks) >= n, sequence(lit(0), size(toks) - n))
      .otherwise(lit(Array.empty[Int]))
    array_distinct(
      org.apache.spark.sql.functions.transform(
        idx, i => array_join(slice(toks, i + 1, lit(n)), " ")))
  }

  /** (id, shingle) long form — the explode point all set-similarity ops share. */
  def explodeShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), explode(shingles(col(textCol), n)).as("shingle"))

  /** Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.
    * sim = |A∩B| / (|A|+|B|−|A∩B|). The pair-generating join is keyed on the
    * shingle — at scale, frequent shingles are the skew risk, so extremely
    * common shingles (df > maxShingleFreq) are dropped first (standard
    * LSH-free jaccard trick; they contribute little discrimination).
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minSim: Double,
      maxShingleFreq: Long = 10000L
  ): DataFrame = {
    val sh = materialize(explodeShingles(df, idCol, textCol, n))
    val filtered = {
      val freq = sh.groupBy("shingle").agg(count(lit(1)).as("_f"))
        .where(col("_f") <= maxShingleFreq)
      materialize(sh.join(filtered_hint(freq.select("shingle")), Seq("shingle")))
    }
    val sizes = filtered.groupBy(idCol).agg(count(lit(1)).as("_sz"))
    val a = filtered.withColumnsRenamed(Map(idCol -> "id_a"))
    val b = filtered.withColumnsRenamed(Map(idCol -> "id_b"))
    val inter = a.join(b, Seq("shingle"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("_inter"))
    inter
      .join(sizes.withColumnsRenamed(Map(idCol -> "id_a", "_sz" -> "_sza")), Seq("id_a"))
      .join(sizes.withColumnsRenamed(Map(idCol -> "id_b", "_sz" -> "_szb")), Seq("id_b"))
      .withColumn("jaccard",
        col("_inter").cast("double") / (col("_sza") + col("_szb") - col("_inter")))
      .where(col("jaccard") >= minSim)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }
  private def filtered_hint(df: DataFrame): DataFrame = broadcast(df)

  /** Prefix-filtered exact set-similarity self-join (the PPJoin prefix
    * filter, Xiao et al. 2008, public): all token-set pairs with
    * Jaccard ≥ minSim, NO false negatives (unlike LSH) and no all-pairs
    * product (unlike a naive token join). Tokens order globally
    * rarest-first (df asc, token asc); a doc's PREFIX is its first
    * |d| − ceil(minSim·|d|) + 1 tokens in that order. Any pair at the
    * threshold must share a prefix token, so candidates join keyed on
    * prefix tokens only — a frequent token keys a candidate only for the
    * few docs where it still falls in the prefix, which is what bounds
    * the quadratic blowup the plain token join suffers on stopwords.
    *
    * Scale shape: the global order needs NO global rank — per-doc
    * row_number over (df, token) uses only each doc's own tokens (one
    * keyed window); df is a token-keyed count joined back. Verification
    * is the same (id, token)-keyed intersection count as
    * [[jaccardPairs]]. All-integer until the final ratio.
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      minSim: Double): DataFrame = {
    require(minSim > 0 && minSim <= 1, "minSim in (0,1]")
    val toks = materialize(df.select(col(idCol).as("_id"),
      explode(filter(split(normalize(col(textCol)), " "),
        t => length(t) > 0)).as("tok"))
      .distinct())
    val dfs = toks.groupBy("tok").agg(count(lit(1)).as("_df"))
    val sz = toks.groupBy("_id").agg(count(lit(1)).as("_sz"))
    val wDoc = Window.partitionBy(col("_id"))
      .orderBy(col("_df").asc, col("tok").asc)
    val prefix = toks.join(dfs, Seq("tok")).join(sz, Seq("_id"))
      .withColumn("_rnk", row_number().over(wDoc))
      .where(col("_rnk") <= col("_sz") - ceil(lit(minSim) * col("_sz")) + 1)
      .select(col("_id"), col("tok"))
    val cand = prefix.withColumnRenamed("_id", "id_a")
      .join(prefix.withColumnRenamed("_id", "id_b"), Seq("tok"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val inter = cand
      .join(toks.withColumnsRenamed(Map("_id" -> "id_a")), Seq("id_a"))
      .join(toks.withColumnsRenamed(Map("_id" -> "id_b")), Seq("id_b", "tok"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("_inter"))
    inter
      .join(sz.withColumnsRenamed(Map("_id" -> "id_a", "_sz" -> "_sza")), Seq("id_a"))
      .join(sz.withColumnsRenamed(Map("_id" -> "id_b", "_sz" -> "_szb")), Seq("id_b"))
      .withColumn("jaccard",
        col("_inter").cast("double") / (col("_sza") + col("_szb") - col("_inter")))
      .where(col("jaccard") >= minSim)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Asymmetric shingle containment: |A∩B| / |A| — unlike [[jaccardPairs]]
    * this catches a SHORT document wholly quoted inside a long one, where
    * Jaccard stays low because the union is dominated by the long side
    * (the quote/subset-dup signal; pairs emit in both directions when both
    * containments clear the threshold). Same inverted-index shape as the
    * Jaccard path — shingle-keyed join, stop-shingle frequency cap bounds
    * skew AND posting lists — and the score is an exact integer ratio
    * rounded once, so any engine reproduces it.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minContainment: Double,
      maxShingleFreq: Long = 10000L
  ): DataFrame = {
    val sh = explodeShingles(df, idCol, textCol, n)
    val filtered = {
      val freq = sh.groupBy("shingle").agg(count(lit(1)).as("_f"))
        .where(col("_f") <= maxShingleFreq)
      materialize(sh.join(filtered_hint(freq.select("shingle")), Seq("shingle")))
    }
    val sizes = filtered.groupBy(idCol).agg(count(lit(1)).as("_sz"))
    val a = filtered.withColumnsRenamed(Map(idCol -> "id_a"))
    val b = filtered.withColumnsRenamed(Map(idCol -> "id_b"))
    val inter = a.join(b, Seq("shingle"))
      .where(col("id_a") =!= col("id_b")) // directed: (a in b) and (b in a) differ
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("_inter"))
    inter
      .join(sizes.withColumnsRenamed(Map(idCol -> "id_a", "_sz" -> "_sza")), Seq("id_a"))
      .withColumn("containment", col("_inter").cast("double") / col("_sza"))
      .where(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), round(col("containment"), 4).as("containment"))
  }

  /** MinHash signature: for seed s, minhash_s(doc) = min over shingles of
    * md5(s || ':' || shingle). String-min over fixed-length hex is a valid
    * uniform min-hash and is reproducible in any engine with md5 (the
    * correctness oracle recomputes it in DuckDB SQL).
    */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String, n: Int, numHashes: Int
  ): DataFrame = {
    val sh = explodeShingles(df, idCol, textCol, n)
    val seeded = sh.select(col(idCol), explode(sequence(lit(0), lit(numHashes - 1))).as("seed"),
      col("shingle"))
      .withColumn("h", md5(concat(col("seed").cast("string"), lit(":"), col("shingle"))))
    seeded.groupBy(col(idCol), col("seed")).agg(min(col("h")).as("minhash"))
  }

  /** Per-(doc, band) LSH signature: the md5 of the band's sorted
    * seed=minhash rows. Shared by self-join and cross-snapshot candidate
    * generation — both sides must band bit-identically.
    */
  private def bandSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val sig = minhashSignatures(df, idCol, textCol, n, bands * rowsPerBand)
      .withColumn("band", (col("seed") / lit(rowsPerBand)).cast("int"))
    sig.groupBy(col(idCol), col("band"))
      .agg(md5(concat_ws("|", sort_array(collect_list(
        concat(lpad(col("seed").cast("string"), 2, "0"), lit("="), col("minhash")))))).as("bsig"))
  }

  /** MinHash-LSH candidate pairs: band the signature (bands × rowsPerBand =
    * numHashes), hash each band, self-join on (band, bandHash). Pairs agreeing
    * on ≥1 band are candidates; optionally verified by exact jaccard.
    * shingle→minhash→band→bucket-join, all shuffle-keyed on hashes.
    */
  def minhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int
  ): DataFrame = {
    val bandSig = bandSignatures(df, idCol, textCol, n, bands, rowsPerBand)
    val l = bandSig.select(col(idCol).as("id_a"), col("band"), col("bsig"))
    val r = bandSig.select(col(idCol).as("id_b"), col("band"), col("bsig"))
    l.join(r, Seq("band", "bsig")).where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Incremental (cross-snapshot) near-dup detection: which `incoming`
    * docs are near-duplicates of the `existing` corpus — the continuous-
    * ingestion path, where each new crawl batch is deduplicated AGAINST
    * the already-curated corpus instead of re-running the all-corpus
    * self-join. Only cross-side pairs are produced.
    *
    * Scale shape: the existing side's band signatures are a pure
    * function of the text (md5 seeds) — at 100 TB they are computed once
    * and stored with the corpus; each batch then costs
    * O(batch shingles + band-bucket join against the stored signatures).
    * The verify stage joins shingles keyed on (id, shingle), like
    * [[minhashNearDups]].
    */
  def crossNearDups(
      existing: DataFrame, incoming: DataFrame, idCol: String,
      textCol: String, n: Int, bands: Int, rowsPerBand: Int, minSim: Double
  ): DataFrame = {
    val l = bandSignatures(existing, idCol, textCol, n, bands, rowsPerBand)
      .select(col(idCol).as("id_old"), col("band"), col("bsig"))
    val r = bandSignatures(incoming, idCol, textCol, n, bands, rowsPerBand)
      .select(col(idCol).as("id_new"), col("band"), col("bsig"))
    val cand = l.join(r, Seq("band", "bsig"))
      .select("id_old", "id_new").distinct()
    val shO = materialize(explodeShingles(existing, idCol, textCol, n)
      .withColumnsRenamed(Map(idCol -> "id_old")))
    val shN = materialize(explodeShingles(incoming, idCol, textCol, n)
      .withColumnsRenamed(Map(idCol -> "id_new")))
    val szO = shO.groupBy("id_old").agg(count(lit(1)).as("_sza"))
    val szN = shN.groupBy("id_new").agg(count(lit(1)).as("_szb"))
    val inter = cand.join(shO, Seq("id_old"))
      .join(shN, Seq("id_new", "shingle"))
      .groupBy("id_old", "id_new").agg(count(lit(1)).as("_inter"))
    inter.join(szO, Seq("id_old")).join(szN, Seq("id_new"))
      .withColumn("jaccard",
        col("_inter").cast("double") / (col("_sza") + col("_szb") - col("_inter")))
      .where(col("jaccard") >= minSim)
      .select(col("id_old"), col("id_new"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Near-dup pipeline: LSH candidates verified with exact jaccard. */
  def minhashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, minSim: Double
  ): DataFrame = {
    val cand = minhashCandidates(df, idCol, textCol, n, bands, rowsPerBand)
    val sh = materialize(explodeShingles(df, idCol, textCol, n))
    val sizes = sh.groupBy(idCol).agg(count(lit(1)).as("_sz"))
    val inter = cand
      .join(sh.withColumnsRenamed(Map(idCol -> "id_a")), Seq("id_a"))
      .join(sh.withColumnsRenamed(Map(idCol -> "id_b")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("_inter"))
    inter
      .join(sizes.withColumnsRenamed(Map(idCol -> "id_a", "_sz" -> "_sza")), Seq("id_a"))
      .join(sizes.withColumnsRenamed(Map(idCol -> "id_b", "_sz" -> "_szb")), Seq("id_b"))
      .withColumn("jaccard",
        col("_inter").cast("double") / (col("_sza") + col("_szb") - col("_inter")))
      .where(col("jaccard") >= minSim)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** SimHash with an md5-derived 60-bit signature rendered as a '0'/'1'
    * string — bit j comes from hex digit j/4 of md5(token) (MSB-first within
    * the digit), so a SQL engine with md5 (the DuckDB oracle) reproduces the
    * signature bit-for-bit; 60 bits = 15 hex digits keeps every intermediate
    * integral and exact. Each bit is a token-frequency-weighted ±1 vote.
    */
  val SimhashMd5Bits = 60

  def simhashMd5Signatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // pre-aggregate token occurrences to (id, token-hash, weight) before any
    // bit explode, then vote per HEX DIGIT (15 rows/token-hash) and only
    // expand to the 4 bits after a second aggregation — the exploded row
    // count drops from |occurrences|×60 to |distinct tokens|×15 plus a
    // bounded ≤ |ids|×15×16 tail. The vote totals are identical (integer
    // sums reassociated), so the signature — and the DuckDB oracle — is
    // bit-for-bit unchanged.
    val toks = df.select(col(idCol), explode(
      filter(split(normalize(col(textCol)), " "), t => length(t) > 0)).as("tok"))
      .groupBy(col(idCol), md5(col("tok")).as("h"))
      .agg(count(lit(1)).as("w"))
    val digits = toks.select(col(idCol), col("w"),
      explode(sequence(lit(0), lit(SimhashMd5Bits / 4 - 1))).as("p"), col("h"))
      .withColumn("digit", expr("conv(substring(h, p + 1, 1), 16, 10)").cast("int"))
      .groupBy(col(idCol), col("p"), col("digit")).agg(sum(col("w")).as("wsum"))
    val bits = digits.select(col(idCol), col("p"), col("digit"), col("wsum"),
      explode(sequence(lit(0), lit(3))).as("b"))
      .withColumn("j", col("p") * 4 + col("b"))
      .withColumn("v", when(expr("(digit >> (3 - b)) & 1") === 1, col("wsum"))
        .otherwise(-col("wsum")))
    bits.groupBy(col(idCol), col("j")).agg(sum(col("v")).as("s"))
      .withColumn("c", when(col("s") > 0, lit("1")).otherwise(lit("0")))
      .groupBy(col(idCol))
      .agg(array_join(org.apache.spark.sql.functions.transform(
        array_sort(collect_list(struct(col("j"), col("c")))), x => x.getField("c")), "")
        .as("sig"))
  }

  /** Connected components over a near-dup pair list — the dedup-cluster
    * step every pipeline runs AFTER candidate generation (pairs → clusters
    * → one canonical survivor per cluster). Hash-min label propagation:
    * every node starts as its own label; each round every node adopts the
    * minimum label in its neighborhood; converged when a round changes
    * nothing. Rounds needed ≈ component diameter — near-dup components are
    * shallow (dozens of docs), so a handful of keyed joins; each round is
    * one shuffle on the node id, no driver data paths (only the per-round
    * convergence count).
    *
    * Returns (idCol, component) for every node in `nodes`; singletons keep
    * their own id as the component (= the canonical survivor id, since
    * labels propagate the MINIMUM id). `aCol`/`bCol` must share one type
    * (the undirected expansion packs both into one struct array — mixed
    * types fail analysis loudly).
    */
  def connectedComponents(
      nodes: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20
  ): DataFrame = {
    // undirected: both directions, derived from ONE evaluation of `pairs`
    // (a union of two selects would run the upstream candidate pipeline —
    // typically a full MinHash/LSH pass — twice)
    val edges = materialize(pairs
      .select(explode(array(
        struct(col(aCol).as("_src"), col(bCol).as("_dst")),
        struct(col(bCol).as("_src"), col(aCol).as("_dst")))).as("_e"))
      .select(col("_e._src").as("_src"), col("_e._dst").as("_dst"))
      .distinct())
    var labels = materialize(nodes.select(col(idCol).as("_id"))
      .distinct().withColumn("component", col("_id")))
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnsRenamed(Map("_id" -> "_src")), Seq("_src"))
        .groupBy(col("_dst").as("_id"))
        .agg(min(col("component")).as("_nmin"))
      val propagated = labels.join(neighborMin, Seq("_id"), "left")
        .select(col("_id"), col("component").as("_prev"),
          least(col("component"), coalesce(col("_nmin"), col("component")))
            .as("component"))
      // pointer jumping: follow the label one more step (label[label[x]]).
      // Every component value is itself a node id, so the propagated frame
      // doubles as the mapping; this halves the remaining distance to the
      // component minimum each round — convergence in O(log diameter)
      // rounds instead of O(diameter), which matters both at 100 TB (long
      // chains) and in wall-clock (each round is a fixed-cost Spark job).
      val mapping = propagated.select(col("_id").as("_m_id"), col("component").as("_m_comp"))
      // carry the previous label through the round: the convergence probe
      // is then a counter on the round's own materialization job instead
      // of a join of the last two rounds
      val (next, c) = materialize(propagated
        .join(mapping, propagated("component") === mapping("_m_id"), "left")
        .select(col("_id"), col("_prev"),
          least(col("component"), coalesce(col("_m_comp"), col("component")))
            .as("component")),
        count(when(col("component") =!= col("_prev"), lit(1))).as("changed"))
      labels = next.drop("_prev")
      converged = c.getLong(0) == 0L
      it += 1
    }
    // silent partial propagation would split clusters (duplicate canonical
    // survivors) — fail loudly instead; hash-min + pointer jumping needs
    // ~log2(diameter) rounds
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter rounds — " +
        "a component's diameter exceeds the budget; raise maxIter")
    labels.withColumnRenamed("_id", idCol)
  }

  /** Near-dup pairs on the md5 signature: `maxHamming + 1` substring bands
    * (pigeonhole-complete), candidates verified with the true Hamming
    * distance. Fully replicable in the DuckDB oracle.
    */
  def simhashMd5NearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    val n = SimhashMd5Bits
    val nb = math.min(maxHamming + 1, n)
    // parse the '0'/'1' signature into a 60-bit long ONCE per doc: the
    // per-pair Hamming distance is then codegen'd bit_count(xor) instead of
    // an n-term interpreted higher-order aggregate over substrings
    val sig = simhashMd5Signatures(df, idCol, textCol)
      .withColumn("_signum", conv(col("sig"), 2, 10).cast("long"))
    val banded = sig.select(col(idCol), col("sig"), col("_signum"),
      explode(sequence(lit(0), lit(nb - 1))).as("band"))
      .withColumn("_lo", (col("band") * n / nb).cast("int"))
      .withColumn("_len", ((col("band") + 1) * n / nb).cast("int") - col("_lo"))
      .withColumn("bandval", col("sig").substr(col("_lo") + 1, col("_len")))
    val l = banded.select(col(idCol).as("id_a"), col("_signum").as("_sn_a"), col("band"), col("bandval"))
    val r = banded.select(col(idCol).as("id_b"), col("_signum").as("_sn_b"), col("band"), col("bandval"))
    // dedup candidate pairs before scoring: a pair agreeing on several
    // bands would otherwise be scored once per band
    l.join(r, Seq("band", "bandval")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("_sn_a"), col("_sn_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("_sn_a").bitwiseXOR(col("_sn_b"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Golden-record survivorship (the MDM/entity-resolution endgame,
    * Christen 2012 ch. 6): match pairs resolve to transitive clusters
    * ([[connectedComponents]], hash-min labels = each cluster's min id),
    * then every attribute fuses INDEPENDENTLY by (priority, id) argmax
    * over non-null values — "most trusted source wins per field", so the
    * fused row can mix fields from different members (the point of
    * survivorship, vs [[graft.ext.Corpus.clusterSurvivors]] which keeps
    * one whole row).
    *
    * Exact struct-max argmax (ties break on the member id) — no windows;
    * one keyed aggregate after the component join.
    */
  def goldenRecords(records: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      priorityCol: String, attrCols: Seq[String]): DataFrame = {
    require(attrCols.nonEmpty, "need at least one attribute to fuse")
    val comps = connectedComponents(records.select(col(idCol)), idCol,
      pairs, aCol, bCol)
    val fusions = attrCols.map { c =>
      max(when(col(c).isNotNull,
        struct(col(priorityCol).as("p"), col(idCol).as("i"), col(c).as("v"))))
        .getField("v").as(c)
    }
    records.join(comps, Seq(idCol))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"), fusions: _*)
  }
}
