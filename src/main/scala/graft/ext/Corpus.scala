package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.graph.Rounds.materialize

/** Corpus-curation operators for large-scale training-data pipelines
  * (extension surface alongside [[Dedup]]/[[TextAnalysis]]/[[Similarity]]):
  * deterministic train/val/test splitting, stratified sampling, benchmark
  * contamination checks, per-group top-k curation, intra-document repetition
  * scoring, and per-cluster survivor selection.
  *
  * Determinism contract: sampling/splitting decisions hash the ROW IDENTITY
  * (md5 of the id rendered as a string), never `rand()` — so membership is
  * reproducible across runs, engines, partitionings, and retries, and any
  * SQL engine with md5 can replicate (the DuckDB oracles do). All operators
  * are narrow column programs or keyed shuffles — no driver data paths.
  */
object Corpus {

  /** Lexicographic md5 threshold for a cumulative fraction `f`: the first 8
    * hex chars interpreted as a uniform draw in [0, 16^8). String comparison
    * against the 32-char digest is exact in any engine (an 8-char prefix
    * sorts before any proper extension of itself, so boundary digests land
    * in the upper bucket consistently).
    */
  private[ext] def hexThreshold(f: Double): String = {
    val clamped = math.min(math.max(f, 0.0), 1.0)
    val n = math.min(math.floor(clamped * 4294967296.0).toLong, 4294967295L)
    f"$n%08x"
  }

  /** Deterministic split assignment: md5(id) against cumulative weight
    * thresholds. Weights need not sum to 1 (they are normalized). The last
    * bucket is the fall-through, so every row is assigned — including rows
    * with a NULL id (null comparisons are null → fall-through), which a
    * caller should treat as a data-quality signal, not a split.
    */
  def splitColumn(idCol: Column, weights: Seq[(String, Double)]): Column = {
    require(weights.size >= 2, "need at least two split buckets")
    require(weights.forall(_._2 > 0), "split weights must be positive")
    val total = weights.map(_._2).sum
    val h = md5(idCol.cast("string"))
    val cum = weights.map(_._2).scanLeft(0.0)(_ + _).tail.map(_ / total)
    val cases = weights.init.map(_._1).zip(cum.init)
    cases.reverse.foldLeft(lit(weights.last._1)) { case (els, (name, c)) =>
      when(h < lit(hexThreshold(c)), lit(name)).otherwise(els)
    }
  }

  /** Train/val/test (or any n-way) split: adds `split` assigned by identity
    * hash — stable under reruns, re-partitioning, and incremental appends
    * (a new row never moves an old row's bucket, unlike rand()/randomSplit).
    */
  def hashSplit(df: DataFrame, idCol: String,
      weights: Seq[(String, Double)]): DataFrame =
    df.withColumn("split", splitColumn(col(idCol), weights))

  /** Deterministic stratified sampling: per-stratum keep rates, identity-
    * hashed membership. At 100 TB this is a narrow filter — no shuffle, no
    * sort, and the same rows survive on every run.
    */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
      rates: Map[String, Double], defaultRate: Double): DataFrame = {
    val thr = rates.toSeq.sortBy(_._1).foldLeft(lit(hexThreshold(defaultRate))) {
      case (els, (stratum, r)) =>
        when(col(stratumCol) === stratum, lit(hexThreshold(r))).otherwise(els)
    }
    df.where(md5(col(idCol).cast("string")) < thr)
  }

  /** The ONE definition of the deterministic global-shuffle layout shared
    * by [[exportShards]] and [[packSequences]] (their orderings — and the
    * oracles mirroring them — must never drift apart): `shard` is a
    * uniform md5 draw mod `nShards`, `_ord` an INDEPENDENT md5 draw
    * ordering rows within their shard.
    */
  private def shardDraw(idCol: String, nShards: Int): Column =
    conv(substring(md5(concat(lit("s:"), col(idCol).cast("string"))),
      1, 8), 16, 10).cast("long") % nShards

  private def orderDraw(idCol: String): Column =
    md5(concat(lit("o:"), col(idCol).cast("string")))

  /** Deterministic training-export sharding: a reproducible global shuffle.
    * Every row gets a `shard` (uniform md5 draw mod `nShards`, independent
    * of the input key distribution — so shards balance even when ids or
    * sources are skewed) and a `pos` within its shard (rank of a SECOND,
    * independent md5 ordering hash), decorrelating neighbors so training
    * readers see an i.i.d.-looking stream without a random_shuffle pass.
    *
    * Scale shape: one hash exchange on `shard` + a per-shard sort — the
    * same cost as writing the output partitioned; no skew, no driver
    * state. Assignment is append-stable (a row's shard never changes as
    * the corpus grows; only in-shard positions shift).
    */
  def exportShards(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val w = Window.partitionBy(col("shard")).orderBy(col("_ord"), col(idCol))
    df.withColumn("shard", shardDraw(idCol, nShards))
      .withColumn("_ord", orderDraw(idCol))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("_ord")
  }

  /** Top-k rows per group by descending score with a deterministic id
    * tiebreak — the curation step after quality scoring ("keep the best k
    * docs per language/domain"). One keyed shuffle (window partition).
    */
  def topKPerGroup(df: DataFrame, groupCol: String, scoreCol: String,
      idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol).desc, col(idCol))
    df.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Keep the top `q` FRACTION of rows per group by descending score
    * (id tiebreak) — "best 25% per language/domain" curation, where the
    * per-group keep count scales with group size instead of a fixed k.
    * keep = ceil(q·n) so every non-empty group keeps ≥ 1 row.
    *
    * Scale shape: one keyed shuffle; the ranked window and the group
    * count share the same partitioning (single exchange). For corpora
    * where a full per-group sort is too hot, pre-thin with an
    * approx-quantile score threshold and run this on the survivors.
    */
  def quantileFilterPerGroup(df: DataFrame, groupCol: String,
      scoreCol: String, idCol: String, q: Double): DataFrame = {
    require(q > 0 && q <= 1, "q must be in (0, 1]")
    val part = Window.partitionBy(col(groupCol))
    val w = part.orderBy(col(scoreCol).desc, col(idCol))
    df.withColumn("rank", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(part))
      .where(col("rank") <= ceil(lit(q) * col("_n")))
      .drop("_n")
  }

  /** [[topKPerGroup]] through the native [[graft.expr.BoundedTopK]]
    * aggregate instead of a window. Same rows, same tiebreak — but the
    * window plan shuffles and sorts EVERY input row per group, while the
    * bounded-heap aggregate partial-aggregates map-side: the exchange
    * carries at most k pairs per (group, input partition). This is the
    * variant to use at corpus scale; the window variant stays as the
    * oracle-shaped reference implementation.
    */
  def topKPerGroupAgg(df: DataFrame, groupCol: String, scoreCol: String,
      idCol: String, k: Int): DataFrame = {
    val scoreType = df.schema(scoreCol).dataType
    df.groupBy(col(groupCol))
      .agg(graft.expr.BoundedTopK.topKPairs(k, col(scoreCol), col(idCol)).as("_topk"))
      .select(col(groupCol), posexplode(col("_topk")).as(Seq("_pos", "_pair")))
      .select(col(groupCol),
        (col("_pos") + 1).cast("int").as("rank"),
        col("_pair.payload").as(idCol),
        col("_pair.score").cast(scoreType).as(scoreCol))
  }

  /** Intra-document repetition ratio: 1 − distinct/total word n-grams.
    * 0 = no repeated n-gram, →1 = highly repetitive (the boilerplate/spam
    * signal used by C4/Gopher-style filters — public heuristics). Narrow
    * per-row column math.
    */
  def repetitionScore(textCol: Column, n: Int): Column = {
    val toks = filter(split(Dedup.normalize(textCol), " "), t => length(t) > 0)
    val total = size(toks) - (n - 1)
    val distinctN = size(Dedup.shingles(textCol, n))
    when(total <= lit(0), lit(0.0))
      .otherwise(round(lit(1.0) - distinctN.cast("double") / total.cast("double"), 4))
  }

  /** Benchmark-contamination check: corpus documents sharing at least one
    * word n-gram with an evaluation set. Returns one row per contaminated
    * corpus doc with the count of distinct shared n-grams and of distinct
    * eval docs hit.
    *
    * Scale shape: both sides explode to (doc, shingle) and join keyed on the
    * shingle — the eval side is small (an eval suite), so Spark broadcasts
    * it; the corpus side never collects. Stop-shingle skew is bounded by the
    * eval side's size.
    */
  def contamination(corpus: DataFrame, idCol: String, textCol: String,
      evalSet: DataFrame, evalIdCol: String, evalTextCol: String,
      n: Int): DataFrame = {
    val c = Dedup.explodeShingles(corpus, idCol, textCol, n)
    val e = Dedup.explodeShingles(evalSet, evalIdCol, evalTextCol, n)
      .withColumnRenamed(evalIdCol, "_eval_id")
    c.join(broadcast(e), Seq("shingle"))
      .groupBy(col(idCol))
      .agg(count_distinct(col("shingle")).as("n_shared_ngrams"),
        count_distinct(col("_eval_id")).as("n_eval_docs"))
  }

  /** Approximate token-count quantiles — the 100 TB path: a mergeable
    * sketch (bounded memory per partition) instead of [[tokenQuantiles]]'s
    * exact value multiset. `accuracy` trades memory for error ≤ 1/accuracy
    * rank fraction.
    */
  def tokenQuantilesApprox(df: DataFrame, textCol: String, qs: Seq[Double],
      accuracy: Int = 10000): DataFrame = {
    val n = TextAnalysis.tokenCount(col(textCol)).cast("double")
    df.agg(percentile_approx(n, lit(qs.toArray), lit(accuracy)).as("p"))
      .select(posexplode(col("p")).as(Seq("i", "value")))
      .select(element_at(lit(qs.toArray), col("i").cast("int") + 1).as("q"),
        col("value"))
  }

  /** Token-count histogram: corpus length distribution in fixed-width
    * buckets — the standard first look at a training corpus. One keyed
    * shuffle on the bucket id (cardinality = corpus-max/width, tiny).
    */
  def tokenHistogram(df: DataFrame, textCol: String, bucketWidth: Int): DataFrame = {
    val n = TextAnalysis.tokenCount(col(textCol))
    df.groupBy((floor(n / bucketWidth) * bucketWidth).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Exact token-count quantiles (linear interpolation — Spark `percentile`
    * and SQL `quantile_cont` share the definition, so the result is
    * engine-checkable). Exact percentile holds the value multiset per
    * group; at 100 TB switch to `percentile_approx` and accept the sketch
    * bound — this operator is the exact (oracle-able) reference point.
    */
  def tokenQuantiles(df: DataFrame, textCol: String, qs: Seq[Double]): DataFrame = {
    val n = TextAnalysis.tokenCount(col(textCol)).cast("double")
    df.agg(percentile(n, lit(qs.toArray)).as("p"))
      .select(posexplode(col("p")).as(Seq("i", "value")))
      .select(element_at(lit(qs.toArray), col("i").cast("int") + 1).as("q"),
        round(col("value"), 4).as("value"))
  }

  /** Distributed sequence packing for training export (concat-then-chunk,
    * the standard GPT-style pretraining layout): documents are laid out in
    * the deterministic pseudo-random global order of [[exportShards]]
    * (shard = one md5 draw, in-shard order = an independent md5 draw),
    * token counts accumulate along that order, and each document is
    * assigned the training sequence (`seq_id`) and intra-sequence offset
    * (`seq_offset`) where its FIRST token lands for a fixed `budget`
    * tokens per sequence. Documents may straddle sequence boundaries —
    * the reader splits on the budget with EOS separators, as pretraining
    * loaders do.
    *
    * Scale shape: the global running sum is a two-phase prefix sum — a
    * per-shard window cumsum (one hash exchange on `shard`, uniform by
    * construction) plus shard base offsets derived from the nShards-row
    * shard-total aggregate, broadcast back. No global single-partition
    * window, no driver data path beyond nShards longs.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      budget: Int, nShards: Int = 64): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(nShards > 0, "nShards must be positive")
    val base = df
      .withColumn("shard", shardDraw(idCol, nShards))
      .withColumn("_ord", orderDraw(idCol))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col(textCol)).cast("long"))
    val w = Window.partitionBy(col("shard")).orderBy(col("_ord"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withCum = base.withColumn("_cum_in",
      coalesce(sum(col("n_tokens")).over(w), lit(0L)))
    // shard totals: nShards rows — the only global state, broadcast back
    // (single-partition window over nShards rows, by construction tiny)
    val wb = Window.partitionBy(lit(0)).orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = base.groupBy("shard").agg(sum("n_tokens").as("_shard_total"))
      .withColumn("_base", coalesce(sum(col("_shard_total")).over(wb), lit(0L)))
      .select(col("shard"), col("_base"))
    withCum.join(broadcast(bases), Seq("shard"))
      .withColumn("_start", col("_base") + col("_cum_in"))
      .withColumn("seq_id", floor(col("_start") / budget).cast("long"))
      .withColumn("seq_offset", (col("_start") % budget).cast("long"))
      .drop("_ord", "_cum_in", "_base", "_start")
  }

  /** Per-sequence boundary metadata for [[packSequences]] output: the
    * cu_seqlens table — for each packed sequence, the cumulative token
    * offsets where member documents start, plus the final end — the shape
    * block-diagonal attention kernels take to reset masks at document
    * boundaries (the public varlen-attention interface). Offsets are
    * contiguous within a sequence by construction, so the end of doc i is
    * the start of doc i+1 and the array is strictly increasing; a doc
    * overhanging the budget boundary shows as an end past `budget` (its
    * tail flows into the next chunk — the concat-then-chunk contract).
    * Emitted as a comma-joined string (stable to compare engine-to-engine).
    *
    * Scale shape: one keyed groupBy on seq_id; the per-sequence list is
    * bounded by budget / min-doc-tokens members.
    */
  def packBoundaries(packed: DataFrame): DataFrame =
    packed.groupBy(col("seq_id")).agg(
      count(lit(1)).as("n_docs"),
      array_sort(collect_list(struct(col("seq_offset"), col("n_tokens"))))
        .as("_docs"),
      max(col("seq_offset") + col("n_tokens")).as("_end"))
      .select(col("seq_id"), col("n_docs"),
        array_join(concat(
          org.apache.spark.sql.functions.transform(col("_docs"),
            x => x.getField("seq_offset").cast("string")),
          array(col("_end").cast("string"))), ",").as("cu_seqlens"))

  /** CCNet-style unigram language-model scoring: every document's negative
    * mean log-likelihood under the corpus's OWN unigram distribution.
    * Low score = built from common corpus tokens (in-domain, fluent-ish);
    * high score = rare-token-heavy (the tail a perplexity filter trims).
    * The reference filter uses a pretrained KenLM; with no model shippable
    * here the corpus itself is the training set — the operator shape
    * (train counts → score per doc) is identical.
    *
    * Scale shape: vocab counts are a map-side-combinable groupBy on the
    * token; scoring joins exploded tokens back to the vocab keyed on the
    * token. Token frequencies are Zipfian — hot keys ('the') are exactly
    * what AQE skew-join splitting handles, and the vocab (distinct tokens,
    * orders of magnitude smaller than the corpus) broadcasts when under
    * the threshold. Documents with no tokens are omitted (no likelihood).
    */
  def unigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(filter(split(Dedup.normalize(col(textCol)), " "),
        t => length(t) > 0)).as("_tok"))
    val vocab = toks.groupBy("_tok").agg(count(lit(1)).as("_cnt"))
    val total = vocab.agg(sum("_cnt").as("_total"))
    toks.join(vocab, Seq("_tok"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(round(avg(-log(col("_cnt").cast("double") / col("_total"))), 4)
        .as("lm_score"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, public method —
    * hashed-n-gram variant simplified to unigrams): per-document mean
    * log-likelihood ratio `ln p_target(w) − ln p_raw(w)` under add-k
    * smoothed unigram models, where the target model is estimated from
    * the rows matching `targetCol` and the raw model from the whole
    * corpus. High `llr` = "looks like the target domain" — the standard
    * importance-resampling signal for domain-matched pretraining
    * selection (also readable as a binary Naive-Bayes domain score).
    *
    * Determinism: each vocab word's ratio is quantized ONCE to integer
    * micro-nats, so per-document sums are exact and order-free (same
    * contract as [[bigramLmScore]]). Scale shape: one conditional-sum
    * groupBy builds both models' counts in a single pass (vocab-sized
    * output); the quantized ratio table joins back onto the exploded
    * tokens keyed on the word — Zipfian hot words are the AQE skew-join
    * case; totals are a 1-row broadcast. Documents with zero tokens are
    * omitted (no model evidence either way).
    */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
      targetCol: String, addK: Double = 0.5): DataFrame = {
    require(addK > 0, "addK must be positive")
    val toks = df.select(col(idCol), col(targetCol).cast("boolean").as("_tgt"),
      explode(filter(split(Dedup.normalize(col(textCol)), " "),
        t => length(t) > 0)).as("_tok"))
    val counts = toks.groupBy("_tok").agg(
      count(lit(1)).as("_cs"),
      sum(when(col("_tgt"), 1L).otherwise(0L)).as("_ct"))
    val totals = counts.agg(sum("_cs").as("_ns"), sum("_ct").as("_nt"),
      count(lit(1)).as("_v"))
    val q = counts.crossJoin(broadcast(totals)).select(col("_tok"),
      round((log((col("_ct") + lit(addK)) / (col("_nt") + lit(addK) * col("_v"))) -
        log((col("_cs") + lit(addK)) / (col("_ns") + lit(addK) * col("_v"))))
        * 1e6, 0).cast("long").as("_q"))
    toks.join(q, Seq("_tok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        // + 0.0 canonicalizes IEEE −0.0 (a tiny negative sum rounding to
        // zero keeps its sign bit and would hash-differ from +0.0)
        (round(sum(col("_q")).cast("double") / 1e6 / count(lit(1)), 4)
          + lit(0.0)).as("llr"))
  }

  /** Per-group robust scaling: `(x − median) / IQR` with the group's EXACT
    * median and interquartile range — the outlier-insensitive normalizer
    * for quality/length metrics before cross-domain thresholding (a fixed
    * global cutoff over-prunes verbose domains; robust z-scores compare).
    * Groups with IQR = 0 (constant metric) scale to 0 rather than NaN.
    *
    * Scale shape: one exact-percentile aggregate per group (rows =
    * #groups) broadcast back onto the corpus; the scan stays narrow.
    * Exact percentiles keep the oracle bit-faithful; swap
    * `percentile_approx` in at corpus scale (same plan shape, sketch
    * merge instead of full sort).
    */
  def robustScale(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val stats = df.groupBy(col(groupCol))
      .agg(percentile(v, lit(Array(0.25, 0.5, 0.75))).as("_p"))
      .select(col(groupCol), col("_p")(1).as("_med"),
        (col("_p")(2) - col("_p")(0)).as("_iqr"))
    df.join(broadcast(stats), Seq(groupCol))
      .withColumn("robust_z", round(
        when(col("_iqr") === 0.0, 0.0)
          .otherwise((v - col("_med")) / col("_iqr")), 4))
      .drop("_med", "_iqr")
  }

  /** Bigram LM scoring with add-k smoothing — the conditional upgrade of
    * [[unigramLmScore]]: negative mean log-likelihood of each document's
    * adjacent-token pairs under the corpus's own bigram model,
    * `P(w2|w1) = (c(w1 w2) + a) / (h(w1) + a·V)` with `h(w1)` the history
    * count (bigrams starting at w1) and `V` the corpus vocabulary size.
    * Fluent in-domain text scores low; token-salad and boilerplate-stitched
    * text scores high even when every individual token is common — the
    * signal unigram models cannot see.
    *
    * Determinism: each pair's −ln P is quantized to integer micro-nats
    * (`round(×1e6)` as long), so the per-document sum is exact and
    * order-free; the mean is one fixed-shape divide (same contract as
    * [[tfidfTopK]]'s quantized idf²). Scale shape: bigram and history
    * counts are map-side-combinable groupBys keyed on the pair/token;
    * scoring joins each document's pairs back keyed on the bigram —
    * Zipfian hot pairs are the AQE skew-join case; V is a driver scalar
    * (one distinct count). Documents with < 2 tokens are omitted.
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String,
      addK: Double = 0.5): DataFrame = {
    require(addK > 0, "addK must be positive")
    val toks = filter(split(Dedup.normalize(col(textCol)), " "), t => length(t) > 0)
    val docs = df.select(col(idCol), toks.as("_t")).where(size(col("_t")) >= 2)
    val pairs = docs.select(col(idCol), explode(
      org.apache.spark.sql.functions.transform(
        sequence(lit(1), size(col("_t")) - 1),
        i => struct(element_at(col("_t"), i).as("w1"),
          element_at(col("_t"), i + 1).as("w2")))).as("_p"))
      .select(col(idCol), col("_p.w1").as("w1"), col("_p.w2").as("w2"))
    val biCnt = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("_cb"))
    val hist = pairs.groupBy("w1").agg(count(lit(1)).as("_ch"))
    val vocabSize = df.select(explode(toks).as("_tok"))
      .select("_tok").distinct().count()
    val qln = round(-log((col("_cb") + lit(addK)) /
      (col("_ch") + lit(addK * vocabSize))) * 1e6, 0).cast("long")
    pairs
      .join(biCnt, Seq("w1", "w2"))
      .join(hist, Seq("w1"))
      .withColumn("_q", qln)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("_q")).cast("double") / 1e6 / count(lit(1)), 4)
          .as("lm2_score"))
  }

  /** Temperature-scaled mixture weights (the T5/mT5 multilingual sampling
    * recipe, public): weight_d ∝ tokens_d^tau, normalized. tau = 1 keeps
    * natural proportions; tau → 0 flattens toward uniform, up-sampling
    * low-resource domains. Feed the result into [[mixturePlan]] /
    * [[weightedSamplePerGroup]].
    *
    * One corpus scan (map-side-combinable token count; result rows =
    * #domains). Determinism: the scaled size q_d = round(tokens^tau × 1e6)
    * is an integer, the normalizer is an exact integer sum, and the final
    * weight is one fixed-shape divide — at tau = 0.5 (the common setting)
    * `pow` is IEEE-exact sqrt, so any engine reproduces the weights
    * bit-for-bit; other taus carry the last-ulp pow caveat documented on
    * [[weightedSample]].
    */
  def temperatureWeights(df: DataFrame, domainCol: String, textCol: String,
      tau: Double): DataFrame = {
    require(tau > 0 && tau <= 1, "tau in (0, 1]")
    val q = round(pow(col("available_tokens").cast("double"), lit(tau)) * 1e6, 0)
      .cast("long")
    val scaled = df
      .groupBy(col(domainCol).cast("string").as("domain"))
      .agg(sum(TextAnalysis.tokenCount(col(textCol)).cast("long"))
        .as("available_tokens"))
      .withColumn("_q", q)
    // the normalizer is a tiny exact-integer sum — computed per row via a
    // windowless self-aggregate would be another shuffle; the domain table
    // is ≤ #domains rows, so collect it once (mixturePlan's pattern)
    val total = Option(scaled.select(sum(col("_q"))).collect().head.get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    require(total > 0, "temperatureWeights: corpus has no tokens in any domain")
    scaled.withColumn("weight",
      round(col("_q").cast("double") / lit(total.toDouble), 6))
      .select(col("domain"), col("available_tokens"), col("weight"))
  }

  /** Epoch-capped data-mixture planning (the standard pretraining mixing
    * computation — public practice in LLM corpus reports): given target
    * domain fractions and the corpus's available tokens per domain, find
    * the LARGEST total training budget `T` such that no domain repeats
    * more than `maxEpochs` times — `T = min over domains of
    * maxEpochs · available_d / frac_d` — then plan `frac_d · T` tokens per
    * domain. `epochs < 1` means subsample (feed [[stratifiedSample]] /
    * [[hashSplit]] rates); `epochs > 1` means repeat. Domains absent from
    * `targetWeights` are excluded from the plan (weight 0).
    *
    * Scale shape: one map-side-combinable groupBy on the domain — the
    * result is one row per domain, so the min-over-plan window is tiny by
    * construction (and the validation action below is over those same
    * few rows, never the corpus). The corpus is scanned once, two columns.
    *
    * Every `targetWeights` domain must have tokens in the corpus: a
    * weighted domain with zero available tokens makes the maxEpochs
    * contract unsatisfiable for any positive budget (the plan would
    * silently train on a different mixture than asked), so this raises
    * instead.
    */
  def mixturePlan(df: DataFrame, domainCol: String, textCol: String,
      targetWeights: Map[String, Double], maxEpochs: Double = 4.0): DataFrame = {
    require(targetWeights.nonEmpty, "need at least one target domain")
    require(targetWeights.values.forall(_ > 0), "target weights must be positive")
    require(maxEpochs > 0, "maxEpochs must be positive")
    val wSum = targetWeights.values.sum
    val fracExpr = targetWeights.toSeq.sortBy(_._1)
      .foldLeft(lit(null).cast("double")) { case (els, (dom, w)) =>
        when(col("domain") === dom, lit(w / wSum)).otherwise(els)
      }
    // ONE corpus scan: the per-domain aggregate (rows = #domains) is
    // collected for validation AND becomes the source of the returned
    // plan — re-deriving the frame from the corpus would pay the scan a
    // second time on the caller's first action
    val availRows = df
      .groupBy(col(domainCol).cast("string").as("domain"))
      .agg(sum(TextAnalysis.tokenCount(col(textCol)).cast("long"))
        .as("available_tokens"))
      .withColumn("_frac", fracExpr)
      .where(col("_frac").isNotNull)
      .collect()
    val present = availRows
      .filter(_.getAs[Long]("available_tokens") > 0).map(_.getString(0)).toSet
    val missing = targetWeights.keySet -- present
    require(missing.isEmpty,
      s"target domains with no corpus tokens: ${missing.toSeq.sorted.mkString(", ")}")
    val spark = df.sparkSession
    import spark.implicits._
    val avail = availRows.toSeq
      .map(r => (r.getString(0), r.getAs[Long]("available_tokens"),
        r.getAs[Double]("_frac")))
      .toDF("domain", "available_tokens", "_frac")
    val wAll = Window.partitionBy(lit(0)) // one row per planned domain
    avail
      .withColumn("_budget", min(col("available_tokens") * maxEpochs / col("_frac")).over(wAll))
      .withColumn("planned_tokens", floor(col("_frac") * col("_budget")).cast("long"))
      .withColumn("epochs",
        round(col("planned_tokens").cast("double") / col("available_tokens"), 4))
      .select(col("domain"), col("available_tokens"),
        round(col("_frac"), 4).as("target_frac"),
        col("planned_tokens"), col("epochs"))
  }

  /** Per-cluster canonical survivor by best score (ties → smallest id):
    * the step after [[Dedup.connectedComponents]] — keep the best-quality
    * representative of every near-dup cluster. One keyed join + one window
    * shuffle on the component id.
    */
  def clusterSurvivors(clusters: DataFrame, idCol: String, componentCol: String,
      scored: DataFrame, scoreCol: String): DataFrame = {
    val joined = clusters.join(scored.select(col(idCol), col(scoreCol)), Seq(idCol))
    val w = Window.partitionBy(col(componentCol)).orderBy(col(scoreCol).desc, col(idCol))
    joined.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .select(col(componentCol), col(idCol).as("survivor_id"), col(scoreCol))
  }

  /** C4-style exact cross-document span deduplication: chunk every document
    * into consecutive `spanWords`-word spans, keep only the GLOBALLY FIRST
    * occurrence of each span (smallest (doc, position) — C4 removed
    * repeated three-sentence spans the same way; this operates on word
    * windows since spans, not sentences, are what survive normalization),
    * and reassemble each document from its surviving spans.
    *
    * Returns (idCol, n_spans, n_kept, dedup_text); documents whose every
    * span appeared earlier elsewhere come back with n_kept = 0 and "".
    * Dedup keys are CASE-INSENSITIVE (the shared normalizer), but the
    * reassembled text keeps the original casing — only inter-token
    * whitespace is collapsed, an inherent cost of token-wise reassembly.
    *
    * Scale shape: one groupBy keyed on the span hash (min is map-side
    * combinable, so boilerplate spans shared by millions of docs reduce
    * before the shuffle), one join back on the same hash, and one group per
    * doc to reassemble. No driver paths; the span table is the only wide
    * state and it is hash-keyed and uniform.
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
      spanWords: Int): DataFrame = {
    require(spanWords >= 1, "spanWords must be positive")
    // case-preserving tokens for OUTPUT; the dedup key lowercases below
    val toks = filter(
      split(trim(regexp_replace(col(textCol), "\\s+", " ")), " "),
      t => length(t) > 0)
    val nSpans = ceil(size(toks).cast("double") / spanWords).cast("int")
    val spans = org.apache.spark.sql.functions.transform(
      sequence(lit(0), nSpans - 1),
      i => array_join(slice(toks, i * spanWords + 1, lit(spanWords)), " "))
    val exploded = df
      .select(col(idCol), posexplode(when(size(toks) > 0, spans)
        .otherwise(array())).as(Seq("pos", "span")))
      .withColumn("_h", md5(lower(col("span"))))
    val firsts = exploded.groupBy(col("_h"))
      .agg(min(struct(col(idCol), col("pos"))).as("_first"))
    val kept = exploded.join(firsts, Seq("_h"))
      .where(col(idCol) === col(s"_first.$idCol") && col("pos") === col("_first.pos"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(org.apache.spark.sql.functions.transform(
          array_sort(collect_list(struct(col("pos"), col("span")))),
          s => s("span")), " ").as("dedup_text"))
    df.select(col(idCol), nSpans.cast("long").as("n_spans"))
      .join(kept, Seq(idCol), "left")
      .na.fill(0L, Seq("n_kept")).na.fill("", Seq("dedup_text"))
  }

  /** BM25 relevance scoring (Robertson/Spärck Jones; the standard lexical
    * retrieval baseline) of every document against a fixed query-term set:
    * score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) with
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).
    *
    * Determinism: per-term contributions are summed in SORTED TERM ORDER as
    * a fixed fold of conditional aggregates (never a floating sum whose
    * accumulation order depends on partitioning), so scores are reproducible
    * bit-for-bit across runs and engines.
    *
    * Scale shape: tokens are filtered to the query terms AT THE EXPLODE
    * (isin on a literal set — Catalyst prunes before the shuffle), so the
    * keyed state is |docs containing a query term| × |terms|, not the
    * corpus token count. Corpus stats (N, avgdl, per-term df) are a handful
    * of rows and broadcast.
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    val terms = queryTerms.map(_.toLowerCase).distinct.sorted
    val toks = filter(split(Dedup.normalize(col(textCol)), " "), t => length(t) > 0)
    val docs = df.select(col(idCol), toks.as("_t"))
      .withColumn("dl", size(col("_t")).cast("double"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = docs
      .select(col(idCol), col("dl"),
        explode(filter(col("_t"), t => t.isin(terms: _*))).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(count_distinct(col(idCol)).cast("double").as("df"))
    val contrib = tf
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("_c",
        col("idf") * col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    // fixed-order sum: one conditional aggregate per sorted term, folded
    // left-to-right — each sum sees at most one non-null row per doc
    val perTerm = terms.map(t =>
      coalesce(sum(when(col("term") === t, col("_c"))), lit(0.0)))
    contrib.groupBy(col(idCol))
      .agg(round(perTerm.reduceLeft(_ + _), 4).as("bm25"),
        count(lit(1)).as("n_matched_terms"))
  }

  /** Class-based TF-IDF (Grootendorst 2022, "BERTopic"'s c-TF-IDF — the
    * per-cluster characteristic-terms summary): each class is treated as
    * one concatenated pseudo-document and score(t, c) = tf(t, c) ·
    * ln(1 + A / f(t)) with tf(t, c) = occurrences of t in class c,
    * f(t) = corpus-wide occurrences, A = average tokens per class.
    * Returns the top-k terms per class — "what is this cluster about".
    *
    * Determinism: tf, f and A derive from exact integer counts; the
    * score is ONE fixed-shape double expression per (class, term) row,
    * quantized to integer micro-units before the bounded-heap top-k
    * (desc score, asc term tiebreak).
    *
    * Scale shape: two counting groupBys (map-side combinable) and a
    * term-keyed join of the (class, term) table against the term table;
    * Zipf-hot terms carry one row per class — no posting-list blowup.
    */
  def classTfidf(df: DataFrame, textCol: String, classCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val toks = materialize(df.select(col(classCol).as("class"),
      explode(filter(split(Dedup.normalize(col(textCol)), " "),
        t => length(t) > 0)).as("term")))
    val tf = toks.groupBy("class", "term").agg(count(lit(1)).as("_tf"))
    val f = toks.groupBy("term").agg(count(lit(1)).as("_f"))
    val stats = toks.agg(count(lit(1)).as("_total"),
      count_distinct(col("class")).as("_nc"))
    val scored = tf.join(f, Seq("term")).crossJoin(broadcast(stats))
      .withColumn("_q", round(col("_tf") * log(lit(1.0) +
        (col("_total").cast("double") / col("_nc").cast("double")) /
          col("_f").cast("double")) * lit(1e6), 0).cast("long"))
    topKPerGroupAgg(scored.select(col("class"), col("term"), col("_q")),
      "class", "_q", "term", k)
      .select(col("class"), col("rank").cast("long").as("rank"),
        col("term"), col("_q").as("ctfidf_micro"))
  }

  /** Fixed-size token-window chunking with overlap — the context-window
    * layout step for retrieval corpora and long-document pretraining
    * (cf. [[packSequences]], which concatenates ACROSS documents; this
    * splits WITHIN them). Chunk i covers tokens `[i·stride, i·stride +
    * chunkTokens)` with `stride = chunkTokens − overlapTokens`; the last
    * chunk may be short; empty documents yield no chunks.
    *
    * Scale shape: pure narrow per-row column math (tokenize → generate
    * starts → slice) — no shuffle at any scale; chunk ids derive from the
    * start offset, so output is deterministic and append-stable.
    */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlapTokens: Int = 0): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      "overlap must be in [0, chunkTokens)")
    val stride = chunkTokens - overlapTokens
    val toks = filter(split(Dedup.normalize(col(textCol)), " "), t => length(t) > 0)
    df.select(col(idCol), toks.as("_t"))
      .where(size(col("_t")) > 0)
      .select(col(idCol), col("_t"),
        posexplode(sequence(lit(0), size(col("_t")) - 1, lit(stride)))
          .as(Seq("chunk_id", "_st")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        slice(col("_t"), col("_st") + 1, lit(chunkTokens)).as("_c"))
      .select(col(idCol), col("chunk_id"),
        size(col("_c")).cast("long").as("n_tokens"),
        array_join(col("_c"), " ").as("chunk_text"))
  }

  /** Sparse lexical similarity: TF-IDF cosine top-k through an inverted
    * index — the term-keyed counterpart of the dense-embedding ANN path
    * (near-dup mining, lexical retrieval, query-document matching without
    * an embedding model).
    *
    * Scale shape: both sides reduce to (doc, term, tf) postings via a
    * partial-aggregating groupBy; candidate generation is an equi-join ON
    * THE TERM (the inverted index) — never all-pairs. The document-
    * frequency cap (`maxDocFreqFrac`) drops stopword terms, which both
    * removes the Zipfian skew keys from the join AND bounds every posting
    * list to `maxDocFreqFrac × N` entries. Per-pair scoring is one keyed
    * groupBy summing LONGs (map-side combinable); top-k per query runs on
    * the bounded-heap [[graft.expr.BoundedTopK]] aggregate, so the final
    * exchange carries k pairs per query per partition.
    *
    * Determinism: float sums over shuffled groups are order-sensitive, so
    * every per-term contribution is quantized to an integer first —
    * `q(t) = round(idf(t)² × 1e6)` as a long — and dot products / squared
    * norms are EXACT integer sums `Σ tf·tf·q(t)`. The quantization scale
    * cancels in the cosine ratio; the only float ops are one fixed-shape
    * divide/sqrt per surviving pair. Any engine reproduces the rounded
    * score bit-for-bit (the same contract as [[bm25]]'s fixed-order fold,
    * generalized to unbounded shared-term sets).
    *
    * Numeric bound: tf²·q must stay inside a long — q ≤ ~8×10⁸ even at
    * 10¹² docs, so a single term repeated beyond ~10⁵ times IN ONE
    * DOCUMENT would overflow the norm sum. Run [[chunkDocs]] (or any
    * length cap) upstream of pathological documents.
    */
  def tfidfTopK(corpus: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qIdCol: String, qTextCol: String,
      k: Int, maxDocFreqFrac: Double = 0.3,
      excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1, "k must be positive")
    require(maxDocFreqFrac > 0 && maxDocFreqFrac <= 1, "maxDocFreqFrac in (0, 1]")
    def postings(df: DataFrame, id: String, text: String, outId: String) = {
      val toks = filter(split(Dedup.normalize(col(text)), " "), t => length(t) > 0)
      df.select(col(id).as(outId), explode(toks).as("term"))
        .groupBy(col(outId), col("term"))
        .agg(count(lit(1)).as("tf")) // long — exact
    }
    // the corpus postings list feeds the idf count, the weighted-postings
    // join, and (via wd) the norm and dot aggregates — materialize it once,
    // the "inverted index is built once, scanned many times" shape of a
    // real sparse-retrieval pass
    val cp = materialize(postings(corpus, idCol, textCol, "_did"))
    // N as a driver scalar (one parquet-metadata-cheap count job, the same
    // driver-scalar pattern as bpeTrain's argmax): folding it in as a
    // literal keeps the idf table free of the 1-row crossJoin, which the
    // plan would otherwise replicate into every one of its four consumers
    val nDocs = corpus.count()
    // corpus-wide idf, quantized: q(t) = round(idf² × 1e6) as long.
    // cp is distinct per (doc, term), so count(*) IS the document frequency.
    val idfQ = cp.groupBy(col("term")).agg(count(lit(1)).as("_df"))
      .where(col("_df") <= lit(maxDocFreqFrac * nDocs))
      .withColumn("_q", round(
        pow(log((lit(nDocs) + 1.0) / (col("_df") + 1.0)) + 1.0, 2) * 1e6, 0)
        .cast("long"))
      .select(col("term"), col("_q"))
    // weighted postings feed both the norm aggregate and the dot-product
    // join — one more single-build/multi-scan index frame
    val wd = materialize(cp.join(idfQ, "term"))
    val wq = postings(queries, qIdCol, qTextCol, "_qid").join(idfQ, "term")
    val normD = wd.groupBy(col("_did"))
      .agg(sum(col("tf") * col("tf") * col("_q")).as("_n2d"))
    val normQ = wq.groupBy(col("_qid"))
      .agg(sum(col("tf") * col("tf") * col("_q")).as("_n2q"))
    val dots = wq.select(col("_qid"), col("term"), col("tf").as("_tfq"))
      .join(wd.select(col("_did"), col("term"), col("tf").as("_tfd"), col("_q")), "term")
      .where(if (excludeSelf) col("_qid") =!= col("_did") else lit(true))
      .groupBy(col("_qid"), col("_did"))
      .agg(sum(col("_tfq") * col("_tfd") * col("_q")).as("_dot"))
    // long→double conversions are exact inputs to ONE fixed-shape float
    // expression — deterministic across partitionings (longs would overflow
    // if multiplied before the cast)
    val scored = dots.join(normQ, "_qid").join(normD, "_did")
      .withColumn("cos", round(col("_dot").cast("double") /
        sqrt(col("_n2q").cast("double") * col("_n2d").cast("double")), 4))
    // fixed output names: query and corpus id columns may share a name
    // (self-similarity over one table)
    topKPerGroupAgg(
      scored.select(col("_qid"), col("_did"), col("cos")), "_qid", "cos", "_did", k)
      .select(col("_qid").as("query_id"), col("rank"),
        col("_did").as("match_id"), col("cos"))
  }

  /** Adjacent-character pair statistics over the corpus vocabulary — the
    * counting kernel of one BPE tokenizer-training round (Sennrich et al.
    * 2016): the most frequent pair is the next merge. Counts are weighted
    * by word frequency and computed over the DISTINCT-WORD table, the way
    * real BPE trainers do — at 100 TB the vocabulary (≤ millions of rows)
    * is orders of magnitude smaller than the corpus, so the expensive
    * char-pair explode runs on the small side; the corpus itself is
    * touched once by the word-count groupBy (map-side combinable).
    * Returns the `topK` (pair, cnt) rows, count-desc then pair-asc.
    */
  def bpePairCounts(df: DataFrame, textCol: String, topK: Int): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val toks = filter(split(Dedup.normalize(col(textCol)), " "), t => length(t) > 0)
    val wordFreq = df.select(explode(toks).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val pairs = wordFreq
      .where(length(col("word")) >= 2)
      .select(col("freq"), explode(
        org.apache.spark.sql.functions.transform(
          sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
    pairs.groupBy("pair").agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(topK)
  }

  /** One BPE merge round over a symbol array: merge every greedy-leftmost,
    * non-overlapping adjacent occurrence of (a, b) into the single token
    * `a+b`. A left fold (`aggregate` HOF) reproduces the reference greedy
    * scan exactly — including self-pair runs, where "a a a" merges to
    * "aa a" (leftmost wins) and "a a a a" to "aa aa" — cases a plain
    * string/regex replace gets wrong because the match consumes the
    * separator. A token PRODUCED by this round (`a+b`, strictly longer
    * than `a`) can never equal `a`, so the value compare cannot cascade
    * within the round.
    */
  def bpeMergeOnce(syms: Column, a: String, b: String): Column =
    aggregate(syms,
      array().cast("array<string>"),
      (acc, s) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(s))))

  /** Distributed BPE tokenizer training (Sennrich et al. 2016, public
    * algorithm): `nMerges` rounds of (count adjacent symbol pairs weighted
    * by word frequency) → (merge the most frequent pair everywhere).
    * Returns the learned merge table (rank, a, b, cnt); ties break on
    * (a, b) ascending so training is deterministic.
    *
    * Scale shape: like [[bpePairCounts]], every round runs on the
    * DISTINCT-WORD table — at corpus scale the vocabulary (≤ millions of
    * rows) is orders of magnitude smaller than the corpus, and the corpus
    * itself is touched exactly once by the word-count groupBy. Per round:
    * one partial-aggregating pair count, a 1-row argmax collect (the pair
    * parameterizes the next plan, the same driver-scalar pattern as a
    * KMeans centroid update), and a narrow per-row fold. The evolving
    * word table is materialized per round with flat lineage.
    */
  def bpeTrain(df: DataFrame, textCol: String, nMerges: Int,
      localVocabLimit: Long = 500000L): Seq[(String, String, Long)] = {
    require(nMerges >= 1, "nMerges must be positive")
    val toks = filter(split(Dedup.normalize(col(textCol)), " "), t => length(t) > 0)
    val (words0, c) = materialize(df.select(explode(toks).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(filter(split(col("word"), ""), s => length(s) > 0).as("syms"),
        col("freq")), count(lit(1)).as("vocab_rows"))
    val vocabRows = c.getLong(0)
    // Zipf compresses the corpus into this distinct-word table, and every
    // merge round touches ONLY the table — so when the vocabulary is
    // driver-small (the common case even for huge corpora; vocab grows
    // sub-linearly), loop locally over the collected (syms, freq) pairs:
    // identical greedy-leftmost merge and (cnt desc, a, b) unsigned-UTF8
    // tie-break, none of the per-round job-launch latency. The distributed
    // loop below stays as the unbounded-vocabulary path.
    // `localVocabLimit` is a measured-count gate, NOT a tunable to raise
    // silently; tests pass 0 to force the distributed loop and assert both
    // branches produce identical merge tables
    if (vocabRows <= localVocabLimit) {
      val local = words0.collect()
        .map(r => (r.getSeq[String](0).toArray, r.getLong(1)))
      return bpeTrainLocal(local, nMerges)
    }
    var words = words0
    val merges = scala.collection.mutable.Buffer[(String, String, Long)]()
    var r = 0
    var exhausted = false
    while (r < nMerges && !exhausted) {
      val pairIdx = sequence(lit(1), size(col("syms")) - 1)
      val best = words.where(size(col("syms")) >= 2)
        .select(col("freq"), explode(transform(pairIdx, i =>
          struct(element_at(col("syms"), i).as("a"),
            element_at(col("syms"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((a, b, cnt))
        words = materialize(words
          .select(bpeMergeOnce(col("syms"), a, b).as("syms"), col("freq")))
        r += 1
      }
    }
    merges.toSeq
  }

  /** Driver-local BPE merge loop over a collected (symbols, freq) vocab —
    * semantics bit-identical to the distributed rounds: the same
    * greedy-leftmost non-overlapping merge as [[bpeMergeOnce]] and the
    * same (cnt desc, a asc, b asc) argmax with Spark's UNSIGNED UTF-8
    * binary string order (signed-byte or UTF-16 comparisons diverge on
    * non-ASCII symbols).
    */
  private def bpeTrainLocal(vocab: Array[(Array[String], Long)],
      nMerges: Int): Seq[(String, String, Long)] = {
    def u8(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def mergeOnce(syms: Array[String], a: String, b: String): Array[String] = {
      val acc = scala.collection.mutable.ArrayBuffer.empty[String]
      syms.foreach { s =>
        if (acc.nonEmpty && acc.last == a && s == b) {
          acc.remove(acc.length - 1)
          acc += (a + b)
        } else acc += s
      }
      acc.toArray
    }
    var cur = vocab
    val out = scala.collection.mutable.Buffer[(String, String, Long)]()
    var r = 0
    var exhausted = false
    while (r < nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      cur.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        counts.foreach { case (k, c) =>
          val better = best == null || {
            val cc = java.lang.Long.compare(c, best._2)
            if (cc != 0) cc > 0
            else {
              val ca = java.util.Arrays.compareUnsigned(u8(k._1), u8(best._1._1))
              if (ca != 0) ca < 0
              else java.util.Arrays.compareUnsigned(u8(k._2), u8(best._1._2)) < 0
            }
          }
          if (better) best = (k, c)
        }
        val ((a, b), c) = best
        out += ((a, b, c))
        cur = cur.map { case (syms, f) => (mergeOnce(syms, a, b), f) }
        r += 1
      }
    }
    out.toSeq
  }

  /** Encode text into BPE symbols by REPLAYING a learned merge table in
    * rank order — per word, the same greedy-leftmost fold as
    * [[bpeMergeOnce]], so encoding a training word reproduces the
    * trainer's final segmentation exactly, and unseen words get the
    * standard apply semantics (Sennrich et al. 2016). Output:
    * (id, tokens array, n_tokens).
    *
    * Scale shape: the merge table broadcasts (≤ vocab-size rows) and the
    * encode is a narrow mapPartitions with a per-partition word memo —
    * Zipfian repetition makes the memo hit rate high, and nothing
    * shuffles. This is the deployment half of [[bpeTrain]]; the column-
    * expression fold stays the per-round training kernel.
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(merges.toIndexedSeq)
    def replay(word: String): Seq[String] = {
      var syms: List[String] = word.split("").filter(_.nonEmpty).toList
      bc.value.foreach { case (a, b) =>
        val out = scala.collection.mutable.ListBuffer.empty[String]
        syms.foreach { s =>
          if (out.nonEmpty && out.last == a && s == b)
            out(out.length - 1) = a + b
          else out += s
        }
        syms = out.toList
      }
      syms
    }
    val idType = df.schema(idCol).dataType
    val schema = StructType(Seq(
      StructField(idCol, idType),
      StructField("tokens", ArrayType(StringType)),
      StructField("n_tokens", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val toks = filter(split(Dedup.normalize(col(textCol)), " "), t => length(t) > 0)
    df.select(col(idCol), toks.as("_w"))
      .mapPartitions { it =>
        val memo = scala.collection.mutable.HashMap.empty[String, Seq[String]]
        it.map { r =>
          val words = r.getSeq[String](1)
          val tokens = words.flatMap(w => memo.getOrElseUpdate(w, replay(w)))
          Row(r.get(0), tokens, tokens.size.toLong)
        }
      }(enc)
  }

  /** DuckDB-dialect oracle for [[bpeTrain]]: rounds unrolled as CTE blocks.
    * The greedy-leftmost merge is expressed as run-parity selection — among
    * each maximal run of consecutive match positions, the 1st, 3rd, 5th …
    * merge (identical to the left fold, where only self-pair runs can
    * overlap). Kept beside the implementation so the two cannot drift.
    * Emits CTEs `m1..mk` (a, b, cnt per learned merge); the caller selects
    * from them.
    */
  def bpeOracleSql(docsSql: String, textExpr: String, nMerges: Int): String = {
    val head =
      s"""WITH w0 AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
         |    list_transform(generate_series(1, length(word)), i -> word[i]) AS syms
         |  FROM (SELECT unnest(list_filter(
         |      string_split(trim(regexp_replace(lower($textExpr), '\\s+', ' ', 'g')), ' '),
         |      x -> len(x) > 0)) AS word
         |    FROM ($docsSql)) GROUP BY 1)""".stripMargin
    val rounds = (1 to nMerges).map { r =>
      val w = s"w${r - 1}"
      s"""p$r AS MATERIALIZED (SELECT syms[i] AS a, syms[i + 1] AS b, sum(freq) AS cnt
         |  FROM $w, LATERAL (SELECT unnest(generate_series(1, len(syms) - 1)) AS i) u
         |  GROUP BY 1, 2),
         |m$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         |h$r AS (SELECT word, i, i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp
         |  FROM $w CROSS JOIN m$r m,
         |    LATERAL (SELECT unnest(generate_series(1, len(syms) - 1)) AS i) u
         |  WHERE syms[i] = m.a AND syms[i + 1] = m.b),
         |sel$r AS MATERIALIZED (SELECT word, i FROM (
         |    SELECT word, i, row_number() OVER (PARTITION BY word, grp ORDER BY i) AS k
         |    FROM h$r) WHERE k % 2 = 1),
         |w$r AS MATERIALIZED (SELECT word, any_value(freq) AS freq, list(tok ORDER BY i) AS syms
         |  FROM (SELECT x.word, x.freq, x.i,
         |      CASE WHEN s1.i IS NOT NULL THEN x.sym || x.nxt
         |           WHEN s2.i IS NOT NULL THEN NULL
         |           ELSE x.sym END AS tok
         |    FROM (SELECT word, freq, i, syms[i] AS sym,
         |        CASE WHEN i < len(syms) THEN syms[i + 1] END AS nxt
         |      FROM $w, LATERAL (SELECT unnest(generate_series(1, len(syms))) AS i) u) x
         |    LEFT JOIN sel$r s1 ON s1.word = x.word AND s1.i = x.i
         |    LEFT JOIN sel$r s2 ON s2.word = x.word AND s2.i = x.i - 1)
         |  WHERE tok IS NOT NULL GROUP BY word)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** PMI collocation mining: pointwise mutual information of adjacent word
    * pairs, ln(p(ab) / (p(a)·p(b))) with p from corpus-wide unigram/bigram
    * counts — the standard collocation-extraction signal ("new york"
    * scores high, "of the" low). `minCount` drops rare pairs whose PMI is
    * an artifact of sparsity.
    *
    * Determinism: counts are exact integers; the single ln per surviving
    * pair computes over an identical-parenthesization double product, so
    * any engine reproduces the rounded score. Scale shape: unigram and
    * bigram counting groupBys both partial-aggregate; the unigram table
    * joins the bigram table twice (left word, right word) — broadcast
    * under threshold, else keyed joins where Zipfian stopwords are the
    * AQE skew case. Totals are one-row broadcasts.
    */
  def pmiCollocations(df: DataFrame, textCol: String, minCount: Long,
      topK: Int): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val toks = filter(split(Dedup.normalize(col(textCol)), " "), t => length(t) > 0)
    val docs = df.select(toks.as("_t"))
    val uni = docs.select(explode(col("_t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    // guard single-token docs: sequence(1, 0) DESCENDS in Spark (default
    // step flips sign), it is not empty — gate on size >= 2 instead
    val idx = when(size(col("_t")) >= 2, sequence(lit(1), size(col("_t")) - 1))
      .otherwise(array().cast("array<int>"))
    val bi = docs
      .select(explode(org.apache.spark.sql.functions.transform(idx,
        i => struct(element_at(col("_t"), i).as("a"),
          element_at(col("_t"), i + 1).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cab"))
    val totals = uni.agg(sum(col("cw")).as("t_uni"))
      .crossJoin(bi.agg(sum(col("cab")).as("t_bi")))
    bi.where(col("cab") >= minCount)
      .join(uni.withColumnRenamed("w", "a").withColumnRenamed("cw", "ca"), Seq("a"))
      .join(uni.withColumnRenamed("w", "b").withColumnRenamed("cw", "cb"), Seq("b"))
      .crossJoin(broadcast(totals))
      .select(col("a"), col("b"), col("cab"),
        // all factors go through double BEFORE multiplying: long×long
        // products overflow differently per engine (Spark wraps, DuckDB
        // raises); double products round identically everywhere
        round(log(col("cab").cast("double") * col("t_uni") * col("t_uni") /
          (col("t_bi").cast("double") * col("ca") * col("cb"))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b")).limit(topK)
  }

  /** Apply a trained vocabulary to the corpus: tokens become integer ids
    * (out-of-vocabulary → `unkId`), one id array per document in token
    * order — the step between tokenizer training ([[bpePairCounts]] /
    * [[unigramLmScore]]'s vocab) and [[packSequences]].
    *
    * Scale shape: the corpus explodes to (doc, pos, token) once; the vocab
    * join is left to Catalyst/AQE (statistics-driven): a vocab under the
    * broadcast threshold ships to every task, a larger one becomes a keyed
    * join on the token where Zipfian head words are exactly the AQE
    * skew-split case — no forced hint, so a huge vocab can never blow the
    * broadcast budget. Reassembly is one groupBy per doc with an
    * order-restoring array_sort — no windows, no driver.
    */
  def tokenizeWithVocab(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, wordCol: String, tokenIdCol: String,
      unkId: Int = 0): DataFrame = {
    val toks = filter(split(Dedup.normalize(col(textCol)), " "), t => length(t) > 0)
    val long = df.select(col(idCol), posexplode(toks).as(Seq("pos", "_w")))
    val v = vocab.select(col(wordCol).as("_w"), col(tokenIdCol).cast("int").as("_tid"))
    long.join(v, Seq("_w"), "left")
      .select(col(idCol), col("pos"), coalesce(col("_tid"), lit(unkId)).as("_tid"))
      .groupBy(col(idCol))
      .agg(org.apache.spark.sql.functions.transform(
        array_sort(collect_list(struct(col("pos"), col("_tid")))),
        s => s("_tid")).as("token_ids"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("_tid") === unkId, 1L).otherwise(0L)).as("n_unk"))
  }

  /** Snapshot diff between two corpus versions by content hash: returns one
    * row per doc id present in either side with status `added` / `removed`
    * / `changed` / `unchanged` — the CDC primitive for incremental
    * re-curation (only `added`+`changed` need to re-enter the pipeline).
    * One full outer join keyed on the id; content comparison is md5, so
    * whitespace-insensitive via the shared normalizer.
    */
  def snapshotDiff(old: DataFrame, cur: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def hashed(df: DataFrame, side: String) = df.select(col(idCol),
      md5(Dedup.normalize(col(textCol))).as(s"_h_$side"))
    hashed(old, "old").join(hashed(cur, "cur"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("_h_old").isNull, "added")
          .when(col("_h_cur").isNull, "removed")
          .when(col("_h_old") === col("_h_cur"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Deterministic weighted sampling without replacement (Efraimidis &
    * Spirakis A-ES): each row draws u = md5-uniform in (0, 1] and ranks by
    * key = u^(1/w); the global top-k is an exact weighted sample. One pass,
    * no per-stratum state, reproducible across runs — the standard way to
    * subsample a corpus proportionally to a quality weight at 100 TB scale
    * (a total order exists but only the top-k is materialized; Spark's
    * orderBy+limit does per-partition top-k then merges, never a full sort).
    *
    * Reproducibility caveat: unlike the exact-integer sketches, the sample
    * key goes through `pow`, whose last-ulp rounding is not pinned across
    * math libraries — two engines could in principle disagree on a key
    * within 1 ulp of a rank boundary. With md5-uniform draws the collision
    * probability is ~1e-10 per row; callers needing absolute cross-engine
    * agreement should compare the selected ID SET, not the keys.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("double") + lit(1.0)) / lit(4294967296.0)
    df.where(col(weightCol) > 0)
      .withColumn("sample_key", pow(u, lit(1.0) / col(weightCol).cast("double")))
      .orderBy(col("sample_key").desc, col(idCol))
      .limit(k)
  }

  /** Per-group weighted sampling without replacement — [[weightedSample]]'s
    * A-ES draw, stratified: the k best sample keys per group through the
    * bounded-heap [[graft.expr.BoundedTopK]] aggregate, so the exchange
    * carries k pairs per (group, input partition) rather than a window's
    * full per-group sort. The mixture-sampling step after [[mixturePlan]]
    * ("draw n docs per domain, proportional to quality weight"). Output:
    * (group, rank, id, sample_key).
    */
  def weightedSamplePerGroup(df: DataFrame, groupCol: String, idCol: String,
      weightCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("double") + lit(1.0)) / lit(4294967296.0)
    val keyed = df.where(col(weightCol) > 0)
      .withColumn("sample_key", pow(u, lit(1.0) / col(weightCol).cast("double")))
    topKPerGroupAgg(keyed, groupCol, "sample_key", idCol, k)
  }

  /** Exact-substring deduplication (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr tool):
    * find every maximal token span whose content occurs more than once in
    * the corpus — at ANY offset, across or within documents — and cut all
    * occurrences (the published semantics). The paper's suffix array is
    * re-expressed distributively: hash every OVERLAPPING `minLen`-gram
    * (vs [[spanDedup]]'s fixed non-overlapping windows, which miss
    * duplicates at shifted offsets); a duplicated substring of length ≥
    * minLen exists iff each of its minLen-grams is duplicated, so the
    * per-doc union of duplicated gram intervals [p, p+minLen), merged
    * where they overlap or touch, is exactly the maximal duplicated span
    * set.
    *
    * Scale shape: the gram table is ≈ one row per corpus token (the same
    * cost class as any shingle operator), keyed on the gram hash; the
    * duplicate filter is a map-side-combinable count. Interval merge is a
    * per-document window (docs are bounded; the corpus never sorts
    * globally). Span removal explodes covered positions (≤ doc length)
    * and anti-joins the positioned tokens — all keyed, no driver paths.
    *
    * Output: (id, n_tokens, n_dup_tokens, n_spans, clean_text) — docs made
    * entirely of duplicated text come back with clean_text = "". Tokens
    * are the shared normalizer's (case-folded, whitespace-collapsed), and
    * clean_text is their space-joined reassembly.
    */
  def exactSubstrDedup(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 10): DataFrame = {
    require(minLen >= 2, "minLen must be >= 2")
    val toks = df.select(col(idCol).as("_id"),
      filter(split(Dedup.normalize(col(textCol)), " "),
        t => length(t) > 0).as("_t"))
      .where(size(col("_t")) > 0)
    val grams = toks.where(size(col("_t")) >= minLen)
      .select(col("_id"), explode(transform(
        sequence(lit(0), size(col("_t")) - minLen),
        p => struct(p.as("p"),
          md5(concat_ws(" ", slice(col("_t"), p + 1, lit(minLen)))).as("h"))))
        .as("_g"))
      .select(col("_id"), col("_g.p").as("_p"), col("_g.h").as("_h"))
    val dupHashes = grams.groupBy("_h").agg(count(lit(1)).as("_c"))
      .where(col("_c") > 1)
    val dupStarts = grams.join(dupHashes.select("_h"), "_h").select("_id", "_p")
    // gaps-and-islands: a new span starts when the previous duplicated gram
    // cannot reach this one ([p_prev, p_prev+minLen) ∪ [p, p+minLen) is
    // contiguous iff p − p_prev ≤ minLen; lag=null on the first row → 1)
    val w = Window.partitionBy("_id").orderBy("_p")
    val islands = dupStarts
      .withColumn("_new",
        when(col("_p") - lag("_p", 1).over(w) <= minLen, 0).otherwise(1))
      .withColumn("_isl", sum("_new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("_id", "_isl")
      .agg(min("_p").as("_s"), (max("_p") + minLen).as("_e"))
    val covered = islands.select(col("_id"),
      explode(sequence(col("_s"), col("_e") - 1)).as("_q"))
    val pos = toks.select(col("_id"),
      posexplode(col("_t")).as(Seq("_q", "_tok")))
    val clean = pos.join(covered, Seq("_id", "_q"), "left_anti")
      .groupBy("_id")
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("_q").as("q"), col("_tok").as("tok")))),
        s => s.getField("tok"))).as("clean_text"))
    val stats = islands.groupBy("_id").agg(
      count(lit(1)).as("n_spans"), sum(col("_e") - col("_s")).as("n_dup_tokens"))
    toks.select(col("_id"), size(col("_t")).cast("long").as("n_tokens"))
      .join(stats, Seq("_id"), "left")
      .join(clean, Seq("_id"), "left")
      .select(col("_id").as(idCol), col("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).cast("long").as("n_dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).cast("long").as("n_spans"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  // ------------------------------------------------------------ classifier

  /** Feature-hashing text vectorization (Weinberger et al. 2009, the
    * "hashing trick"): token counts fold into a FIXED dim via
    * md5 % dim — the dimension-bounded featurizer behind
    * [[perceptronTrain]], exposed as a dense count-vector column for
    * downstream models. No vocabulary pass, no fit: the dimension is
    * closed over an unbounded token space, which is the 100 TB story
    * (a vocab-indexed vectorizer needs a corpus-wide dictionary build).
    *
    * Scale shape: one (id, bucket) counting groupBy (map-side
    * combinable); the dense assembly is a per-id map lookup over a
    * literal index range — exact integers, engine-replicable.
    */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame = {
    require(dim >= 1, "dim must be positive")
    val toks = df.select(col(idCol),
      explode(filter(split(Dedup.normalize(col(textCol)), " "),
        t => length(t) > 0)).as("_tok"))
    toks
      .withColumn("bucket",
        conv(substring(md5(col("_tok")), 1, 8), 16, 10).cast("long") % dim)
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("cnt"))))
        .as("_m"))
      .select(col(idCol), transform(sequence(lit(0), lit(dim - 1)),
        b => coalesce(element_at(col("_m"), b.cast("long")), lit(0L)))
        .as("features"))
  }

  /** Hashed-unigram feature table for the perceptron: one row per
    * (doc, bucket) with the integer token count, bucket = first-8-hex of
    * md5(token) mod `dim` (the hashing trick), PLUS a bias row per doc at
    * bucket −1 with count 1 — so the bias is just another feature and one
    * aggregate updates weights and bias together. Docs whose text
    * normalizes to zero tokens carry no rows (no evidence, not scored).
    */
  private def hashedCounts(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, dim: Int): DataFrame = {
    val toks = df.select(col(idCol).as("_did"),
      when(col(labelCol).cast("boolean"), 1L).otherwise(-1L).as("_y"),
      explode(filter(split(Dedup.normalize(col(textCol)), " "),
        t => length(t) > 0)).as("_tok"))
    val counted = toks
      .withColumn("bucket",
        conv(substring(md5(col("_tok")), 1, 8), 16, 10).cast("long") % dim)
      .groupBy("_did", "_y", "bucket").agg(count(lit(1)).as("cnt"))
    val bias = toks.select("_did", "_y").distinct()
      .select(col("_did"), col("_y"), lit(-1L).as("bucket"), lit(1L).as("cnt"))
    counted.unionByName(bias)
  }

  /** Integer margin per doc under weight map `w` (missing buckets = 0). */
  private def marginOf(feats: DataFrame, w: Map[Long, Long]): DataFrame = {
    val wexpr =
      if (w.isEmpty) lit(0L)
      else coalesce(element_at(typedLit(w), col("bucket")), lit(0L))
    feats.groupBy("_did", "_y").agg(sum(col("cnt") * wexpr).as("_m"))
  }

  /** Deterministic batch-perceptron text classifier over hashed unigram
    * counts — the "train a small linear quality/domain classifier, score
    * the whole corpus" selection step of CCNet / GPT-3-style pipelines
    * (Wenzek et al. 2020; Brown et al. 2020), reduced to a distributable
    * core: features are md5-hashed token buckets, the model is linear
    * weights + bias, and training is the synchronous batch perceptron —
    * per round, sum the Rosenblatt update `y·x` over ALL currently
    * misclassified docs (`y·margin ≤ 0`, so round 1 from zero weights
    * updates on every doc).
    *
    * Every quantity is 64-bit-integer arithmetic — token counts, weights,
    * margins — so training is bit-exact across engines, partitionings, and
    * row orders (long sums commute), and [[perceptronOracleSql]] replays it
    * in DuckDB exactly, unrolled round by round.
    *
    * Scale shape: the token explode + count groupBy runs ONCE into a
    * materialized feature table (≤ dim+1 rows per doc). Each round is a
    * single job: margins are a map-side-combinable groupBy with the weight
    * vector folded in as a broadcast literal map (the model is driver-small
    * like any trained model — the corpus never leaves the cluster), the
    * misclassified-doc set joins back (AQE broadcasts the small side), and
    * the collected update is ≤ dim+1 rows.
    *
    * Returns (weights with bias at key −1, rounds actually run — fewer
    * than `rounds` iff the data became linearly separated early; replaying
    * the remaining rounds is then a no-op, which keeps the fixed-round
    * oracle exact either way).
    */
  def perceptronTrain(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, dim: Int = 32, rounds: Int = 3): (Map[Long, Long], Int) = {
    require(dim >= 2, "dim must be >= 2")
    require(rounds >= 1, "rounds must be >= 1")
    val feats = materialize(hashedCounts(df, idCol, textCol, labelCol, dim))
    var w = Map.empty[Long, Long]
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      val mis = marginOf(feats, w).where(col("_y") * col("_m") <= 0)
      val upd = feats.join(mis.select("_did"), Seq("_did"))
        .groupBy("bucket").agg(sum(col("_y") * col("cnt")).as("_g"))
        .collect()
      if (upd.isEmpty) converged = true
      else {
        upd.foreach { row =>
          val b = row.getLong(0)
          w = w.updated(b, w.getOrElse(b, 0L) + row.getLong(1))
        }
        r += 1
      }
    }
    (w, r)
  }

  /** Score docs with a trained [[perceptronTrain]] model: (id, y, margin,
    * pred ∈ {−1, +1}; margin 0 predicts −1, matching training's "≤ 0 is
    * misclassified for the positive class" convention).
    */
  def perceptronScore(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, w: Map[Long, Long], dim: Int): DataFrame =
    marginOf(hashedCounts(df, idCol, textCol, labelCol, dim), w)
      .select(col("_did").as(idCol), col("_y").as("y"), col("_m").as("margin"),
        when(col("_m") > 0, 1L).otherwise(-1L).as("pred"))

  /** The `toks` subquery for [[perceptronOracleSql]] over a real text
    * table: (did, y ∈ {−1,1}, tok), tokenized the same way as
    * [[hashedCounts]]. `labelSql` is a boolean SQL expression over the
    * table's columns.
    */
  def perceptronTextToksSql(table: String, idCol: String, textCol: String,
      labelSql: String): String =
    s"""SELECT $idCol AS did,
       |    CAST(CASE WHEN $labelSql THEN 1 ELSE -1 END AS BIGINT) AS y,
       |    unnest(list_filter(str_split(
       |      trim(regexp_replace(lower($textCol), '\\s+', ' ', 'g')), ' '),
       |      t -> len(t) > 0)) AS tok
       |  FROM $table""".stripMargin

  /** DuckDB replay of [[perceptronTrain]] + confusion matrix: unrolls the
    * fixed `rounds` as CTE chains (w_r = w_{r-1} + misclassified-sum, the
    * same generated-oracle pattern as [[bpeOracleSql]] /
    * `GraphAlgos.kCoreOracleSql`). `toksSql` yields one row per token:
    * (did, y ∈ {−1,1}, tok) — [[perceptronTextToksSql]] builds it for a
    * text table. Output: (y, pred, n) ordered.
    */
  def perceptronOracleSql(toksSql: String, dim: Int, rounds: Int): String = {
    val hex8 =
      """list_sum(list_transform(generate_series(1, 8),
        |    p -> (strpos('0123456789abcdef', substring(md5(tok), p, 1)) - 1)
        |         * CAST(power(16, 8 - p) AS BIGINT)))""".stripMargin
    val base =
      s"""WITH toks AS (
         |  $toksSql),
         |hb AS (SELECT did, y, $hex8 % $dim AS bucket FROM toks),
         |feats AS (
         |  SELECT did, y, bucket, CAST(count(*) AS BIGINT) AS cnt
         |  FROM hb GROUP BY 1, 2, 3
         |  UNION ALL
         |  SELECT DISTINCT did, y, CAST(-1 AS BIGINT), CAST(1 AS BIGINT)
         |  FROM hb),
         |w1 AS (SELECT bucket, CAST(sum(y * cnt) AS BIGINT) AS w
         |       FROM feats GROUP BY 1)""".stripMargin
    val laterRounds = (2 to rounds).map { r =>
      s"""m${r - 1} AS (SELECT f.did, f.y,
         |  CAST(sum(f.cnt * coalesce(w.w, 0)) AS BIGINT) AS m
         |  FROM feats f LEFT JOIN w${r - 1} w USING (bucket) GROUP BY 1, 2),
         |u$r AS (SELECT f.bucket, CAST(sum(f.y * f.cnt) AS BIGINT) AS g
         |  FROM feats f
         |  JOIN (SELECT did FROM m${r - 1} WHERE y * m <= 0) mis USING (did)
         |  GROUP BY 1),
         |w$r AS (SELECT coalesce(a.bucket, b.bucket) AS bucket,
         |  coalesce(a.w, 0) + coalesce(b.g, 0) AS w
         |  FROM w${r - 1} a FULL OUTER JOIN u$r b ON a.bucket = b.bucket)"""
        .stripMargin
    }
    val finalSel =
      s"""mf AS (SELECT f.did, f.y,
         |  CAST(sum(f.cnt * coalesce(w.w, 0)) AS BIGINT) AS m
         |  FROM feats f LEFT JOIN w$rounds w USING (bucket) GROUP BY 1, 2)
         |SELECT y, CAST(CASE WHEN m > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM mf GROUP BY 1, 2 ORDER BY y, pred""".stripMargin
    (Seq(base) ++ laterRounds ++ Seq(finalSel)).mkString(",\n")
  }

  /** Equi-width histogram of a numeric column — the profiling companion to
    * [[profile]] and the shape a query optimizer's column stats want.
    * Bin width = (max − min)/nBins from ONE tiny stats aggregate broadcast
    * back; each row then bins with narrow column math (`least` clamps the
    * max value into the last bin) and one map-side-combinable count closes
    * it. Empty bins are absent from the output (sparse form).
    */
  def histogramEquiWidth(df: org.apache.spark.sql.DataFrame, valueCol: String,
      nBins: Int): org.apache.spark.sql.DataFrame = {
    require(nBins >= 1, "nBins must be positive")
    val stats = df.where(col(valueCol).isNotNull)
      .agg(min(col(valueCol)).cast("double").as("_mn"),
        max(col(valueCol)).cast("double").as("_mx"))
    val w = (col("_mx") - col("_mn")) / nBins
    val bin = when(col("_mx") === col("_mn"), 0L)
      .otherwise(least(floor((col(valueCol).cast("double") - col("_mn")) / w),
        lit(nBins - 1L)))
    df.where(col(valueCol).isNotNull).crossJoin(broadcast(stats))
      .withColumn("bin", bin.cast("int"))
      .groupBy("bin")
      .agg(count(lit(1)).as("cnt"),
        round(first(col("_mn")) + col("bin").cast("double") * first(w), 4)
          .as("bin_lo"),
        round(first(col("_mn")) + (col("bin") + 1).cast("double") * first(w), 4)
          .as("bin_hi"))
      .select("bin", "bin_lo", "bin_hi", "cnt")
  }

  /** One-pass column profile — the data-quality summary (row count, null
    * count, exact distinct count, min/max rendered as strings) a pipeline
    * runs on every new table before trusting it. Long-format output: one
    * row per profiled column.
    *
    * Scale shape: a SINGLE aggregate job. The exact multi-column DISTINCT
    * counts make Catalyst plan one Expand (rows × n_cols) feeding one
    * shuffle — the standard exact-profile cost; swap
    * `approx_count_distinct` into the same shape when a 100 TB profile can
    * tolerate ±2% (the Expand disappears and the pass is narrow). Min/max
    * stringify AFTER aggregation (n_cols values, not n_rows casts).
    * Callers pre-cast float columns (e.g. to DECIMAL) so the string
    * rendering is engine-portable.
    */
  def profile(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    val aggs = count(lit(1)).as("_n_rows") +: cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_null_$c"),
        count_distinct(col(c)).as(s"_dist_$c"),
        min(col(c)).cast("string").as(s"_min_$c"),
        max(col(c)).cast("string").as(s"_max_$c"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.map { c =>
      struct(lit(c).as("column"), col("_n_rows").as("n_rows"),
        col(s"_null_$c").as("n_nulls"), col(s"_dist_$c").as("n_distinct"),
        col(s"_min_$c").as("min_value"), col(s"_max_$c").as("max_value"))
    }
    wide.select(inline(array(entries: _*)))
  }

  /** Simpson diversity index per group: 1 − Σ nᵢ(nᵢ−1) / (N(N−1)) — the
    * probability that two draws WITHOUT replacement from the group are
    * different items. The corpus-health metric for "is this domain/lang
    * slice dominated by one source" — and unlike Shannon entropy it is
    * RATIONAL: exact integer counts, one fixed-shape divide, no
    * transcendentals anywhere, so engines agree to the last bit.
    * Two map-side-combinable keyed aggregates.
    */
  def simpsonDiversity(df: org.apache.spark.sql.DataFrame, groupCol: String,
      itemCol: String): org.apache.spark.sql.DataFrame = {
    val counts = df.groupBy(col(groupCol).as("_grp"), col(itemCol).as("_it"))
      .agg(count(lit(1)).as("_n"))
    counts.groupBy("_grp").agg(
      count(lit(1)).as("n_items"),
      sum(col("_n")).as("n_total"),
      sum(col("_n") * (col("_n") - 1)).as("_s"))
      .select(col("_grp").as(groupCol), col("n_items"), col("n_total"),
        when(col("n_total") <= 1, lit(0.0)).otherwise(
          round(lit(1.0) - col("_s").cast("double") /
            (col("n_total") * (col("n_total") - 1)).cast("double"), 4))
          .as("simpson"))
  }

  /** Gini concentration index per group over per-item mass (token/char/
    * doc counts): 0 = evenly spread, →1 = one item holds everything — the
    * inequality face of [[simpsonDiversity]], e.g. "how skewed is each
    * language's corpus across sources". Sorted-rank formula
    * G = (2·Σ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) with ranks from ONE keyed
    * window (ascending mass, item tiebreak — deterministic); every term
    * is an exact integer until the single final divide.
    */
  def giniIndex(df: org.apache.spark.sql.DataFrame, groupCol: String,
      itemCol: String, valueCol: String): org.apache.spark.sql.DataFrame = {
    val mass = df.groupBy(col(groupCol).as("_grp"), col(itemCol).as("_it"))
      .agg(sum(col(valueCol)).cast("long").as("_x"))
    val w = Window.partitionBy(col("_grp")).orderBy(col("_x"), col("_it"))
    mass.withColumn("_i", row_number().over(w).cast("long"))
      .groupBy("_grp").agg(
        count(lit(1)).as("n_items"),
        sum(col("_x")).as("total"),
        sum(col("_i") * col("_x")).as("_six"))
      .select(col("_grp").as(groupCol), col("n_items"), col("total"),
        when(col("total") <= 0 || col("n_items") <= 1, lit(0.0)).otherwise(
          round((lit(2.0) * col("_six").cast("double") -
            (col("n_items") + 1).cast("double") * col("total").cast("double")) /
            (col("n_items").cast("double") * col("total").cast("double")), 4))
          .as("gini"))
  }

  /** Benford first-significant-digit profile — the numeric-data-quality /
    * fraud screen (Benford 1938; Nigrini 2012): observed first-digit
    * frequencies of a positive numeric column against the Benford
    * expectation log10(1 + 1/d). Expected frequencies are DRIVER
    * literals (micro-units — no logs in the plan); digits extract from a
    * DECIMAL rendering so both engines see identical strings. Returns one
    * row per digit 1..9 with observed count/frequency, expectation, and
    * absolute deviation — Σ|obs−exp| (the MAD screen) is one sum away.
    * ONE narrow scan + a 9-row aggregate.
    */
  def benfordProfile(df: org.apache.spark.sql.DataFrame,
      valueCol: String): org.apache.spark.sql.DataFrame = {
    val expected = benfordExpectedMicro
    val digit = regexp_extract(col(valueCol).cast("decimal(18,2)")
      .cast("string"), "[1-9]", 0)
    val counted = df.where(col(valueCol).isNotNull && col(valueCol) > 0)
      .select(digit.as("_d")).where(col("_d") =!= "")
      .groupBy(col("_d").cast("int").as("digit"))
      .agg(count(lit(1)).as("n_obs"))
    val total = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
    counted
      .withColumn("_tot", sum(col("n_obs")).over(total))
      .select(col("digit"), col("n_obs"),
        round(col("n_obs").cast("double") / col("_tot"), 4).as("p_obs"),
        round(element_at(lit(expected), col("digit")).cast("double") / 1e6, 4)
          .as("p_benford"),
        round(abs(col("n_obs").cast("double") / col("_tot") -
          element_at(lit(expected), col("digit")).cast("double") / 1e6), 4)
          .as("abs_diff"))
  }

  /** Micro-unit Benford expectations log10(1 + 1/d), d = 1..9 — shared
    * with the oracle generator so the constants cannot drift.
    */
  private[graft] def benfordExpectedMicro: Array[Long] =
    Array.tabulate(9)(i => math.round(1e6 * math.log10(1.0 + 1.0 / (i + 1))))

  /** DuckDB replay of [[benfordProfile]] with the SAME literal table. */
  def benfordOracleSql(valuesSql: String): String = {
    val table = benfordExpectedMicro.mkString(", ")
    s"""WITH v AS ($valuesSql),
       |d AS (SELECT TRY_CAST(regexp_extract(
       |    CAST(CAST(x AS DECIMAL(18,2)) AS VARCHAR), '[1-9]') AS INT) AS digit
       |  FROM v WHERE x IS NOT NULL AND x > 0),
       |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d
       |  WHERE digit IS NOT NULL GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS t FROM c)
       |SELECT digit, n_obs,
       |  round(CAST(n_obs AS DOUBLE) / t, 4) AS p_obs,
       |  round(CAST(([$table])[digit] AS DOUBLE) / 1000000, 4) AS p_benford,
       |  round(abs(CAST(n_obs AS DOUBLE) / t -
       |    CAST(([$table])[digit] AS DOUBLE) / 1000000), 4) AS abs_diff
       |FROM c, tot ORDER BY digit""".stripMargin
  }

  /** Missingness-pattern profile (the `md.pattern` / missingno summary):
    * rows group by their null-indicator bitstring over `cols`, so
    * correlated missingness ("colA is null exactly when colB is") shows
    * up as one dominant pattern instead of independent per-column null
    * rates — the diagnosis [[profile]]'s per-column counts cannot see.
    * ONE map-side-combinable groupBy on a narrow computed key.
    */
  def nullPatterns(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val pattern = concat(
      cols.map(c => when(col(c).isNull, lit("1")).otherwise(lit("0"))): _*)
    df.groupBy(pattern.as("pattern"))
      .agg(count(lit(1)).as("n_rows"))
  }

  /** Driver-small multinomial Naive Bayes model over hashed unigram
    * counts: per class, a Laplace-smoothed log-likelihood per hash bucket
    * and a log-prior — all pre-quantized to integer micro-nats ON THE
    * DRIVER, so scoring holds zero transcendentals and argmax ties are
    * exact. `classes` is sorted; ties prefer the earlier class.
    */
  final case class NbModel(classes: Seq[String], dim: Int,
      priorQ: Map[String, Long], lpQ: Map[String, Array[Long]])

  /** Shared (doc, bucket, cnt) projection for NB train and score — the
    * [[hashedCounts]] tokenization with an arbitrary carried column.
    */
  private def nbBuckets(df: DataFrame, idCol: String, textCol: String,
      carryCol: String, dim: Int): DataFrame =
    df.select(col(idCol).as("_did"), col(carryCol).as("_carry"),
      explode(filter(split(Dedup.normalize(col(textCol)), " "),
        t => length(t) > 0)).as("_tok"))
      .withColumn("bucket",
        conv(substring(md5(col("_tok")), 1, 8), 16, 10).cast("long") % dim)
      .groupBy("_did", "_carry", "bucket").agg(count(lit(1)).as("cnt"))

  /** Train the hashed multinomial NB (McCallum & Nigam 1998) — the
    * classic "label the whole corpus by domain/language with a model you
    * can ship as plan literals" classifier, the generative sibling of
    * [[perceptronTrain]]. One tokenization pass; the collected sufficient
    * statistic is classes × dim counts — driver-small only while the
    * CLASS count is model-scale, and class cardinality is data-dependent
    * (a mislabeled join could hand this a million-value column), so the
    * size is MEASURED before the collect (the [[bpeTrain]] /
    * [[graft.ext.Stats.bradleyTerry]] gating discipline; NB over
    * millions of classes is a modeling error, not a scale path — hence a
    * hard require, not a fallback).
    */
  def naiveBayesTrain(df: DataFrame, idCol: String, textCol: String,
      classCol: String, dim: Int = 64,
      localClassLimit: Long = 10000L): NbModel = {
    require(dim >= 2, "dim must be >= 2")
    val nClasses = df.select(col(classCol)).distinct().count()
    require(nClasses <= localClassLimit,
      s"naiveBayesTrain: $nClasses distinct '$classCol' values exceed " +
        s"localClassLimit=$localClassLimit — the class axis is the MODEL " +
        "and must stay driver-small; check the label column or raise the " +
        "limit deliberately")
    val feats = nbBuckets(df, idCol, textCol, classCol, dim)
    val cb = feats.groupBy("_carry", "bucket").agg(sum(col("cnt")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val docs = df.groupBy(col(classCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val classes = docs.keySet.toSeq.sorted
    val nDocs = docs.values.sum
    val priorQ = classes.map(c =>
      c -> math.round(1e6 * math.log(docs(c).toDouble / nDocs))).toMap
    val lpQ = classes.map { c =>
      val tot = (0L until dim).map(b => cb.getOrElse((c, b), 0L)).sum
      c -> Array.tabulate(dim)(b => math.round(1e6 *
        math.log((cb.getOrElse((c, b.toLong), 0L) + 1).toDouble / (tot + dim))))
    }.toMap
    NbModel(classes, dim, priorQ, lpQ)
  }

  /** Score docs under a trained [[NbModel]]: per class an exact integer
    * sum Σ cnt·lp[bucket] + prior (model literals ride the plan — no
    * join), argmax by (score, earlier class). One tokenization pass and
    * one keyed aggregate.
    */
  def naiveBayesScore(df: DataFrame, idCol: String, textCol: String,
      model: NbModel): DataFrame = {
    val feats = nbBuckets(df, idCol, textCol, idCol, model.dim)
    val scores = model.classes.zipWithIndex.map { case (c, i) =>
      sum(col("cnt") * element_at(lit(model.lpQ(c)),
        col("bucket").cast("int") + 1)).as(s"_s$i")
    }
    val scored = feats.groupBy("_did").agg(scores.head, scores.tail: _*)
    val entries = model.classes.zipWithIndex.map { case (c, i) =>
      struct((col(s"_s$i") + model.priorQ(c)).as("s"), lit(-i).as("ni"))
    }
    scored.withColumn("_best", array_max(array(entries: _*)))
      .select(col("_did").as(idCol),
        element_at(lit(model.classes.toArray), -col("_best.ni") + 1)
          .as("pred"),
        col("_best.s").as("score_q"))
  }

  /** Greedy maximum-coverage selection of k documents (the submodular /
    * facility-location curation recipe, public: pick the doc adding the
    * most not-yet-covered shingles, repeat — within (1−1/e) of the
    * optimal coverage by the classic greedy guarantee). The "smallest
    * representative subset" selector for eval-set construction and
    * few-shot pool curation.
    *
    * Per round: one anti-join of the (doc, shingle) frame against the
    * covered-shingle set (keyed on the shingle), one counting aggregate,
    * and a 1-row deterministic argmax (gain desc, id asc) — k rounds
    * total, the covered set grows by one doc's shingles per round and is
    * checkpointed (the fixed-point lineage contract). Never materializes
    * per-doc shingle sets on the driver.
    */
  def greedyCoverSelect(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int, k: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = df.sparkSession
    val sh = materialize(graft.ext.Dedup.explodeShingles(df, idCol, textCol, n)
      .select(col(idCol).as("_id"), col("shingle")).distinct())
    var covered = materialize(sh.select(col("shingle")).limit(0))
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Int, Any, Long, Long)]
    var round = 1
    var done = false
    while (round <= k && !done) {
      val gains = sh.join(covered, Seq("shingle"), "left_anti")
        .groupBy("_id").agg(count(lit(1)).as("_g"))
        .orderBy(col("_g").desc, col("_id").asc).limit(1).collect()
      if (gains.isEmpty) done = true // everything covered: stop early
      else {
        val doc = gains.head.get(0)
        val gain = gains.head.getLong(1)
        val (next, c) = materialize(covered
          .unionByName(sh.where(col("_id") === doc).select("shingle"))
          .distinct(), count(lit(1)).as("covered"))
        covered = next
        picks += ((round, doc, gain, c.getLong(0)))
        round += 1
      }
    }
    import org.apache.spark.sql.types._
    val idField = df.schema(idCol)
    spark.createDataFrame(
      java.util.Arrays.asList(picks.toSeq.map { case (r, doc, g, c) =>
        org.apache.spark.sql.Row(r, doc, g, c) }: _*),
      StructType(Seq(StructField("round", IntegerType, nullable = false),
        idField.copy(name = idCol),
        StructField("gain", LongType, nullable = false),
        StructField("covered_total", LongType, nullable = false))))
  }

  /** DuckDB replay of [[greedyCoverSelect]] — unrolled materialized CTE
    * rounds (pick → covered per round). `docsSql` must yield (doc_id,
    * text); shingles/normalization match [[graft.ext.Dedup.shingles]].
    */
  def greedyCoverOracleSql(docsSql: String, n: Int, k: Int): String = {
    val grams = (0 until n).map(i => s"t[i+$i]").mkString(" || ' ' || ")
    val head =
      s"""WITH docs AS ($docsSql),
         |tok AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),
         |    '\\s+', ' ', 'g')), ' ') AS t FROM docs),
         |sh AS MATERIALIZED (SELECT DISTINCT doc_id AS id, $grams AS shingle
         |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t) - ${n - 1}))
         |    AS i) u
         |  WHERE len(t) >= $n)""".stripMargin
    val rounds = (1 to k).map { r =>
      val anti =
        if (r == 1) "sh"
        else s"""(SELECT * FROM sh WHERE NOT EXISTS
                |  (SELECT 1 FROM cov${r - 1} c WHERE c.shingle = sh.shingle))"""
          .stripMargin
      s"""pick$r AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS gain
         |  FROM $anti sx GROUP BY 1 ORDER BY gain DESC, id LIMIT 1),
         |cov$r AS MATERIALIZED (SELECT DISTINCT shingle FROM sh
         |  WHERE sh.id = (SELECT id FROM pick$r)
         |  ${if (r == 1) "" else s"UNION SELECT shingle FROM cov${r - 1}"}),
         |tot$r AS (SELECT CAST(count(*) AS BIGINT) AS c FROM cov$r)""".stripMargin
    }
    // a saturated round has an EMPTY pick (no uncovered shingles left) —
    // emit nothing for it, matching the Scala early stop
    val sel = (1 to k).map { r =>
      s"""SELECT $r AS round, (SELECT id FROM pick$r) AS doc_id,
         |  (SELECT gain FROM pick$r) AS gain,
         |  (SELECT c FROM tot$r) AS covered_total
         |WHERE (SELECT count(*) FROM pick$r) > 0""".stripMargin
    }
    ((head +: rounds).mkString(",\n")) + "\n" +
      sel.mkString("\nUNION ALL\n") + "\nORDER BY round"
  }

  /** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty) —
    * the language-model scorer next to [[bm25]]: score(q, d) =
    * Σ_t ln((tf_td·|C| + μ·cf_t) / ((dl_d + μ)·|C|)). Unlike BM25 every
    * document scores on every term (smoothing gives zero-tf terms mass),
    * so the per-doc combination is a docs × |q| broadcast expansion with
    * a left-joined tf. Exactness: tf / cf / dl / |C| are exact integers,
    * each term contributes ONE division of exact integers into ln, and
    * the per-doc sum folds the sorted terms left-to-right (fixed order).
    *
    * Scale shape: one token-explode tf aggregate (map-side combines),
    * a |q|-row collection-frequency broadcast, a narrow per-doc
    * expansion. Output: doc_id, ql (4 dp), n_matched_terms.
    */
  def queryLikelihood(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], mu: Long = 2000L): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    val terms = queryTerms.map(_.toLowerCase).distinct.sorted
    val toks = filter(split(Dedup.normalize(col(textCol)), " "),
      t => length(t) > 0)
    val docs = materialize(df.select(col(idCol), toks.as("_t"))
      .withColumn("dl", size(col("_t")).cast("long")))
    val coll = docs.agg(sum("dl").as("c_len"))
    val tf = docs
      .select(col(idCol), explode(filter(col("_t"), t => t.isin(terms: _*)))
        .as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val cf = tf.groupBy("term").agg(sum("tf").as("cf"))
    val termsDf = {
      val spark = df.sparkSession
      import spark.implicits._
      terms.toDF("term")
    }
    val pairs = docs.select(col(idCol), col("dl"))
      .crossJoin(broadcast(termsDf))
      .join(tf, Seq(idCol, "term"), "left")
      .join(broadcast(cf), Seq("term"))
      .crossJoin(broadcast(coll))
      .withColumn("_tf", coalesce(col("tf"), lit(0L)))
      .withColumn("_c", log(
        (col("_tf") * col("c_len") + lit(mu) * col("cf")).cast("double") /
          ((col("dl") + lit(mu)) * col("c_len")).cast("double")))
    val perTerm = terms.map(t =>
      coalesce(sum(when(col("term") === t, col("_c"))), lit(0.0)))
    pairs.groupBy(col(idCol))
      .agg(round(perTerm.reduceLeft(_ + _), 4).as("ql"),
        coalesce(sum(when(col("_tf") > 0, 1L).otherwise(0L)), lit(0L))
          .as("n_matched_terms"))
  }

  /** DuckDB replay of [[queryLikelihood]]. */
  def queryLikelihoodOracleSql(table: String, idCol: String, textCol: String,
      queryTerms: Seq[String], mu: Long = 2000L): String = {
    val terms = queryTerms.map(_.toLowerCase).distinct.sorted
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val sumExpr = terms.map(t =>
      s"coalesce(sum(CASE WHEN term = '$t' THEN c END), 0)")
      .mkString("\n      + ")
    s"""WITH sel AS (SELECT $idCol AS did,
       |    list_filter(string_split(trim(regexp_replace(lower($textCol),
       |      '\\s+', ' ', 'g')), ' '), x -> len(x) > 0) AS t
       |  FROM $table),
       |docs AS (SELECT did, CAST(len(t) AS BIGINT) AS dl, t FROM sel),
       |coll AS (SELECT sum(dl)::BIGINT AS c_len FROM docs),
       |tf AS (SELECT did, term, count(*)::BIGINT AS tf
       |  FROM docs, LATERAL (SELECT unnest(list_filter(t,
       |    x -> x IN ($termList))) AS term) u
       |  GROUP BY 1, 2),
       |cf AS (SELECT term, sum(tf)::BIGINT AS cf FROM tf GROUP BY 1),
       |qt AS (SELECT unnest([$termList]) AS term),
       |pairs AS (SELECT d.did, qt.term,
       |    coalesce(t.tf, 0)::BIGINT AS tf, d.dl, cf.cf, coll.c_len
       |  FROM docs d CROSS JOIN qt
       |  LEFT JOIN tf t ON t.did = d.did AND t.term = qt.term
       |  JOIN cf ON cf.term = qt.term CROSS JOIN coll),
       |c AS (SELECT did, term, tf,
       |    ln((tf * c_len + $mu * cf)::DOUBLE / ((dl + $mu) * c_len)::DOUBLE)
       |      AS c
       |  FROM pairs)
       |SELECT did AS $idCol,
       |  round($sumExpr, 4) AS ql,
       |  coalesce(sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END), 0)::BIGINT
       |    AS n_matched_terms
       |FROM c GROUP BY 1""".stripMargin
  }
}
