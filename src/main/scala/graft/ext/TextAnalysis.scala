package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.graph.Rounds.materialize

/** Text-analysis operators for training-data pipelines (extension surface):
  * language-ID, quality scoring, token counting, document fingerprinting.
  * Everything is a Catalyst expression composition — per-row work inside
  * whole-stage codegen, embarrassingly parallel at any scale.
  */
object TextAnalysis {

  def tokens(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** Whitespace token count. */
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0)).otherwise(size(tokens(c)))

  /** BPE-ish subword count estimate: word-piece regex splits on
    * letter/digit/punctuation boundaries (a cheap deterministic proxy for a
    * real tokenizer, which would be a vocab lookup).
    */
  def subwordCount(c: Column): Column =
    size(split(trim(c), "(?<=\\p{L})(?=\\p{N})|(?<=\\p{N})(?=\\p{L})|\\s+|(?=[^\\p{L}\\p{N}\\s])"))

  /** Stopword-ratio language scores. `stopwords` maps language → word list;
    * score = fraction of tokens that are stopwords of that language.
    */
  def langScore(c: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(c)
    round(size(filter(toks, t => t.isInCollection(stopwords))).cast("double") /
      greatest(size(toks), lit(1)), 4)
  }

  val DefaultStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un", "una", "es", "por"),
    "fr" -> Seq("le", "la", "de", "et", "que", "en", "un", "une", "est", "pour"),
    "de" -> Seq("der", "die", "das", "und", "zu", "in", "ist", "ein", "eine", "von")
  )

  /** n-gram-heuristic language ID: argmax of per-language stopword scores
    * with deterministic tiebreak (language order as declared).
    */
  def langId(c: Column, stopwords: Map[String, Seq[String]] = DefaultStopwords): Column = {
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(langScore(c, words).as("s"), lit(lang).as("l"))
    }
    // greatest struct = (max score, then max lang name); invert lang for
    // deterministic *first*-declared tiebreak instead
    val best = scored.reduceLeft((a, b) => when(b.getField("s") > a.getField("s"), b).otherwise(a))
    best.getField("l")
  }

  /** PII redaction (standard pre-training scrub pass): replace emails,
    * IPv4 addresses, phone-like digit runs, and URLs with typed tokens.
    * Patterns restricted to the regex subset Java and RE2 share (no
    * lookarounds/backrefs — and no `\s`, whose class differs: Java's
    * includes \x0B, RE2's does not; whitespace is spelled as an explicit
    * character class instead), so an engine with RE2 `regexp_replace`
    * (the DuckDB oracle) reproduces the output byte-for-byte. Order matters:
    * URLs before IPv4 (an URL may embed a host IP), emails before phones
    * (digits inside a local-part must not be phone-masked).
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+" -> "<EMAIL>",
    "https?://[^ \\t\\n\\x0B\\f\\r]+" -> "<URL>",
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b" -> "<IP>",
    "\\+?[0-9][0-9()\\-. ]{7,}[0-9]" -> "<PHONE>"
  )

  def redactPii(c: Column): Column =
    PiiPatterns.foldLeft(c) { case (acc, (re, token)) =>
      regexp_replace(acc, re, token)
    }

  /** Quality scoring: length / punctuation / stopword ratios combined into
    * [0,1] (the usual pre-train heuristics, cf. C4/Gopher rules — public
    * knowledge).
    */
  def qualityFeatures(c: Column): Column = {
    val n = greatest(length(c), lit(1)).cast("double")
    val toks = tokens(c)
    val nToks = greatest(size(toks), lit(1)).cast("double")
    struct(
      length(c).as("n_chars"),
      size(toks).as("n_tokens"),
      round(length(regexp_replace(c, "[^\\p{Punct}]", "")).cast("double") / n, 4)
        .as("punct_ratio"),
      round(length(regexp_replace(c, "[^0-9]", "")).cast("double") / n, 4)
        .as("digit_ratio"),
      round(aggregate(org.apache.spark.sql.functions.transform(toks, t => length(t).cast("double")),
        lit(0.0), (a, x) => a + x) / nToks, 4).as("mean_token_len"),
      round(size(array_distinct(toks)).cast("double") / nToks, 4).as("distinct_token_ratio")
    )
  }

  /** Scalar quality score in [0,1]: penalize extreme lengths, high punct /
    * digit ratios, low vocabulary diversity. Computed from RAW ratios (no
    * intermediate rounding): pre-rounded ratios land the final sum exactly
    * on decimal rounding boundaries, where engines disagree on the last
    * digit; raw IEEE arithmetic in a fixed order is bit-reproducible in any
    * engine, so the single final round is stable.
    */
  def qualityScore(c: Column): Column = {
    val n = greatest(length(c), lit(1)).cast("double")
    val toks = tokens(c)
    val nToks = greatest(size(toks), lit(1)).cast("double")
    val punct = length(regexp_replace(c, "[^\\p{Punct}]", "")).cast("double") / n
    val digit = length(regexp_replace(c, "[^0-9]", "")).cast("double") / n
    val dr = size(array_distinct(toks)).cast("double") / nToks
    val lenOk = when(size(toks).between(5, 100000), 1.0).otherwise(0.3)
    val punctOk = lit(1.0) - least(punct * 4, lit(1.0))
    val digitOk = lit(1.0) - least(digit * 4, lit(1.0))
    val divOk = least(dr * 2, lit(1.0))
    round(lenOk * 0.25 + punctOk * 0.25 + digitOk * 0.25 + divOk * 0.25, 4)
  }

  /** Document fingerprint: md5 of normalized text (whole-doc), plus a
    * winnowing-style rolling fingerprint — the k smallest shingle hashes,
    * joined — which is stable under small edits (public winnowing/MOSS idea).
    */
  def fingerprint(c: Column): Column = md5(Dedup.normalize(c))

  def winnowFingerprint(c: Column, shingleLen: Int = 3, k: Int = 4): Column =
    array_join(slice(sort_array(
      org.apache.spark.sql.functions.transform(
        Dedup.shingles(c, shingleLen), s => md5(s))), 1, k), "|")

  /** Word n-grams as a NON-distinct array (occurrence multiset, unlike
    * [[Dedup.shingles]]) — repetition metrics need the multiplicities.
    */
  def wordNgrams(c: Column, n: Int): Column = {
    val toks = filter(split(Dedup.normalize(c), " "), t => length(t) > 0)
    val idx = when(size(toks) >= n, sequence(lit(0), size(toks) - n))
      .otherwise(lit(Array.empty[Int]))
    org.apache.spark.sql.functions.transform(
      idx, i => array_join(slice(toks, i + 1, lit(n)), " "))
  }

  /** Fraction of characters contained in word n-grams that occur MORE THAN
    * ONCE within the document (the Gopher repetition-rule family's
    * "fraction of characters in duplicate n-grams" — public heuristic,
    * Rae et al. 2021 §A1.1). Each occurrence of a duplicated n-gram
    * contributes its normalized length (internal single spaces included);
    * the denominator is the normalized text length; overlap can push the
    * raw sum past 1, so the result is capped at 1.
    *
    * Implementation: sort the n-gram multiset, then a single linear
    * `aggregate` fold accumulates run lengths — equal n-grams are adjacent
    * after the sort, so a run of length r > 1 adds r·len chars. Per-row
    * column program (no shuffle); the fold is interpreted (non-codegen)
    * but linear in the token count.
    */
  def dupNgramCharFrac(c: Column, n: Int): Column = {
    val sorted = array_sort(wordNgrams(c, n))
    val zero = struct(lit("").as("prev"), lit(0).as("run"), lit(0L).as("acc"))
    val folded = aggregate(sorted, zero,
      (st, g) => {
        val flushed = when(st("run") > 1,
          st("acc") + st("run").cast("long") * length(st("prev")))
          .otherwise(st("acc"))
        struct(
          g.as("prev"),
          when(g === st("prev"), st("run") + 1).otherwise(lit(1)).as("run"),
          when(g === st("prev"), st("acc")).otherwise(flushed).as("acc"))
      },
      st => when(st("run") > 1,
        st("acc") + st("run").cast("long") * length(st("prev")))
        .otherwise(st("acc")))
    val totalChars = length(Dedup.normalize(c))
    when(totalChars <= 0, lit(0.0))
      .otherwise(round(least(folded.cast("double") / totalChars, lit(1.0)), 4))
  }

  /** Dictionary phrase tagging (gazetteer / taxonomy / term-list
    * annotation): count every occurrence of each dictionary phrase in each
    * document — the distributed core of keyword taggers (FlashText-class
    * tooling, public technique): PII term lists, topic taxonomies,
    * product-name gazetteers. Multi-word phrases match at ANY token
    * offset; overlapping occurrences all count.
    *
    * Scale shape: the corpus explodes once per DISTINCT phrase LENGTH
    * (almost always 1–3), emitting position-joined token n-grams that
    * join against the broadcast phrase table — never a scan per phrase,
    * so a 10k-entry dictionary costs the same passes as a 10-entry one.
    * Phrases are normalized with the shared normalizer at plan build.
    * Output: (id, phrase, n_matches, first_pos) — only matched (doc,
    * phrase) pairs appear.
    */
  def dictionaryTag(df: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "empty phrase dictionary")
    val normed = phrases.map(_.toLowerCase.trim.replaceAll("\\s+", " "))
      .filter(_.nonEmpty).distinct
    val byLen = normed.groupBy(_.split(" ").length)
    val toks = df.select(col(idCol).as("_id"),
      filter(split(Dedup.normalize(col(textCol)), " "),
        t => length(t) > 0).as("_t"))
      .where(size(col("_t")) > 0)
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.broadcast
    val grams = byLen.keys.toSeq.sorted.map { len =>
      toks.where(size(col("_t")) >= len)
        .select(col("_id"), explode(transform(
          sequence(lit(0), size(col("_t")) - len),
          p => struct(p.as("p"),
            concat_ws(" ", slice(col("_t"), p + 1, lit(len))).as("g")))).as("_e"))
        .select(col("_id"), col("_e.p").as("_p"), col("_e.g").as("_g"))
    }.reduce(_ unionAll _)
    val dict = {
      import spark.implicits._
      normed.toDF("phrase")
    }
    grams.join(broadcast(dict), grams("_g") === dict("phrase"))
      .groupBy(col("_id"), col("phrase"))
      .agg(count(lit(1)).as("n_matches"), min(col("_p")).cast("long").as("first_pos"))
      .select(col("_id").as(idCol), col("phrase"), col("n_matches"),
        col("first_pos"))
  }

  /** C4-style line-level cleaning (Raffel et al. 2020 §2.2, public
    * heuristics): keep only lines that end in terminal punctuation
    * (`. ! ? "`), carry at least `minLineWords` words, and don't mention
    * "javascript"; a document survives (`kept`) when at least
    * `minKeptLines` lines remain and the raw text contains neither `{`
    * nor "lorem ipsum". Returns a struct of (n_lines, n_kept, kept,
    * clean_text) — the cleaned text is the surviving lines re-joined, so
    * a pipeline can `where($"c.kept")` and project `c.clean_text` with
    * nothing but narrow per-row array ops (no shuffle, no UDF).
    */
  def c4LineClean(c: Column, minLineWords: Int = 5,
      minKeptLines: Int = 3): Column = {
    val lines = transform(split(c, "\n"),
      l => regexp_replace(l, "^\\s+|\\s+$", ""))
    val kept = filter(lines, l =>
      l.rlike("[.!?\"]$") &&
        size(filter(split(l, "\\s+"), w => length(w) > 0)) >= minLineWords &&
        !lower(l).contains("javascript"))
    val docKept = size(kept) >= minKeptLines &&
      !c.contains("{") && !lower(c).contains("lorem ipsum")
    struct(
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      docKept.as("kept"),
      array_join(kept, "\n").as("clean_text"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1, public
    * heuristics) as a struct of per-rule verdicts plus the measured
    * features: word-count bounds, mean-word-length bounds, symbol-to-word
    * ratio (# / … / "..."), bullet- and ellipsis-line fractions,
    * alphabetic-word fraction, required-stopword hits, and the duplicate
    * bigram character fraction ([[dupNgramCharFrac]]). `pass` is the
    * conjunction. Narrow per-row column math — a pre-training filter runs
    * it as a plain `where(col("g.pass"))` with full scan pushdown.
    */
  def gopherRules(c: Column,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
      minAlphaFrac: Double = 0.8, minStopwords: Int = 2,
      maxDupBigramFrac: Double = 0.2): Column = {
    val toks = filter(split(Dedup.normalize(c), " "), t => length(t) > 0)
    val nw = size(toks)
    val nwD = greatest(nw, lit(1)).cast("double")
    val meanLen = aggregate(toks, lit(0L), (a, t) => a + length(t))
      .cast("double") / nwD
    val nHash = length(c) - length(translate(c, "#", ""))
    val nUniEll = length(c) - length(translate(c, "…", ""))
    val nDotEll = (length(c) - length(regexp_replace(c, "\\.\\.\\.", ""))) / 3
    val symbolRatio = (nHash + nUniEll + nDotEll).cast("double") / nwD
    val lines = split(c, "\n")
    val nLines = greatest(size(lines), lit(1)).cast("double")
    val bulletFrac = size(filter(lines,
      l => l.rlike("^\\s*[\\u2022\\u2023*-]"))).cast("double") / nLines
    val ellipsisFrac = size(filter(lines,
      l => l.rlike("(\\.\\.\\.|\\u2026)\\s*$"))).cast("double") / nLines
    val alphaFrac = size(filter(toks, t => t.rlike("[a-z]"))).cast("double") / nwD
    val required = Array("the", "be", "to", "of", "and", "that", "have", "with")
    val stopHits = size(array_intersect(toks, lit(required)))
    val dupBigram = dupNgramCharFrac(c, 2)
    val rWords = nw.between(minWords, maxWords)
    val rMeanLen = meanLen.between(minMeanLen, maxMeanLen)
    val rSymbol = symbolRatio <= maxSymbolRatio
    val rBullet = bulletFrac <= maxBulletFrac
    val rEllipsis = ellipsisFrac <= maxEllipsisFrac
    val rAlpha = alphaFrac >= minAlphaFrac
    val rStop = stopHits >= minStopwords
    val rDup = dupBigram <= maxDupBigramFrac
    struct(
      nw.cast("long").as("n_words"),
      round(meanLen, 4).as("mean_word_len"),
      round(symbolRatio, 4).as("symbol_ratio"),
      round(alphaFrac, 4).as("alpha_frac"),
      stopHits.cast("long").as("stopword_hits"),
      dupBigram.as("dup_bigram_frac"),
      rWords.as("r_words"), rMeanLen.as("r_mean_len"),
      rSymbol.as("r_symbol"), rBullet.as("r_bullet"),
      rEllipsis.as("r_ellipsis"), rAlpha.as("r_alpha"),
      rStop.as("r_stopwords"), rDup.as("r_dup_bigram"),
      (rWords && rMeanLen && rSymbol && rBullet && rEllipsis &&
        rAlpha && rStop && rDup).as("pass"))
  }

  /** Flesch reading-ease + Flesch–Kincaid grade level (public formulas)
    * from deterministic heuristic counts: sentences = non-empty `[.!?]+`
    * segments (min 1), words = whitespace tokens, syllables = vowel-group
    * runs (`[aeiouy]+`) — the standard cheap approximation. All three are
    * exact integers; each score is ONE fixed IEEE expression over them.
    * Narrow per-row column math: embarrassingly parallel at any scale.
    */
  def readability(text: Column): Column = {
    val words = tokenCount(text)
    val sentences = greatest(
      size(filter(split(text, "[.!?]+"), s => length(trim(s)) > 0)), lit(1))
    val syllables = size(
      regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0)))
    struct(
      words.cast("long").as("words"),
      sentences.cast("long").as("sentences"),
      syllables.cast("long").as("syllables"),
      round(lit(206.835)
        - lit(1.015) * words.cast("double") / sentences
        - lit(84.6) * syllables.cast("double") / greatest(words, lit(1)), 3)
        .as("flesch"),
      round(lit(0.39) * words.cast("double") / sentences
        + lit(11.8) * syllables.cast("double") / greatest(words, lit(1))
        - lit(15.59), 3).as("fk_grade"))
  }

  /** RAKE keyphrase extraction (Rose et al. 2010, public): candidate
    * phrases are maximal runs of non-stopword tokens (stopwords are the
    * delimiters), each word is scored `degree/frequency` over the
    * candidate set (degree = Σ lengths of the phrases it appears in —
    * rewards words that co-occur inside longer phrases), and a phrase
    * scores the sum of its word scores. The per-doc top-k by score is the
    * extracted keyphrase set — the cheap deterministic keyword tagger for
    * corpus labeling/routing.
    *
    * Determinism: word scores are quantized to integer micro-units before
    * the per-phrase sum (order-free exact — the house float-parity
    * contract); ties rank by phrase text. Scale shape: one
    * per-doc-partitioned window builds the runs (keyed shuffle, no global
    * sort); word stats are one keyed groupBy over phrase occurrences;
    * everything else is keyed joins. Phrases longer than `maxLen` tokens
    * are dropped (RAKE's usual guard against stopword-free run-ons).
    */
  def rakeKeyphrases(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String], maxLen: Int = 4, k: Int = 3): DataFrame = {
    val toks = filter(split(Dedup.normalize(col(textCol)), " "),
      t => length(t) > 0)
    val pos = df.select(col(idCol).as("_id"),
      posexplode(toks).as(Seq("_pos", "_tok")))
    val isStop = col("_tok").isInCollection(stopwords)
    val w = Window.partitionBy("_id").orderBy("_pos")
    val runs = pos
      .withColumn("_run", sum(when(isStop, 1).otherwise(0)).over(w))
      .where(!isStop)
    val phrases = materialize(runs.groupBy(col("_id"), col("_run"))
      .agg(sort_array(collect_list(struct(col("_pos"), col("_tok"))))
        .as("_pt"))
      .select(col("_id"), col("_run"),
        transform(col("_pt"), p => p.getField("_tok")).as("_words"))
      .where(size(col("_words")) <= maxLen)
      .withColumn("phrase", array_join(col("_words"), " "))
      .withColumn("_plen", size(col("_words"))))
    val words = phrases.select(col("_id"), col("_run"), col("_plen"),
      explode(col("_words")).as("_w"))
    val scores = words.groupBy("_w")
      .agg(count(lit(1)).as("_freq"), sum(col("_plen")).as("_deg"))
      .withColumn("_sq",
        round(col("_deg").cast("double") * 1e6 / col("_freq")).cast("long"))
    val pscore = words.join(scores.select("_w", "_sq"), Seq("_w"))
      .groupBy(col("_id"), col("_run")).agg(sum("_sq").as("_ps"))
    phrases.join(pscore, Seq("_id", "_run"))
      // identical phrases from different runs collapse to one candidate
      // (same words → same _ps, so the surviving row is unambiguous)
      .dropDuplicates("_id", "phrase")
      .withColumn("_rk", row_number().over(Window.partitionBy("_id")
        .orderBy(col("_ps").desc, col("phrase").asc)))
      .where(col("_rk") <= k)
      .select(col("_id").as(idCol), col("_rk").cast("long").as("rank"),
        col("phrase"), round(col("_ps") / 1e6, 6).as("score"))
  }
}
