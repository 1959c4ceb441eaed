package graft
package battery

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.graph.GraphAlgos
import graft.ext.{Corpus, Dedup, TextAnalysis}

import BatteryFixtures._

/** Text and corpus: tokenization, quality signals, curation, sampling
  * and language models over the documents table.
  */
object TextQueries extends Family("text") {

  /** Shared TextRank token-pair construction: content words (≥ 4 letters)
    * co-occurring within a 3-token window, symmetrized. The DuckDB twin is
    * [[textrankEdgesSql]].
    */
  private def textrankEdges(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      filter(split(trim(lower(col("text"))), "\\s+"),
        w => w.rlike("^[a-z]{4,}$")).as("t"))
    val pos = toks.select(col("doc_id"), posexplode(col("t")))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "w")
    val pairs = pos.as("x").join(pos.as("y"),
        col("x.doc_id") === col("y.doc_id") &&
          (col("y.p") - col("x.p")).between(1, 3) &&
          col("x.w") =!= col("y.w"))
      .select(col("x.w").as("src"), col("y.w").as("dst"))
    pairs.union(pairs.select(col("dst"), col("src")))
      .withColumn("w", lit(1L))
  }

  private val textrankPairsSub: String =
    """(SELECT x.w AS src, y.w AS dst
      |   FROM (SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS p
      |         FROM (SELECT doc_id,
      |                 list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |                   w -> regexp_matches(w, '^[a-z]{4,}$')) AS t
      |               FROM documents)) x
      |   JOIN (SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS p
      |         FROM (SELECT doc_id,
      |                 list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |                   w -> regexp_matches(w, '^[a-z]{4,}$')) AS t
      |               FROM documents)) y
      |   ON x.doc_id = y.doc_id AND y.p - x.p BETWEEN 1 AND 3
      |      AND x.w <> y.w)""".stripMargin

  private val textrankEdgesSql: String =
    s"""SELECT src, dst, 1::BIGINT AS w FROM $textrankPairsSub pr
       |UNION ALL
       |SELECT dst, src, 1::BIGINT FROM $textrankPairsSub pr""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // extension: token counting + quality features
    QuerySpec("q_token_stats", { (s, d) =>
      val f = TextAnalysis.qualityFeatures(col("text"))
      t(s, d)("documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        f.getField("mean_token_len").as("mean_token_len"),
        f.getField("distinct_token_ratio").as("distinct_token_ratio"))
        .orderBy("doc_id")
    },
      """WITH tok AS (SELECT doc_id,
        |  string_split_regex(trim(lower(text)), '\s+') AS t FROM documents)
        |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |  round(list_sum(list_transform(t, x -> CAST(len(x) AS DOUBLE))) /
        |    greatest(len(t), 1), 4) AS mean_token_len,
        |  round(CAST(len(list_distinct(t)) AS DOUBLE) / greatest(len(t), 1), 4)
        |    AS distinct_token_ratio
        |FROM tok ORDER BY doc_id""".stripMargin),

    // extension: language-ID heuristic (stopword ratios, deterministic argmax)
    QuerySpec("q_lang_id", { (s, d) =>
      t(s, d)("documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_guess"),
        TextAnalysis.langScore(col("text"), TextAnalysis.DefaultStopwords("en")).as("en_score"))
        .orderBy("doc_id")
    },
      """WITH tok AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |sc AS (SELECT doc_id,
        |  round(CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS DOUBLE) / greatest(len(t),1), 4) AS s_en,
        |  round(CAST(len(list_filter(t, x -> x IN ('el','la','de','y','que','en','un','una','es','por'))) AS DOUBLE) / greatest(len(t),1), 4) AS s_es,
        |  round(CAST(len(list_filter(t, x -> x IN ('le','la','de','et','que','en','un','une','est','pour'))) AS DOUBLE) / greatest(len(t),1), 4) AS s_fr,
        |  round(CAST(len(list_filter(t, x -> x IN ('der','die','das','und','zu','in','ist','ein','eine','von'))) AS DOUBLE) / greatest(len(t),1), 4) AS s_de
        |  FROM tok),
        |st AS (SELECT doc_id, s_en, s_es, s_fr,
        |  CASE WHEN s_en > s_de THEN s_en ELSE s_de END AS m2,
        |  CASE WHEN s_en > s_de THEN 'en' ELSE 'de' END AS g2 FROM sc),
        |st2 AS (SELECT doc_id, s_en, s_fr,
        |  CASE WHEN s_es > m2 THEN s_es ELSE m2 END AS m3,
        |  CASE WHEN s_es > m2 THEN 'es' ELSE g2 END AS g3 FROM st)
        |SELECT doc_id,
        |  CASE WHEN s_fr > m3 THEN 'fr' ELSE g3 END AS lang_guess, s_en AS en_score
        |FROM st2 ORDER BY doc_id""".stripMargin),

    // extension: feature-hashing vectorization (hashing trick) — dense
    // 16-dim token-count vectors with no vocabulary pass; rendered as a
    // comma-joined string so the array compares as a scalar in the oracle
    QuerySpec("q_feature_hash", { (s, d) =>
      Corpus.featureHash(t(s, d)("documents").where(col("doc_id") < 200),
        "doc_id", "text", dim = 16)
        .select(col("doc_id"),
          concat_ws(",", transform(col("features"), x => x.cast("string")))
            .as("features"))
        .orderBy("doc_id")
    },
      // hashing trick: md5 % 16 buckets, dense list from a bucket grid over
      // docs that have at least one token (matching the groupBy domain)
      """WITH sel AS (SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS nt
        |  FROM documents WHERE doc_id < 200),
        |tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split(nt, ' '), x -> len(x) > 0)) AS tok
        |  FROM sel),
        |hb AS (SELECT doc_id, list_sum(list_transform(generate_series(1, 8),
        |    p -> (strpos('0123456789abcdef', substring(md5(tok), p, 1)) - 1)
        |         * CAST(power(16, 8 - p) AS BIGINT))) % 16 AS bucket
        |  FROM tok),
        |cnts AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
        |  FROM hb GROUP BY 1, 2),
        |grid AS (SELECT d.doc_id, g.b
        |  FROM (SELECT DISTINCT doc_id FROM tok) d, generate_series(0, 15) g(b))
        |SELECT grid.doc_id AS doc_id,
        |  string_agg(CAST(coalesce(c.cnt, 0) AS VARCHAR), ',' ORDER BY grid.b) AS features
        |FROM grid LEFT JOIN cnts c ON c.doc_id = grid.doc_id AND c.bucket = grid.b
        |GROUP BY grid.doc_id ORDER BY grid.doc_id""".stripMargin),

    // extension: PII redaction (emails/URLs/IPs/phones → typed tokens);
    // deterministic PII is synthesized per doc so the scrub is exercised,
    // and the oracle replays the same synthesis + RE2-compatible patterns
    QuerySpec("q_redact_pii", { (s, d) =>
      val dirty = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or http://ex.org/d/"),
        col("doc_id"), lit(" at 10.0."), col("doc_id") % 256,
        lit(".7 phone +1 (555) 000-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      t(s, d)("documents")
        .select(col("doc_id"), TextAnalysis.redactPii(dirty).as("redacted"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  regexp_replace(
        |   regexp_replace(
        |    regexp_replace(
        |     regexp_replace(
        |       text || ' contact user' || doc_id || '@example.com or http://ex.org/d/'
        |         || doc_id || ' at 10.0.' || (doc_id % 256) || '.7 phone +1 (555) 000-'
        |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |     'https?://[^ \t\n\x0B\f\r]+', '<URL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |   '\+?[0-9][0-9()\-. ]{7,}[0-9]', '<PHONE>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin),

    // extension: quality scoring composite
    QuerySpec("q_quality_score", { (s, d) =>
      t(s, d)("documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },
      """WITH tok AS (SELECT doc_id, text,
        |  string_split_regex(trim(lower(text)), '\s+') AS t FROM documents)
        |SELECT doc_id, round(
        |  (CASE WHEN len(t) BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.3 END) * 0.25 +
        |  (1.0 - least(CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) * 4, 1.0)) * 0.25 +
        |  (1.0 - least(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) * 4, 1.0)) * 0.25 +
        |  least(CAST(len(list_distinct(t)) AS DOUBLE) / greatest(len(t), 1) * 2, 1.0) * 0.25
        |, 4) AS quality FROM tok ORDER BY doc_id""".stripMargin),

    // extension: c-TF-IDF — characteristic terms per document source
    // (each class scored as one pseudo-document; micro-unit quantized)
    QuerySpec("q_class_tfidf", { (s, d) =>
      Corpus.classTfidf(t(s, d)("documents"), "text", "source", k = 10)
        .orderBy("class", "rank")
    },
      """WITH tok AS (SELECT source AS class,
        |    unnest(list_filter(string_split(
        |      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> len(x) > 0)) AS term
        |  FROM documents),
        |tf AS (SELECT class, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |f AS (SELECT term, count(*) AS f FROM tok GROUP BY 1),
        |st AS (SELECT count(*) AS total, count(DISTINCT class) AS nc FROM tok),
        |sc AS (SELECT class, term,
        |    CAST(round(tf * ln(1.0 + (CAST(total AS DOUBLE) / CAST(nc AS DOUBLE))
        |      / CAST(f AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS q
        |  FROM tf JOIN f USING (term) CROSS JOIN st)
        |SELECT class, CAST(row_number() OVER w AS BIGINT) AS rank,
        |  term, q AS ctfidf_micro
        |FROM sc WINDOW w AS (PARTITION BY class ORDER BY q DESC, term)
        |QUALIFY row_number() OVER w <= 10 ORDER BY class, rank""".stripMargin),

    // extension: corpus length histogram (fixed-width token buckets)
    QuerySpec("q_token_histogram", { (s, d) =>
      Corpus.tokenHistogram(t(s, d)("documents"), "text", bucketWidth = 20)
        .orderBy("bucket")
    },
      """WITH tok AS (SELECT CASE WHEN len(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS n
        |  FROM documents)
        |SELECT CAST(floor(n / 20) * 20 AS BIGINT) AS bucket,
        |  count(*) AS n_docs FROM tok GROUP BY 1 ORDER BY 1""".stripMargin),

    // extension: exact token-count quantiles (linear interpolation — the
    // oracle-able reference point for percentile_approx at scale)
    QuerySpec("q_token_quantiles", { (s, d) =>
      Corpus.tokenQuantiles(t(s, d)("documents"), "text",
        Seq(0.5, 0.9, 0.99))
        .orderBy("q")
    },
      """WITH tok AS (SELECT CASE WHEN len(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS n
        |  FROM documents)
        |SELECT CAST(0.5 AS DOUBLE) AS q,
        |  round(quantile_cont(n::DOUBLE, 0.5), 4) AS value FROM tok
        |UNION ALL SELECT CAST(0.9 AS DOUBLE),
        |  round(quantile_cont(n::DOUBLE, 0.9), 4) FROM tok
        |UNION ALL SELECT CAST(0.99 AS DOUBLE),
        |  round(quantile_cont(n::DOUBLE, 0.99), 4) FROM tok
        |ORDER BY q""".stripMargin),

    // extension: deterministic train/val/test split by identity hash —
    // membership is stable under reruns/appends (unlike rand()/randomSplit)
    QuerySpec("q_hash_split", { (s, d) =>
      Corpus.hashSplit(t(s, d)("documents").select("doc_id"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    },
      // thresholds are the first 8 md5 hex chars of the cumulative split
      // fractions: 0.8 → 0xCCCCCCCC, 0.9 → 0xE6666666 (Corpus.hexThreshold)
      """SELECT doc_id,
        |  CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'cccccccc' THEN 'train'
        |       WHEN md5(CAST(doc_id AS VARCHAR)) < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),

    // extension: deterministic training-export sharding (reproducible
    // global shuffle — uniform shard draw + independent in-shard ordering)
    QuerySpec("q_export_shards", { (s, d) =>
      Corpus.exportShards(t(s, d)("documents").select("doc_id"), "doc_id",
        nShards = 8)
        .select(col("shard"), col("pos"), col("doc_id"))
        .orderBy("shard", "pos")
    },
      // shard = first 8 hex of md5('s:'||id) as an integer mod 8; pos = rank
      // of md5('o:'||id) within the shard
      """WITH h AS (SELECT doc_id,
        |  list_sum(list_transform(generate_series(1, 8),
        |    p -> (strpos('0123456789abcdef',
        |            substring(md5('s:' || doc_id), p, 1)) - 1)
        |         * CAST(power(16, 8 - p) AS BIGINT))) % 8 AS shard,
        |  md5('o:' || doc_id) AS ord
        |  FROM documents)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
        |    AS BIGINT) AS pos, doc_id
        |FROM h ORDER BY shard, pos""".stripMargin),

    // extension: deterministic stratified sampling (per-stratum keep rates)
    QuerySpec("q_stratified_sample", { (s, d) =>
      Corpus.stratifiedSample(
        t(s, d)("customer").select("c_custkey", "c_mktsegment"),
        "c_custkey", "c_mktsegment",
        Map("BUILDING" -> 0.3, "AUTOMOBILE" -> 0.1), defaultRate = 0.05)
        .orderBy("c_custkey")
    },
      // per-stratum rates: BUILDING 0.3 → 0x4CCCCCCC, AUTOMOBILE 0.1 →
      // 0x19999999, default 0.05 → 0x0CCCCCCC
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE md5(CAST(c_custkey AS VARCHAR)) <
        |  CASE c_mktsegment WHEN 'BUILDING' THEN '4ccccccc'
        |    WHEN 'AUTOMOBILE' THEN '19999999' ELSE '0ccccccc' END
        |ORDER BY c_custkey""".stripMargin),

    // extension: per-group top-k curation (best-quality docs per language)
    QuerySpec("q_topk_per_group", { (s, d) =>
      val docs = t(s, d)("documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_guess"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      Corpus.topKPerGroup(docs, "lang_guess", "quality", "doc_id", 3)
        .select(col("lang_guess"), col("rank").cast("long").as("rank"),
          col("doc_id"), col("quality"))
        .orderBy("lang_guess", "rank")
    },
      """WITH tok AS (SELECT doc_id, text,
        |  string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
        |sc AS (SELECT doc_id,
        |  round(CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS DOUBLE) / greatest(len(t),1), 4) AS s_en,
        |  round(CAST(len(list_filter(t, x -> x IN ('el','la','de','y','que','en','un','una','es','por'))) AS DOUBLE) / greatest(len(t),1), 4) AS s_es,
        |  round(CAST(len(list_filter(t, x -> x IN ('le','la','de','et','que','en','un','une','est','pour'))) AS DOUBLE) / greatest(len(t),1), 4) AS s_fr,
        |  round(CAST(len(list_filter(t, x -> x IN ('der','die','das','und','zu','in','ist','ein','eine','von'))) AS DOUBLE) / greatest(len(t),1), 4) AS s_de
        |  FROM tok),
        |st AS (SELECT doc_id, s_en, s_es, s_fr,
        |  CASE WHEN s_en > s_de THEN s_en ELSE s_de END AS m2,
        |  CASE WHEN s_en > s_de THEN 'en' ELSE 'de' END AS g2 FROM sc),
        |st2 AS (SELECT doc_id, s_en, s_fr,
        |  CASE WHEN s_es > m2 THEN s_es ELSE m2 END AS m3,
        |  CASE WHEN s_es > m2 THEN 'es' ELSE g2 END AS g3 FROM st),
        |lang AS (SELECT doc_id,
        |  CASE WHEN s_fr > m3 THEN 'fr' ELSE g3 END AS lang_guess FROM st2),
        |q AS (SELECT doc_id, round(
        |  (CASE WHEN len(t) BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.3 END) * 0.25 +
        |  (1.0 - least(CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) * 4, 1.0)) * 0.25 +
        |  (1.0 - least(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) * 4, 1.0)) * 0.25 +
        |  least(CAST(len(list_distinct(t)) AS DOUBLE) / greatest(len(t), 1) * 2, 1.0) * 0.25
        |, 4) AS quality FROM tok),
        |j AS (SELECT l.doc_id, l.lang_guess, q.quality
        |  FROM lang l JOIN q ON l.doc_id = q.doc_id)
        |SELECT lang_guess, CAST(row_number() OVER w AS BIGINT) AS rank, doc_id, quality
        |FROM j
        |WINDOW w AS (PARTITION BY lang_guess ORDER BY quality DESC, doc_id)
        |QUALIFY row_number() OVER w <= 3
        |ORDER BY lang_guess, rank""".stripMargin),

    // extension: the SAME curation step through the native BoundedTopK
    // aggregate — map-side bounded heaps instead of a full window
    // shuffle+sort; result identical to the window idiom (same tiebreak)
    QuerySpec("q_topk_agg", { (s, d) =>
      Corpus.topKPerGroupAgg(
        t(s, d)("customer").select(col("c_mktsegment"),
          col("c_acctbal").cast("double").as("acctbal"), col("c_custkey")),
        "c_mktsegment", "acctbal", "c_custkey", 5)
        .select(col("c_mktsegment"), col("rank").cast("long").as("rank"),
          col("c_custkey"), round(col("acctbal"), 2).as("acctbal"))
        .orderBy("c_mktsegment", "rank")
    },
      """WITH r AS (SELECT c_mktsegment, c_custkey,
        |  CAST(c_acctbal AS DOUBLE) AS acctbal,
        |  row_number() OVER (PARTITION BY c_mktsegment
        |    ORDER BY CAST(c_acctbal AS DOUBLE) DESC, c_custkey) AS rank
        |  FROM customer)
        |SELECT c_mktsegment, CAST(rank AS BIGINT) AS rank, c_custkey,
        |  round(acctbal, 2) AS acctbal
        |FROM r WHERE rank <= 5 ORDER BY c_mktsegment, rank""".stripMargin),

    // extension: per-group quantile curation — keep the top 25% of docs
    // per language by length (ceil(q·n) per group, id tiebreak)
    QuerySpec("q_quantile_filter", { (s, d) =>
      Corpus.quantileFilterPerGroup(
        t(s, d)("documents").select("doc_id", "lang", "n_chars"),
        "lang", "n_chars", "doc_id", q = 0.25)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("rank").cast("long").as("rank"))
        .orderBy("lang", "rank")
    },
      """SELECT doc_id, lang, n_chars, CAST(row_number() OVER w AS BIGINT) AS rank
        |FROM documents
        |WINDOW w AS (PARTITION BY lang ORDER BY n_chars DESC, doc_id)
        |QUALIFY row_number() OVER w <=
        |  ceil(0.25 * count(*) OVER (PARTITION BY lang))
        |ORDER BY lang, rank""".stripMargin),

    // extension: fixed-size token-window chunking with overlap (context-
    // window layout for retrieval/pretraining; narrow, shuffle-free)
    QuerySpec("q_chunk_docs", { (s, d) =>
      Corpus.chunkDocs(t(s, d)("documents"), "doc_id", "text",
        chunkTokens = 32, overlapTokens = 8)
        .orderBy("doc_id", "chunk_id")
    },
      // stride 24 = 32 − 8; chunk i starts at token i·24 (1-based list_slice,
      // inclusive end in DuckDB)
      """WITH tok AS (SELECT doc_id,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> len(x) > 0) AS t FROM documents),
        |st AS (SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, 24)) AS s
        |  FROM tok WHERE len(t) > 0)
        |SELECT doc_id, CAST(s // 24 AS BIGINT) AS chunk_id,
        |  CAST(len(list_slice(t, s + 1, least(s + 32, len(t)))) AS BIGINT) AS n_tokens,
        |  array_to_string(list_slice(t, s + 1, least(s + 32, len(t))), ' ') AS chunk_text
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin),

    // extension: intra-document repetition ratio (boilerplate/spam signal)
    QuerySpec("q_repetition", { (s, d) =>
      t(s, d)("documents").select(col("doc_id"),
        Corpus.repetitionScore(col("text"), 3).as("rep_ratio"))
        .orderBy("doc_id")
    },
      """WITH sel AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text),'\s+',' ','g')) AS nt FROM documents),
        |tok AS (SELECT doc_id,
        |  list_filter(string_split(nt, ' '), x -> len(x) > 0) AS t FROM sel),
        |sh AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) u
        |  WHERE len(t) >= 3),
        |agg AS (SELECT doc_id, count(*) AS total, count(DISTINCT g) AS dist
        |  FROM sh GROUP BY 1)
        |SELECT s.doc_id,
        |  CASE WHEN a.total IS NULL THEN 0.0
        |       ELSE round(1.0 - a.dist::DOUBLE / a.total, 4) END AS rep_ratio
        |FROM sel s LEFT JOIN agg a ON s.doc_id = a.doc_id
        |ORDER BY s.doc_id""".stripMargin),

    // extension: Gopher-style quality rule filter (public heuristics,
    // Rae et al. 2021 §A1.1) — measured features + per-rule verdicts;
    // `pass` is the conjunction of all eight rules
    QuerySpec("q_gopher_rules", { (s, d) =>
      t(s, d)("documents")
        .select(col("doc_id"), TextAnalysis.gopherRules(col("text")).as("g"))
        .select(col("doc_id"), col("g.n_words").as("n_words"),
          col("g.mean_word_len").as("mean_word_len"),
          col("g.stopword_hits").as("stopword_hits"),
          col("g.dup_bigram_frac").as("dup_bigram_frac"),
          col("g.r_words").as("r_words"), col("g.r_mean_len").as("r_mean_len"),
          col("g.r_stopwords").as("r_stopwords"),
          col("g.r_dup_bigram").as("r_dup_bigram"), col("g.pass").as("pass"))
        .orderBy("doc_id")
    },
      // all eight Gopher rules replicated; line rules (bullet/ellipsis) and
      // symbol/alpha ratios are computed, not assumed, even where the fixture
      // makes them trivially true
      """WITH sel AS (SELECT doc_id, text,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |tok AS (SELECT doc_id, text, nt,
        |  list_filter(string_split(nt, ' '), x -> len(x) > 0) AS t FROM sel),
        |big AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) u
        |  WHERE len(t) >= 2),
        |bd AS (SELECT doc_id, sum(cnt * len(g)) AS dupchars FROM
        |  (SELECT doc_id, g, count(*) AS cnt FROM big GROUP BY 1, 2)
        |  WHERE cnt > 1 GROUP BY 1),
        |f AS (SELECT tok.doc_id,
        |  len(t) AS n_words,
        |  CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE)
        |    / greatest(len(t), 1) AS mean_len,
        |  CAST(len(text) - len(replace(text, '#', ''))
        |     + len(text) - len(replace(text, '…', ''))
        |     + (len(text) - len(regexp_replace(text, '\.\.\.', '', 'g'))) // 3
        |    AS DOUBLE) / greatest(len(t), 1) AS symbol_ratio,
        |  CAST(len(list_filter(string_split(text, chr(10)),
        |      l -> regexp_matches(l, '^\s*[•‣*-]'))) AS DOUBLE)
        |    / greatest(len(string_split(text, chr(10))), 1) AS bullet_frac,
        |  CAST(len(list_filter(string_split(text, chr(10)),
        |      l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS DOUBLE)
        |    / greatest(len(string_split(text, chr(10))), 1) AS ellipsis_frac,
        |  CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
        |    / greatest(len(t), 1) AS alpha_frac,
        |  len(list_filter(['the','be','to','of','and','that','have','with'],
        |    w -> list_contains(t, w))) AS stop_hits,
        |  CASE WHEN len(nt) = 0 THEN 0.0 ELSE
        |    round(least(CAST(coalesce(bd.dupchars, 0) AS DOUBLE) / len(nt), 1.0), 4)
        |  END AS dup_frac
        |  FROM tok LEFT JOIN bd ON tok.doc_id = bd.doc_id)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  round(mean_len, 4) AS mean_word_len,
        |  CAST(stop_hits AS BIGINT) AS stopword_hits,
        |  dup_frac AS dup_bigram_frac,
        |  n_words BETWEEN 50 AND 100000 AS r_words,
        |  mean_len BETWEEN 3.0 AND 10.0 AS r_mean_len,
        |  stop_hits >= 2 AS r_stopwords,
        |  dup_frac <= 0.2 AS r_dup_bigram,
        |  (n_words BETWEEN 50 AND 100000) AND (mean_len BETWEEN 3.0 AND 10.0)
        |    AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
        |    AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
        |    AND stop_hits >= 2 AND dup_frac <= 0.2 AS pass
        |FROM f ORDER BY doc_id""".stripMargin),

    // extension: C4-style line-level cleaning (terminal-punctuation +
    // min-words + javascript line rules, lorem-ipsum/brace doc rules).
    // The flat fixture text is first laid out as a deterministic multi-
    // line page (6-word lines; every 3rd line unpunctuated, every 7th
    // "javascript"-tainted, doc_id-keyed lorem-ipsum/brace footers) so
    // every rule discriminates; the operator under test is c4LineClean.
    QuerySpec("q_c4_lines", { (s, d) =>
      val toks = filter(split(col("text"), " "), w => length(w) > 0)
      val nl = greatest(ceil(size(toks) / lit(6.0)), lit(1L)).cast("int")
      val lines = transform(sequence(lit(0), nl - 1), i =>
        concat(
          array_join(slice(toks, (i * 6 + 1).cast("int"), lit(6)), " "),
          when(i % 7 === 3, lit(" javascript")).otherwise(lit("")),
          when(i % 3 =!= 2, lit(".")).otherwise(lit(""))))
      val page = concat(array_join(lines, "\n"),
        when(col("doc_id") % 11 === 0,
          lit("\nlorem ipsum filler line here.")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          lit("\nvar x = { a: 1 };")).otherwise(lit("")))
      t(s, d)("documents")
        .select(col("doc_id"), TextAnalysis.c4LineClean(page).as("c"))
        .select(col("doc_id"), col("c.n_lines").as("n_lines"),
          col("c.n_kept").as("n_kept"), col("c.kept").as("kept"),
          col("c.clean_text").as("clean_text"))
        .orderBy("doc_id")
    },
      // page synthesis mirrors the Spark side exactly (6-word lines, rule-
      // keyed taints), then: line keep = terminal punctuation AND >= 5
      // words AND no "javascript"; doc keep = >= 3 surviving lines AND no
      // "{" AND no "lorem ipsum"
      """WITH base AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), w -> len(w) > 0) AS t
        |  FROM documents),
        |pg AS (SELECT doc_id, array_to_string(list_transform(
        |    generate_series(0, greatest(CAST(ceil(len(t) / 6.0) AS BIGINT), 1) - 1),
        |    i -> array_to_string(list_slice(t, i * 6 + 1, i * 6 + 6), ' ')
        |      || CASE WHEN i % 7 = 3 THEN ' javascript' ELSE '' END
        |      || CASE WHEN i % 3 <> 2 THEN '.' ELSE '' END), chr(10))
        |    || CASE WHEN doc_id % 11 = 0
        |         THEN chr(10) || 'lorem ipsum filler line here.' ELSE '' END
        |    || CASE WHEN doc_id % 13 = 0
        |         THEN chr(10) || 'var x = { a: 1 };' ELSE '' END AS text
        |  FROM base),
        |l AS (SELECT doc_id, text,
        |    list_transform(string_split(text, chr(10)),
        |      x -> regexp_replace(x, '^\s+|\s+$', '', 'g')) AS ls
        |  FROM pg),
        |k AS (SELECT doc_id, text, len(ls) AS n_lines,
        |  list_filter(ls, x -> regexp_matches(x, '[.!?"]$')
        |    AND len(list_filter(string_split(
        |      regexp_replace(x, '\s+', ' ', 'g'), ' '), w -> len(w) > 0)) >= 5
        |    AND NOT contains(lower(x), 'javascript')) AS kl FROM l)
        |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
        |  CAST(len(kl) AS BIGINT) AS n_kept,
        |  len(kl) >= 3 AND NOT contains(text, '{')
        |    AND NOT contains(lower(text), 'lorem ipsum') AS kept,
        |  coalesce(array_to_string(kl, chr(10)), '') AS clean_text
        |FROM k ORDER BY doc_id""".stripMargin),

    // extension: distributed sequence packing (concat-then-chunk) — docs
    // in a deterministic global shuffle order; a two-phase prefix sum
    // assigns the training sequence + offset where each document starts
    QuerySpec("q_pack_sequences", { (s, d) =>
      Corpus.packSequences(t(s, d)("documents").select("doc_id", "text"),
        "doc_id", "text", budget = 256, nShards = 8)
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          col("seq_id"), col("seq_offset"))
        .orderBy("doc_id")
    },
      // same shard/order draws as q_export_shards; the running token sum is a
      // single global window here (the oracle side may be quadratic-ish; the
      // engine side is the two-phase prefix sum)
      """WITH h AS (SELECT doc_id,
        |  list_sum(list_transform(generate_series(1, 8),
        |    p -> (strpos('0123456789abcdef',
        |            substring(md5('s:' || doc_id), p, 1)) - 1)
        |         * CAST(power(16, 8 - p) AS BIGINT))) % 8 AS shard,
        |  md5('o:' || doc_id) AS ord,
        |  CASE WHEN len(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, shard, n_tokens,
        |  coalesce(sum(n_tokens) OVER (ORDER BY shard, ord, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
        |  FROM h)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(floor(st / 256) AS BIGINT) AS seq_id,
        |  CAST(st % 256 AS BIGINT) AS seq_offset
        |FROM c ORDER BY doc_id""".stripMargin),

    // extension: DSIR-style importance weights — per-doc mean LLR of the
    // English-subset unigram model vs the whole-corpus model; the
    // domain-matched data-selection signal (target docs score high)
    QuerySpec("q_dsir_weights", { (s, d) =>
      Corpus.importanceWeights(
        t(s, d)("documents").withColumn("is_en", col("lang") === "en"),
        "doc_id", "text", "is_en")
        .orderBy("doc_id")
    },
      // same single-pass conditional counts + micro-nat quantization as the
      // Spark side; llr summed as exact integers, one divide at the end
      """WITH sel AS (SELECT doc_id, lang = 'en' AS tgt,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |tok AS (SELECT doc_id, tgt,
        |  unnest(list_filter(string_split(nt, ' '), x -> len(x) > 0)) AS w
        |  FROM sel),
        |c AS (SELECT w, count(*) AS cs,
        |    sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(cs) AS DOUBLE) AS ns,
        |    CAST(sum(ct) AS DOUBLE) AS nt, CAST(count(*) AS DOUBLE) AS v FROM c),
        |q AS (SELECT w, CAST(round(
        |    (ln((ct + 0.5) / (tot.nt + 0.5 * tot.v))
        |     - ln((cs + 0.5) / (tot.ns + 0.5 * tot.v))) * 1000000.0, 0)
        |  AS BIGINT) AS q FROM c CROSS JOIN tot)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(q.q) AS DOUBLE) / 1000000.0 / count(*), 4) + 0.0 AS llr
        |FROM tok t JOIN q USING (w)
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),

    // extension: trained quality/domain classifier — batch perceptron over
    // md5-hashed unigram counts (integer weights, margins, and updates, so
    // training replays bit-exact in the oracle), the CCNet/GPT-3 "train a
    // small linear classifier, score the corpus" selection step. The
    // labeled corpus is md5-synthesized from doc_id with class-disjoint
    // vocabularies (va*/vb* + shared sh*) so the task is genuinely
    // learnable — the real documents table is one shared random vocabulary
    // with no per-label signal; here training converges to the near-
    // perfect diagonal within the 5 rounds. Output: confusion matrix.
    QuerySpec("q_perceptron", { (s, d) =>
      def word(j: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val u = conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(":"), j.cast("string"))), 1, 8), 16, 10).cast("long")
        // (u - pmod)/10 is an exact floor-div (numerator divisible, result
        // < 2^53); matches DuckDB's u // 10 on non-negative u
        val q = ((u - pmod(u, lit(10L))) / lit(10.0)).cast("long")
        when(pmod(u, lit(10L)) < 3, concat(lit("sh"), pmod(q, lit(10L))))
          .otherwise(concat(
            when(pmod(col("doc_id"), lit(2L)) === 1, lit("va"))
              .otherwise(lit("vb")),
            pmod(q, lit(20L))))
      }
      val docs = t(s, d)("documents").select(col("doc_id"),
        (pmod(col("doc_id"), lit(2L)) === 1).as("is_pos"),
        concat_ws(" ", transform(sequence(lit(0), lit(29)), word(_))).as("text"))
      val (w, _) = Corpus.perceptronTrain(docs, "doc_id", "text", "is_pos",
        dim = 64, rounds = 5)
      Corpus.perceptronScore(docs, "doc_id", "text", "is_pos", w, dim = 64)
        .groupBy("y", "pred").agg(count(lit(1)).as("n"))
        .orderBy("y", "pred")
    },
      // generated unrolled replay of the 5 perceptron training rounds
      // (integer weights; w_r = w_{r-1} + Σ y·x over y·margin ≤ 0 docs);
      // tokens regenerate from the same md5 formula as the Spark synthesis
      graft.ext.Corpus.perceptronOracleSql(
        """SELECT d.doc_id AS did,
          |    CAST(CASE WHEN d.doc_id % 2 = 1 THEN 1 ELSE -1 END AS BIGINT) AS y,
          |    CASE WHEN u % 10 < 3 THEN 'sh' || ((u // 10) % 10)
          |         WHEN d.doc_id % 2 = 1 THEN 'va' || ((u // 10) % 20)
          |         ELSE 'vb' || ((u // 10) % 20) END AS tok
          |  FROM (SELECT doc_id,
          |    list_sum(list_transform(generate_series(1, 8),
          |      p -> (strpos('0123456789abcdef',
          |              substring(md5(doc_id || ':' || j), p, 1)) - 1)
          |           * CAST(power(16, 8 - p) AS BIGINT))) AS u
          |    FROM documents, generate_series(0, 29) AS g(j)) d""".stripMargin,
        dim = 64, rounds = 5)),

    // extension: CCNet-style LM filtering — corpus-trained unigram model,
    // per-doc negative mean log-likelihood (high = rare-token tail)
    QuerySpec("q_unigram_lm", { (s, d) =>
      Corpus.unigramLmScore(t(s, d)("documents").select("doc_id", "text"),
        "doc_id", "text")
        .orderBy("doc_id")
    },
      """WITH sel AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |tok AS (SELECT doc_id,
        |  unnest(list_filter(string_split(nt, ' '), x -> len(x) > 0)) AS w
        |  FROM sel),
        |v AS (SELECT w, count(*) AS cnt FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM v)
        |SELECT t.doc_id,
        |  round(avg(-ln(CAST(v.cnt AS DOUBLE) / tot.total)), 4) AS lm_score
        |FROM tok t JOIN v USING (w) CROSS JOIN tot
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),

    // extension: epoch-capped data-mixture planning — the largest training
    // budget where no domain repeats more than maxEpochs; the per-domain
    // planned tokens/epochs feed the split/sample/pack operators
    QuerySpec("q_mixture_plan", { (s, d) =>
      Corpus.mixturePlan(t(s, d)("documents").select("lang", "text"),
        "lang", "text",
        Map("en" -> 0.5, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.1, "zh" -> 0.1),
        maxEpochs = 2.0)
        .orderBy("domain")
    },
      // doubles forced throughout (DuckDB numeric literals default to
      // DECIMAL, which would round differently from Spark's double math)
      """WITH a AS (SELECT lang AS domain,
        |    sum(CASE WHEN len(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(lower(text)), '\s+')) END)
        |    AS available_tokens
        |  FROM documents GROUP BY 1),
        |w AS (SELECT domain, available_tokens,
        |  CAST(CASE domain WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.15
        |    WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.1 WHEN 'zh' THEN 0.1 END
        |    AS DOUBLE) AS frac
        |  FROM a WHERE domain IN ('en', 'de', 'es', 'fr', 'zh')),
        |b AS (SELECT *,
        |  min(available_tokens * CAST(2.0 AS DOUBLE) / frac) OVER () AS budget
        |  FROM w)
        |SELECT domain, CAST(available_tokens AS BIGINT) AS available_tokens,
        |  round(frac, 4) AS target_frac,
        |  CAST(floor(frac * budget) AS BIGINT) AS planned_tokens,
        |  round(CAST(floor(frac * budget) AS DOUBLE) / available_tokens, 4)
        |    AS epochs
        |FROM b ORDER BY domain""".stripMargin),

    // extension: dictionary phrase tagging — gazetteer counts at any
    // offset; one corpus pass per distinct phrase LENGTH joined against
    // the broadcast dictionary (never a scan per phrase)
    QuerySpec("q_dict_tag", { (s, d) =>
      TextAnalysis.dictionaryTag(t(s, d)("documents"), "doc_id", "text",
        Seq("table hash", "part filter", "customer join", "spark",
          "slow key scan"))
        .orderBy("doc_id", "phrase")
    },
      // dictionary tagging replay: per-length position n-grams joined to
      // the phrase VALUES list; first_pos = min 0-based gram start
      """WITH dict AS (SELECT * FROM (VALUES ('table hash', 2),
        |    ('part filter', 2), ('customer join', 2), ('spark', 1),
        |    ('slow key scan', 3)) d(phrase, plen)),
        |tok AS (SELECT doc_id,
        |  list_filter(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' '),
        |    x -> len(x) > 0) AS t FROM documents),
        |tok2 AS (SELECT * FROM tok WHERE len(t) > 0),
        |grams AS (SELECT doc_id, p,
        |    array_to_string(t[p + 1:p + plen], ' ') AS g
        |  FROM (SELECT doc_id, t, plen, unnest(generate_series(0, len(t) - plen)) AS p
        |        FROM tok2, (SELECT DISTINCT plen FROM dict) L
        |        WHERE len(t) >= plen))
        |SELECT g.doc_id, d.phrase, CAST(count(*) AS BIGINT) AS n_matches,
        |  CAST(min(g.p) AS BIGINT) AS first_pos
        |FROM grams g JOIN dict d ON g.g = d.phrase
        |GROUP BY 1, 2 ORDER BY g.doc_id, d.phrase""".stripMargin),

    // extension: deterministic weighted sampling without replacement
    // (Efraimidis-Spirakis A-ES, md5 uniform draws) — 50 docs ∝ length
    QuerySpec("q_weighted_sample", { (s, d) =>
      Corpus.weightedSample(t(s, d)("documents").select("doc_id", "n_chars"),
        "doc_id", "n_chars", k = 50)
        .select(col("doc_id"), col("n_chars"),
          round(col("sample_key"), 4).as("sample_key"))
        .orderBy("doc_id")
    },
      // A-ES weighted sample: u = (first-8-hex(md5(id)) + 1) / 2^32,
      // key = u^(1/weight), global top-50 by key
      """WITH k AS (SELECT doc_id, n_chars,
        |    pow((list_sum(list_transform(generate_series(1, 8),
        |      p -> (strpos('0123456789abcdef',
        |              substring(md5(CAST(doc_id AS VARCHAR)), p, 1)) - 1)
        |           * CAST(power(16, 8 - p) AS BIGINT))) + 1.0) / 4294967296.0,
        |      1.0 / n_chars) AS key
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, n_chars, round(key, 4) AS sample_key
        |FROM (SELECT * FROM k ORDER BY key DESC, doc_id LIMIT 50)
        |ORDER BY doc_id""".stripMargin),

    // extension: corpus tokenization against a corpus-trained top-30
    // vocab (freq-desc, word-asc ids; OOV → 0) — ids checked via exact
    // sums + the first three positions
    QuerySpec("q_tokenize", { (s, d) =>
      val docs = t(s, d)("documents")
      val words = docs.select(explode(filter(
        split(Dedup.normalize(col("text")), " "), w => length(w) > 0)).as("w"))
      // top-30 via distributed TakeOrdered FIRST, so the id-assigning
      // window ranks 30 rows — never a global single-partition window
      val vocab = words.groupBy("w").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("w")).limit(30)
        .withColumn("tid",
          row_number().over(Window.orderBy(col("freq").desc, col("w"))).cast("int"))
      Corpus.tokenizeWithVocab(docs, "doc_id", "text", vocab, "w", "tid", unkId = 0)
        .select(col("doc_id"), col("n_tokens"), col("n_unk"),
          aggregate(col("token_ids"), lit(0L), (a, x) => a + x).as("tid_sum"),
          try_element_at(col("token_ids"), lit(1)).as("t0"),
          try_element_at(col("token_ids"), lit(2)).as("t1"),
          try_element_at(col("token_ids"), lit(3)).as("t2"))
        .orderBy("doc_id")
    },
      // top-30 vocab (freq desc, word asc), OOV = 0; 1-based positions
      """WITH sel AS (SELECT doc_id,
        |  list_filter(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' '),
        |    x -> len(x) > 0) AS t FROM documents),
        |w AS (SELECT doc_id, i AS pos, t[i] AS w FROM sel,
        |  LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) u),
        |vf AS (SELECT w, count(*) AS freq FROM w GROUP BY 1),
        |vocab AS (SELECT w, CAST(row_number() OVER (ORDER BY freq DESC, w) AS INT) AS tid
        |  FROM vf QUALIFY row_number() OVER (ORDER BY freq DESC, w) <= 30),
        |tok AS (SELECT doc_id, pos, coalesce(v.tid, 0) AS tid
        |  FROM w LEFT JOIN vocab v USING (w))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
        |  CAST(sum(tid) AS BIGINT) AS tid_sum,
        |  CAST(max(CASE WHEN pos = 1 THEN tid END) AS INT) AS t0,
        |  CAST(max(CASE WHEN pos = 2 THEN tid END) AS INT) AS t1,
        |  CAST(max(CASE WHEN pos = 3 THEN tid END) AS INT) AS t2
        |FROM tok GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // extension: PMI collocation mining — adjacent-pair pointwise mutual
    // information from exact corpus counts (min pair count 5, top 20)
    QuerySpec("q_pmi", { (s, d) =>
      Corpus.pmiCollocations(t(s, d)("documents"), "text", minCount = 5, topK = 20)
    },
      // PMI from exact unigram/bigram counts; identical double
      // parenthesization: ((cab*T)*T) / ((B*ca)*cb)
      """WITH sel AS (SELECT
        |  list_filter(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' '),
        |    x -> len(x) > 0) AS t FROM documents),
        |uni AS (SELECT unnest(t) AS w FROM sel),
        |cu AS (SELECT w, count(*) AS cw FROM uni GROUP BY 1),
        |bi AS (SELECT t[i] AS a, t[i+1] AS b FROM sel,
        |  LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) u
        |  WHERE len(t) >= 2),
        |cb2 AS (SELECT a, b, count(*) AS cab FROM bi GROUP BY 1, 2),
        |tot AS (SELECT (SELECT CAST(sum(cw) AS BIGINT) FROM cu) AS t_uni,
        |  (SELECT CAST(sum(cab) AS BIGINT) FROM cb2) AS t_bi)
        |SELECT a, b, cab,
        |  round(ln(CAST(cab AS DOUBLE) * t_uni * t_uni /
        |    (CAST(t_bi AS DOUBLE) * ca.cw * cbb.cw)), 4) AS pmi
        |FROM cb2 JOIN cu ca ON ca.w = cb2.a JOIN cu cbb ON cbb.w = cb2.b
        |CROSS JOIN tot WHERE cab >= 5
        |ORDER BY pmi DESC, a, b LIMIT 20""".stripMargin),

    // extension: cu_seqlens boundary metadata over the packed layout (the
    // varlen-attention interface shape)
    QuerySpec("q_pack_boundaries", { (s, d) =>
      Corpus.packBoundaries(
        Corpus.packSequences(t(s, d)("documents").select("doc_id", "text"),
          "doc_id", "text", budget = 256, nShards = 8))
        .select(col("seq_id"), col("n_docs").cast("long").as("n_docs"),
          col("cu_seqlens"))
        .orderBy("seq_id")
    },
      // the pack layout CTE (same md5 shard/ord draws) + per-seq boundary agg
      """WITH h AS (SELECT doc_id,
        |  list_sum(list_transform(generate_series(1, 8),
        |    p -> (strpos('0123456789abcdef',
        |            substring(md5('s:' || doc_id), p, 1)) - 1)
        |         * CAST(power(16, 8 - p) AS BIGINT))) % 8 AS shard,
        |  md5('o:' || doc_id) AS ord,
        |  CASE WHEN len(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  coalesce(sum(n_tokens) OVER (ORDER BY shard, ord, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
        |  FROM h)
        |SELECT CAST(floor(st / 256) AS BIGINT) AS seq_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  array_to_string(list(CAST(st % 256 AS BIGINT) ORDER BY st % 256), ',')
        |    || ',' || CAST(max(st % 256 + n_tokens) AS VARCHAR) AS cu_seqlens
        |FROM c GROUP BY 1 ORDER BY seq_id""".stripMargin),

    // extension: bigram LM scoring (add-k smoothed conditional NLL,
    // integer micro-nat sums — the perplexity-filter signal unigrams miss)
    QuerySpec("q_bigram_lm", { (s, d) =>
      Corpus.bigramLmScore(t(s, d)("documents"), "doc_id", "text", addK = 0.5)
        .select(col("doc_id"), col("n_bigrams").cast("long").as("n_bigrams"),
          col("lm2_score"))
        .orderBy("doc_id")
    },
      """WITH tok AS (SELECT doc_id,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> len(x) > 0) AS t FROM documents),
        |p AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) u
        |  WHERE len(t) >= 2),
        |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM p GROUP BY 1, 2),
        |ch AS (SELECT w1, CAST(count(*) AS BIGINT) AS ch FROM p GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT tokk) AS BIGINT) AS vs
        |  FROM (SELECT unnest(t) AS tokk FROM tok)),
        |q AS (SELECT doc_id,
        |    CAST(round(-ln((cb + 0.5) / (ch + 0.5 * vs)) * 1000000.0) AS BIGINT) AS qln
        |  FROM p JOIN cb USING (w1, w2) JOIN ch USING (w1) CROSS JOIN v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(CAST(sum(qln) AS DOUBLE) / 1000000.0 / count(*), 4) AS lm2_score
        |FROM q GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // extension: per-group robust scaling (exact median/IQR z-scores — the
    // cross-domain-comparable form of a quality/length metric)
    QuerySpec("q_robust_scale", { (s, d) =>
      Corpus.robustScale(
        t(s, d)("documents").select(col("doc_id"), col("lang"), col("n_chars")),
        "lang", "n_chars")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("robust_z"))
        .orderBy("doc_id")
    },
      """WITH st AS (SELECT lang,
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS q1,
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med,
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.75) AS q3
        |  FROM documents GROUP BY 1)
        |SELECT doc_id, d.lang, n_chars,
        |  round(CASE WHEN q3 - q1 = 0 THEN 0
        |        ELSE (CAST(n_chars AS DOUBLE) - med) / (q3 - q1) END, 4) AS robust_z
        |FROM documents d JOIN st ON st.lang = d.lang ORDER BY doc_id""".stripMargin),

    // extension: temperature-scaled mixture weights (tau = 0.5 → IEEE-exact
    // sqrt scaling; integer-quantized normalizer)
    QuerySpec("q_temperature_mix", { (s, d) =>
      Corpus.temperatureWeights(t(s, d)("documents"), "lang", "text", tau = 0.5)
        .orderBy("domain")
    },
      """WITH a AS (SELECT lang AS domain,
        |    CAST(sum(CASE WHEN len(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(lower(text)), '\s+')) END)
        |    AS BIGINT) AS available_tokens
        |  FROM documents GROUP BY 1),
        |q AS (SELECT domain, available_tokens,
        |    CAST(round(pow(CAST(available_tokens AS DOUBLE), 0.5) * 1000000.0)
        |      AS BIGINT) AS qd
        |  FROM a)
        |SELECT domain, available_tokens,
        |  round(CAST(qd AS DOUBLE) / CAST((SELECT sum(qd) FROM q) AS DOUBLE), 6)
        |    AS weight
        |FROM q ORDER BY domain""".stripMargin),

    // extension: stratified weighted sampling (A-ES per language) through
    // the bounded-heap aggregate
    QuerySpec("q_weighted_sample_group", { (s, d) =>
      Corpus.weightedSamplePerGroup(t(s, d)("documents"),
        "lang", "doc_id", "n_chars", k = 5)
        .select(col("lang"), col("rank").cast("long").as("rank"), col("doc_id"),
          round(col("sample_key"), 4).as("sample_key"))
        .orderBy("lang", "rank")
    },
      """WITH k AS (SELECT lang, doc_id,
        |    pow((list_sum(list_transform(generate_series(1, 8),
        |      p -> (strpos('0123456789abcdef',
        |              substring(md5(CAST(doc_id AS VARCHAR)), p, 1)) - 1)
        |           * CAST(power(16, 8 - p) AS BIGINT))) + 1.0) / 4294967296.0,
        |      1.0 / n_chars) AS key
        |  FROM documents WHERE n_chars > 0),
        |r AS (SELECT lang, doc_id, key,
        |    row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id) AS rank
        |  FROM k)
        |SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id,
        |  round(key, 4) AS sample_key
        |FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin),

    // extension: BPE ENCODE — replay the learned merges over the corpus
    // (broadcast merge table, narrow mapPartitions with a word memo)
    QuerySpec("q_bpe_encode", { (s, d) =>
      val docs = t(s, d)("documents")
      val merges = Corpus.bpeTrain(docs, "text", nMerges = 6).map(m => (m._1, m._2))
      Corpus.bpeEncode(docs, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_tokens"),
          array_join(slice(col("tokens"), 1, 12), " ").as("head_tokens"))
        .orderBy("doc_id")
    },
      // reuses the training CTE chain: w6 is each word's final segmentation;
      // docs re-tokenize with the same normalizer, join on word, flatten in
      // (word position, symbol position) order
      (graft.ext.Corpus.bpeOracleSql("SELECT text FROM documents", "text", 6) +
        """,
          |docw AS (SELECT doc_id, list_filter(
          |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
          |    x -> len(x) > 0) AS t FROM documents),
          |toks AS (SELECT doc_id, i AS wpos, t[i] AS word
          |  FROM docw, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) u),
          |flat AS (SELECT doc_id, wpos, j, syms[j] AS tok
          |  FROM (SELECT toks.doc_id, toks.wpos, w6.syms
          |    FROM toks JOIN w6 ON w6.word = toks.word) e,
          |  LATERAL (SELECT unnest(generate_series(1, len(syms))) AS j) v)
          |SELECT d.doc_id, CAST(coalesce(f.n, 0) AS BIGINT) AS n_tokens,
          |  coalesce(f.head_tokens, '') AS head_tokens
          |FROM documents d LEFT JOIN (
          |  SELECT doc_id, count(*) AS n,
          |    array_to_string((list(tok ORDER BY wpos, j))[1:12], ' ') AS head_tokens
          |  FROM flat GROUP BY 1) f ON f.doc_id = d.doc_id
          |ORDER BY d.doc_id""".stripMargin)),

    // extension: BPE tokenizer TRAINING (not just one round's pair counts)
    // — 6 merge rounds over the distinct-word table; result is the learned
    // merge table
    QuerySpec("q_bpe_train", { (s, d) =>
      import s.implicits._
      val merges = Corpus.bpeTrain(t(s, d)("documents"), "text", nMerges = 6)
      merges.zipWithIndex.map { case ((a, b, c), i) => (i + 1L, a, b, c) }
        .toDF("rank", "a", "b", "cnt").orderBy("rank")
    },
      (graft.ext.Corpus.bpeOracleSql("SELECT text FROM documents", "text", 6) +
        "\n" +
        (1 to 6).map(r => s"SELECT $r AS r, a, b, cnt FROM m$r")
          .mkString("SELECT CAST(r AS BIGINT) AS rank, a, b, CAST(cnt AS BIGINT) AS cnt FROM (",
            " UNION ALL ", ") ORDER BY rank"))),

    // extension: BPE merge-candidate statistics — frequency-weighted
    // adjacent-char pairs over the distinct-word table (one tokenizer
    // training round's counting kernel)
    QuerySpec("q_bpe_pairs", { (s, d) =>
      Corpus.bpePairCounts(t(s, d)("documents"), "text", topK = 20)
    },
      // frequency-weighted adjacent char pairs over the distinct-word table
      """WITH sel AS (SELECT
        |  list_filter(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' '),
        |    x -> len(x) > 0) AS t FROM documents),
        |w AS (SELECT unnest(t) AS word FROM sel),
        |wf AS (SELECT word, count(*) AS freq FROM w GROUP BY 1),
        |p AS (SELECT freq, substring(word, i, 2) AS pair
        |  FROM wf, LATERAL (SELECT unnest(generate_series(1, length(word) - 1)) AS i) u
        |  WHERE length(word) >= 2)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p GROUP BY 1
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin),

    // extension: Simpson diversity of sources within each language
    QuerySpec("q_simpson", { (s, d) =>
      Corpus.simpsonDiversity(t(s, d)("documents"), "lang", "source")
        .orderBy("lang")
    },
      """WITH c AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(n) AS BIGINT) AS n_total,
        |  CASE WHEN sum(n) <= 1 THEN 0.0
        |    ELSE round(1.0 - CAST(sum(n * (n - 1)) AS DOUBLE) /
        |      CAST(sum(n) * (sum(n) - 1) AS DOUBLE), 4) END AS simpson
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin),

    // extension: Gini concentration of character mass across sources
    // within each language
    QuerySpec("q_gini", { (s, d) =>
      Corpus.giniIndex(t(s, d)("documents"), "lang", "source", "n_chars")
        .orderBy("lang")
    },
      """WITH mass AS (SELECT lang, source, CAST(sum(n_chars) AS BIGINT) AS x
        |  FROM documents GROUP BY 1, 2),
        |ranked AS (SELECT lang, x,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY x, source)
        |      AS BIGINT) AS i
        |  FROM mass),
        |ag AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_items,
        |    CAST(sum(x) AS BIGINT) AS total, CAST(sum(i * x) AS BIGINT) AS six
        |  FROM ranked GROUP BY 1)
        |SELECT lang, n_items, total,
        |  CASE WHEN total <= 0 OR n_items <= 1 THEN 0.0
        |    ELSE round((2.0 * CAST(six AS DOUBLE) -
        |      CAST(n_items + 1 AS DOUBLE) * CAST(total AS DOUBLE)) /
        |      (CAST(n_items AS DOUBLE) * CAST(total AS DOUBLE)), 4) END AS gini
        |FROM ag ORDER BY lang""".stripMargin),

    // extension: hashed multinomial Naive Bayes — train a language
    // classifier on the corpus, score it back (model = plan literals)
    QuerySpec("q_naive_bayes", { (s, d) =>
      val docs = t(s, d)("documents")
      val model = Corpus.naiveBayesTrain(docs, "doc_id", "text", "lang",
        dim = 64)
      Corpus.naiveBayesScore(docs, "doc_id", "text", model)
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("pred"), col("score_q"))
        .orderBy("doc_id")
    },
      // full NB replay: same tokenization/hash as the perceptron oracle,
      // Laplace log-likelihoods micro-nat-rounded, argmax (score, class)
      """WITH toks AS (SELECT doc_id AS did, lang,
        |    unnest(list_filter(str_split(
        |      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      t -> len(t) > 0)) AS tok
        |  FROM documents),
        |fb AS (SELECT did, lang,
        |    list_sum(list_transform(generate_series(1, 8),
        |      p -> (strpos('0123456789abcdef', substring(md5(tok), p, 1)) - 1)
        |           * CAST(power(16, 8 - p) AS BIGINT))) % 64 AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM toks GROUP BY 1, 2, 3),
        |cb AS (SELECT lang AS c, bucket, CAST(sum(cnt) AS BIGINT) AS n
        |  FROM fb GROUP BY 1, 2),
        |docs AS (SELECT lang AS c, CAST(count(*) AS BIGINT) AS nd
        |  FROM documents GROUP BY 1),
        |ndocs AS (SELECT CAST(sum(nd) AS BIGINT) AS n FROM docs),
        |ctot AS (SELECT c, CAST(sum(n) AS BIGINT) AS tot FROM cb GROUP BY 1),
        |grid AS (SELECT d.c, b.bucket FROM docs d,
        |  (SELECT unnest(generate_series(0, 63)) AS bucket) b),
        |lp AS (SELECT g.c, g.bucket,
        |    CAST(round(1000000 * ln((coalesce(cb.n, 0) + 1) * 1.0 /
        |      (ctot.tot + 64)), 0) AS BIGINT) AS lpq
        |  FROM grid g LEFT JOIN cb ON cb.c = g.c AND cb.bucket = g.bucket
        |  JOIN ctot ON ctot.c = g.c),
        |pri AS (SELECT docs.c,
        |    CAST(round(1000000 * ln(CAST(nd AS DOUBLE) / n), 0) AS BIGINT) AS pq
        |  FROM docs, ndocs),
        |sc AS (SELECT fb.did, lp.c, CAST(sum(fb.cnt * lp.lpq) AS BIGINT) AS s
        |  FROM fb JOIN lp ON lp.bucket = fb.bucket GROUP BY 1, 2),
        |scp AS (SELECT sc.did, sc.c, sc.s + pri.pq AS sq
        |  FROM sc JOIN pri ON pri.c = sc.c),
        |best AS (SELECT did, c, sq FROM (SELECT did, c, sq,
        |    row_number() OVER (PARTITION BY did ORDER BY sq DESC, c ASC) AS rn
        |  FROM scp) WHERE rn = 1)
        |SELECT b.did AS doc_id, d.lang, b.c AS pred, b.sq AS score_q
        |FROM best b JOIN documents d ON d.doc_id = b.did
        |ORDER BY doc_id""".stripMargin),

    // extension: greedy max-coverage doc selection (submodular curation:
    // each round picks the doc adding the most uncovered shingles)
    QuerySpec("q_greedy_cover", { (s, d) =>
      Corpus.greedyCoverSelect(t(s, d)("documents").where(col("doc_id") < 150),
        "doc_id", "text", n = 3, k = 5)
        .orderBy("round")
    }, Corpus.greedyCoverOracleSql(
      "SELECT doc_id, text FROM documents WHERE doc_id < 150", n = 3, k = 5)),

    // extension: Self-BLEU corpus diversity — clipped n-gram precision of
    // each doc vs the next doc of its source; exact integer components,
    // one divide per order
    QuerySpec("q_self_bleu", { (s, d) =>
      graft.ext.Eval.selfBleuComponents(t(s, d)("documents"),
        "doc_id", "text", "source", maxN = 2)
        .orderBy("grp")
    },
      """WITH base AS (SELECT source AS grp, doc_id AS _id,
        |    list_filter(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' '),
        |      x -> len(x) > 0) AS toks
        |  FROM documents),
        |paired AS (SELECT grp, _id, toks,
        |    lead(toks) OVER (PARTITION BY grp ORDER BY _id) AS rtoks FROM base
        |  QUALIFY rtoks IS NOT NULL),
        |np AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_pairs FROM paired GROUP BY 1),
        |c1c AS (SELECT grp, _id, g, count(*) AS c FROM
        |  (SELECT grp, _id, unnest(toks) AS g FROM paired) GROUP BY 1, 2, 3),
        |r1c AS (SELECT grp, _id, g, count(*) AS r FROM
        |  (SELECT grp, _id, unnest(rtoks) AS g FROM paired) GROUP BY 1, 2, 3),
        |a1 AS (SELECT c.grp, CAST(sum(least(c.c, coalesce(r.r, 0))) AS BIGINT) AS p1_num,
        |    CAST(sum(c.c) AS BIGINT) AS p1_den
        |  FROM c1c c LEFT JOIN r1c r ON c.grp = r.grp AND c._id = r._id AND c.g = r.g
        |  GROUP BY 1),
        |c2c AS (SELECT grp, _id, g, count(*) AS c FROM
        |  (SELECT grp, _id, unnest(list_transform(generate_series(1, len(toks) - 1),
        |     i -> toks[i] || ' ' || toks[i + 1])) AS g FROM paired) GROUP BY 1, 2, 3),
        |r2c AS (SELECT grp, _id, g, count(*) AS r FROM
        |  (SELECT grp, _id, unnest(list_transform(generate_series(1, len(rtoks) - 1),
        |     i -> rtoks[i] || ' ' || rtoks[i + 1])) AS g FROM paired) GROUP BY 1, 2, 3),
        |a2 AS (SELECT c.grp, CAST(sum(least(c.c, coalesce(r.r, 0))) AS BIGINT) AS p2_num,
        |    CAST(sum(c.c) AS BIGINT) AS p2_den
        |  FROM c2c c LEFT JOIN r2c r ON c.grp = r.grp AND c._id = r._id AND c.g = r.g
        |  GROUP BY 1)
        |SELECT np.grp, np.n_pairs, a1.p1_num, a1.p1_den,
        |  round(a1.p1_num::DOUBLE / a1.p1_den, 6) AS p1,
        |  a2.p2_num, a2.p2_den, round(a2.p2_num::DOUBLE / a2.p2_den, 6) AS p2
        |FROM np JOIN a1 USING (grp) JOIN a2 USING (grp) ORDER BY grp""".stripMargin),

    // extension: Flesch / Flesch-Kincaid readability from deterministic
    // sentence, word, and vowel-group syllable counts
    QuerySpec("q_readability", { (s, d) =>
      t(s, d)("documents").select(col("doc_id"),
        TextAnalysis.readability(col("text")).as("r"))
        .select(col("doc_id"), col("r.words"), col("r.sentences"),
          col("r.syllables"), col("r.flesch"), col("r.fk_grade"))
        .orderBy("doc_id")
    },
      """WITH b AS (SELECT doc_id,
        |  CASE WHEN len(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS words,
        |  greatest(len(list_filter(string_split_regex(text, '[.!?]+'),
        |    s -> len(trim(s)) > 0)), 1) AS sentences,
        |  len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syllables
        |  FROM documents)
        |SELECT doc_id, CAST(words AS BIGINT) AS words,
        |  CAST(sentences AS BIGINT) AS sentences,
        |  CAST(syllables AS BIGINT) AS syllables,
        |  round(206.835 - 1.015 * CAST(words AS DOUBLE) / sentences
        |    - 84.6 * CAST(syllables AS DOUBLE) / greatest(words, 1), 3) AS flesch,
        |  round(0.39 * CAST(words AS DOUBLE) / sentences
        |    + 11.8 * CAST(syllables AS DOUBLE) / greatest(words, 1) - 15.59, 3)
        |    AS fk_grade
        |FROM b ORDER BY doc_id""".stripMargin),

    // extension: RAKE keyphrase extraction — stopword-delimited candidate
    // phrases, degree/frequency word scores (micro-unit quantized before
    // the per-phrase sum), per-doc top-3
    QuerySpec("q_rake", { (s, d) =>
      TextAnalysis.rakeKeyphrases(
        t(s, d)("documents").where(col("doc_id") < 300),
        "doc_id", "text", TextAnalysis.DefaultStopwords("en"),
        maxLen = 4, k = 3)
        .orderBy("doc_id", "rank")
    },
      """WITH sel AS (SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS nt
        |  FROM documents WHERE doc_id < 300),
        |tok AS (SELECT doc_id, string_split(nt, ' ') AS t FROM sel),
        |pos AS (SELECT doc_id, i AS pos, t[i] AS tok
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) u),
        |flag AS (SELECT doc_id, pos, tok,
        |  CASE WHEN tok IN ('the','a','of','and','to','in','is','it','that','for')
        |    THEN 1 ELSE 0 END AS st FROM pos),
        |runs AS (SELECT doc_id, pos, tok, st,
        |  sum(st) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run
        |  FROM flag),
        |nw AS (SELECT doc_id, run, pos, tok FROM runs WHERE st = 0),
        |phr AS (SELECT doc_id, run, string_agg(tok, ' ' ORDER BY pos) AS phrase,
        |    count(*) AS plen
        |  FROM nw GROUP BY 1, 2 HAVING count(*) <= 4),
        |words AS (SELECT n.doc_id, n.run, p.plen, n.tok AS w
        |  FROM nw n JOIN phr p ON n.doc_id = p.doc_id AND n.run = p.run),
        |ws AS (SELECT w,
        |    CAST(round(CAST(sum(plen) AS DOUBLE) * 1e6 / count(*)) AS BIGINT) AS sq
        |  FROM words GROUP BY 1),
        |ps AS (SELECT doc_id, run, CAST(sum(sq) AS BIGINT) AS psq
        |  FROM words JOIN ws USING (w) GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT p.doc_id, p.phrase, ps.psq
        |  FROM phr p JOIN ps ON p.doc_id = ps.doc_id AND p.run = ps.run),
        |rk AS (SELECT doc_id, phrase, psq,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY psq DESC, phrase) AS rk
        |  FROM cand)
        |SELECT doc_id, CAST(rk AS BIGINT) AS rank, phrase,
        |  round(CAST(psq AS DOUBLE) / 1e6, 6) AS score
        |FROM rk WHERE rk <= 3 ORDER BY doc_id, rank""".stripMargin),

    // extension: Cohen's kappa label-quality gate — chance-corrected
    // agreement between the declared lang metadata and the langId
    // heuristic's prediction (annotator-vs-model agreement)
    QuerySpec("q_kappa", { (s, d) =>
      val pred = t(s, d)("documents").select(col("lang"),
        TextAnalysis.langId(col("text")).as("guess"))
      graft.ext.Stats.cohenKappa(pred, "lang", "guess")
    },
      """WITH tok AS (SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |sc AS (SELECT doc_id, lang,
        |  round(CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS DOUBLE) / greatest(len(t),1), 4) AS s_en,
        |  round(CAST(len(list_filter(t, x -> x IN ('el','la','de','y','que','en','un','una','es','por'))) AS DOUBLE) / greatest(len(t),1), 4) AS s_es,
        |  round(CAST(len(list_filter(t, x -> x IN ('le','la','de','et','que','en','un','une','est','pour'))) AS DOUBLE) / greatest(len(t),1), 4) AS s_fr,
        |  round(CAST(len(list_filter(t, x -> x IN ('der','die','das','und','zu','in','ist','ein','eine','von'))) AS DOUBLE) / greatest(len(t),1), 4) AS s_de
        |  FROM tok),
        |st AS (SELECT doc_id, lang, s_en, s_es, s_fr,
        |  CASE WHEN s_en > s_de THEN s_en ELSE s_de END AS m2,
        |  CASE WHEN s_en > s_de THEN 'en' ELSE 'de' END AS g2 FROM sc),
        |st2 AS (SELECT doc_id, lang, s_en, s_fr,
        |  CASE WHEN s_es > m2 THEN s_es ELSE m2 END AS m3,
        |  CASE WHEN s_es > m2 THEN 'es' ELSE g2 END AS g3 FROM st),
        |pred AS (SELECT lang AS a, CASE WHEN s_fr > m3 THEN 'fr' ELSE g3 END AS b
        |  FROM st2 WHERE lang IS NOT NULL),
        |cells AS (SELECT a, b, count(*) AS o FROM pred GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n_obs,
        |  CAST(sum(CASE WHEN a = b THEN o ELSE 0 END) AS BIGINT) AS n_agree FROM cells),
        |rm AS (SELECT a AS cat, sum(o) AS ra FROM cells GROUP BY 1),
        |cm AS (SELECT b AS cat, sum(o) AS cb FROM cells GROUP BY 1),
        |pe AS (SELECT CAST(coalesce(sum(ra * cb), 0) AS BIGINT) AS pe_num
        |  FROM rm JOIN cm USING (cat))
        |SELECT n_obs, n_agree,
        |  round(CAST(n_agree AS DOUBLE) / n_obs, 6) AS po,
        |  round(CAST(pe_num AS DOUBLE) / (n_obs * n_obs), 6) AS pe,
        |  round((CAST(n_agree AS DOUBLE) / n_obs - CAST(pe_num AS DOUBLE) / (n_obs * n_obs)) /
        |    (1.0 - CAST(pe_num AS DOUBLE) / (n_obs * n_obs)), 6) AS kappa
        |FROM tot, pe""".stripMargin),

    // extension: TextRank keyword extraction — content-word co-occurrence
    // graph (3-token window) + weighted fixed-point PageRank; the
    // graph-centrality cousin of RAKE over the same corpus
    QuerySpec("q_textrank", { (s, d) =>
      GraphAlgos.weightedPageRankFixed(
        textrankEdges(t(s, d)("documents")),
        "src", "dst", "w", iterations = 2)
        .orderBy(col("rank").desc, col("node")).limit(30)
    },
      s"""${GraphAlgos.weightedPageRankOracleSql(textrankEdgesSql,
            iterations = 2)}
         |SELECT node, rank::BIGINT AS rank FROM r2
         |ORDER BY rank DESC, node LIMIT 30""".stripMargin),

    // extension: end-to-end curation pipeline in ONE plan — exact dedup
    // (keep min doc id per normalized-content hash) → minimum-length
    // quality gate → deterministic 90/10 hash split → per-(lang, split)
    // doc/token accounting; the composition every training-data run
    // executes, here as a single Catalyst plan with no intermediate
    // materialization
    QuerySpec("q_curation_pipeline", { (s, d) =>
      import graft.ext.{Corpus, Dedup}
      val docs = t(s, d)("documents")
      val deduped = Dedup.dropExactDuplicates(docs, "doc_id", "text")
      val toks = filter(split(trim(lower(col("text"))), "\\s+"),
        w => length(w) > 0)
      val gated = deduped.where(size(toks) >= 30)
      Corpus.hashSplit(gated, "doc_id", Seq("train" -> 0.9, "val" -> 0.1))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(toks)).cast("long").as("total_tokens"))
        .orderBy("lang", "split")
    },
      // 0.9 cumulative split threshold = first 8 md5 hex of 0.9 → 'e6666666'
      // (Corpus.hexThreshold); token count = whitespace tokens of
      // trim(lower(text)) — the established parity idiom
      """WITH keep AS (SELECT min(doc_id) AS doc_id
        |  FROM documents
        |  GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))),
        |dd AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
        |tk AS (SELECT *, len(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'),
        |    w -> len(w) > 0)) AS n_tok
        |  FROM dd),
        |gated AS (SELECT * FROM tk WHERE n_tok >= 30),
        |sp AS (SELECT *, CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'e6666666'
        |    THEN 'train' ELSE 'val' END AS split
        |  FROM gated)
        |SELECT lang, split, count(*)::BIGINT AS n_docs,
        |  sum(n_tok)::BIGINT AS total_tokens
        |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  )
}
