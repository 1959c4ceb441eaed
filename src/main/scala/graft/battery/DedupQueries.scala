package graft
package battery

import org.apache.spark.sql.functions._
import graft.fixtures.TpchGraph
import graft.ext.{Corpus, Dedup, Similarity, TextAnalysis, Url}

import BatteryFixtures._

/** Dedup and similarity: exact and near-duplicate detection, record
  * linkage, vector/lexical retrieval and the sketches behind them.
  */
object DedupQueries extends Family("dedup") {

  // Fellegi–Sunter comparison fields shared by q_fellegi_sunter and its
  // oracle — ONE definition so the micro-nat weight constants cannot drift
  private lazy val fsFields = Seq(
    graft.infer.CrossResourceIdentity.FsField("name",
      levenshtein(col("key_a"), col("key_b")) <= 6, m = 0.9, u = 0.3),
    graft.infer.CrossResourceIdentity.FsField("nation",
      col("nk_a") === col("nk_b"), m = 0.95, u = 0.04),
    graft.infer.CrossResourceIdentity.FsField("segment",
      col("seg_a") === col("seg_b"), m = 0.9, u = 0.2))

  /** The messy-URL synthesis shared by q_url_canon and its oracle: a
    * deterministic function of (doc_id, source) exercising every
    * canonicalization rule — mixed-case scheme/host, default and
    * non-default ports, duplicate slashes, trailing slash, tracking
    * params, unsorted params, fragments.
    */
  private def messyUrl: org.apache.spark.sql.Column =
    concat(
      when(pmod(col("doc_id"), lit(2)) === 0, lit("HTTP")).otherwise(lit("https")),
      lit("://WWW.Ex"), col("source"), lit(".COM"),
      when(pmod(col("doc_id"), lit(3)) === 0, lit(":80"))
        .otherwise(when(pmod(col("doc_id"), lit(3)) === 1, lit(":8080"))
          .otherwise(lit(""))),
      lit("/A//b"), pmod(col("doc_id"), lit(5)).cast("string"),
      when(pmod(col("doc_id"), lit(4)) === 0, lit("/")).otherwise(lit("")),
      lit("?utm_source=x&b=2&a="), pmod(col("doc_id"), lit(7)).cast("string"),
      when(pmod(col("doc_id"), lit(2)) === 0, lit("#frag")).otherwise(lit("")))

  private val messyUrlSql: String =
    """(CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END ||
      |'://WWW.Ex' || source || '.COM' ||
      |CASE WHEN doc_id % 3 = 0 THEN ':80'
      |     WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END ||
      |'/A//b' || (doc_id % 5)::VARCHAR ||
      |CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
      |'?utm_source=x&b=2&a=' || (doc_id % 7)::VARCHAR ||
      |CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // extension: exact dedup by content hash
    QuerySpec("q_dedup_exact", { (s, d) =>
      Dedup.exactGroups(t(s, d)("documents"), "doc_id", "text")
        .orderBy("content_hash")
    },
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash,
        |count(*) AS n_dups, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // extension: n-gram Jaccard similarity pairs
    QuerySpec("q_jaccard_pairs", { (s, d) =>
      Dedup.jaccardPairs(t(s, d)("documents").where(col("doc_id") < 200),
        "doc_id", "text", n = 3, minSim = 0.2)
        .withColumnsRenamed(Map("doc_id" -> "id_a"))
        .orderBy("id_a", "id_b")
    },
      """WITH sel AS (SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS nt
        |  FROM documents WHERE doc_id < 200),
        |tok AS (SELECT doc_id, string_split(nt, ' ') AS t FROM sel),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) u
        |  WHERE len(t) >= 3),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT ia AS id_a, ib AS id_b,
        |  round(c::DOUBLE / (sa.sz + sb.sz - c), 4) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
        |WHERE c::DOUBLE / (sa.sz + sb.sz - c) >= 0.2 ORDER BY 1, 2""".stripMargin),

    // extension: document fingerprinting
    QuerySpec("q_fingerprint", { (s, d) =>
      t(s, d)("documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),

    // extension: brute-force cosine top-k (exact ANN baseline)
    QuerySpec("q_embed_topk", { (s, d) =>
      val emb = t(s, d)("embeddings")
      Similarity.bruteForceTopK(emb.where(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    },
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |  WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |scored AS (SELECT query_id, neighbor_id,
        |  round(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))), 4) AS cos
        |  FROM q, c WHERE query_id <> neighbor_id)
        |SELECT query_id, CAST(row_number() OVER w AS BIGINT) AS rank, neighbor_id, cos
        |FROM scored
        |WINDOW w AS (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)
        |QUALIFY row_number() OVER w <= 5
        |ORDER BY query_id, rank""".stripMargin),

    // extension: IVF ANN — nprobe = nlist probes every cell, so the result
    // is exactly brute force and shares its oracle; smaller nprobe is the
    // approximate scale path
    QuerySpec("q_ivf_topk", { (s, d) =>
      val emb = t(s, d)("embeddings")
      val (indexed, centroids) = Similarity.ivfIndex(emb, "vec_id", "embedding", nlist = 4)
      Similarity.ivfTopK(emb.where(col("vec_id") < 10), indexed, centroids,
        "vec_id", "embedding", k = 5, nprobe = 4)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    },
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |  WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |scored AS (SELECT query_id, neighbor_id,
        |  round(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))), 4) AS cos
        |  FROM q, c WHERE query_id <> neighbor_id)
        |SELECT query_id, CAST(row_number() OVER w AS BIGINT) AS rank, neighbor_id, cos
        |FROM scored
        |WINDOW w AS (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)
        |QUALIFY row_number() OVER w <= 5
        |ORDER BY query_id, rank""".stripMargin),

    // extension: product quantization — 64-d float vectors compressed to
    // 8 byte-codes against an md5-sampled codebook; ADC top-k scans the
    // codes, never the floats (squared-L2 subspace LUT sums; fixed-shape
    // IEEE math, no transcendentals → bit-exact oracle replay)
    QuerySpec("q_pq_topk", { (s, d) =>
      val emb = t(s, d)("embeddings")
      val cb = Similarity.pqCodebook(emb, "vec_id", "embedding",
        m = 8, ksub = 16, dim = 64)
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      Similarity.pqTopK(emb.where(col("vec_id") < 10), enc, "vec_id",
        "embedding", cb, k = 5)
        .orderBy("query_id", "rank")
    },
      // PQ replay: md5-ordered 16-vector codebook, per-subspace argmin
      // encode (first-min tiebreak on c = Spark's array_position), nested
      // ascending list_sums for ADC — bit-identical IEEE sequences
      """WITH cb AS (SELECT row_number() OVER
        |    (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c,
        |    embedding
        |  FROM embeddings
        |  QUALIFY row_number() OVER
        |    (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 16),
        |cbl AS (SELECT list(embedding ORDER BY c) AS cbs FROM cb),
        |dists AS (SELECT e.vec_id, g.s, cb.c,
        |    list_sum(list_transform(generate_series(1, 8), d ->
        |      (CAST(e.embedding[g.s*8+d] AS DOUBLE) - CAST(cb.embedding[g.s*8+d] AS DOUBLE))
        |      * (CAST(e.embedding[g.s*8+d] AS DOUBLE) - CAST(cb.embedding[g.s*8+d] AS DOUBLE))))
        |      AS dist
        |  FROM embeddings e, generate_series(0, 7) g(s), cb),
        |enc0 AS (SELECT vec_id, s, c AS code FROM dists
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, c) = 1),
        |enc AS (SELECT vec_id, list(code ORDER BY s) AS codes
        |  FROM enc0 GROUP BY 1),
        |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |  WHERE vec_id < 10),
        |ad AS (SELECT q.query_id, en.vec_id AS neighbor_id,
        |    list_sum(list_transform(generate_series(0, 7), s ->
        |      list_sum(list_transform(generate_series(1, 8), d ->
        |        (CAST(q.qv[s*8+d] AS DOUBLE) - CAST(cbl.cbs[en.codes[s+1]+1][s*8+d] AS DOUBLE))
        |        * (CAST(q.qv[s*8+d] AS DOUBLE) - CAST(cbl.cbs[en.codes[s+1]+1][s*8+d] AS DOUBLE))))))
        |      AS adist
        |  FROM q, enc en, cbl WHERE q.query_id <> en.vec_id)
        |SELECT query_id,
        |  CAST(row_number() OVER w AS BIGINT) AS rank,
        |  neighbor_id, round(adist, 4) AS adist
        |FROM ad
        |WINDOW w AS (PARTITION BY query_id ORDER BY adist, neighbor_id)
        |QUALIFY row_number() OVER w <= 5
        |ORDER BY query_id, rank""".stripMargin),

    // extension: margin-based bitext mining (LASER/CCMatrix recipe) —
    // mutual best-margin pairs across a parity split of the embedding
    // corpus; quantized cosines make every sum order-free-exact
    QuerySpec("q_bitext_mine", { (s, d) =>
      val emb = t(s, d)("embeddings")
      Similarity.bitextMine(
        emb.where(pmod(col("vec_id"), lit(2)) === 0),
        emb.where(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding", k = 4)
        .orderBy("src_id")
    },
      // bitext mining replay: quantized cosine candidates, per-endpoint
      // integer top-k sums, fixed-shape margin, mutual best-margin join
      """WITH a AS (SELECT vec_id AS src_id, embedding AS v FROM embeddings
        |  WHERE vec_id % 2 = 0),
        |b AS (SELECT vec_id AS tgt_id, embedding AS v FROM embeddings
        |  WHERE vec_id % 2 = 1),
        |p AS (SELECT src_id, tgt_id,
        |  CAST(round(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(a.v[i] AS DOUBLE) * CAST(a.v[i] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(b.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE))))) * 10000)
        |    AS BIGINT) AS c
        |  FROM a, b),
        |ka AS (SELECT src_id, tgt_id, c FROM p QUALIFY
        |  row_number() OVER (PARTITION BY src_id ORDER BY c DESC, tgt_id) <= 4),
        |kb AS (SELECT src_id, tgt_id, c FROM p QUALIFY
        |  row_number() OVER (PARTITION BY tgt_id ORDER BY c DESC, src_id) <= 4),
        |sa AS (SELECT src_id, CAST(sum(c) AS BIGINT) AS sa, count(*) AS ka
        |  FROM ka GROUP BY 1),
        |sb AS (SELECT tgt_id, CAST(sum(c) AS BIGINT) AS sb, count(*) AS kb
        |  FROM kb GROUP BY 1),
        |ma AS (SELECT k.src_id, k.tgt_id,
        |    CAST(k.c AS DOUBLE) / ((CAST(sa.sa AS DOUBLE) / CAST(sa.ka AS DOUBLE)
        |      + CAST(sb.sb AS DOUBLE) / CAST(sb.kb AS DOUBLE)) / 2.0) AS margin
        |  FROM ka k JOIN sa USING (src_id) JOIN sb USING (tgt_id)),
        |mb AS (SELECT k.src_id, k.tgt_id,
        |    CAST(k.c AS DOUBLE) / ((CAST(sa.sa AS DOUBLE) / CAST(sa.ka AS DOUBLE)
        |      + CAST(sb.sb AS DOUBLE) / CAST(sb.kb AS DOUBLE)) / 2.0) AS margin
        |  FROM kb k JOIN sa USING (src_id) JOIN sb USING (tgt_id)),
        |ba AS (SELECT src_id, tgt_id, margin FROM ma QUALIFY
        |  row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id) = 1),
        |bb AS (SELECT src_id, tgt_id FROM mb QUALIFY
        |  row_number() OVER (PARTITION BY tgt_id ORDER BY margin DESC, src_id) = 1)
        |SELECT ba.src_id, ba.tgt_id, round(ba.margin, 4) AS margin
        |FROM ba JOIN bb USING (src_id, tgt_id)
        |ORDER BY src_id""".stripMargin),

    // extension: retrieval eval metrics — MRR / P@10 of brute-force
    // cosine retrieval with same-label relevance over the embeddings
    QuerySpec("q_retrieval_mrr", { (s, d) =>
      val emb = t(s, d)("embeddings")
      val topk = Similarity.bruteForceTopK(emb.where(col("vec_id") < 50),
        emb, "vec_id", "embedding", k = 10)
      Similarity.retrievalQuality(topk, emb.select("vec_id", "label"),
        "vec_id", "label", k = 10)
        .orderBy("query_id")
    },
      // same-label relevance over the exact cosine top-10: first relevant
      // rank, reciprocal rank, precision@10
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlab
        |  FROM embeddings WHERE vec_id < 50),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS nlab
        |  FROM embeddings),
        |scored AS (SELECT query_id, neighbor_id, qlab, nlab,
        |  round(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))), 4) AS cos
        |  FROM q, c WHERE query_id <> neighbor_id),
        |r AS (SELECT query_id, qlab, nlab,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored
        |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 10)
        |SELECT query_id,
        |  min(CASE WHEN qlab = nlab THEN rank END) AS first_rel_rank,
        |  round(coalesce(1.0 / min(CASE WHEN qlab = nlab THEN rank END), 0.0), 4) AS rr,
        |  round(CAST(sum(CASE WHEN qlab = nlab THEN 1 ELSE 0 END) AS DOUBLE) / 10, 4) AS p_at_k
        |FROM r GROUP BY 1 ORDER BY query_id""".stripMargin),

    // extension: IVF-PQ — the canonical billion-scale ANN layout (coarse
    // inverted cells + PQ'd residuals; probe 2 of 4 cells, ADC over
    // codes only); md5-sampled model → the oracle replays it exactly
    QuerySpec("q_ivfpq_topk", { (s, d) =>
      val emb = t(s, d)("embeddings")
      val (enc, model) = Similarity.ivfPqIndex(emb, "vec_id", "embedding",
        nlist = 4, m = 8, ksub = 16, dim = 64)
      Similarity.ivfPqTopK(emb.where(col("vec_id") < 10), enc, "vec_id",
        "embedding", model, k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
      // IVF-PQ replay: md5 sample → coarse assignment argmin → residual
      // codebook → residual encode argmin → per-query probed-cell ADC
      """WITH samp AS (SELECT row_number() OVER
        |    (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c,
        |    vec_id, embedding
        |  FROM embeddings
        |  QUALIFY row_number() OVER
        |    (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 16),
        |coarse AS (SELECT c, embedding FROM samp WHERE c < 4),
        |ad0 AS (SELECT e.vec_id, co.c,
        |    list_sum(list_transform(generate_series(1, 64), i ->
        |      (CAST(e.embedding[i] AS DOUBLE) - CAST(co.embedding[i] AS DOUBLE))
        |      * (CAST(e.embedding[i] AS DOUBLE) - CAST(co.embedding[i] AS DOUBLE))))
        |      AS d
        |  FROM embeddings e, coarse co),
        |cellof AS (SELECT vec_id, c AS cell FROM ad0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, c) = 1),
        |cbv AS (SELECT s.c AS code, list_transform(generate_series(1, 64), i ->
        |      CAST(s.embedding[i] AS DOUBLE) - CAST(cob.embedding[i] AS DOUBLE))
        |      AS resv
        |  FROM samp s JOIN cellof ces ON ces.vec_id = s.vec_id
        |  JOIN coarse cob ON cob.c = ces.cell
        |  WHERE s.c < 16),
        |cbl AS (SELECT list(resv ORDER BY code) AS cbs FROM cbv),
        |encd AS (SELECT e.vec_id, g.s, b.code,
        |    list_sum(list_transform(generate_series(1, 8), d ->
        |      ((CAST(e.embedding[g.s*8+d] AS DOUBLE) - CAST(coe.embedding[g.s*8+d] AS DOUBLE))
        |        - cbl.cbs[b.code+1][g.s*8+d])
        |      * ((CAST(e.embedding[g.s*8+d] AS DOUBLE) - CAST(coe.embedding[g.s*8+d] AS DOUBLE))
        |        - cbl.cbs[b.code+1][g.s*8+d]))) AS dist
        |  FROM embeddings e
        |  JOIN cellof ce ON ce.vec_id = e.vec_id
        |  JOIN coarse coe ON coe.c = ce.cell,
        |  generate_series(0, 7) g(s), cbv b, cbl),
        |enc0 AS (SELECT vec_id, s, code FROM encd
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) = 1),
        |enc AS (SELECT vec_id, list(code ORDER BY s) AS codes
        |  FROM enc0 GROUP BY 1),
        |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |  WHERE vec_id < 10),
        |qc AS (SELECT q.query_id, co.c,
        |    list_sum(list_transform(generate_series(1, 64), i ->
        |      (CAST(q.qv[i] AS DOUBLE) - CAST(co.embedding[i] AS DOUBLE))
        |      * (CAST(q.qv[i] AS DOUBLE) - CAST(co.embedding[i] AS DOUBLE)))) AS d
        |  FROM q, coarse co),
        |probe AS (SELECT query_id, c AS cell FROM qc
        |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d, c) <= 2),
        |ad AS (SELECT q.query_id, en.vec_id AS neighbor_id,
        |    list_sum(list_transform(generate_series(0, 7), s ->
        |      list_sum(list_transform(generate_series(1, 8), d ->
        |        (((CAST(q.qv[s*8+d] AS DOUBLE) - CAST(cop.embedding[s*8+d] AS DOUBLE))
        |          - cbl.cbs[en.codes[s+1]+1][s*8+d])
        |        * ((CAST(q.qv[s*8+d] AS DOUBLE) - CAST(cop.embedding[s*8+d] AS DOUBLE))
        |          - cbl.cbs[en.codes[s+1]+1][s*8+d])))))) AS adist
        |  FROM q
        |  JOIN probe p ON p.query_id = q.query_id
        |  JOIN coarse cop ON cop.c = p.cell
        |  JOIN cellof cn ON cn.cell = p.cell
        |  JOIN enc en ON en.vec_id = cn.vec_id, cbl
        |  WHERE q.query_id <> en.vec_id)
        |SELECT query_id,
        |  CAST(row_number() OVER w AS BIGINT) AS rank,
        |  neighbor_id, round(adist, 4) AS adist
        |FROM ad
        |WINDOW w AS (PARTITION BY query_id ORDER BY adist, neighbor_id)
        |QUALIFY row_number() OVER w <= 5
        |ORDER BY query_id, rank""".stripMargin),

    // extension: PQ recall harness — ADC top-5 vs exact brute-force
    // top-5 (quantization loss quantified per query, like q_ann_recall).
    // Recall is LOW on this table by construction: the synthetic
    // embeddings are isotropic random vectors, where distance
    // concentration makes 8-byte codes near-uninformative (measured:
    // 0.08 @ ksub=16 → only 0.36 even at ksub=256, identical vs
    // exact-L2 ground truth, so it is quantization error, not the
    // L2-vs-cosine metric gap). On real data manifolds PQ recall comes
    // from cluster structure + trained (OPQ) codebooks; the harness
    // exists to MEASURE that honestly, not to flatter it.
    QuerySpec("q_pq_recall", { (s, d) =>
      val emb = t(s, d)("embeddings")
      val q = emb.where(col("vec_id") < 10)
      val cb = Similarity.pqCodebook(emb, "vec_id", "embedding",
        m = 8, ksub = 16, dim = 64)
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      val pq = Similarity.pqTopK(q, enc, "vec_id", "embedding", cb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val bf = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val hits = bf.join(pq, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)) / lit(5.0), 4).as("recall"))
        .orderBy("query_id")
    },
      // PQ recall: the q_pq_topk chain's ADC top-5 semi-joined against the
      // exact brute-force top-5
      """WITH cb AS (SELECT row_number() OVER
        |    (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c,
        |    embedding
        |  FROM embeddings
        |  QUALIFY row_number() OVER
        |    (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 16),
        |cbl AS (SELECT list(embedding ORDER BY c) AS cbs FROM cb),
        |dists AS (SELECT e.vec_id, g.s, cb.c,
        |    list_sum(list_transform(generate_series(1, 8), d ->
        |      (CAST(e.embedding[g.s*8+d] AS DOUBLE) - CAST(cb.embedding[g.s*8+d] AS DOUBLE))
        |      * (CAST(e.embedding[g.s*8+d] AS DOUBLE) - CAST(cb.embedding[g.s*8+d] AS DOUBLE))))
        |      AS dist
        |  FROM embeddings e, generate_series(0, 7) g(s), cb),
        |enc0 AS (SELECT vec_id, s, c AS code FROM dists
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, c) = 1),
        |enc AS (SELECT vec_id, list(code ORDER BY s) AS codes
        |  FROM enc0 GROUP BY 1),
        |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |  WHERE vec_id < 10),
        |ad AS (SELECT q.query_id, en.vec_id AS neighbor_id,
        |    list_sum(list_transform(generate_series(0, 7), s ->
        |      list_sum(list_transform(generate_series(1, 8), d ->
        |        (CAST(q.qv[s*8+d] AS DOUBLE) - CAST(cbl.cbs[en.codes[s+1]+1][s*8+d] AS DOUBLE))
        |        * (CAST(q.qv[s*8+d] AS DOUBLE) - CAST(cbl.cbs[en.codes[s+1]+1][s*8+d] AS DOUBLE))))))
        |      AS adist
        |  FROM q, enc en, cbl WHERE q.query_id <> en.vec_id),
        |pqr AS (SELECT query_id, neighbor_id FROM ad
        |  QUALIFY row_number() OVER
        |    (PARTITION BY query_id ORDER BY adist, neighbor_id) <= 5),
        |bscored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |  round(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(q.qv[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))), 4)
        |    AS cos
        |  FROM q, embeddings c WHERE q.query_id <> c.vec_id),
        |bfr AS (SELECT query_id, neighbor_id FROM bscored
        |  QUALIFY row_number() OVER
        |    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 5),
        |hits AS (SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM bfr b JOIN pqr p USING (query_id, neighbor_id) GROUP BY 1)
        |SELECT q.query_id, coalesce(h.n_hits, 0) AS n_hits,
        |  round(coalesce(h.n_hits, 0) / 5.0, 4) AS recall
        |FROM q LEFT JOIN hits h USING (query_id)
        |ORDER BY q.query_id""".stripMargin),

    // extension: MinHash-LSH near-dup detection, verified by exact jaccard
    QuerySpec("q_minhash_lsh", { (s, d) =>
      Dedup.minhashNearDups(t(s, d)("documents").where(col("doc_id") < 200),
        "doc_id", "text", n = 3, bands = 4, rowsPerBand = 4, minSim = 0.2)
        .orderBy("id_a", "id_b")
    },
      """WITH sel AS (SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS nt
        |  FROM documents WHERE doc_id < 200),
        |tok AS (SELECT doc_id, string_split(nt, ' ') AS t FROM sel),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) u
        |  WHERE len(t) >= 3),
        |seeded AS (SELECT doc_id, seed, md5(CAST(seed AS VARCHAR) || ':' || shingle) AS h
        |  FROM sh, (SELECT unnest(generate_series(0, 15)) AS seed) seeds),
        |mh AS (SELECT doc_id, seed, min(h) AS minhash FROM seeded GROUP BY 1, 2),
        |bs AS (SELECT doc_id, seed // 4 AS band,
        |  md5(string_agg(lpad(CAST(seed AS VARCHAR), 2, '0') || '=' || minhash, '|'
        |    ORDER BY lpad(CAST(seed AS VARCHAR), 2, '0') || '=' || minhash)) AS bsig
        |  FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bs a JOIN bs b ON a.band = b.band AND a.bsig = b.bsig
        |    AND a.doc_id < b.doc_id),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT c.id_a, c.id_b, count(*) AS c FROM cand c
        |  JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |    AND a.shingle = b.shingle
        |  GROUP BY 1, 2)
        |SELECT i.id_a, i.id_b,
        |  round(c::DOUBLE / (sa.sz + sb.sz - c), 4) AS jaccard
        |FROM inter i JOIN sz sa ON sa.doc_id = i.id_a JOIN sz sb ON sb.doc_id = i.id_b
        |WHERE c::DOUBLE / (sa.sz + sb.sz - c) >= 0.2 ORDER BY 1, 2""".stripMargin),

    // extension: prefix-filtered exact Jaccard pairs (PPJoin prefix
    // filter) — no LSH false negatives, no all-pairs token join
    QuerySpec("q_prefix_jaccard", { (s, d) =>
      Dedup.prefixJaccardPairs(t(s, d)("documents").where(col("doc_id") < 200),
        "doc_id", "text", minSim = 0.5)
        .orderBy("id_a", "id_b")
    },
      // PPJoin prefix filter: rarest-first per-doc token order (df, tok),
      // prefix = sz − ceil(t·sz) + 1 tokens, candidates share a prefix token
      """WITH sel AS (SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS nt
        |  FROM documents WHERE doc_id < 200),
        |toks AS (SELECT DISTINCT doc_id,
        |    unnest(list_filter(string_split(nt, ' '), x -> len(x) > 0)) AS tok
        |  FROM sel),
        |dfs AS (SELECT tok, count(*) AS df FROM toks GROUP BY 1),
        |sz AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
        |pre AS (SELECT t.doc_id, t.tok
        |  FROM toks t JOIN dfs USING (tok) JOIN sz USING (doc_id)
        |  QUALIFY row_number() OVER (PARTITION BY t.doc_id ORDER BY df, t.tok)
        |    <= sz - ceil(0.5 * sz) + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM pre a JOIN pre b ON a.tok = b.tok AND a.doc_id < b.doc_id),
        |inter AS (SELECT c.id_a, c.id_b, count(*) AS c FROM cand c
        |  JOIN toks a ON a.doc_id = c.id_a
        |  JOIN toks b ON b.doc_id = c.id_b AND a.tok = b.tok
        |  GROUP BY 1, 2)
        |SELECT i.id_a, i.id_b,
        |  round(c::DOUBLE / (sa.sz + sb.sz - c), 4) AS jaccard
        |FROM inter i JOIN sz sa ON sa.doc_id = i.id_a JOIN sz sb ON sb.doc_id = i.id_b
        |WHERE c::DOUBLE / (sa.sz + sb.sz - c) >= 0.5 ORDER BY 1, 2""".stripMargin),

    // extension: incremental dedup — a new batch (doc_id % 5 = 0) LSH-
    // checked AGAINST the already-curated corpus; only cross-side pairs
    QuerySpec("q_incremental_dedup", { (s, d) =>
      val docs = t(s, d)("documents").where(col("doc_id") < 200)
      Dedup.crossNearDups(
        docs.where(col("doc_id") % 5 =!= 0),
        docs.where(col("doc_id") % 5 === 0),
        "doc_id", "text", n = 3, bands = 4, rowsPerBand = 4, minSim = 0.2)
        .orderBy("id_old", "id_new")
    },
      // the q_minhash_lsh chain with the corpus split into existing
      // (doc_id % 5 <> 0) and incoming sides; candidates cross sides only
      """WITH sel AS (SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS nt
        |  FROM documents WHERE doc_id < 200),
        |tok AS (SELECT doc_id, string_split(nt, ' ') AS t FROM sel),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) u
        |  WHERE len(t) >= 3),
        |seeded AS (SELECT doc_id, seed, md5(CAST(seed AS VARCHAR) || ':' || shingle) AS h
        |  FROM sh, (SELECT unnest(generate_series(0, 15)) AS seed) seeds),
        |mh AS (SELECT doc_id, seed, min(h) AS minhash FROM seeded GROUP BY 1, 2),
        |bs AS (SELECT doc_id, seed // 4 AS band,
        |  md5(string_agg(lpad(CAST(seed AS VARCHAR), 2, '0') || '=' || minhash, '|'
        |    ORDER BY lpad(CAST(seed AS VARCHAR), 2, '0') || '=' || minhash)) AS bsig
        |  FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_old, b.doc_id AS id_new
        |  FROM bs a JOIN bs b ON a.band = b.band AND a.bsig = b.bsig
        |  WHERE a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT c.id_old, c.id_new, count(*) AS c FROM cand c
        |  JOIN sh a ON a.doc_id = c.id_old JOIN sh b ON b.doc_id = c.id_new
        |    AND a.shingle = b.shingle
        |  GROUP BY 1, 2)
        |SELECT i.id_old, i.id_new,
        |  round(c::DOUBLE / (sa.sz + sb.sz - c), 4) AS jaccard
        |FROM inter i JOIN sz sa ON sa.doc_id = i.id_old JOIN sz sb ON sb.doc_id = i.id_new
        |WHERE c::DOUBLE / (sa.sz + sb.sz - c) >= 0.2 ORDER BY 1, 2""".stripMargin),

    // extension: dedup clusters — connected components over MinHash-LSH
    // near-dup pairs (min id per component = the canonical survivor)
    QuerySpec("q_dedup_clusters", { (s, d) =>
      val docs = t(s, d)("documents").where(col("doc_id") < 200)
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        n = 3, bands = 4, rowsPerBand = 4, minSim = 0.2)
      Dedup.connectedComponents(docs, "doc_id", pairs, "id_a", "id_b")
        .orderBy("doc_id")
    },
      // same candidate chain as q_minhash_lsh, then a recursive reachability
      // closure: component = min reachable doc id
      """WITH RECURSIVE sel AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text),'\s+',' ','g')) AS nt
        |  FROM documents WHERE doc_id < 200),
        |tok AS (SELECT doc_id, string_split(nt, ' ') AS t FROM sel),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) u
        |  WHERE len(t) >= 3),
        |seeded AS (SELECT doc_id, seed, md5(CAST(seed AS VARCHAR) || ':' || shingle) AS h
        |  FROM sh, (SELECT unnest(generate_series(0, 15)) AS seed) seeds),
        |mh AS (SELECT doc_id, seed, min(h) AS minhash FROM seeded GROUP BY 1, 2),
        |bs AS (SELECT doc_id, seed // 4 AS band,
        |  md5(string_agg(lpad(CAST(seed AS VARCHAR), 2, '0') || '=' || minhash, '|'
        |    ORDER BY lpad(CAST(seed AS VARCHAR), 2, '0') || '=' || minhash)) AS bsig
        |  FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bs a JOIN bs b ON a.band = b.band AND a.bsig = b.bsig
        |    AND a.doc_id < b.doc_id),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT c.id_a, c.id_b, count(*) AS c FROM cand c
        |  JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |    AND a.shingle = b.shingle
        |  GROUP BY 1, 2),
        |pairs AS (SELECT i.id_a, i.id_b
        |  FROM inter i JOIN sz sa ON sa.doc_id = i.id_a
        |  JOIN sz sb ON sb.doc_id = i.id_b
        |  WHERE c::DOUBLE / (sa.sz + sb.sz - c) >= 0.2),
        |e AS (SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |r AS (SELECT doc_id, doc_id AS reach FROM sel
        |  UNION SELECT r.doc_id, e.b FROM r JOIN e ON r.reach = e.a)
        |SELECT doc_id, min(reach) AS component FROM r GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin),

    // extension: embedding-cosine near-dup pairs (exact on a bounded set)
    QuerySpec("q_cosine_neardup", { (s, d) =>
      Similarity.cosineNearDups(t(s, d)("embeddings").where(col("vec_id") < 300),
        "vec_id", "embedding", minCos = 0.38)
        .orderBy("id_a", "id_b")
    },
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 4)
        |    AS cos
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.38 ORDER BY 1, 2""".stripMargin),

    // extension: SemDeDup-style semantic dedup — sign-LSH cells, least-id
    // representative, members pruned at cos >= tau to their representative;
    // md5-derived hyperplanes make cells and cosines engine-portable
    QuerySpec("q_semantic_dedup", { (s, d) =>
      Similarity.semanticDedup(t(s, d)("embeddings"), "vec_id", "embedding",
        tau = 0.5, bits = 6, dim = 64,
        planesOverride = Some(Similarity.md5Hyperplanes(bits = 6, dim = 64)))
        .select(col("cell"), col("id"), col("cos_to_rep"),
          col("keep").cast("long").as("keep"))
        .orderBy("cell", "id")
    },
      """WITH pw AS (SELECT j, d,
        |    list_sum(list_transform(generate_series(1, 8),
        |      p -> (strpos('0123456789abcdef',
        |              substring(md5('p:' || j || ':' || d), p, 1)) - 1)
        |           * CAST(power(16, 8 - p) AS BIGINT))) / 2147483648.0 - 1.0 AS w
        |  FROM (SELECT unnest(generate_series(0, 5)) AS j) jj,
        |       (SELECT unnest(generate_series(0, 63)) AS d) dd),
        |pl AS (SELECT j, list(w ORDER BY d) AS p FROM pw GROUP BY j),
        |cb AS (SELECT e.vec_id, SUM(CASE WHEN
        |    list_reduce(list_transform(generate_series(1, 64),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * pl.p[i]), (acc, x) -> acc + x) >= 0
        |    THEN CAST(1 AS BIGINT) << pl.j ELSE 0 END) AS cell
        |  FROM embeddings e, pl GROUP BY e.vec_id),
        |reps AS (SELECT cell, min(vec_id) AS rep_id FROM cb GROUP BY cell),
        |s AS (SELECT cb.cell, cb.vec_id AS id, r.rep_id,
        |  CASE WHEN cb.vec_id = r.rep_id THEN 1.0 ELSE
        |    round(list_sum(list_transform(generate_series(1, 64),
        |        i -> CAST(m.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE))) /
        |      (sqrt(list_sum(list_transform(generate_series(1, 64),
        |        i -> CAST(m.embedding[i] AS DOUBLE) * CAST(m.embedding[i] AS DOUBLE)))) *
        |       sqrt(list_sum(list_transform(generate_series(1, 64),
        |        i -> CAST(v.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE))))), 4)
        |  END AS cos_to_rep
        |  FROM cb JOIN reps r ON cb.cell = r.cell
        |  JOIN embeddings m ON m.vec_id = cb.vec_id
        |  JOIN embeddings v ON v.vec_id = r.rep_id)
        |SELECT CAST(cell AS BIGINT) AS cell, id, cos_to_rep,
        |  CAST(CASE WHEN id = rep_id OR cos_to_rep < 0.5 THEN 1 ELSE 0 END AS BIGINT)
        |    AS keep
        |FROM s ORDER BY cell, id""".stripMargin),

    // extension: winnowing-style document fingerprint (k smallest shingle hashes)
    QuerySpec("q_winnow_fingerprint", { (s, d) =>
      t(s, d)("documents").select(col("doc_id"),
        TextAnalysis.winnowFingerprint(col("text"), 3, 4).as("winnow"))
        .orderBy("doc_id")
    },
      """WITH tok AS (SELECT doc_id,
        |  string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(t)-2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |  ELSE [] END AS shingles FROM tok)
        |SELECT doc_id, array_to_string(
        |  list_sort(list_transform(shingles, x -> md5(x)))[1:4], '|') AS winnow
        |FROM sh ORDER BY doc_id""".stripMargin),

    // extension: SimHash near-dups — md5-derived 60-bit signatures with
    // pigeonhole-complete banding (maxHamming+1 bands), full DuckDB oracle
    QuerySpec("q_simhash_neardup", { (s, d) =>
      Dedup.simhashMd5NearDups(t(s, d)("documents").where(col("doc_id") < 200),
        "doc_id", "text", maxHamming = 12)
        .orderBy("id_a", "id_b")
    },
      // simhashMd5NearDups bands with maxHamming+1 substrings (pigeonhole-
      // complete), so its output equals the EXACT all-pairs Hamming ≤ 12 set —
      // the oracle recomputes the md5-derived signatures and compares all pairs
      """WITH sel AS (SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS nt
        |  FROM documents WHERE doc_id < 200),
        |tok AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS tk FROM sel),
        |hx AS (SELECT doc_id, md5(tk) AS h FROM tok WHERE len(tk) > 0),
        |bits AS (SELECT doc_id, j,
        |  CASE WHEN ((strpos('0123456789abcdef', substring(h, (j // 4) + 1, 1)) - 1)
        |       >> (3 - (j % 4))) & 1 = 1 THEN 1 ELSE -1 END AS v
        |  FROM hx, (SELECT unnest(generate_series(0, 59)) AS j) js),
        |sig AS (SELECT doc_id,
        |  string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS sg
        |  FROM (SELECT doc_id, j, sum(v) AS s FROM bits GROUP BY 1, 2) GROUP BY 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_filter(generate_series(1, 60),
        |    i -> substring(a.sg, i, 1) <> substring(b.sg, i, 1))) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE len(list_filter(generate_series(1, 60),
        |    i -> substring(a.sg, i, 1) <> substring(b.sg, i, 1))) <= 12
        |ORDER BY 1, 2""".stripMargin),

    // extension: LSH-bucketed ANN top-k with md5-derived hyperplanes — the
    // planes (hence buckets, candidates, and the exact result) replicate in
    // DuckDB, so the approximate operator has a FULL equality oracle
    QuerySpec("q_ann_topk", { (s, d) =>
      val emb = t(s, d)("embeddings")
      Similarity.annTopK(emb.where(col("vec_id") < 10), emb, "vec_id", "embedding",
        k = 5, bits = 6, dim = 64, multiprobe = 2,
        planesOverride = Some(Similarity.md5Hyperplanes(bits = 6, dim = 64)))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    },
      // ANN with md5-derived hyperplanes: the planes (ints < 2^32 from md5 hex,
      // exact in double), bucket signs, multiprobe set, and 4-dp cosines all
      // replicate bit-for-bit, so the approximate operator has a FULL oracle
      """WITH pw AS (SELECT j, d,
        |    list_sum(list_transform(generate_series(1, 8),
        |      p -> (strpos('0123456789abcdef',
        |              substring(md5('p:' || j || ':' || d), p, 1)) - 1)
        |           * CAST(power(16, 8 - p) AS BIGINT))) / 2147483648.0 - 1.0 AS w
        |  FROM (SELECT unnest(generate_series(0, 5)) AS j) jj,
        |       (SELECT unnest(generate_series(0, 63)) AS d) dd),
        |pl AS (SELECT j, list(w ORDER BY d) AS p FROM pw GROUP BY j),
        |cb AS (SELECT e.vec_id, SUM(CASE WHEN
        |    list_reduce(list_transform(generate_series(1, 64),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * pl.p[i]), (acc, x) -> acc + x) >= 0
        |    THEN CAST(1 AS BIGINT) << pl.j ELSE 0 END) AS bucket
        |  FROM embeddings e, pl GROUP BY e.vec_id),
        |qb AS (SELECT e.vec_id AS query_id, e.embedding AS qv, cb.bucket AS b0
        |  FROM embeddings e JOIN cb ON cb.vec_id = e.vec_id WHERE e.vec_id < 10),
        |probes AS (SELECT query_id, qv, unnest([b0, xor(b0, 1), xor(b0, 2)]) AS bucket
        |  FROM qb),
        |scored AS (SELECT p.query_id, e.vec_id AS neighbor_id,
        |  round(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(p.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(p.qv[i] AS DOUBLE) * CAST(p.qv[i] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))), 4)
        |    AS cos
        |  FROM probes p JOIN cb ON cb.bucket = p.bucket
        |  JOIN embeddings e ON e.vec_id = cb.vec_id
        |  WHERE p.query_id <> e.vec_id)
        |SELECT query_id, CAST(row_number() OVER w AS BIGINT) AS rank, neighbor_id, cos
        |FROM scored
        |WINDOW w AS (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)
        |QUALIFY row_number() OVER w <= 5
        |ORDER BY query_id, rank""".stripMargin),

    // extension: ANN recall measurement — per-query recall@5 of the LSH
    // ANN against the exact brute-force top-5 (both deterministic via the
    // md5 hyperplanes, so the recall NUMBER itself is oracle-checkable).
    // bits=4 × 5 probes scans ~31% of buckets for ~0.58 mean recall on
    // these (synthetic, near-isotropic) vectors — the measured tradeoff
    // is the point: this harness is how a config gets chosen at scale
    QuerySpec("q_ann_recall", { (s, d) =>
      val emb = t(s, d)("embeddings")
      val q = emb.where(col("vec_id") < 10)
      val ann = Similarity.annTopK(q, emb, "vec_id", "embedding", k = 5,
        bits = 4, dim = 64, multiprobe = 4,
        planesOverride = Some(Similarity.md5Hyperplanes(bits = 4, dim = 64)))
        .select(col("query_id"), col("neighbor_id"))
      val bf = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val hits = bf.join(ann, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)) / lit(5.0), 4).as("recall"))
        .orderBy("query_id")
    },
      // recall@5: ANN top-5 (same md5-hyperplane replay as q_ann_topk) ∩
      // exact brute-force top-5 (q_embed_topk's scan), counted per query
      """WITH pw AS (SELECT j, d,
        |    list_sum(list_transform(generate_series(1, 8),
        |      p -> (strpos('0123456789abcdef',
        |              substring(md5('p:' || j || ':' || d), p, 1)) - 1)
        |           * CAST(power(16, 8 - p) AS BIGINT))) / 2147483648.0 - 1.0 AS w
        |  FROM (SELECT unnest(generate_series(0, 3)) AS j) jj,
        |       (SELECT unnest(generate_series(0, 63)) AS d) dd),
        |pl AS (SELECT j, list(w ORDER BY d) AS p FROM pw GROUP BY j),
        |cb AS (SELECT e.vec_id, SUM(CASE WHEN
        |    list_reduce(list_transform(generate_series(1, 64),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * pl.p[i]), (acc, x) -> acc + x) >= 0
        |    THEN CAST(1 AS BIGINT) << pl.j ELSE 0 END) AS bucket
        |  FROM embeddings e, pl GROUP BY e.vec_id),
        |qb AS (SELECT e.vec_id AS query_id, e.embedding AS qv, cb.bucket AS b0
        |  FROM embeddings e JOIN cb ON cb.vec_id = e.vec_id WHERE e.vec_id < 10),
        |probes AS (SELECT query_id, qv, unnest([b0, xor(b0, 1), xor(b0, 2), xor(b0, 4), xor(b0, 8)]) AS bucket
        |  FROM qb),
        |ascored AS (SELECT p.query_id, e.vec_id AS neighbor_id,
        |  round(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(p.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(p.qv[i] AS DOUBLE) * CAST(p.qv[i] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))), 4)
        |    AS cos
        |  FROM probes p JOIN cb ON cb.bucket = p.bucket
        |  JOIN embeddings e ON e.vec_id = cb.vec_id
        |  WHERE p.query_id <> e.vec_id),
        |annr AS (SELECT query_id, neighbor_id FROM ascored
        |  QUALIFY row_number() OVER
        |    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 5),
        |bscored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |  round(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(q.qv[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))), 4)
        |    AS cos
        |  FROM (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |        WHERE vec_id < 10) q,
        |       embeddings c WHERE q.query_id <> c.vec_id),
        |bfr AS (SELECT query_id, neighbor_id FROM bscored
        |  QUALIFY row_number() OVER
        |    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 5),
        |hits AS (SELECT b.query_id, CAST(count(*) AS BIGINT) AS n
        |  FROM bfr b SEMI JOIN annr a
        |    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
        |  GROUP BY 1)
        |SELECT q0.query_id, CAST(coalesce(hits.n, 0) AS BIGINT) AS n_hits,
        |  round(coalesce(hits.n, 0) / 5.0, 4) AS recall
        |FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10) q0
        |LEFT JOIN hits USING (query_id)
        |ORDER BY q0.query_id""".stripMargin),

    // extension: Fellegi–Sunter linkage scoring over sorted-neighborhood
    // candidates — per-field log-likelihood weights as driver-computed
    // integer micro-nat literals (no transcendentals in the plan)
    QuerySpec("q_fellegi_sunter", { (s, d) =>
      import graft.infer.CrossResourceIdentity
      val cust = t(s, d)("customer").where(col("c_custkey") <= 2000)
      val pairs = CrossResourceIdentity.sortedNeighborhoodPairs(
        cust, "c_custkey", "c_name", window = 4)
      val attrs = cust.select(col("c_custkey"), col("c_nationkey"),
        col("c_mktsegment"))
      val joined = pairs
        .join(attrs.withColumnsRenamed(Map("c_custkey" -> "id_a",
          "c_nationkey" -> "nk_a", "c_mktsegment" -> "seg_a")), Seq("id_a"))
        .join(attrs.withColumnsRenamed(Map("c_custkey" -> "id_b",
          "c_nationkey" -> "nk_b", "c_mktsegment" -> "seg_b")), Seq("id_b"))
      CrossResourceIdentity.fellegiSunterScore(joined, fsFields,
        matchThresholdMicro = 2000000L, possibleThresholdMicro = 0L)
        .select(col("id_a"), col("id_b"), col("fs_micro"), col("fs_class"))
        .orderBy("id_a", "id_b")
    }, {
      val caseSum = graft.infer.CrossResourceIdentity.fellegiSunterOracleCase(
        fsFields, Map(
          "name" -> "levenshtein(p.key_a, p.key_b) <= 6",
          "nation" -> "(ca.c_nationkey = cb.c_nationkey)",
          "segment" -> "(ca.c_mktsegment = cb.c_mktsegment)"))
      s"""WITH r AS (SELECT c_custkey AS id, c_name AS key,
         |    row_number() OVER (ORDER BY c_name, c_custkey) AS rank
         |  FROM customer WHERE c_custkey <= 2000),
         |p AS (SELECT a.id AS id_a, b.id AS id_b, a.key AS key_a, b.key AS key_b
         |  FROM r a JOIN r b ON b.rank > a.rank AND b.rank <= a.rank + 3),
         |sc AS (SELECT p.id_a, p.id_b, CAST($caseSum AS BIGINT) AS fs_micro
         |  FROM p JOIN customer ca ON ca.c_custkey = p.id_a
         |  JOIN customer cb ON cb.c_custkey = p.id_b)
         |SELECT id_a, id_b, fs_micro,
         |  CASE WHEN fs_micro >= 2000000 THEN 'match'
         |       WHEN fs_micro >= 0 THEN 'possible'
         |       ELSE 'non_match' END AS fs_class
         |FROM sc ORDER BY id_a, id_b""".stripMargin
    }),

    // extension: sorted-neighborhood ER blocking — customers sorted by
    // name, candidate pairs within a 4-position window, scored with
    // codegen levenshtein; two-phase global ordinal (no global window)
    QuerySpec("q_sorted_neighborhood", { (s, d) =>
      graft.infer.CrossResourceIdentity.sortedNeighborhoodPairs(
        t(s, d)("customer").where(col("c_custkey") <= 2000),
        "c_custkey", "c_name", window = 4)
        .withColumn("dist",
          levenshtein(col("key_a"), col("key_b")).cast("long"))
        .orderBy("id_a", "id_b")
    },
      """WITH r AS (SELECT c_custkey AS id, c_name AS key,
        |    row_number() OVER (ORDER BY c_name, c_custkey) AS rank
        |  FROM customer WHERE c_custkey <= 2000)
        |SELECT a.id AS id_a, b.id AS id_b, a.key AS key_a, b.key AS key_b,
        |  CAST(levenshtein(a.key, b.key) AS BIGINT) AS dist
        |FROM r a JOIN r b ON b.rank > a.rank AND b.rank <= a.rank + 3
        |ORDER BY id_a, id_b""".stripMargin),

    // extension: sparse lexical similarity — TF-IDF cosine top-k via an
    // inverted index (term-keyed join, df-capped posting lists, integer-
    // quantized contributions so shuffled sums stay deterministic)
    QuerySpec("q_tfidf_topk", { (s, d) =>
      val docs = t(s, d)("documents")
      Corpus.tfidfTopK(docs, "doc_id", "text",
        docs.where(col("doc_id") % 50 === 0), "doc_id", "text",
        k = 5, maxDocFreqFrac = 0.8)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("match_id"), col("cos"))
        .orderBy("query_id", "rank")
    },
      // same quantized-integer arithmetic as the Spark side: q(t) =
      // round(idf(t)^2 * 1e6) as BIGINT, exact integer dot/norm sums, one
      // fixed-shape double divide at the end
      """WITH tok AS (SELECT doc_id,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> len(x) > 0) AS t FROM documents),
        |cp AS (SELECT doc_id AS did, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS term FROM tok) GROUP BY 1, 2),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        |iq AS (SELECT term,
        |    CAST(round(pow(ln((nd + 1.0) / (df + 1.0)) + 1.0, 2) * 1000000.0) AS BIGINT) AS q
        |  FROM (SELECT term, CAST(count(*) AS BIGINT) AS df FROM cp GROUP BY 1), n
        |  WHERE df <= 0.8 * nd),
        |wd AS (SELECT did, cp.term, tf, q FROM cp JOIN iq USING (term)),
        |wq AS (SELECT did AS qid, term, tf, q FROM wd WHERE did % 50 = 0),
        |nd2 AS (SELECT did, sum(tf * tf * q) AS n2d FROM wd GROUP BY 1),
        |nq2 AS (SELECT qid, sum(tf * tf * q) AS n2q FROM wq GROUP BY 1),
        |dots AS (SELECT qid, did, sum(wq.tf * wd.tf * wd.q) AS dot
        |  FROM wq JOIN wd USING (term) WHERE qid <> did GROUP BY 1, 2),
        |sc AS (SELECT qid, did,
        |    round(CAST(dot AS DOUBLE) / sqrt(CAST(n2q AS DOUBLE) * CAST(n2d AS DOUBLE)), 4) AS cos
        |  FROM dots JOIN nq2 USING (qid) JOIN nd2 USING (did)),
        |r AS (SELECT qid, did, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, did) AS rank FROM sc)
        |SELECT qid AS query_id, CAST(rank AS BIGINT) AS rank, did AS match_id, cos
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // extension: benchmark-contamination check — corpus docs sharing a
    // 5-gram with a bounded eval suite (docs 400-499)
    QuerySpec("q_contamination", { (s, d) =>
      val docs = t(s, d)("documents")
      Corpus.contamination(
        docs.where(col("doc_id") < 400), "doc_id", "text",
        docs.where(col("doc_id") >= 400 && col("doc_id") < 500), "doc_id", "text",
        n = 5)
        .orderBy("doc_id")
    },
      """WITH sel AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text),'\s+',' ','g')) AS nt FROM documents),
        |tok AS (SELECT doc_id,
        |  list_filter(string_split(nt, ' '), x -> len(x) > 0) AS t FROM sel),
        |sh AS (SELECT DISTINCT doc_id,
        |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS g
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t)-4)) AS i) u
        |  WHERE len(t) >= 5),
        |c AS (SELECT * FROM sh WHERE doc_id < 400),
        |e AS (SELECT doc_id AS eval_id, g FROM sh
        |  WHERE doc_id >= 400 AND doc_id < 500)
        |SELECT c.doc_id, count(DISTINCT c.g) AS n_shared_ngrams,
        |  count(DISTINCT e.eval_id) AS n_eval_docs
        |FROM c JOIN e ON c.g = e.g GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // extension: per-label centroid prototypicality (D4/SSL-prototypes
    // curation signal) — low cosine-to-own-centroid = outlier/label-noise
    // candidates, high = redundancy near the class mode
    QuerySpec("q_proto_centroid", { (s, d) =>
      Similarity.prototypicality(t(s, d)("embeddings"),
        "vec_id", "label", "embedding")
        .orderBy("vec_id")
    },
      // centroid components rounded to 6 decimals on both sides so the
      // avg's aggregation order cannot leak into the 4-decimal cosine
      """WITH e AS (SELECT vec_id, label, i AS dim,
        |    CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, LATERAL (SELECT
        |    unnest(generate_series(1, len(embedding))) AS i) u),
        |c AS (SELECT label, dim, round(avg(v), 6) AS cv
        |  FROM e GROUP BY 1, 2),
        |j AS (SELECT e.vec_id, e.label,
        |    sum(e.v * c.cv) AS dot,
        |    sqrt(sum(e.v * e.v)) AS nv,
        |    sqrt(sum(c.cv * c.cv)) AS nc
        |  FROM e JOIN c ON e.label = c.label AND e.dim = c.dim
        |  GROUP BY 1, 2)
        |SELECT vec_id, label, round(dot / (nv * nc), 4) AS proto_cos
        |FROM j ORDER BY vec_id""".stripMargin),

    // extension: per-cluster canonical survivor (best quality, min-id tie)
    // over the same near-dup components as q_dedup_clusters
    QuerySpec("q_cluster_survivors", { (s, d) =>
      val docs = t(s, d)("documents").where(col("doc_id") < 200)
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        n = 3, bands = 4, rowsPerBand = 4, minSim = 0.2)
      val clusters = Dedup.connectedComponents(docs, "doc_id", pairs, "id_a", "id_b")
      val scored = docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      Corpus.clusterSurvivors(clusters, "doc_id", "component", scored, "quality")
        .orderBy("component")
    },
      // same candidate chain + reachability closure as q_dedup_clusters, then
      // best-quality-per-component survivor selection
      """WITH RECURSIVE sel AS (SELECT doc_id, text,
        |    trim(regexp_replace(lower(text),'\s+',' ','g')) AS nt
        |  FROM documents WHERE doc_id < 200),
        |tok AS (SELECT doc_id, string_split(nt, ' ') AS t FROM sel),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) u
        |  WHERE len(t) >= 3),
        |seeded AS (SELECT doc_id, seed, md5(CAST(seed AS VARCHAR) || ':' || shingle) AS h
        |  FROM sh, (SELECT unnest(generate_series(0, 15)) AS seed) seeds),
        |mh AS (SELECT doc_id, seed, min(h) AS minhash FROM seeded GROUP BY 1, 2),
        |bs AS (SELECT doc_id, seed // 4 AS band,
        |  md5(string_agg(lpad(CAST(seed AS VARCHAR), 2, '0') || '=' || minhash, '|'
        |    ORDER BY lpad(CAST(seed AS VARCHAR), 2, '0') || '=' || minhash)) AS bsig
        |  FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bs a JOIN bs b ON a.band = b.band AND a.bsig = b.bsig
        |    AND a.doc_id < b.doc_id),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT c.id_a, c.id_b, count(*) AS c FROM cand c
        |  JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |    AND a.shingle = b.shingle
        |  GROUP BY 1, 2),
        |pairs AS (SELECT i.id_a, i.id_b
        |  FROM inter i JOIN sz sa ON sa.doc_id = i.id_a
        |  JOIN sz sb ON sb.doc_id = i.id_b
        |  WHERE c::DOUBLE / (sa.sz + sb.sz - c) >= 0.2),
        |e AS (SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |r AS (SELECT doc_id, doc_id AS reach FROM sel
        |  UNION SELECT r.doc_id, e.b FROM r JOIN e ON r.reach = e.a),
        |comp AS (SELECT doc_id, min(reach) AS component FROM r GROUP BY doc_id),
        |qt AS (SELECT doc_id, text,
        |  string_split_regex(trim(lower(text)), '\s+') AS t2 FROM sel),
        |q AS (SELECT doc_id, round(
        |  (CASE WHEN len(t2) BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.3 END) * 0.25 +
        |  (1.0 - least(CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) * 4, 1.0)) * 0.25 +
        |  (1.0 - least(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) * 4, 1.0)) * 0.25 +
        |  least(CAST(len(list_distinct(t2)) AS DOUBLE) / greatest(len(t2), 1) * 2, 1.0) * 0.25
        |, 4) AS quality FROM qt),
        |j AS (SELECT comp.component, comp.doc_id, q.quality
        |  FROM comp JOIN q ON comp.doc_id = q.doc_id)
        |SELECT component, doc_id AS survivor_id, quality FROM j
        |QUALIFY row_number() OVER (PARTITION BY component ORDER BY quality DESC, doc_id) = 1
        |ORDER BY component""".stripMargin),

    // extension: C4-style exact cross-document span dedup — every 10-word
    // span keeps only its globally-first occurrence; docs reassemble from
    // surviving spans (text compared by md5 to keep the result narrow)
    QuerySpec("q_span_dedup", { (s, d) =>
      Corpus.spanDedup(t(s, d)("documents").select("doc_id", "text"),
        "doc_id", "text", spanWords = 10)
        .select(col("doc_id"), col("n_spans"), col("n_kept"),
          md5(col("dedup_text")).as("text_hash"))
        .orderBy("doc_id")
    },
      // 10-word spans, 0-based positions; globally-first occurrence =
      // row_number over (doc_id, pos) per case-folded span (output keeps
      // original casing, mirroring spanDedup)
      """WITH sel AS (SELECT doc_id,
        |  list_filter(string_split(trim(regexp_replace(text,'\s+',' ','g')), ' '),
        |    x -> len(x) > 0) AS t FROM documents),
        |sp AS (SELECT doc_id, i - 1 AS pos,
        |    array_to_string(list_slice(t, (i-1)*10 + 1, i*10), ' ') AS span
        |  FROM sel, LATERAL (SELECT unnest(generate_series(1,
        |      CAST(ceil(len(t) / 10.0) AS BIGINT))) AS i) u
        |  WHERE len(t) > 0),
        |keep AS (SELECT doc_id, pos, span FROM sp
        |  QUALIFY row_number() OVER (PARTITION BY lower(span) ORDER BY doc_id, pos) = 1),
        |agg AS (SELECT doc_id, count(*) AS n_kept,
        |    string_agg(span, ' ' ORDER BY pos) AS dtext
        |  FROM keep GROUP BY 1)
        |SELECT s.doc_id, CAST(ceil(len(s.t) / 10.0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
        |  md5(coalesce(a.dtext, '')) AS text_hash
        |FROM sel s LEFT JOIN agg a ON s.doc_id = a.doc_id
        |ORDER BY s.doc_id""".stripMargin),

    // extension: ExactSubstr dedup (Lee et al. 2021) — maximal duplicated
    // token spans at ARBITRARY offsets via overlapping 8-gram hashing +
    // per-doc interval merge; boilerplate sentences are injected around
    // the unique doc bodies (the real-world shape: shared headers/footers
    // at shifted positions), and the operator cuts every occurrence
    QuerySpec("q_exact_substr", { (s, d) =>
      val boiler1 =
        "terms of service apply all rights reserved click here to subscribe now"
      val boiler2 =
        "this site uses cookies to improve your overall browsing experience"
      val docs = t(s, d)("documents").select(col("doc_id"),
        concat(
          when(pmod(col("doc_id"), lit(7L)) === 0, lit(boiler2 + " "))
            .otherwise(lit("")),
          col("text"),
          when(pmod(col("doc_id"), lit(5L)) === 0, lit(" " + boiler1))
            .otherwise(lit(""))).as("text"))
      Corpus.exactSubstrDedup(docs, "doc_id", "text", minLen = 8)
        .orderBy("doc_id")
    },
      // ExactSubstr replay: same boilerplate injection, overlapping 8-gram
      // md5s, count>1 dup filter, lag-based gaps-and-islands interval merge
      // (touching intervals coalesce: gap <= 8), covered-position anti-join
      """WITH base AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 7 = 0
        |    THEN 'this site uses cookies to improve your overall browsing experience '
        |    ELSE '' END) || text ||
        |  (CASE WHEN doc_id % 5 = 0
        |    THEN ' terms of service apply all rights reserved click here to subscribe now'
        |    ELSE '' END) AS text
        |  FROM documents),
        |tok AS (SELECT doc_id,
        |  list_filter(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' '),
        |    x -> len(x) > 0) AS t FROM base),
        |tok2 AS (SELECT * FROM tok WHERE len(t) > 0),
        |grams AS (SELECT doc_id, p,
        |    md5(array_to_string(t[p + 1:p + 8], ' ')) AS h
        |  FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - 8)) AS p
        |        FROM tok2 WHERE len(t) >= 8)),
        |dup AS (SELECT h FROM grams GROUP BY h HAVING count(*) > 1),
        |ds AS (SELECT g.doc_id, g.p FROM grams g JOIN dup USING (h)),
        |i0 AS (SELECT doc_id, p,
        |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 8
        |      THEN 0 ELSE 1 END AS nw FROM ds),
        |i1 AS (SELECT doc_id, p, sum(nw) OVER (PARTITION BY doc_id ORDER BY p
        |    ROWS UNBOUNDED PRECEDING) AS isl FROM i0),
        |spans AS (SELECT doc_id, isl, min(p) AS s, max(p) + 8 AS e
        |  FROM i1 GROUP BY 1, 2),
        |cov AS (SELECT doc_id, unnest(generate_series(s, e - 1)) AS q FROM spans),
        |pos AS (SELECT doc_id, q, t[q + 1] AS tok
        |  FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - 1)) AS q
        |        FROM tok2)),
        |kept AS (SELECT p.doc_id, p.q, p.tok FROM pos p
        |  ANTI JOIN cov c ON p.doc_id = c.doc_id AND p.q = c.q),
        |clean AS (SELECT doc_id,
        |    array_to_string(list(tok ORDER BY q), ' ') AS clean_text
        |  FROM kept GROUP BY doc_id),
        |st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(e - s) AS BIGINT) AS n_dup_tokens FROM spans GROUP BY 1)
        |SELECT t2.doc_id, CAST(len(t2.t) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(st.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
        |  CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
        |  coalesce(clean.clean_text, '') AS clean_text
        |FROM tok2 t2 LEFT JOIN st USING (doc_id) LEFT JOIN clean USING (doc_id)
        |ORDER BY t2.doc_id""".stripMargin),

    // extension: BM25 lexical relevance against a fixed query-term set —
    // contributions summed in sorted-term order (bit-reproducible)
    QuerySpec("q_bm25", { (s, d) =>
      Corpus.bm25(t(s, d)("documents"), "doc_id", "text",
        Seq("spark", "vector", "window"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(20)
        .select(col("doc_id"), col("bm25"), col("n_matched_terms"))
    },
      // BM25, terms (spark, vector, window), k1=1.2, b=0.75; contributions
      // summed in sorted-term order exactly like the Spark side
      """WITH sel AS (SELECT doc_id,
        |  list_filter(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' '),
        |    x -> len(x) > 0) AS t FROM documents),
        |docs AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, t FROM sel),
        |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM docs),
        |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM docs, LATERAL (SELECT unnest(list_filter(t,
        |    x -> x IN ('spark','vector','window'))) AS term) u
        |  GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
        |  FROM tf GROUP BY 1),
        |c AS (SELECT tf.doc_id, tf.term,
        |  ln(1.0 + (st.n_docs - d.df + 0.5) / (d.df + 0.5)) * tf.tf * 2.2 /
        |    (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl)) AS contrib
        |  FROM tf JOIN dfreq d USING (term) CROSS JOIN st),
        |sc AS (SELECT doc_id,
        |  round(coalesce(sum(CASE WHEN term = 'spark' THEN contrib END), 0)
        |      + coalesce(sum(CASE WHEN term = 'vector' THEN contrib END), 0)
        |      + coalesce(sum(CASE WHEN term = 'window' THEN contrib END), 0), 4) AS bm25,
        |  count(*) AS n_matched_terms
        |  FROM c GROUP BY 1)
        |SELECT doc_id, bm25, n_matched_terms FROM sc
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin),

    // extension: deterministic HyperLogLog distinct counts (md5 registers,
    // exact-integer register sum) vs the exact distinct count — low-card
    // (users → linear counting) and high-card (event ids → raw estimator)
    // branches both exercised
    QuerySpec("q_hll_distinct", { (s, d) =>
      import graft.ext.Sketch
      val ev = TpchGraph.eventsTable(s, d)
      val est = Sketch.hllCounts(ev, Seq("event_type"), "user_id")
        .withColumn("metric", lit("user"))
        .union(Sketch.hllCounts(ev, Seq("event_type"), "event_id")
          .withColumn("metric", lit("event")))
      val exact = ev.groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("exact_count"))
        .withColumn("metric", lit("user"))
        .union(ev.groupBy("event_type")
          .agg(count_distinct(col("event_id")).as("exact_count"))
          .withColumn("metric", lit("event")))
      est.join(exact, Seq("event_type", "metric"))
        .select(col("event_type"), col("metric"), col("estimate"),
          col("exact_count"))
        .orderBy("event_type", "metric")
    },
      // deterministic HLL: m=256 (2 hex chars), rho over the next 12 hex
      // chars (48 bits), exact-integer register sum scaled by 2^49
      """WITH src AS (
        |  SELECT event_type, 'user' AS metric, md5(CAST(user_id AS VARCHAR)) AS h
        |    FROM events WHERE user_id IS NOT NULL
        |  UNION ALL
        |  SELECT event_type, 'event', md5(CAST(event_id AS VARCHAR))
        |    FROM events WHERE event_id IS NOT NULL),
        |reg AS (SELECT event_type, metric,
        |    (strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substring(h, 2, 1)) - 1 AS bucket,
        |    max(CASE WHEN length(regexp_extract(substring(h, 3, 12), '^0*')) = 12 THEN 49
        |      ELSE 4 * length(regexp_extract(substring(h, 3, 12), '^0*'))
        |        + CASE substring(regexp_replace(substring(h, 3, 12), '^0*', ''), 1, 1)
        |            WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
        |            WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
        |            ELSE 0 END + 1 END) AS reg
        |  FROM src GROUP BY 1, 2, 3),
        |agg AS (SELECT event_type, metric,
        |    sum(CAST(1 AS BIGINT) << (49 - reg)) AS s_present,
        |    count(*) AS present
        |  FROM reg GROUP BY 1, 2),
        |est AS (SELECT event_type, metric,
        |    s_present + (256 - present) * (CAST(1 AS BIGINT) << 49) AS s,
        |    256 - present AS zeros FROM agg),
        |fin AS (SELECT event_type, metric,
        |    CAST(0.7213 AS DOUBLE) / (1.0 + CAST(1.079 AS DOUBLE) / 256.0)
        |      * 256.0 * 256.0 / (CAST(s AS DOUBLE) / 562949953421312.0) AS raw,
        |    zeros FROM est),
        |e2 AS (SELECT event_type, metric,
        |    CASE WHEN raw <= 640.0 AND zeros > 0
        |         THEN round(256.0 * ln(256.0 / zeros), 2)
        |         ELSE round(raw, 2) END AS estimate FROM fin),
        |ex AS (SELECT event_type, 'user' AS metric,
        |    count(DISTINCT user_id) AS exact_count FROM events GROUP BY 1
        |  UNION ALL
        |  SELECT event_type, 'event', count(DISTINCT event_id) FROM events GROUP BY 1)
        |SELECT e2.event_type, e2.metric, e2.estimate, ex.exact_count
        |FROM e2 JOIN ex ON e2.event_type = ex.event_type AND e2.metric = ex.metric
        |ORDER BY e2.event_type, e2.metric""".stripMargin),

    // extension: count-min sketch point-frequency estimates (4×64 md5
    // counters — bounded memory for an unbounded key space) vs exact counts
    QuerySpec("q_cms_counts", { (s, d) =>
      import graft.ext.Sketch
      val ev = TpchGraph.eventsTable(s, d)
      val exact = ev.groupBy(col("event_type").as("probe"))
        .agg(count(lit(1)).as("exact_count"))
      Sketch.cmsEstimate(ev, "event_type", ev.select("event_type"), "event_type")
        .join(exact, Seq("probe"))
        .orderBy("probe")
    },
      // count-min sketch: depth 4 × width 64, bucket = first 8 md5 hex of
      // "depth:key" mod 64; estimate = min over depths
      """WITH keys AS (SELECT CAST(event_type AS VARCHAR) AS k FROM events
        |  WHERE event_type IS NOT NULL),
        |rws AS (SELECT depth, k FROM keys,
        |  LATERAL (SELECT unnest(generate_series(0, 3)) AS depth) u),
        |cnt AS (SELECT depth,
        |    list_sum(list_transform(generate_series(1, 8),
        |      p -> (strpos('0123456789abcdef',
        |              substring(md5(CAST(depth AS VARCHAR) || ':' || k), p, 1)) - 1)
        |           * CAST(power(16, 8 - p) AS BIGINT))) % 64 AS bucket,
        |    count(*) AS cnt
        |  FROM rws GROUP BY 1, 2),
        |probes AS (SELECT DISTINCT CAST(event_type AS VARCHAR) AS probe FROM events
        |  WHERE event_type IS NOT NULL),
        |pr AS (SELECT probe, depth,
        |    list_sum(list_transform(generate_series(1, 8),
        |      p -> (strpos('0123456789abcdef',
        |              substring(md5(CAST(depth AS VARCHAR) || ':' || probe), p, 1)) - 1)
        |           * CAST(power(16, 8 - p) AS BIGINT))) % 64 AS bucket
        |  FROM probes, LATERAL (SELECT unnest(generate_series(0, 3)) AS depth) u),
        |j AS (SELECT probe, min(coalesce(c.cnt, 0)) AS estimate
        |  FROM pr LEFT JOIN cnt c USING (depth, bucket) GROUP BY 1),
        |ex AS (SELECT CAST(event_type AS VARCHAR) AS probe, count(*) AS exact_count
        |  FROM events GROUP BY 1)
        |SELECT j.probe, j.estimate, ex.exact_count
        |FROM j JOIN ex USING (probe) ORDER BY probe""".stripMargin),

    // extension: Bloom-filter semi-join pruning — a 4096-bit md5 bitmap
    // over one nation's customer keys, probed as narrow column math on
    // the orders scan (no join, no shuffle on the fact side); output
    // keeps the false positives visible via the exact `member` flag
    QuerySpec("q_bloom_prune", { (s, d) =>
      import graft.ext.Sketch
      val build = t(s, d)("customer").where(col("c_nationkey") === 1)
        .select(col("c_custkey"))
      val bitmap = Sketch.bloomBuild(build, "c_custkey", mBits = 4096, kHash = 3)
      t(s, d)("orders").select(col("o_custkey")).distinct()
        .where(Sketch.bloomMightContain(col("o_custkey"), bitmap, 4096, 3))
        .join(build.withColumn("member", lit(true)),
          col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_custkey"), coalesce(col("member"), lit(false)).as("member"))
        .orderBy("o_custkey")
    },
      // Bloom replay: the bitmap is modeled as the SET of bit positions —
      // a probe passes iff each of its 3 salted-md5 positions is present
      """WITH bkeys AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k
        |  FROM customer WHERE c_nationkey = 1),
        |bset AS (SELECT DISTINCT
        |    list_sum(list_transform(generate_series(1, 8),
        |      p -> (strpos('0123456789abcdef',
        |              substring(md5(CAST(i AS VARCHAR) || ':' || k), p, 1)) - 1)
        |           * CAST(power(16, 8 - p) AS BIGINT))) % 4096 AS pos
        |  FROM bkeys, LATERAL (SELECT unnest(generate_series(0, 2)) AS i) u),
        |probe AS (SELECT DISTINCT o_custkey FROM orders),
        |pp AS (SELECT o_custkey, i,
        |    list_sum(list_transform(generate_series(1, 8),
        |      p -> (strpos('0123456789abcdef',
        |              substring(md5(CAST(i AS VARCHAR) || ':' ||
        |                CAST(o_custkey AS VARCHAR)), p, 1)) - 1)
        |           * CAST(power(16, 8 - p) AS BIGINT))) % 4096 AS pos
        |  FROM probe, LATERAL (SELECT unnest(generate_series(0, 2)) AS i) u),
        |hits AS (SELECT o_custkey FROM pp LEFT JOIN bset ON pp.pos = bset.pos
        |  GROUP BY o_custkey HAVING count(bset.pos) = 3)
        |SELECT h.o_custkey, (b.k IS NOT NULL) AS member
        |FROM hits h LEFT JOIN bkeys b ON CAST(h.o_custkey AS VARCHAR) = b.k
        |ORDER BY h.o_custkey""".stripMargin),

    // extension: shingle novelty vs a reference-corpus Bloom — fraction
    // of an incoming doc's 3-gram shingles unseen in the curated corpus
    QuerySpec("q_shingle_novelty", { (s, d) =>
      import graft.ext.Sketch
      val docs = t(s, d)("documents").where(col("doc_id") < 200)
      val ref = Dedup.explodeShingles(
        docs.where(col("doc_id") % 5 =!= 0), "doc_id", "text", n = 3)
        .select(col("shingle"))
      val bitmap = Sketch.bloomBuild(ref, "shingle", mBits = 65536, kHash = 3)
      Sketch.shingleNovelty(docs.where(col("doc_id") % 5 === 0),
        "doc_id", "text", n = 3, bitmap, 65536, 3)
        .orderBy("doc_id")
    },
      // novelty: bitmap modeled as the reference shingles' position set; a
      // probe shingle is "seen" iff all 3 salted positions are present
      """WITH sel AS (SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS nt
        |  FROM documents WHERE doc_id < 200),
        |tok AS (SELECT doc_id, string_split(nt, ' ') AS t FROM sel),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) u
        |  WHERE len(t) >= 3),
        |bset AS (SELECT DISTINCT
        |    list_sum(list_transform(generate_series(1, 8),
        |      p -> (strpos('0123456789abcdef',
        |              substring(md5(CAST(i AS VARCHAR) || ':' || shingle), p, 1)) - 1)
        |           * CAST(power(16, 8 - p) AS BIGINT))) % 65536 AS pos
        |  FROM (SELECT DISTINCT shingle FROM sh WHERE doc_id % 5 <> 0) r,
        |    LATERAL (SELECT unnest(generate_series(0, 2)) AS i) u),
        |pp AS (SELECT s.doc_id, s.shingle, u.i,
        |    list_sum(list_transform(generate_series(1, 8),
        |      p -> (strpos('0123456789abcdef',
        |              substring(md5(CAST(u.i AS VARCHAR) || ':' || s.shingle), p, 1)) - 1)
        |           * CAST(power(16, 8 - p) AS BIGINT))) % 65536 AS pos
        |  FROM sh s, LATERAL (SELECT unnest(generate_series(0, 2)) AS i) u
        |  WHERE s.doc_id % 5 = 0),
        |seen AS (SELECT doc_id, shingle FROM pp LEFT JOIN bset ON pp.pos = bset.pos
        |  GROUP BY doc_id, shingle HAVING count(bset.pos) = 3)
        |SELECT s.doc_id,
        |  CAST(count(*) FILTER (se.shingle IS NULL) AS BIGINT) AS n_novel,
        |  CAST(count(*) AS BIGINT) AS n_shingles,
        |  round(CAST(count(*) FILTER (se.shingle IS NULL) AS DOUBLE) / count(*), 4)
        |    AS novelty
        |FROM (SELECT doc_id, shingle FROM sh WHERE doc_id % 5 = 0) s
        |LEFT JOIN seen se ON se.doc_id = s.doc_id AND se.shingle = s.shingle
        |GROUP BY 1 ORDER BY s.doc_id""".stripMargin),

    // extension: HLL register MERGE — |clickers ∪ purchasers| from two
    // independently-built register sets (per-bucket max), the property
    // that lets sketches aggregate across partitions/days without
    // re-reading values; oracle computes registers over the unioned rows
    // (identical by construction)
    QuerySpec("q_hll_union", { (s, d) =>
      import graft.ext.Sketch
      val ev = TpchGraph.eventsTable(s, d)
      val a = Sketch.hllRegisters(ev.where(col("event_type") === "click"),
        Nil, "user_id")
      val b = Sketch.hllRegisters(ev.where(col("event_type") === "purchase"),
        Nil, "user_id")
      val exact = ev.where(col("event_type").isin("click", "purchase"))
        .agg(count_distinct(col("user_id")).as("exact_count"))
      Sketch.hllUnionCounts(a, b).crossJoin(exact)
    },
      // merged-register HLL union == HLL of the unioned values
      """WITH src AS (SELECT md5(CAST(user_id AS VARCHAR)) AS h FROM events
        |  WHERE event_type IN ('click', 'purchase') AND user_id IS NOT NULL),
        |reg AS (SELECT
        |    (strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substring(h, 2, 1)) - 1 AS bucket,
        |    max(CASE WHEN length(regexp_extract(substring(h, 3, 12), '^0*')) = 12 THEN 49
        |      ELSE 4 * length(regexp_extract(substring(h, 3, 12), '^0*'))
        |        + CASE substring(regexp_replace(substring(h, 3, 12), '^0*', ''), 1, 1)
        |            WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
        |            WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
        |            ELSE 0 END + 1 END) AS reg
        |  FROM src GROUP BY 1),
        |agg AS (SELECT sum(CAST(1 AS BIGINT) << (49 - reg)) AS s_present,
        |    count(*) AS present FROM reg),
        |est AS (SELECT s_present + (256 - present) * (CAST(1 AS BIGINT) << 49) AS s,
        |    256 - present AS zeros FROM agg),
        |fin AS (SELECT CAST(0.7213 AS DOUBLE) / (1.0 + CAST(1.079 AS DOUBLE) / 256.0)
        |      * 256.0 * 256.0 / (CAST(s AS DOUBLE) / 562949953421312.0) AS raw,
        |    zeros FROM est),
        |e2 AS (SELECT CASE WHEN raw <= 640.0 AND zeros > 0
        |    THEN round(256.0 * ln(256.0 / zeros), 2)
        |    ELSE round(raw, 2) END AS estimate FROM fin)
        |SELECT estimate, (SELECT count(DISTINCT user_id) FROM events
        |  WHERE event_type IN ('click', 'purchase')) AS exact_count FROM e2""".stripMargin),

    // extension: hard-negative mining — per anchor the most-similar
    // vectors of a DIFFERENT label (the confusable-wrong-answer set
    // contrastive training wants)
    QuerySpec("q_hard_negatives", { (s, d) =>
      val emb = t(s, d)("embeddings")
      Similarity.hardNegatives(emb.where(col("vec_id") < 10), emb,
        "vec_id", "embedding", "label", k = 5)
        .select(col("anchor_id"), col("rank").cast("long").as("rank"),
          col("negative_id"), col("cos"))
        .orderBy("anchor_id", "rank")
    },
      """WITH q AS (SELECT vec_id AS anchor_id, embedding AS qv, label AS ql
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS negative_id, embedding AS cv, label AS cl
        |  FROM embeddings),
        |scored AS (SELECT anchor_id, negative_id,
        |  round(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))), 4) AS cos
        |  FROM q, c WHERE ql <> cl)
        |SELECT anchor_id, CAST(row_number() OVER w AS BIGINT) AS rank,
        |  negative_id, cos
        |FROM scored
        |WINDOW w AS (PARTITION BY anchor_id ORDER BY cos DESC, negative_id)
        |QUALIFY row_number() OVER w <= 5
        |ORDER BY anchor_id, rank""".stripMargin),

    // extension: hybrid retrieval — reciprocal-rank fusion of the TF-IDF
    // lexical ranking with the dense embedding ranking (vec_id ≡ doc_id)
    QuerySpec("q_hybrid_rrf", { (s, d) =>
      val docs = t(s, d)("documents")
      val lex = Corpus.tfidfTopK(docs, "doc_id", "text",
        docs.where(col("doc_id") < 10), "doc_id", "text",
        k = 20, maxDocFreqFrac = 0.8)
      val emb = t(s, d)("embeddings")
      val dense = Similarity.bruteForceTopK(emb.where(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 20)
        .select(col("query_id"), col("neighbor_id").as("match_id"), col("rank"))
      Similarity.rrfFuse(lex, dense, "query_id", "match_id", "rank", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("match_id"), col("rrf"))
        .orderBy("query_id", "rank")
    },
      // the tfidf chain (queries doc_id<10, k=20) + dense chain (k=20) +
      // fixed two-term RRF expression; kRrf = 60
      """WITH tok AS (SELECT doc_id,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> len(x) > 0) AS t FROM documents),
        |cp AS (SELECT doc_id AS did, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS term FROM tok) GROUP BY 1, 2),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        |iq AS (SELECT term,
        |    CAST(round(pow(ln((nd + 1.0) / (df + 1.0)) + 1.0, 2) * 1000000.0) AS BIGINT) AS q
        |  FROM (SELECT term, CAST(count(*) AS BIGINT) AS df FROM cp GROUP BY 1), n
        |  WHERE df <= 0.8 * nd),
        |wd AS (SELECT did, cp.term, tf, q FROM cp JOIN iq USING (term)),
        |wq AS (SELECT did AS qid, term, tf, q FROM wd WHERE did < 10),
        |nd2 AS (SELECT did, sum(tf * tf * q) AS n2d FROM wd GROUP BY 1),
        |nq2 AS (SELECT qid, sum(tf * tf * q) AS n2q FROM wq GROUP BY 1),
        |dots AS (SELECT qid, did, sum(wq.tf * wd.tf * wd.q) AS dot
        |  FROM wq JOIN wd USING (term) WHERE qid <> did GROUP BY 1, 2),
        |sc AS (SELECT qid, did,
        |    round(CAST(dot AS DOUBLE) / sqrt(CAST(n2q AS DOUBLE) * CAST(n2d AS DOUBLE)), 4) AS cos
        |  FROM dots JOIN nq2 USING (qid) JOIN nd2 USING (did)),
        |lexr AS (SELECT qid AS query_id, did AS match_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, did) AS rank
        |  FROM sc QUALIFY rank <= 20),
        |eq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |ec AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |escored AS (SELECT query_id, neighbor_id,
        |  round(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))), 4) AS cos
        |  FROM eq, ec WHERE query_id <> neighbor_id),
        |denser AS (SELECT query_id, neighbor_id AS match_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM escored QUALIFY rank <= 20),
        |f AS (SELECT coalesce(l.query_id, de.query_id) AS query_id,
        |    coalesce(l.match_id, de.match_id) AS match_id,
        |    round(coalesce(1.0 / (60 + l.rank), 0) +
        |          coalesce(1.0 / (60 + de.rank), 0), 6) AS rrf
        |  FROM lexr l FULL OUTER JOIN denser de
        |    ON de.query_id = l.query_id AND de.match_id = l.match_id),
        |r AS (SELECT query_id, match_id, rrf,
        |    row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, match_id) AS rank
        |  FROM f)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, match_id, rrf
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // extension: asymmetric shingle containment (|A∩B|/|A| — the quote /
    // subset-duplicate signal Jaccard misses on length-skewed pairs)
    QuerySpec("q_containment", { (s, d) =>
      Dedup.containmentPairs(t(s, d)("documents").where(col("doc_id") < 200),
        "doc_id", "text", n = 3, minContainment = 0.5)
        .orderBy("id_a", "id_b")
    },
      """WITH sel AS (SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS nt
        |  FROM documents WHERE doc_id < 200),
        |tok AS (SELECT doc_id, string_split(nt, ' ') AS t FROM sel),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) u
        |  WHERE len(t) >= 3),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT ia AS id_a, ib AS id_b,
        |  round(c::DOUBLE / sa.sz, 4) AS containment
        |FROM inter JOIN sz sa ON sa.doc_id = ia
        |WHERE c::DOUBLE / sa.sz >= 0.5 ORDER BY 1, 2""".stripMargin),

    // extension: JL random projection 64 -> 16 dims via the md5
    // hyperplanes — deterministic index-compression ahead of int8 quant
    QuerySpec("q_random_proj", { (s, d) =>
      Similarity.randomProject(t(s, d)("embeddings"), "vec_id", "embedding",
        k = 16, dim = 64)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "v")))
        .select(col("vec_id"), col("j").cast("long").as("j"), col("v"))
        .orderBy("vec_id", "j")
    },
      // identical md5 plane regeneration to q_ann_topk; list_sum ascending
      // matches the native dot's summation order
      """WITH pw AS (SELECT j, d,
        |    list_sum(list_transform(generate_series(1, 8),
        |      p -> (strpos('0123456789abcdef',
        |              substring(md5('p:' || j || ':' || d), p, 1)) - 1)
        |           * CAST(power(16, 8 - p) AS BIGINT))) / 2147483648.0 - 1.0 AS w
        |  FROM (SELECT unnest(generate_series(0, 15)) AS j) jj,
        |       (SELECT unnest(generate_series(0, 63)) AS d) dd),
        |pl AS (SELECT j, list(w ORDER BY d) AS p FROM pw GROUP BY j)
        |SELECT e.vec_id, CAST(pl.j AS BIGINT) AS j,
        |  round(list_sum(list_transform(generate_series(1, 64),
        |    i -> CAST(e.embedding[i] AS DOUBLE) * pl.p[i])), 4) + 0.0 AS v
        |FROM embeddings e, pl ORDER BY vec_id, j""".stripMargin),

    // extension: per-dimension int8 scalar quantization of embeddings —
    // full code vector checked via exact integer sum + first four codes
    QuerySpec("q_int8_quant", { (s, d) =>
      Similarity.quantizeInt8(t(s, d)("embeddings"), "vec_id", "embedding")
        .select(col("vec_id"),
          aggregate(col("codes"), lit(0L), (acc, x) => acc + x).as("code_sum"),
          try_element_at(col("codes"), lit(1)).as("c0"),
          try_element_at(col("codes"), lit(2)).as("c1"),
          try_element_at(col("codes"), lit(3)).as("c2"),
          try_element_at(col("codes"), lit(4)).as("c3"))
        .orderBy("vec_id")
    },
      // per-dimension int8 quantization; 0-based dims to match posexplode
      """WITH lf AS (SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
        |    FROM embeddings, LATERAL (SELECT unnest(generate_series(1,
        |      len(embedding))) AS i) u),
        |st AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM lf GROUP BY 1),
        |codes AS (SELECT vec_id, dim,
        |    CASE WHEN mx = mn THEN 0
        |         ELSE CAST(round((v - mn) * 255.0 / (mx - mn)) AS INT) END AS code
        |  FROM lf JOIN st USING (dim))
        |SELECT vec_id, CAST(sum(code) AS BIGINT) AS code_sum,
        |  CAST(max(CASE WHEN dim = 0 THEN code END) AS INT) AS c0,
        |  CAST(max(CASE WHEN dim = 1 THEN code END) AS INT) AS c1,
        |  CAST(max(CASE WHEN dim = 2 THEN code END) AS INT) AS c2,
        |  CAST(max(CASE WHEN dim = 3 THEN code END) AS INT) AS c3
        |FROM codes GROUP BY 1 ORDER BY vec_id""".stripMargin),

    // extension: NDCG@k over the brute-force top-k — driver-literal
    // integer discount table, zero transcendentals in the plan
    QuerySpec("q_ndcg", { (s, d) =>
      val emb = t(s, d)("embeddings")
      val topk = Similarity.bruteForceTopK(emb.where(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 10)
      Similarity.ndcgAtK(topk, emb, "vec_id", "label", k = 10)
        .orderBy("query_id")
    },
      // same brute-force base as q_embed_topk at k=10; discount/prefix-sum
      // literals generated from the SAME driver constants as the Spark plan
      {
      val disc = Similarity.ndcgDiscounts(10).mkString(", ")
      val cum = Similarity.ndcgCumDiscounts(10).mkString(", ")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |scored AS (SELECT query_id, neighbor_id,
         |  round(list_sum(list_transform(generate_series(1, 64),
         |      i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) /
         |    (sqrt(list_sum(list_transform(generate_series(1, 64),
         |      i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))) *
         |     sqrt(list_sum(list_transform(generate_series(1, 64),
         |      i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))), 4) AS cos
         |  FROM q, c WHERE query_id <> neighbor_id),
         |tk AS (SELECT query_id, neighbor_id,
         |    CAST(row_number() OVER w AS BIGINT) AS rank
         |  FROM scored WINDOW w AS (PARTITION BY query_id ORDER BY cos DESC,
         |    neighbor_id)
         |  QUALIFY row_number() OVER w <= 10),
         |lab AS (SELECT vec_id, label FROM embeddings),
         |lt AS (SELECT label, CAST(count(*) AS BIGINT) AS nl FROM embeddings
         |  GROUP BY 1),
         |d AS (SELECT t.query_id, any_value(ql.label) AS qlab,
         |    CAST(sum(CASE WHEN ql.label = nb.label
         |      THEN ([$disc])[CAST(t.rank AS INT)] ELSE 0 END) AS BIGINT) AS dcg
         |  FROM tk t JOIN lab ql ON ql.vec_id = t.query_id
         |  JOIN lab nb ON nb.vec_id = t.neighbor_id
         |  GROUP BY t.query_id)
         |SELECT d.query_id,
         |  CASE WHEN least(lt.nl - 1, 10) <= 0 THEN 0.0
         |    ELSE round(CAST(d.dcg AS DOUBLE) /
         |      CAST(([$cum])[CAST(least(lt.nl - 1, 10) AS INT)] AS DOUBLE), 4)
         |  END AS ndcg
         |FROM d JOIN lt ON lt.label = d.qlab
         |ORDER BY d.query_id""".stripMargin
    }),

    // extension: late-interaction MaxSim (ColBERT) — label groups as
    // token-set documents, micro-unit cosines, max-then-sum exact
    QuerySpec("q_maxsim", { (s, d) =>
      val emb = t(s, d)("embeddings")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("label")).orderBy(col("vec_id"))
      val docToks = emb.withColumn("_rn", row_number().over(w))
        .where(col("_rn") <= 12)
        .select(col("label").cast("long").as("doc_id"), col("embedding"))
      val qToks = emb.where(col("vec_id") < 12)
        .select((col("vec_id") % 3).as("qid"), col("vec_id").as("qtok"),
          col("embedding"))
      Similarity.maxSimScores(qToks, docToks, "qid", "qtok", "embedding",
        "doc_id", "embedding", topK = 5)
        .orderBy("query_id", "rank")
    },
      """WITH dt AS (SELECT CAST(label AS BIGINT) AS doc_id, embedding AS dv
        |  FROM (SELECT label, vec_id, embedding,
        |      row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
        |    FROM embeddings) WHERE rn <= 12),
        |qt AS (SELECT vec_id % 3 AS qid, vec_id AS qtok, embedding AS qv
        |  FROM embeddings WHERE vec_id < 12),
        |pc AS (SELECT qid, qtok, doc_id,
        |  CAST(round(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(dv[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(dv[i] AS DOUBLE) * CAST(dv[i] AS DOUBLE))))) * 1000000, 0)
        |    AS BIGINT) AS cos_q
        |  FROM qt, dt),
        |best AS (SELECT qid, qtok, doc_id, max(cos_q) AS best
        |  FROM pc GROUP BY 1, 2, 3),
        |sc AS (SELECT qid AS query_id, doc_id,
        |    round(CAST(sum(best) AS DOUBLE) / 1000000, 4) AS maxsim
        |  FROM best GROUP BY 1, 2)
        |SELECT query_id, CAST(row_number() OVER w AS BIGINT) AS rank, doc_id,
        |  maxsim
        |FROM sc WINDOW w AS (PARTITION BY query_id ORDER BY maxsim DESC, doc_id)
        |QUALIFY row_number() OVER w <= 5
        |ORDER BY query_id, rank""".stripMargin),

    // extension: CMS join-cardinality estimate vs the true join size —
    // two independently-built sketches, no second scan of either table
    QuerySpec("q_join_size_est", { (s, d) =>
      import graft.ext.Sketch
      val li = t(s, d)("lineitem")
      val pt = t(s, d)("part")
      val est = Sketch.cmsJoinSize(li, "l_partkey", pt, "p_partkey")
      val exact = li.join(pt, col("l_partkey") === col("p_partkey"))
        .agg(count(lit(1)).as("exact_count"))
      est.crossJoin(exact)
    },
      // CMS inner-product join-size estimate: same md5 bucket formula as
      // q_cms_counts, two sketches, min over depths of the counter products
      """WITH ka AS (SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem
        |  WHERE l_partkey IS NOT NULL),
        |ra AS (SELECT depth, k FROM ka,
        |  LATERAL (SELECT unnest(generate_series(0, 3)) AS depth) u),
        |ca AS (SELECT depth,
        |    list_sum(list_transform(generate_series(1, 8),
        |      p -> (strpos('0123456789abcdef',
        |              substring(md5(CAST(depth AS VARCHAR) || ':' || k), p, 1)) - 1)
        |           * CAST(power(16, 8 - p) AS BIGINT))) % 64 AS bucket,
        |    CAST(count(*) AS BIGINT) AS ca
        |  FROM ra GROUP BY 1, 2),
        |kb AS (SELECT CAST(p_partkey AS VARCHAR) AS k FROM part
        |  WHERE p_partkey IS NOT NULL),
        |rb AS (SELECT depth, k FROM kb,
        |  LATERAL (SELECT unnest(generate_series(0, 3)) AS depth) u),
        |cb AS (SELECT depth,
        |    list_sum(list_transform(generate_series(1, 8),
        |      p -> (strpos('0123456789abcdef',
        |              substring(md5(CAST(depth AS VARCHAR) || ':' || k), p, 1)) - 1)
        |           * CAST(power(16, 8 - p) AS BIGINT))) % 64 AS bucket,
        |    CAST(count(*) AS BIGINT) AS cb
        |  FROM rb GROUP BY 1, 2),
        |ip AS (SELECT ca.depth, CAST(sum(ca.ca * cb.cb) AS BIGINT) AS ip
        |  FROM ca JOIN cb ON ca.depth = cb.depth AND ca.bucket = cb.bucket
        |  GROUP BY 1),
        |est AS (SELECT min(ip) AS join_size_est FROM ip),
        |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_count
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
        |SELECT est.join_size_est, ex.exact_count FROM est, ex""".stripMargin),

    // extension: LSH quality harness — MinHash candidate pairs scored
    // against the exact-Jaccard truth set (precision/recall measured,
    // not guessed)
    QuerySpec("q_lsh_quality", { (s, d) =>
      val docs = t(s, d)("documents").where(col("doc_id") < 200)
      val cand = Dedup.minhashCandidates(docs, "doc_id", "text",
        n = 3, bands = 4, rowsPerBand = 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val exact = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, minSim = 0.2)
        .withColumnsRenamed(Map("doc_id" -> "id_a")).select("id_a", "id_b")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val hit = cand.join(exact, Seq("id_a", "id_b"), "left_semi")
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_candidates"), col("n_exact"), col("n_hit"),
          when(col("n_candidates") === 0, lit(0.0)).otherwise(
            round(col("n_hit").cast("double") / col("n_candidates"), 4))
            .as("precision"),
          when(col("n_exact") === 0, lit(0.0)).otherwise(
            round(col("n_hit").cast("double") / col("n_exact"), 4))
            .as("recall"))
    },
      // LSH candidates (q_minhash_lsh's banding) vs the exact-Jaccard truth
      // set (q_jaccard_pairs' exhaustive shingle join) — measured quality
      """WITH sel AS (SELECT doc_id, trim(regexp_replace(lower(text),'\s+',' ','g')) AS nt
        |  FROM documents WHERE doc_id < 200),
        |tok AS (SELECT doc_id, string_split(nt, ' ') AS t FROM sel),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) u
        |  WHERE len(t) >= 3),
        |seeded AS (SELECT doc_id, seed, md5(CAST(seed AS VARCHAR) || ':' || shingle) AS h
        |  FROM sh, (SELECT unnest(generate_series(0, 15)) AS seed) seeds),
        |mh AS (SELECT doc_id, seed, min(h) AS minhash FROM seeded GROUP BY 1, 2),
        |bs AS (SELECT doc_id, seed // 4 AS band,
        |  md5(string_agg(lpad(CAST(seed AS VARCHAR), 2, '0') || '=' || minhash, '|'
        |    ORDER BY lpad(CAST(seed AS VARCHAR), 2, '0') || '=' || minhash)) AS bsig
        |  FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bs a JOIN bs b ON a.band = b.band AND a.bsig = b.bsig
        |    AND a.doc_id < b.doc_id),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |ex AS (SELECT ia AS id_a, ib AS id_b
        |  FROM inter JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
        |  WHERE c::DOUBLE / (sa.sz + sb.sz - c) >= 0.2),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
        |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ex),
        |nh AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
        |  FROM cand WHERE EXISTS (SELECT 1 FROM ex
        |    WHERE ex.id_a = cand.id_a AND ex.id_b = cand.id_b))
        |SELECT n_candidates, n_exact, n_hit,
        |  CASE WHEN n_candidates = 0 THEN 0.0
        |    ELSE round(CAST(n_hit AS DOUBLE) / n_candidates, 4) END AS precision,
        |  CASE WHEN n_exact = 0 THEN 0.0
        |    ELSE round(CAST(n_hit AS DOUBLE) / n_exact, 4) END AS recall
        |FROM nc, ne, nh""".stripMargin),

    // extension: golden-record survivorship — exact-dup clusters of
    // documents fused per-field by (n_chars, doc_id) priority
    QuerySpec("q_golden_record", { (s, d) =>
      val docs = t(s, d)("documents").where(col("doc_id") < 200)
        .withColumn("_ch", md5(trim(regexp_replace(lower(col("text")),
          lit("\\s+"), lit(" ")))))
      val pairs = docs.select(col("doc_id").as("id_a"), col("_ch"))
        .join(docs.select(col("doc_id").as("id_b"), col("_ch")), Seq("_ch"))
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      Dedup.goldenRecords(docs, "doc_id", pairs, "id_a", "id_b",
        "n_chars", Seq("lang", "source", "n_chars"))
        .orderBy("component")
    },
      // exact-dup clusters fused per field by (n_chars, doc_id) argmax
      """WITH h AS (SELECT doc_id, lang, source, n_chars,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS ch
        |  FROM documents WHERE doc_id < 200),
        |comp AS (SELECT doc_id, lang, source, n_chars,
        |    min(doc_id) OVER (PARTITION BY ch) AS component FROM h)
        |SELECT component, CAST(count(*) AS BIGINT) AS n_members,
        |  arg_max(lang, n_chars * 1000000 + doc_id) AS lang,
        |  arg_max(source, n_chars * 1000000 + doc_id) AS source,
        |  arg_max(n_chars, n_chars * 1000000 + doc_id) AS n_chars
        |FROM comp GROUP BY component ORDER BY component""".stripMargin),

    // extension: near-dup cluster size distribution (the dedup-health
    // summary over the component labels)
    QuerySpec("q_component_sizes", { (s, d) =>
      val docs = t(s, d)("documents").where(col("doc_id") < 200)
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        n = 3, bands = 4, rowsPerBand = 4, minSim = 0.2)
      Dedup.connectedComponents(docs, "doc_id", pairs, "id_a", "id_b")
        .groupBy("component").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")
    },
      // component labels via the recursive closure, then the size histogram
      """WITH RECURSIVE sel AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text),'\s+',' ','g')) AS nt
        |  FROM documents WHERE doc_id < 200),
        |tok AS (SELECT doc_id, string_split(nt, ' ') AS t FROM sel),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) u
        |  WHERE len(t) >= 3),
        |seeded AS (SELECT doc_id, seed, md5(CAST(seed AS VARCHAR) || ':' || shingle) AS h
        |  FROM sh, (SELECT unnest(generate_series(0, 15)) AS seed) seeds),
        |mh AS (SELECT doc_id, seed, min(h) AS minhash FROM seeded GROUP BY 1, 2),
        |bs AS (SELECT doc_id, seed // 4 AS band,
        |  md5(string_agg(lpad(CAST(seed AS VARCHAR), 2, '0') || '=' || minhash, '|'
        |    ORDER BY lpad(CAST(seed AS VARCHAR), 2, '0') || '=' || minhash)) AS bsig
        |  FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bs a JOIN bs b ON a.band = b.band AND a.bsig = b.bsig
        |    AND a.doc_id < b.doc_id),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT c.id_a, c.id_b, count(*) AS c FROM cand c
        |  JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
        |    AND a.shingle = b.shingle
        |  GROUP BY 1, 2),
        |pairs AS (SELECT i.id_a, i.id_b
        |  FROM inter i JOIN sz sa ON sa.doc_id = i.id_a
        |  JOIN sz sb ON sb.doc_id = i.id_b
        |  WHERE c::DOUBLE / (sa.sz + sb.sz - c) >= 0.2),
        |e AS (SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |r AS (SELECT doc_id, doc_id AS reach FROM sel
        |  UNION SELECT r.doc_id, e.b FROM r JOIN e ON r.reach = e.a),
        |comp AS (SELECT doc_id, min(reach) AS component FROM r GROUP BY doc_id),
        |cs AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM comp GROUP BY 1)
        |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
        |FROM cs GROUP BY 1 ORDER BY cluster_size""".stripMargin),

    // extension: HLL intersection by inclusion-exclusion over the
    // register algebra — |A∩B| ≈ |A| + |B| − |A∪B|, no re-reading values
    QuerySpec("q_hll_intersect", { (s, d) =>
      import graft.ext.Sketch
      val ev = TpchGraph.eventsTable(s, d)
      val a = Sketch.hllRegisters(ev.where(col("event_type") === "click"),
        Nil, "user_id")
      val b = Sketch.hllRegisters(ev.where(col("event_type") === "purchase"),
        Nil, "user_id")
      val estA = Sketch.hllEstimate(a, Nil).select(col("estimate").as("est_a"))
      val estB = Sketch.hllEstimate(b, Nil).select(col("estimate").as("est_b"))
      val estU = Sketch.hllUnionCounts(a, b)
        .select(col("estimate").as("est_union"))
      val exact = ev.where(col("event_type") === "click")
        .select("user_id").distinct()
        .join(ev.where(col("event_type") === "purchase")
          .select("user_id").distinct(), Seq("user_id"), "left_semi")
        .agg(count(lit(1)).as("exact_intersection"))
      estA.crossJoin(estB).crossJoin(estU).crossJoin(exact)
        .select(col("est_a"), col("est_b"), col("est_union"),
          round(col("est_a") + col("est_b") - col("est_union"), 2)
            .as("est_intersection"),
          col("exact_intersection"))
    },
      // three estimator replays (A, B, A∪B) + the exact intersection
      {
      def estSql(name: String, whereSql: String) =
        s"""src_$name AS (SELECT md5(CAST(user_id AS VARCHAR)) AS h FROM events
           |  WHERE $whereSql AND user_id IS NOT NULL),
           |reg_$name AS (SELECT
           |    (strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 16
           |      + strpos('0123456789abcdef', substring(h, 2, 1)) - 1 AS bucket,
           |    max(CASE WHEN length(regexp_extract(substring(h, 3, 12), '^0*')) = 12 THEN 49
           |      ELSE 4 * length(regexp_extract(substring(h, 3, 12), '^0*'))
           |        + CASE substring(regexp_replace(substring(h, 3, 12), '^0*', ''), 1, 1)
           |            WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
           |            WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
           |            ELSE 0 END + 1 END) AS reg
           |  FROM src_$name GROUP BY 1),
           |agg_$name AS (SELECT sum(CAST(1 AS BIGINT) << (49 - reg)) AS s_present,
           |    count(*) AS present FROM reg_$name),
           |est_$name AS (SELECT s_present + (256 - present) * (CAST(1 AS BIGINT) << 49) AS s,
           |    256 - present AS zeros FROM agg_$name),
           |fin_$name AS (SELECT CAST(0.7213 AS DOUBLE) / (1.0 + CAST(1.079 AS DOUBLE) / 256.0)
           |      * 256.0 * 256.0 / (CAST(s AS DOUBLE) / 562949953421312.0) AS raw,
           |    zeros FROM est_$name),
           |e2_$name AS (SELECT CASE WHEN raw <= 640.0 AND zeros > 0
           |    THEN round(256.0 * ln(256.0 / zeros), 2)
           |    ELSE round(raw, 2) END AS estimate FROM fin_$name)""".stripMargin
      s"""WITH ${estSql("a", "event_type = 'click'")},
         |${estSql("b", "event_type = 'purchase'")},
         |${estSql("u", "event_type IN ('click', 'purchase')")},
         |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_intersection FROM (
         |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
         |  INTERSECT
         |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'))
         |SELECT e2_a.estimate AS est_a, e2_b.estimate AS est_b,
         |  e2_u.estimate AS est_union,
         |  round(e2_a.estimate + e2_b.estimate - e2_u.estimate, 2)
         |    AS est_intersection,
         |  ex.exact_intersection
         |FROM e2_a, e2_b, e2_u, ex""".stripMargin
    }),

    // extension: cross-source corpus overlap via bottom-k (KMV) shingle
    // sketches — pairwise estimated Jaccard between ingest domains without
    // joining the corpora; md5 hashes make the oracle replay bit-for-bit
    QuerySpec("q_source_overlap", { (s, d) =>
      import graft.ext.Sketch
      val sk = Sketch.kmvSketches(t(s, d)("documents"), "source", "text",
        n = 3, k = 64)
      Sketch.kmvJaccard(sk, k = 64)
        .select(col("grp_a"), col("grp_b"), col("matches").cast("long").as("matches"),
          col("k_eff"), col("jaccard_est"))
        .orderBy("grp_a", "grp_b")
    },
      """WITH sel AS (SELECT source AS grp,
        |    trim(regexp_replace(lower(text),'\s+',' ','g')) AS nt FROM documents),
        |tok AS (SELECT grp, string_split(nt, ' ') AS t FROM sel),
        |sh AS (SELECT DISTINCT grp, md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS h
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) u
        |  WHERE len(t) >= 3),
        |rk AS (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rk
        |  FROM sh),
        |sk AS (SELECT grp, list_sort(list(h)) AS sketch FROM rk WHERE rk <= 64
        |  GROUP BY 1),
        |pr AS (SELECT a.grp AS grp_a, b.grp AS grp_b, a.sketch AS sa, b.sketch AS sb
        |  FROM sk a JOIN sk b ON a.grp < b.grp),
        |u AS (SELECT grp_a, grp_b, sa, sb,
        |  list_sort(list_distinct(list_concat(sa, sb)))[1:64] AS uk FROM pr)
        |SELECT grp_a, grp_b,
        |  CAST(len(list_filter(uk, x -> list_contains(sa, x) AND list_contains(sb, x)))
        |    AS BIGINT) AS matches,
        |  CAST(len(uk) AS BIGINT) AS k_eff,
        |  round(len(list_filter(uk, x -> list_contains(sa, x) AND list_contains(sb, x)))::DOUBLE
        |    / len(uk), 6) AS jaccard_est
        |FROM u ORDER BY 1, 2""".stripMargin),

    // extension: mutual kNN graph over embeddings (exact top-k on the
    // bounded set; LSH/IVF is the candidate stage at corpus scale)
    QuerySpec("q_knn_graph", { (s, d) =>
      Similarity.mutualKnnGraph(
        t(s, d)("embeddings").where(col("vec_id") < 400),
        "vec_id", "embedding", k = 5)
        .orderBy("id_a", "id_b")
    },
      """WITH v AS (SELECT vec_id, embedding AS e FROM embeddings WHERE vec_id < 400),
        |scored AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
        |  round(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(a.e[i] AS DOUBLE) * CAST(b.e[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(a.e[i] AS DOUBLE) * CAST(a.e[i] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(b.e[i] AS DOUBLE) * CAST(b.e[i] AS DOUBLE))))), 4) AS cos
        |  FROM v a, v b WHERE a.vec_id <> b.vec_id),
        |knn AS (SELECT qid, nid, cos FROM scored
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) <= 5)
        |SELECT k.qid AS id_a, k.nid AS id_b, k.cos
        |FROM knn k JOIN knn r ON r.qid = k.nid AND r.nid = k.qid
        |WHERE k.qid < k.nid ORDER BY 1, 2""".stripMargin),

    // extension: trailing-7-day distinct users per day via HLL register
    // re-merge (registers built once per day, windows merged from sketches
    // — never re-scanning the week); exact window count alongside
    QuerySpec("q_hll_window", { (s, d) =>
      import graft.ext.Sketch
      val ev = TpchGraph.eventsTable(s, d).where(col("user_id").isNotNull)
        .withColumn("day",
          floor(unix_timestamp(col("ts")) / lit(86400L)).cast("long"))
      val est = Sketch.hllTrailingCounts(ev, "day", "user_id", window = 7)
      val days = ev.select("day").distinct()
      val exact = ev.select(col("day"), col("user_id")).distinct()
        .withColumn("w", explode(sequence(col("day"), col("day") + 6)))
        .join(days.withColumnRenamed("day", "w"), Seq("w"))
        .select(col("w"), col("user_id")).distinct()
        .groupBy("w").agg(count(lit(1)).as("exact_window"))
      est.withColumnRenamed("day", "w").join(exact, Seq("w"))
        .select(col("w").as("day"), col("estimate"), col("exact_window"))
        .orderBy("day")
    },
      """WITH ev AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS d,
        |    user_id
        |  FROM events WHERE user_id IS NOT NULL),
        |src AS (SELECT d, md5(CAST(user_id AS VARCHAR)) AS h FROM ev),
        |reg AS (SELECT d,
        |    (strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substring(h, 2, 1)) - 1 AS bucket,
        |    max(CASE WHEN length(regexp_extract(substring(h, 3, 12), '^0*')) = 12 THEN 49
        |      ELSE 4 * length(regexp_extract(substring(h, 3, 12), '^0*'))
        |        + CASE substring(regexp_replace(substring(h, 3, 12), '^0*', ''), 1, 1)
        |            WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
        |            WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
        |            ELSE 0 END + 1 END) AS reg
        |  FROM src GROUP BY 1, 2),
        |ends AS (SELECT DISTINCT d AS w FROM reg),
        |spread AS (SELECT r.d + o AS w, r.bucket, r.reg
        |  FROM reg r, LATERAL (SELECT unnest(generate_series(0, 6)) AS o) u),
        |mreg AS (SELECT s.w, s.bucket, max(s.reg) AS reg
        |  FROM spread s JOIN ends e ON s.w = e.w GROUP BY 1, 2),
        |agg AS (SELECT w, sum(CAST(1 AS BIGINT) << (49 - reg)) AS s_present,
        |    count(*) AS present FROM mreg GROUP BY 1),
        |est AS (SELECT w, s_present + (256 - present) * (CAST(1 AS BIGINT) << 49) AS s,
        |    256 - present AS zeros FROM agg),
        |fin AS (SELECT w, CAST(0.7213 AS DOUBLE) / (1.0 + CAST(1.079 AS DOUBLE) / 256.0)
        |      * 256.0 * 256.0 / (CAST(s AS DOUBLE) / 562949953421312.0) AS raw,
        |    zeros FROM est),
        |e2 AS (SELECT w, CASE WHEN raw <= 640.0 AND zeros > 0
        |    THEN round(256.0 * ln(256.0 / zeros), 2)
        |    ELSE round(raw, 2) END AS estimate FROM fin),
        |exact AS (SELECT e.w, CAST(count(DISTINCT ev.user_id) AS BIGINT) AS exact_window
        |  FROM ends e JOIN ev ON ev.d BETWEEN e.w - 6 AND e.w GROUP BY 1)
        |SELECT e2.w AS day, e2.estimate, exact.exact_window
        |FROM e2 JOIN exact ON e2.w = exact.w ORDER BY day""".stripMargin),

    // extension: Jaro-Winkler fuzzy linkage over part names (native codegen
    // expression, DuckDB-parity byte semantics) with first-token blocking
    QuerySpec("q_jaro_link", { (s, d) =>
      graft.infer.CrossResourceIdentity.jaroWinklerPairs(
        t(s, d)("part").where(col("p_partkey") < 500),
        "p_partkey", "p_name", minSim = 0.88)
        .orderBy("id_a", "id_b")
    },
      """WITH p AS (SELECT p_partkey AS id, p_name AS s,
        |    string_split(p_name, ' ')[1] AS blk
        |  FROM part WHERE p_partkey < 500)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  round(jaro_winkler_similarity(a.s, b.s), 6) AS sim
        |FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id
        |WHERE round(jaro_winkler_similarity(a.s, b.s), 6) >= 0.88
        |ORDER BY 1, 2""".stripMargin),

    // extension: URL canonicalization + canonical-key dedup — the
    // web-corpus normalization pass (case, default ports, dup slashes,
    // trailing slash, tracking params, param order, fragments)
    QuerySpec("q_url_canon", { (s, d) =>
      t(s, d)("documents").select(col("doc_id"), col("source"))
        .select(Url.canonicalize(messyUrl).as("url"))
        .groupBy("url").agg(count(lit(1)).as("n_dups"))
        .orderBy("url")
    },
      s"""WITH u AS (SELECT ${Url.canonicalizeSql(messyUrlSql)} AS url
         |  FROM documents)
         |SELECT url, count(*) AS n_dups FROM u GROUP BY 1 ORDER BY 1""".stripMargin),

    // extension: Dirichlet-smoothed query-likelihood retrieval — the
    // language-model scorer next to q_bm25 over the same corpus; zero-tf
    // terms get smoothed mass, so every doc scores
    QuerySpec("q_query_likelihood", { (s, d) =>
      graft.ext.Corpus.queryLikelihood(t(s, d)("documents"),
        "doc_id", "text", Seq("spark", "vector", "window"))
        .orderBy(col("ql").desc, col("doc_id")).limit(20)
    }, (graft.ext.Corpus.queryLikelihoodOracleSql(
      "documents", "doc_id", "text", Seq("spark", "vector", "window"))
      + "\nORDER BY ql DESC, doc_id LIMIT 20")),

    // extension: Matryoshka dimension-truncation recall — cosine top-k
    // with the first 16 of 64 dims vs the full-dimension ground truth;
    // the MRL question "how much ANN quality do truncated embeddings
    // keep" answered exactly on the bounded query set
    QuerySpec("q_matryoshka_recall", { (s, d) =>
      import graft.ext.Similarity
      val emb = t(s, d)("embeddings")
      val q = emb.where(col("vec_id") < 10)
      val full = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val qT = q.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
      val cT = emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
      val trunc = Similarity.bruteForceTopK(qT, cT, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val hits = full.join(trunc, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)) / lit(5.0), 4).as("recall"))
        .orderBy("query_id")
    }, {
      def bf(name: String, dims: Int) =
        s"""$name AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
           |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q
           |  JOIN embeddings c ON c.vec_id <> q.vec_id
           |  QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |    round(list_sum(list_transform(generate_series(1, $dims),
           |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) /
           |      (sqrt(list_sum(list_transform(generate_series(1, $dims),
           |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))) *
           |       sqrt(list_sum(list_transform(generate_series(1, $dims),
           |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))), 4)
           |    DESC, c.vec_id) <= 5)""".stripMargin
      s"""WITH ${bf("full_", 64)},
         |${bf("trunc_", 16)},
         |hits AS (SELECT f.query_id, count(*)::BIGINT AS n_hits
         |  FROM full_ f JOIN trunc_ t
         |  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
         |  GROUP BY 1)
         |SELECT q.vec_id AS query_id,
         |  coalesce(h.n_hits, 0)::BIGINT AS n_hits,
         |  round(coalesce(h.n_hits, 0) / 5.0, 4) AS recall
         |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q
         |LEFT JOIN hits h ON h.query_id = q.vec_id
         |ORDER BY q.vec_id""".stripMargin
    })
  )
}
