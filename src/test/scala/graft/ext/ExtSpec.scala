package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "The quick  brown fox jumps over the lazy dog"), // case/ws variant
      (3L, "the quick brown fox jumps over the lazy cat"),  // near-dup
      (4L, "completely different text about spark engines here")
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups case/whitespace variants") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    assert(g.count() == 3)
    assert(g.where(col("n_dups") === 2).select("keep_id").head().getLong(0) == 1L)
    assert(Dedup.dropExactDuplicates(docs, "doc_id", "text").count() == 3)
  }

  test("shingles: correct count, distinct, short-text safe") {
    import spark.implicits._
    val sh = Seq((1L, "a b c d"), (2L, "a b")).toDF("id", "t")
      .select(col("id"), Dedup.shingles(col("t"), 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L) == Seq("a b c", "b c d"))
    assert(sh(2L).isEmpty) // fewer tokens than n
  }

  test("jaccard pairs find the near-dup with the right similarity") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, minSim = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 1-2 are identical after normalization → jaccard 1.0; 1-3 share most shingles
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L && p._3 > 0.4 && p._3 < 1.0))
    assert(!pairs.exists(p => p._2 == 4L))
  }

  test("hardNegatives: only other-label vectors, ranked by cosine") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1f, 0f), "a"),
      (2L, Array(1f, 0.01f), "a"),  // same label: excluded despite cos≈1
      (3L, Array(0.9f, 0.1f), "b"), // hard negative (closest other-label)
      (4L, Array(0f, 1f), "b")      // easy negative
    ).toDF("id", "vec", "label")
    val out = Similarity.hardNegatives(emb.where($"id" === 1), emb,
      "id", "vec", "label", k = 2)
      .orderBy("rank")
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, 3L), (2, 4L)))
  }

  test("randomProject: basis vectors read the plane matrix back exactly") {
    import spark.implicits._
    val dim = 8; val k = 4
    val planes = Similarity.md5Hyperplanes(k, dim)
    // e_d projects to column d of every plane; a scaled basis scales it
    val basis = (0 until dim).map(d =>
      (d.toLong, Array.tabulate(dim)(i => if (i == d) 1f else 0f)))
    val got = Similarity.randomProject(basis.toDF("id", "vec"), "id", "vec",
      k, dim).collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    for (d <- 0 until dim; j <- 0 until k)
      assert(math.abs(got(d.toLong)(j) -
        math.rint(planes(j)(d) * 10000) / 10000) < 1e-12)
    // deterministic across runs
    val again = Similarity.randomProject(basis.toDF("id", "vec"), "id", "vec",
      k, dim).collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got == again)
  }

  test("rrfFuse: consensus docs outrank single-list docs; absent side adds 0") {
    import spark.implicits._
    val lex = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3)).toDF("q", "id", "rank")
    val den = Seq((1L, 11L, 1), (1L, 13L, 2)).toDF("q", "id", "rank")
    val out = Similarity.rrfFuse(lex, den, "q", "id", "rank", k = 4)
      .orderBy("rank")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    // 11 is in both lists (1/62 + 1/61) and must fuse above lex-rank-1 (1/61)
    assert(out.head._2 == 11L)
    assert(math.abs(out.head._3 - (1.0 / 62 + 1.0 / 61)) < 1e-6)
    // 10 (lex rank 1) next: 1/61; then 13 (dense rank 2): 1/62; then 12: 1/63
    assert(out.map(_._2).toSeq == Seq(11L, 10L, 13L, 12L))
    assert(out.map(_._1).toSeq == Seq(1, 2, 3, 4))
  }

  test("containment catches a short doc quoted inside a long one") {
    import spark.implicits._
    val quote = "the quick brown fox jumps over the lazy dog tonight"
    val docs2 = Seq(
      (1L, quote), // 10 tokens → 8 shingles, all inside doc 2
      (2L, "padding starts here and then " + quote + " and then trailing words continue onward for a while longer"),
      (3L, "entirely unrelated content about other things altogether now")
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs2, "doc_id", "text", n = 3,
      minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // directed: 1⊆2 scores 1.0; the reverse direction is far below gate
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
    assert(!pairs.exists(p => p._1 == 2L))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // jaccard on the same pair is diluted by the long side — the reason
    // this operator exists
    val jac = Dedup.jaccardPairs(docs2, "doc_id", "text", n = 3, minSim = 0.0)
      .where(col("id_a") === 1L && col("id_b") === 2L)
      .collect().head.getDouble(2)
    assert(jac < 0.5)
  }

  test("minhash LSH candidates include identical docs; verified pairs match jaccard") {
    val nd = Dedup.minhashNearDups(docs, "doc_id", "text",
      n = 3, bands = 4, rowsPerBand = 4, minSim = 0.9)
    val got = nd.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)))
    assert(!got.exists(p => p._2 == 4L))
  }

  test("simhash: identical docs get identical signatures, near-dups small hamming") {
    val sig = Dedup.simhashMd5Signatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sig(1L) == sig(2L))
    val nd = Dedup.simhashMd5NearDups(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd.contains((1L, 2L)))
  }
}

class SimilaritySpec extends SparkSpec {

  private lazy val vecs = {
    import spark.implicits._
    Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),   // close to 1
      (3L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 1
      (4L, Array(-1.0f, 0.0f, 0.0f))   // opposite of 1
    ).toDF("vec_id", "embedding")
  }

  test("cosine expression: known values") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0f, 0f), Array(0f, 1.0f, 0f))).toDF("a", "b")
    val c = df.select(Similarity.cosine(col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(c) < 1e-9)
  }

  test("brute-force top-k ranks by cosine with deterministic ties") {
    val out = Similarity.bruteForceTopK(
      vecs.where(col("vec_id") === 1), vecs, "vec_id", "embedding", k = 3)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(2L, 3L, 4L))
    assert(out.head.getAs[Double]("cos") > 0.99)
  }

  test("ANN via sign-LSH finds the identical-bucket neighbor") {
    val out = Similarity.annTopK(
      vecs.where(col("vec_id") === 1), vecs, "vec_id", "embedding",
      k = 1, bits = 4, dim = 3)
    val top = out.collect()
    assert(top.nonEmpty && top.head.getAs[Long]("neighbor_id") == 2L)
  }

  test("IVF index + probe: identical-direction vector found within its cell") {
    val (indexed, centroids) = Similarity.ivfIndex(vecs, "vec_id", "embedding", nlist = 2)
    assert(indexed.columns.contains("cell"))
    assert(centroids.length == 2)
    val out = Similarity.ivfTopK(
      vecs.where(col("vec_id") === 1), indexed, centroids,
      "vec_id", "embedding", k = 1, nprobe = 2)
    val top = out.collect()
    assert(top.nonEmpty && top.head.getAs[Long]("neighbor_id") == 2L)
  }

  test("cosine near-dup pairs above threshold only") {
    val nd = Similarity.cosineNearDups(vecs, "vec_id", "embedding", minCos = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd == Set((1L, 2L)))
  }

  test("semantic dedup keeps cell representatives and prunes near members") {
    val out = Similarity.semanticDedup(vecs, "vec_id", "embedding",
      tau = 0.9, bits = 4, dim = 3).collect()
    assert(out.length == 4) // every row classified exactly once
    val byId = out.map(r => r.getAs[Long]("id") ->
      (r.getAs[Long]("cell"), r.getAs[Double]("cos_to_rep"), r.getAs[Boolean]("keep"))).toMap
    // representatives (least id per cell) always survive with cos 1.0
    val reps = out.groupBy(_.getAs[Long]("cell")).values.map(_.map(_.getAs[Long]("id")).min)
    reps.foreach { id => assert(byId(id)._2 == 1.0 && byId(id)._3) }
    // 2 is in 1's cell (cos ~0.994 >= tau) → pruned iff sharing the cell
    if (byId(2L)._1 == byId(1L)._1) assert(!byId(2L)._3)
    // an opposite-direction vector never lands in 1's cell and survives
    assert(byId(4L)._1 != byId(1L)._1 && byId(4L)._3)
  }
}

class SkewJoinSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("salted join equals plain join on skewed data") {
    import spark.implicits._
    // 'hot' key appears 1000 times on the left
    val left = ((1 to 1000).map(_ => ("hot", 1)) ++ Seq(("cold", 2))).toDF("k", "v")
    val right = Seq(("hot", "H"), ("cold", "C")).toDF("k", "label")
    val salted = SkewJoin.saltedJoin(left, right, Seq("k"), saltFactor = 8)
    val plain = left.join(right, Seq("k"))
    assert(salted.count() == plain.count())
    assert(salted.groupBy("k").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("hot" -> 1000L, "cold" -> 1L))
  }

  test("keySkew surfaces the hot keys") {
    import spark.implicits._
    val df = ((1 to 50).map(_ => "hot") ++ Seq("a", "b")).toDF("k")
    val top = SkewJoin.keySkew(df, Seq("k"), topN = 1).collect().head
    assert(top.getString(0) == "hot" && top.getLong(1) == 50L)
  }
}

class TextAnalysisSpec extends SparkSpec {

  test("token count and quality features") {
    import spark.implicits._
    val df = Seq((1L, "hello world hello"), (2L, "")).toDF("id", "t")
    val out = df.select(col("id"),
      TextAnalysis.tokenCount(col("t")).as("n"),
      TextAnalysis.qualityFeatures(col("t")).getField("distinct_token_ratio").as("dr"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(out(1L)._1 == 3)
    assert(math.abs(out(1L)._2 - 0.6667) < 1e-4)
    assert(out(2L)._1 == 0)
  }

  test("langId picks the stopword-dominant language deterministically") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat is in the house and it is big"),
      (2L, "el gato es un animal y la casa es grande"),
      (3L, "xyzzy plugh")).toDF("id", "t")
    val out = df.select(col("id"), TextAnalysis.langId(col("t")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "es")
    assert(out(3L) == "de") // zero scores everywhere → first declared wins
  }

  test("fingerprints stable under whitespace/case noise; winnow stable under small edit") {
    import spark.implicits._
    val df = Seq(
      (1L, "Alpha beta  gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon eta")).toDF("id", "t")
    val fp = df.select(col("id"), TextAnalysis.fingerprint(col("t")).as("f"),
      TextAnalysis.winnowFingerprint(col("t")).as("w"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(fp(1L)._1 == fp(2L)._1)
    assert(fp(1L)._1 != fp(3L)._1)
    // winnow (k smallest shingle hashes) often survives a one-word tail edit
    assert(fp(1L)._2 == fp(2L)._2)
  }
}
