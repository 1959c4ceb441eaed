package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Corpus-curation operators: deterministic splits/samples, contamination,
  * top-k curation, repetition, cluster survivors.
  */
class CorpusSpec extends SparkSpec {

  test("hexThreshold maps fractions to 8-hex lexicographic cut points") {
    assert(Corpus.hexThreshold(0.0) == "00000000")
    assert(Corpus.hexThreshold(1.0) == "ffffffff")
    assert(Corpus.hexThreshold(0.8) == "cccccccc")
    assert(Corpus.hexThreshold(0.9) == "e6666666")
  }

  test("hashSplit is deterministic, exhaustive, and ratio-plausible") {
    import spark.implicits._
    val df = (0L until 2000L).toDF("id")
    val split = Corpus.hashSplit(df, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).cache()
    val counts = split.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum == 2000L)
    assert(counts("train") > 1400 && counts("train") < 1800) // ~1600
    assert(counts.keySet == Set("train", "val", "test"))
    // rerun assigns identical buckets (identity-hash, not rand)
    val again = Corpus.hashSplit(df, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(split.exceptAll(again).isEmpty && again.exceptAll(split).isEmpty)
  }

  test("hashSplit membership is append-stable") {
    import spark.implicits._
    val small = Corpus.hashSplit((0L until 100L).toDF("id"), "id",
      Seq("a" -> 0.5, "b" -> 0.5))
    val big = Corpus.hashSplit((0L until 200L).toDF("id"), "id",
      Seq("a" -> 0.5, "b" -> 0.5)).where(col("id") < 100)
    assert(small.exceptAll(big).isEmpty)
  }

  test("stratifiedSample keeps per-stratum rates deterministically") {
    import spark.implicits._
    val df = (0L until 3000L).map(i => (i, if (i % 3 == 0) "hot" else "cold"))
      .toDF("id", "stratum")
    val kept = Corpus.stratifiedSample(df, "id", "stratum",
      Map("hot" -> 0.5), defaultRate = 0.1).cache()
    val hot = kept.where(col("stratum") === "hot").count()
    val cold = kept.where(col("stratum") === "cold").count()
    assert(hot > 350 && hot < 650)   // ~500 of 1000
    assert(cold > 120 && cold < 280) // ~200 of 2000
    val again = Corpus.stratifiedSample(df, "id", "stratum",
      Map("hot" -> 0.5), defaultRate = 0.1)
    assert(kept.exceptAll(again).isEmpty && again.exceptAll(kept).isEmpty)
  }

  test("exportShards: exhaustive, balanced-ish, positions contiguous, stable") {
    import spark.implicits._
    val docs = (0L until 400L).toDF("id")
    val out = Corpus.exportShards(docs, "id", nShards = 8)
      .collect().map(r => (r.getAs[Long]("shard"), r.getAs[Long]("pos"), r.getAs[Long]("id")))
    assert(out.length == 400 && out.map(_._3).distinct.length == 400)
    val byShard = out.groupBy(_._1)
    assert(byShard.keySet.subsetOf((0L until 8L).toSet))
    // uniform hash: no shard dominates (400/8 = 50 expected)
    assert(byShard.values.map(_.length).max < 100)
    // positions are 1..n contiguous per shard
    byShard.values.foreach { rows =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // in-shard order decorrelates from id order (not simply ascending)
    assert(byShard.values.exists(rows =>
      rows.sortBy(_._2).map(_._3).toSeq != rows.map(_._3).sorted.toSeq))
    // determinism: a rerun yields the identical assignment
    val again = Corpus.exportShards(docs, "id", nShards = 8)
      .collect().map(r => (r.getAs[Long]("shard"), r.getAs[Long]("pos"), r.getAs[Long]("id")))
    assert(out.sortBy(_._3).toSeq == again.sortBy(_._3).toSeq)
  }

  test("topKPerGroup ranks by score desc with id tiebreak") {
    import spark.implicits._
    val df = Seq(
      ("g1", 1L, 0.9), ("g1", 2L, 0.9), ("g1", 3L, 0.5),
      ("g2", 4L, 0.1)).toDF("g", "id", "score")
    val got = Corpus.topKPerGroup(df, "g", "score", "id", 2)
      .select("g", "rank", "id").as[(String, Int, Long)].collect().toSet
    assert(got == Set(("g1", 1, 1L), ("g1", 2, 2L), ("g2", 1, 4L)))
  }

  test("repetitionScore: 0 for all-distinct, high for repeated n-grams") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"),          // 4 distinct trigrams of 4 → 0.0
      (2L, "x y x y x y x y"),      // 6 trigrams, 2 distinct → 1 - 2/6
      (3L, "one two"),              // fewer tokens than n → 0.0
      (4L, "")).toDF("id", "text")
    val got = df.select(col("id"), Corpus.repetitionScore(col("text"), 3).as("r"))
      .as[(Long, Double)].collect().toMap
    assert(got(1L) == 0.0)
    assert(math.abs(got(2L) - (1.0 - 2.0 / 6.0)) < 1e-3)
    assert(got(3L) == 0.0)
    assert(got(4L) == 0.0)
  }

  test("contamination finds docs sharing n-grams with the eval set") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated content with no overlap here at all"),
      (3L, "another doc where the quick brown fox jumps again")
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "we test the quick brown fox jumps benchmarks"))
      .toDF("doc_id", "text")
    val got = Corpus.contamination(corpus, "doc_id", "text", eval, "doc_id", "text", n = 5)
      .as[(Long, Long, Long)].collect().map(_._1).toSet
    // "the quick brown fox jumps" is the shared 5-gram
    assert(got == Set(1L, 3L))
  }

  test("tokenQuantilesApprox tracks the exact quantiles") {
    import spark.implicits._
    val df = (1 to 1000).map(i => s"${"w " * (i % 50)}").toDF("text")
    val exact = Corpus.tokenQuantiles(df, "text", Seq(0.5, 0.9))
      .as[(Double, Double)].collect().toMap
    val approx = Corpus.tokenQuantilesApprox(df, "text", Seq(0.5, 0.9))
      .as[(Double, Double)].collect().toMap
    Seq(0.5, 0.9).foreach { q =>
      assert(math.abs(exact(q) - approx(q)) <= 2.0,
        s"q=$q exact=${exact(q)} approx=${approx(q)}")
    }
  }

  test("tokenHistogram buckets by fixed width; tokenQuantiles interpolates") {
    import spark.implicits._
    val df = Seq("a", "a b c", "a b c d e f g h i j k l", "")
      .toDF("text")
    val hist = Corpus.tokenHistogram(df, "text", 10)
      .as[(Long, Long)].collect().toMap
    assert(hist == Map(0L -> 3L, 10L -> 1L)) // 1,3,0 tokens → bucket 0; 12 → 10
    val qs = Corpus.tokenQuantiles(df, "text", Seq(0.5))
      .as[(Double, Double)].collect().toMap
    // sorted counts: 0,1,3,12 → median = (1+3)/2 = 2.0
    assert(qs(0.5) == 2.0)
  }

  test("clusterSurvivors keeps the best-scored doc per component") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("id", "component")
    val scored = Seq((1L, 0.2), (2L, 0.9), (3L, 0.5)).toDF("id", "score")
    val got = Corpus.clusterSurvivors(clusters, "id", "component", scored, "score")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 0.9), (3L, 3L, 0.5)))
  }

  test("pmiCollocations scores a glued pair above an independent one") {
    import spark.implicits._
    // "san francisco" always adjacent; "the" pairs with everything
    val docs = (1 to 20).map(i => s"san francisco the w$i the city")
      .toDF("text")
    val out = Corpus.pmiCollocations(docs, "text", minCount = 5, topK = 5)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(out.contains(("san", "francisco")))
    val sf = out(("san", "francisco"))
    // glued bigram beats the promiscuous "the city" pairing
    assert(out.get(("the", "city")).forall(_ < sf))
    // single-token docs neither crash nor contribute pairs
    val single = Seq("one", "one", "one two").toDF("text")
    val ok = Corpus.pmiCollocations(single, "text", minCount = 1, topK = 5).collect()
    assert(ok.length == 1) // only ("one","two")
  }

  test("tokenizeWithVocab preserves token order and maps OOV to unk") {
    import spark.implicits._
    val docs = Seq((1L, "the cat sat"), (2L, "dog the")).toDF("id", "text")
    val vocab = Seq(("the", 1), ("cat", 2), ("sat", 3)).toDF("word", "tid")
    val out = Corpus.tokenizeWithVocab(docs, "id", "text", vocab, "word", "tid",
      unkId = 0).orderBy("id").collect()
    assert(out(0).getSeq[Int](1) == Seq(1, 2, 3))
    assert(out(0).getAs[Long]("n_unk") == 0)
    assert(out(1).getSeq[Int](1) == Seq(0, 1)) // "dog" is OOV
    assert(out(1).getAs[Long]("n_unk") == 1)
    assert(out(1).getAs[Long]("n_tokens") == 2)
  }

  test("chunkDocs: overlapping windows cover every token; empty docs vanish") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // 10 tokens
      (2L, "x y"),                 // single short chunk
      (3L, "   ")                  // empty after normalize
    ).toDF("doc_id", "text")
    val out = Corpus.chunkDocs(docs, "doc_id", "text", chunkTokens = 4,
      overlapTokens = 1).orderBy("doc_id", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // stride 3: starts 0,3,6,9
    assert(out.toSeq == Seq(
      (1L, 0L, 4L, "a b c d"), (1L, 1L, 4L, "d e f g"),
      (1L, 2L, 4L, "g h i j"), (1L, 3L, 1L, "j"),
      (2L, 0L, 2L, "x y")))
    // overlap: consecutive chunks share exactly `overlap` tokens
    assert(out(0)._4.split(" ").last == out(1)._4.split(" ").head)
  }

  test("tfidfTopK ranks by shared rare terms, excludes self, is partition-stable") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple banana cherry"),   // identical to 1 → cosine 1.0
      (3L, "apple banana plum"),     // shares 2 of 3 terms
      (4L, "kiwi mango papaya"),     // disjoint
      (5L, "apple kiwi kiwi mango") // shares only 'apple' with 1
    ).toDF("doc_id", "text")
    val out = Corpus.tfidfTopK(docs, "doc_id", "text",
      docs.where($"doc_id" === 1), "doc_id", "text", k = 3, maxDocFreqFrac = 1.0)
      .orderBy("rank")
      .collect().map(r => (r.getAs[Long]("match_id"), r.getAs[Double]("cos")))
    assert(out.map(_._1).toSeq == Seq(2L, 3L, 5L)) // no self-match, 4 disjoint
    assert(out.head._2 == 1.0)  // identical doc scores exactly 1
    assert(out(1)._2 > out(2)._2)
    // integer-quantized sums ⇒ identical scores under any partitioning
    val re = Corpus.tfidfTopK(docs.repartition(7), "doc_id", "text",
      docs.where($"doc_id" === 1), "doc_id", "text", k = 3, maxDocFreqFrac = 1.0)
      .orderBy("rank")
      .collect().map(r => (r.getAs[Long]("match_id"), r.getAs[Double]("cos")))
    assert(re.toSeq == out.toSeq)
  }

  test("tfidfTopK df cap drops stopword terms from the index") {
    import spark.implicits._
    // 'the' is in every doc; with the cap at 0.5 only the rare terms score
    val docs = Seq(
      (1L, "the alpha"), (2L, "the alpha"), (3L, "the beta"), (4L, "the gamma"),
      (5L, "the delta")).toDF("doc_id", "text")
    val out = Corpus.tfidfTopK(docs, "doc_id", "text",
      docs.where($"doc_id" === 1), "doc_id", "text", k = 5, maxDocFreqFrac = 0.5)
      .collect().map(_.getAs[Long]("match_id"))
    // only doc 2 shares a sub-cap term ('alpha'); 'the' alone can't match
    assert(out.toSeq == Seq(2L))
  }

  test("bpeMergeOnce: greedy leftmost, non-overlapping — self-pair runs included") {
    import spark.implicits._
    def mergeOf(syms: Seq[String], a: String, b: String): Seq[String] =
      Seq(Tuple1(syms)).toDF("syms")
        .select(Corpus.bpeMergeOnce(col("syms"), a, b).as("m"))
        .collect().head.getSeq[String](0)
    assert(mergeOf(Seq("h", "e", "l", "l", "o"), "l", "l") ==
      Seq("h", "e", "ll", "o"))
    // run of 3: leftmost pair wins, no cascade within the round
    assert(mergeOf(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    // run of 4: two non-overlapping merges (regex replace gets this wrong)
    assert(mergeOf(Seq("a", "a", "a", "a"), "a", "a") == Seq("aa", "aa"))
    // repeated disjoint occurrences all merge
    assert(mergeOf(Seq("x", "a", "b", "y", "a", "b"), "a", "b") ==
      Seq("x", "ab", "y", "ab"))
    // merged token does not re-pair within the same round
    assert(mergeOf(Seq("a", "b", "b"), "a", "b") == Seq("ab", "b"))
  }

  test("bpeTrain learns the expected merges on a known corpus") {
    import spark.implicits._
    // 'ab' appears in every word (freq-weighted 5×), 'abc' in three
    val docs = Seq((1L, "abc abd abc"), (2L, "abe abc")).toDF("id", "text")
    val merges = Corpus.bpeTrain(docs, "text", nMerges = 2)
    assert(merges.map(m => (m._1, m._2)) == Seq(("a", "b"), ("ab", "c")))
    assert(merges.head._3 == 5L) // a+b weighted by word frequency
    assert(merges(1)._3 == 3L)   // ab+c in the three 'abc' occurrences
  }

  test("bpeTrain distributed loop matches the driver-local fast path exactly") {
    import spark.implicits._
    // both branches must stay bit-identical as they evolve: same greedy-
    // leftmost merges, same (cnt desc, a, b) unsigned-UTF8 tie-break —
    // exercised with a multi-byte symbol so a UTF-16/signed-byte
    // comparison divergence would be caught
    val docs = Seq((1L, "abc abd abc über"), (2L, "abe abc büro über"),
      (3L, "caab caab büro")).toDF("id", "text")
    val local = Corpus.bpeTrain(docs, "text", nMerges = 5)
    val dist = Corpus.bpeTrain(docs, "text", nMerges = 5, localVocabLimit = 0L)
    assert(dist == local)
    assert(local.size == 5)
  }

  test("robustScale: median-centered, IQR-normalized per group; constant group → 0") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, 10.0), ("a", 2L, 20.0), ("a", 3L, 30.0), ("a", 4L, 40.0),
      ("a", 5L, 1000.0), // outlier: shifts mean wildly, median/IQR barely
      ("b", 6L, 7.0), ("b", 7L, 7.0)).toDF("g", "id", "v")
    val out = Corpus.robustScale(df, "g", "v")
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(out(3L) == 0.0) // the median row of group a
    assert(out(6L) == 0.0 && out(7L) == 0.0) // IQR 0 → 0, not NaN
    assert(out(5L) > 10) // outlier lands far out without poisoning the scale
    assert(out(2L) < 0 && out(4L) > 0)
  }

  test("bigramLmScore: token-salad scores above fluent repetition of corpus bigrams") {
    import spark.implicits._
    // docs 1-3 establish 'a b' / 'b c' as high-probability bigrams; doc 4
    // uses the SAME tokens in never-seen orders — unigram stats can't
    // separate it, the bigram model must
    val docs = Seq(
      (1L, "a b c a b c a b c"),
      (2L, "a b c a b c"),
      (3L, "a b c"),
      (4L, "c a c b a c b b a")
    ).toDF("doc_id", "text")
    val out = Corpus.bigramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(4L) > out(1L) && out(4L) > out(2L) && out(4L) > out(3L))
    // short-text gate: single-token docs are omitted
    val single = Corpus.bigramLmScore(Seq((9L, "lonely")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(single.count() == 0)
    // partition-stable (integer micro-nat sums)
    val re = Corpus.bigramLmScore(docs.repartition(5), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(re == out)
  }

  test("temperatureWeights: tau=1 keeps natural proportions, tau<1 flattens") {
    import spark.implicits._
    // domain a has 9x the tokens of b
    val docs = (1 to 9).map(i => ("a", s"t$i one two three")) :+ ("b", "t0 one two three")
    val df = docs.toDF("dom", "text")
    val nat = Corpus.temperatureWeights(df, "dom", "text", tau = 1.0)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(nat("a") - 0.9) < 1e-6 && math.abs(nat("b") - 0.1) < 1e-6)
    val flat = Corpus.temperatureWeights(df, "dom", "text", tau = 0.5)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(flat("b") > nat("b") && flat("a") < nat("a")) // low-resource up-sampled
    assert(math.abs(flat("a") + flat("b") - 1.0) < 1e-5)
  }

  test("weightedSamplePerGroup: k per stratum, equals the window-ranked model") {
    import spark.implicits._
    val rows = (1 to 90).map(i => (s"g${i % 3}", i.toLong, (i % 7 + 1).toLong))
    val df = rows.toDF("g", "id", "w")
    val got = Corpus.weightedSamplePerGroup(df, "g", "id", "w", k = 4)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(got.groupBy(_._1).forall(_._2.length == 4))
    // model: same md5 draw, rank per group
    def u(id: Long) = (java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).take(8), 16)
      + 1.0) / 4294967296.0
    val model = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      rs.map { case (_, id, w) => (id, math.pow(u(id), 1.0 / w)) }
        .sortBy { case (id, key) => (-key, id) }.take(4).zipWithIndex
        .map { case ((id, _), i) => (g, i + 1, id) }
    }.toSet
    assert(got.toSet == model)
  }

  test("bpeEncode replays merges to the trainer's final segmentation") {
    import spark.implicits._
    val docs = Seq((1L, "abc abd abc"), (2L, "abe abc")).toDF("id", "text")
    val merges = Corpus.bpeTrain(docs, "text", nMerges = 2).map(m => (m._1, m._2))
    val out = Corpus.bpeEncode(docs, "id", "text", merges)
      .orderBy("id").collect()
    assert(out(0).getSeq[String](1) == Seq("abc", "ab", "d", "abc"))
    assert(out(0).getAs[Long]("n_tokens") == 4L)
    // unseen word at encode time: standard apply semantics (merges that
    // fire, fire; the rest stays character-level)
    val unseen = Corpus.bpeEncode(Seq((9L, "abz zz")).toDF("id", "text"),
      "id", "text", merges).collect().head
    assert(unseen.getSeq[String](1) == Seq("ab", "z", "z", "z"))
  }

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    import spark.implicits._
    val old = Seq((1L, "same text"), (2L, "will change"), (3L, "going away"))
      .toDF("id", "text")
    val cur = Seq((1L, "same  TEXT"), (2L, "has changed"), (4L, "brand new"))
      .toDF("id", "text")
    val got = Corpus.snapshotDiff(old, cur, "id", "text")
      .as[(Long, String)].collect().toMap
    // whitespace/case differences are invisible through the normalizer
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("importanceWeights: target-vocab docs score high, off-domain low") {
    import spark.implicits._
    // target docs speak "physics"; raw corpus is half "cooking"; a held-
    // out physics doc (not flagged as target) must still score positive
    // — that's the whole point of importance resampling
    val docs = Seq(
      (1L, "quantum field tensor boson lattice", true),
      (2L, "tensor lattice quantum gauge spinor", true),
      (3L, "butter garlic onion simmer saute", false),
      (4L, "onion butter saute garlic whisk", false),
      (5L, "quantum tensor lattice spinor gauge", false),
      (6L, "", false)).toDF("id", "text", "is_sci")
    val w = Corpus.importanceWeights(docs, "id", "text", "is_sci")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(5) > 0.2, s"held-out in-domain doc should score high: ${w(5)}")
    assert(w(3) < -0.2 && w(4) < -0.2, "off-domain docs score negative")
    assert(w(1) > w(3) && w(2) > w(4))
    assert(!w.contains(6L), "empty doc has no evidence — omitted")
  }

  test("greedyCoverSelect picks by marginal gain and stops when covered") {
    import spark.implicits._
    // doc 1 covers {a b c, b c d} (2 shingles); doc 2 shares "a b c" and
    // adds "c d e"; doc 3 is a strict subset of doc 1's coverage
    val df = Seq(
      (1L, "a b c d"),      // shingles: "a b c", "b c d"
      (2L, "a b c d e"),    // shingles: "a b c", "b c d", "c d e"
      (3L, "a b c"))        // shingle:  "a b c"
      .toDF("doc_id", "text")
    val out = Corpus.greedyCoverSelect(df, "doc_id", "text", n = 3, k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // round 1: doc 2 (gain 3); round 2: nothing new for 1/3 -> gain-0 picks
    assert(out(0) == ((1, 2L, 3L, 3L)))
    // all shingles covered after round 1: remaining rounds gain 0 and the
    // anti-join empties -> selection stops early
    assert(out.length == 1)
  }
}
