package graft.graph

import graft.SparkSpec

/** Fixed-point PageRank. */
class GraphAlgosSpec extends SparkSpec {

  test("symmetric 2-cycle keeps equal ranks summing to ~scale") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "a")).toDF("s", "t")
    val r = GraphAlgos.pageRankFixed(e, "s", "t", iterations = 3)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("a") == r("b"))
    // integer floors lose < 1 unit per division; total stays ≈ scale
    val total = r.values.sum
    assert(total > 999999990000L && total <= 1000000000000L, s"total=$total")
  }

  test("a hub pointed at by many spokes outranks the spokes") {
    import spark.implicits._
    val e = ((1 to 9).map(i => (s"spoke$i", "hub")) :+ (("hub", "spoke1")))
      .toDF("s", "t")
    val r = GraphAlgos.pageRankFixed(e, "s", "t", iterations = 6)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("hub") > r("spoke2") * 5)
    // spoke1 receives the hub's whole outflow — above the other spokes
    assert(r("spoke1") > r("spoke2"))
  }

  test("duplicate edges collapse (distinct) and reruns are identical") {
    import spark.implicits._
    val e1 = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("s", "t")
    val e2 = e1.union(e1) // duplicates must not double mass flow
    val r1 = GraphAlgos.pageRankFixed(e1, "s", "t", iterations = 3)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val r2 = GraphAlgos.pageRankFixed(e2, "s", "t", iterations = 3)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r1 == r2)
    // 3-cycle is symmetric: all equal
    assert(r1.values.toSet.size == 1)
  }

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap

  private def rankFixture = {
    import spark.implicits._
    Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"), ("c", "e"))
      .toDF("s", "t")
  }

  test("PageRank drops an edge with a null endpoint instead of counting a null node") {
    import spark.implicits._
    val e = rankFixture
    val withNull = e.union(Seq(("a", null: String)).toDF("s", "t"))
    assert(ranks(GraphAlgos.pageRankFixed(withNull, "s", "t", iterations = 4)) ==
      ranks(GraphAlgos.pageRankFixed(e, "s", "t", iterations = 4)))
  }

  test("PageRank on a graph with no usable edge fails with a named precondition") {
    import spark.implicits._
    // every edge has a null endpoint, or (weighted) no pair has a positive
    // total: n = 0, where scale / n would throw a bare division by zero
    val nullOnly = Seq(("a", null: String), (null: String, "b")).toDF("s", "t")
    val plain = intercept[IllegalArgumentException](
      GraphAlgos.pageRankFixed(nullOnly, "s", "t", iterations = 2))
    assert(plain.getMessage.contains("at least one edge"), plain.getMessage)
    val personalized = intercept[IllegalArgumentException](
      GraphAlgos.personalizedPageRankFixed(nullOnly, "s", "t", Seq("a"), iterations = 2))
    assert(personalized.getMessage.contains("at least one edge"), personalized.getMessage)
    val nonPositive = Seq(("a", "b", 2L), ("a", "b", -2L), ("b", "c", 0L))
      .toDF("s", "t", "w")
    val weighted = intercept[IllegalArgumentException](
      GraphAlgos.weightedPageRankFixed(nonPositive, "s", "t", "w", iterations = 2))
    assert(weighted.getMessage.contains("positive total weight"), weighted.getMessage)
  }

  test("weighted PageRank with unit weights equals pageRankFixed") {
    import org.apache.spark.sql.functions.lit
    val e = rankFixture
    assert(ranks(GraphAlgos.weightedPageRankFixed(e.withColumn("w", lit(1L)),
        "s", "t", "w", iterations = 5)) ==
      ranks(GraphAlgos.pageRankFixed(e, "s", "t", iterations = 5)))
  }

  test("personalized PageRank seeded at every node equals pageRankFixed") {
    val e = rankFixture
    assert(ranks(GraphAlgos.personalizedPageRankFixed(e, "s", "t",
        Seq("a", "b", "c", "d", "e"), iterations = 5)) ==
      ranks(GraphAlgos.pageRankFixed(e, "s", "t", iterations = 5)))
  }

  test("shortestPathsFixed relaxes to known distances within the hop cap") {
    import spark.implicits._
    //     a →1→ b →1→ c
    //     a ——————5——→ c      (longer direct edge must lose)
    //     c →1→ d (reachable only at hop 3)
    val e = Seq(("a", "b", 1L), ("b", "c", 1L), ("a", "c", 5L), ("c", "d", 1L))
      .toDF("s", "t", "w")
    val got = GraphAlgos.shortestPathsFixed(e, "s", "t", "w", "a", maxHops = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L))
    // hop cap: with 1 round the two-hop path hasn't relaxed yet
    val one = GraphAlgos.shortestPathsFixed(e, "s", "t", "w", "a", maxHops = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(one == Map("a" -> 0L, "b" -> 1L, "c" -> 5L))
  }

  test("shortestPathsFixed keeps the lightest of parallel edges") {
    import spark.implicits._
    val e = Seq(("a", "b", 9L), ("a", "b", 2L)).toDF("s", "t", "w")
    val got = GraphAlgos.shortestPathsFixed(e, "s", "t", "w", "a", maxHops = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("b") == 2L)
  }

  test("triangleCounts finds each triangle once, regardless of direction/dupes") {
    import spark.implicits._
    // K4 minus one edge = 2 triangles sharing edge b-c; noisy input:
    // reversed duplicates and a self-loop
    val e = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "d"), ("b", "d"),
      ("a", "c"), ("d", "d")).toDF("s", "t")
    val got = GraphAlgos.triangleCounts(e, "s", "t")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 1L, "b" -> 2L, "c" -> 2L, "d" -> 1L))
  }

  test("bipartiteProject: co-occurrence weights, mega-hub capped deterministically") {
    import spark.implicits._
    val e = Seq(
      ("a", "x"), ("b", "x"),             // a-b share x
      ("a", "y"), ("b", "y"), ("c", "y"), // a-b, a-c, b-c share y
      ("a", "x")                          // duplicate edge: no double count
    ).toDF("l", "r")
    val got = GraphAlgos.bipartiteProject(e, "l", "r", maxPerRight = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(("a", "b") -> 2L, ("a", "c") -> 1L, ("b", "c") -> 1L))
    // cap: hub 'y' keeps only its first 2 members (a, b) → c pairs vanish
    val capped = GraphAlgos.bipartiteProject(e, "l", "r", maxPerRight = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(capped == Map(("a", "b") -> 2L))
  }

  test("multiSourceShortestPaths equals per-seed runs; harmonic sums 1/d") {
    import spark.implicits._
    val e = Seq(("a", "b", 1L), ("b", "c", 1L), ("x", "c", 1L))
      .toDF("s", "t", "w")
    val multi = GraphAlgos.multiSourceShortestPaths(e, "s", "t", "w",
      Seq("a", "x"), maxHops = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    for (seed <- Seq("a", "x")) {
      val single = GraphAlgos.shortestPathsFixed(e, "s", "t", "w", seed, 3)
        .collect().map(r => (seed, r.getString(0)) -> r.getLong(1)).toMap
      assert(multi.view.filterKeys(_._1 == seed).toMap == single, s"seed $seed")
    }
    val h = GraphAlgos.harmonicCentrality(e, "s", "t", "w", Seq("a", "x"), 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // c is reachable from both seeds: 1/2 (via a) + 1/1 (via x)
    assert(h("c") == (2L, 1.5))
    assert(h("b") == (1L, 1.0)) // from a only
    assert(!h.contains("a") && !h.contains("x")) // seeds: d=0 excluded
  }

  test("kCore peels weakly-attached nodes, keeps the dense core") {
    import spark.implicits._
    // K4 core (a,b,c,d all degree 3) + a pendant chain e-f hanging off a.
    // Peeling at k=2: f drops (deg 1), then e drops (deg 1 after f), core
    // stays — needs TWO rounds, which a single-pass degree filter misses.
    val e = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
      ("c", "d"), ("a", "e"), ("e", "f")).toDF("s", "t")
    val got = GraphAlgos.kCore(e, "s", "t", k = 2, maxRounds = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set("a", "b", "c", "d"))
    assert(got.values.toSet == Set(3L)) // K4: every core node keeps degree 3
    // k above the densest core empties the graph
    assert(GraphAlgos.kCore(e, "s", "t", k = 4, maxRounds = 5).count() == 0)
  }

  test("triangleCounts: triangle-free graph yields no rows") {
    import spark.implicits._
    val star = Seq(("hub", "s1"), ("hub", "s2"), ("hub", "s3")).toDF("s", "t")
    assert(GraphAlgos.triangleCounts(star, "s", "t").count() == 0)
  }

  test("coreNumbers: K4 scores 3, pendant chain decays to 1") {
    import spark.implicits._
    // K4 (a,b,c,d) + chain a-e-f: coreness 3/3/3/3, e=1, f=1 — e starts
    // at degree 2 and needs a second round to see f's collapse
    val e = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
      ("c", "d"), ("a", "e"), ("e", "f")).toDF("s", "t")
    val got = GraphAlgos.coreNumbers(e, "s", "t", rounds = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L,
      "e" -> 1L, "f" -> 1L))
    // consistency with kCore: the k=3 core is exactly the coreness>=3 set
    val core3 = GraphAlgos.kCore(e, "s", "t", k = 3, maxRounds = 5)
      .collect().map(_.getString(0)).toSet
    assert(core3 == got.filter(_._2 >= 3L).keySet)
  }

  test("labelPropagation: two cliques bridge into two communities") {
    import spark.implicits._
    // two K4s joined by one bridge edge a1-b1: after 3 rounds each clique
    // agrees on its own minimum label and the bridge does not merge them
    def k4(p: String) = for {
      i <- 0 until 4; j <- (i + 1) until 4
    } yield (s"$p$i", s"$p$j")
    val e = (k4("a") ++ k4("b") :+ (("a1", "b1"))).toDF("s", "t")
    val got = GraphAlgos.labelPropagation(e, "s", "t", rounds = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val aLabels = (0 until 4).map(i => got(s"a$i")).toSet
    val bLabels = (0 until 4).map(i => got(s"b$i")).toSet
    assert(aLabels == Set("a0"), s"clique A should agree on a0: $aLabels")
    assert(bLabels == Set("b0"), s"clique B should agree on b0: $bLabels")
    // deterministic: a rerun is identical
    val again = GraphAlgos.labelPropagation(e, "s", "t", rounds = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == again)
  }

  test("clusteringCoefficient: triangle closes fully, pendant scores zero") {
    import spark.implicits._
    // triangle a-b-c plus pendant d off a: a has deg 3 with one closed
    // pair of three → 2·1/(3·2) = 0.3333; b, c fully closed; d deg 1 → 0
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")).toDF("s", "t")
    val got = GraphAlgos.clusteringCoefficient(e, "s", "t")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(got("a") == ((3L, 1L, 0.3333)))
    assert(got("b") == ((2L, 1L, 1.0)))
    assert(got("c") == ((2L, 1L, 1.0)))
    assert(got("d") == ((1L, 0L, 0.0)))
  }

  test("randomWalks: deterministic, hop-linked, stops at sinks") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
      ("b", "sink")).toDF("s", "t")
    def run() = GraphAlgos.randomWalks(e, "s", "t",
      seeds = Seq("a"), steps = 5, walksPerSeed = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(x => (x._1, x._2))
    val w1 = run()
    assert(w1.toSeq == run().toSeq, "hash-derived walks must be reproducible")
    assert(w1.map(_._1).distinct.length == 3)
    // step 0 is the seed for every walk
    assert(w1.filter(_._2 == 0L).forall(_._3 == "a"))
    // every hop follows a real edge
    val adj = Map("a" -> Set("b", "c"), "b" -> Set("c", "sink"),
      "c" -> Set("a"), "sink" -> Set.empty[String])
    w1.groupBy(_._1).values.foreach { steps =>
      steps.sortBy(_._2).sliding(2).foreach {
        case Array((_, _, from), (_, _, to)) => assert(adj(from).contains(to))
        case _ =>
      }
    }
    // a walk that reaches the sink has no later rows
    w1.groupBy(_._1).values.foreach { steps =>
      val sunk = steps.filter(_._3 == "sink")
      if (sunk.nonEmpty) assert(steps.map(_._2).max == sunk.map(_._2).min)
    }
  }

  test("biasedWalks: return bias steers the second hop") {
    import spark.implicits._
    // star a-{b,c,d} plus b-c edges: the race key multiplies -ln(u) by
    // pReturn for the return candidate, so a SMALL pReturn makes the
    // return hop win the race at step 2
    val e = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"),
      ("a", "d"), ("d", "a"), ("b", "c"), ("c", "b")).toDF("src", "dst")
    // pReturn = 0.01: exponential race key scales by 0.01 for the return
    // candidate -> practically always wins at step 2
    val walks = GraphAlgos.biasedWalks(e, "src", "dst",
      seeds = Seq("a"), steps = 2, pReturn = 0.01, qOut = 1.0,
      walksPerSeed = 4)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
    (0 until 4).foreach { w =>
      assert(walks(("a#" + w, 2L)) == "a", s"walk $w should return to a")
    }
    // qOut huge (outward strongly disfavored): from b (prev a), step-2
    // choices are a (return) or c (common neighbor of a) - both beat any
    // outward move; with pReturn = 1 both classes race at weight 1
    val w2 = GraphAlgos.biasedWalks(e, "src", "dst", Seq("a"), 2,
      pReturn = 1.0, qOut = 1000.0, walksPerSeed = 8)
    assert(w2.where(org.apache.spark.sql.functions.col("step") === 2)
      .count() == 8L)
  }

  test("skipGramPairs: window-bounded pairs per walk") {
    import spark.implicits._
    // one walk a->b->c->d: window 1 pairs each adjacent (both directions)
    val walks = Seq(("w#0", 0L, "a"), ("w#0", 1L, "b"), ("w#0", 2L, "c"),
      ("w#0", 3L, "d")).toDF("walk_id", "step", "node")
    val pairs = GraphAlgos.skipGramPairs(walks, window = 1)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(pairs.keySet == Set(("a","b"), ("b","a"), ("b","c"), ("c","b"),
      ("c","d"), ("d","c")))
    assert(pairs.values.forall(_ == 1L))
    // window 3 adds the distance-2 and distance-3 pairs
    assert(GraphAlgos.skipGramPairs(walks, window = 3).count() == 12L)
  }
}
