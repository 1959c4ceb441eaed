package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Scale probe: synthesize an sf1 dataset (REPLICATE× the sf0.1 tables,
  * TPC-H-style) and time the slowest battery queries once at each scale,
  * emitting per-query scaling factors to SCALEPROBE.json.
  *
  * Why this exists: the battery proves CORRECTNESS at sf0.01 and the
  * bench measures sf0.1, but the design target is a 1000-executor
  * cluster at ~100 TB. The probe is the first empirical point on the
  * scaling curve — a query whose cost grows ~linearly from sf0.1 to sf1
  * (ratio ≈ REPLICATE, or below it when fixed per-round job-launch
  * overhead dominates at sf0.1) is plan-shaped right; a super-linear
  * ratio flags a join or loop that will not survive 100×.
  *
  * Scaling discipline — proportional replication, NOT fan-out growth:
  * every fact table AND its dimension tables replicate together with
  * disjoint re-keyed ids (replica r adds r·(max(id)+1) to each key
  * column), so join fan-outs, per-key group sizes and graph degree
  * distributions stay CONSTANT while row counts grow REPLICATE×. This is
  * how TPC-H itself scales. The alternative (replicating only facts)
  * would multiply per-key densities and measure an artifact of the
  * generator, not the plan. Two columns need more than an id offset:
  *   - documents.text: replica r>0 suffixes every word with "_r" so
  *     cross-replica texts share no shingles — otherwise every document
  *     would gain REPLICATE-1 artificial near-duplicates and the dedup
  *     candidate-pair count would grow quadratically in the generator,
  *     not in the data. Real duplicate pairs inside sf0.1 still
  *     replicate linearly (both members get the same suffix).
  *   - embeddings.embedding: replica r rotates the vector by r
  *     positions. Rotation is an isometry, so WITHIN a replica all
  *     pairwise distances (and thus cluster structure / kNN graphs) are
  *     preserved exactly, while cross-replica vectors land elsewhere in
  *     the space — local density stays constant as the point count
  *     grows, which is what a bigger corpus looks like.
  */
object ScaleProbe {

  /** The 20 slowest queries of BENCH_r06 (sf0.1 medians) — the probe
    * set the round-6 verdict asked to scale-check.
    */
  val defaultProbe: Seq[String] = Seq(
    "q_bradley_terry", "q_dict_tag", "q_link_auc", "q_dbscan",
    "q_betweenness", "q_hyperball", "q_scc", "q_temporal_reach",
    "q_hits", "q_ktruss", "q_kappa", "q_tree2", "q_wpagerank",
    "q_perceptron", "q_join_size_est", "q_bootstrap", "q_tfidf_topk",
    "q_als", "q_ann_topk", "q_bpe_encode")

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/sf1")
    val replicate = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val spark = HarnessSession.build(defaultCpus = 32)

    generate(spark, srcDir, outDir, replicate)

    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val probe = only.getOrElse(defaultProbe)
      .filter(SparkEntry.queries.contains)

    // JVM/codegen warm-up so the first timed query isn't charged for it
    spark.range(1000).selectExpr("sum(id)").collect()

    def runPass(dir: String): (Double, Map[String, Double]) = {
      val tFix0 = System.nanoTime()
      battery.BatteryFixtures.prewarmFixtures(spark, dir)
      val fixturesSec = (System.nanoTime() - tFix0) / 1e9
      val times = probe.map { name =>
        val fn = SparkEntry.queries(name)
        val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
        val t0 = System.nanoTime()
        fn(spark, dir).count(): Unit
        val sec = (System.nanoTime() - t0) / 1e9
        // release the run's new caches so queries don't degrade each other
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => cachedBefore(id) }
          .values.foreach(_.unpersist(blocking = false))
        System.gc()
        Console.err.println(f"[scaleprobe] $dir $name%-20s ${sec}%8.2f s")
        name -> sec
      }.toMap
      (fixturesSec, times)
    }

    val (fixSmall, small) = runPass(srcDir)
    val (fixBig, big) = runPass(outDir)

    def fmt(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val rows = probe.map { n =>
      val a = small(n); val b = big(n)
      val ratio = if (a > 1e-4) b / a else 0.0
      s""""$n":{"sf01":${fmt(a)},"sf1":${fmt(b)},"ratio":${fmt(ratio)}}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"replicate":$replicate,"src":"$srcDir","scaled":"$outDir","fixtures_sec":{"sf01":${fmt(fixSmall)},"sf1":${fmt(fixBig)}},"queries":$rows}"""
    Files.writeString(Paths.get(sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALEPROBE.json")), line + "\n")
    println(line)
    spark.stop()
  }

  /** Replicate every table of `srcDir` into `outDir`, `replicate`× with
    * disjoint re-keyed ids (see class doc). Skips generation when the
    * marker file from a previous identical run is present.
    */
  def generate(spark: SparkSession, srcDir: String, outDir: String, replicate: Int): Unit = {
    val marker = Paths.get(outDir, s"_GRAFT_SCALE_${replicate}x")
    if (Files.exists(marker)) return
    Files.createDirectories(Paths.get(outDir))

    def readT(t: String): DataFrame = spark.read.parquet(s"$srcDir/$t.parquet")
    // offset = max(id)+1 so replica id ranges are disjoint
    def off(df: DataFrame, col: String): Long =
      df.agg(max(col)).head.getLong(0) + 1L

    val lineitem = readT("lineitem"); val orders = readT("orders")
    val customer = readT("customer"); val part = readT("part")
    val supplier = readT("supplier"); val events = readT("events")
    val documents = readT("documents"); val embeddings = readT("embeddings")

    val ordOff = off(orders, "o_orderkey")
    val custOff = off(customer, "c_custkey")
    val partOff = off(part, "p_partkey")
    val suppOff = math.max(off(supplier, "s_suppkey"), lineitem.agg(max("l_suppkey")).head.getLong(0) + 1L)
    val evOff = off(events, "event_id")
    val userOff = off(events, "user_id")
    val docOff = off(documents, "doc_id")
    val vecOff = off(embeddings, "vec_id")

    /** Union `replicate` copies of `df`, shifting each key column by
      * r·offset in replica r. Replica 0 is the original rows verbatim.
      */
    def replicated(df: DataFrame, keys: Map[String, Long])(
        extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until replicate).map { r =>
        val shifted = keys.foldLeft(df) { case (d, (c, o)) =>
          d.withColumn(c, col(c) + lit(r * o))
        }
        extra(shifted, r)
      }.reduce(_ unionByName _)

    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    write(replicated(lineitem, Map(
      "l_orderkey" -> ordOff, "l_partkey" -> partOff, "l_suppkey" -> suppOff))(), "lineitem")
    write(replicated(orders, Map(
      "o_orderkey" -> ordOff, "o_custkey" -> custOff))(), "orders")
    write(replicated(customer, Map("c_custkey" -> custOff))(), "customer")
    write(replicated(part, Map("p_partkey" -> partOff))(), "part")
    write(replicated(supplier, Map("s_suppkey" -> suppOff))(), "supplier")
    write(replicated(events, Map(
      "event_id" -> evOff, "user_id" -> userOff))(), "events")
    write(replicated(documents, Map("doc_id" -> docOff)) { (d, r) =>
      if (r == 0) d
      else d
        .withColumn("text", array_join(
          transform(split(col("text"), " "), w => concat(w, lit(s"_$r"))), " "))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")
    write(replicated(embeddings, Map("vec_id" -> vecOff)) { (d, r) =>
      // isometry per replica: rotate by r mod dim; past one full wrap
      // (r >= 64) negate as well, so replicas stay pairwise distinct up
      // to 128x while all within-replica distances are preserved
      val rot = r % 64
      if (r == 0) d
      else {
        val rotated =
          if (rot == 0) col("embedding")
          else concat(slice(col("embedding"), rot + 1, 64 - rot),
            slice(col("embedding"), 1, rot))
        d.withColumn("embedding",
          if ((r / 64) % 2 == 1) transform(rotated, v => -v) else rotated)
      }
    }, "embeddings")
    // dimension tables with fixed cardinality (as in TPC-H) copy verbatim
    Seq("nation", "region").foreach(t => write(readT(t), t))
    Files.writeString(marker, "ok\n"): Unit
  }
}
