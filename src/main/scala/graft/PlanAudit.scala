package graft

/** Dev tool: print formatted physical plans for battery queries, to audit
  * pushdown (PushedFilters / ReadSchema), join strategies (broadcast vs
  * shuffle, no accidental nested-loop), and codegen spans before a round's
  * bench. Usage: `runMain graft.PlanAudit [query ...]` (defaults to the
  * scan-and-join-heavy set).
  */
object PlanAudit {

  /** The scan-and-join-heavy flagship set. [[graft.PlanAssertSpec]] walks
    * the same list and ASSERTS the load-bearing physical properties (no
    * cartesian/nested-loop joins, pushdown present, top-k and
    * exchange-reuse operators chosen), so a plan regression fails
    * `sbt test` instead of waiting for a human to re-read this audit.
    */
  val flagships: Seq[String] =
    Seq("q_filter_predicate", "q_revenue_by_nation", "q_fuzzy_match",
        "q_skew_join", "q_semi_join", "q_edge_pair",
        "q_gopher_rules", "q_pack_sequences", "q_unigram_lm",
        // round-8 flagships: literal-centroid k-means (no join), grid
        // proximity join (broadcast cells), histogram split finding
        // (broadcast stats, pushed filters), DQ rule aggregates
        "q_kmeans", "q_geo_join", "q_best_split", "q_dq_checks",
        // round-9 flagships: single-row covariance aggregate, blocked
        // Jaro-Winkler join (native codegen kernel), FD rollups,
        // broadcast promo-share dims
        "q_embed_cov", "q_jaro_link", "q_fd_mine", "q_promo_share",
        // round-11 flagships: one-pass Gram-matrix regression, cell-keyed
        // DBSCAN candidate join, ratings-join ALS half-steps, window+
        // broadcast target encoding, wedge-pivot butterfly census
        "q_ols", "q_dbscan", "q_als", "q_target_encode", "q_butterflies",
        // partitioned-layout pruning (PartitionFilters must show the
        // o_year predicate — whole directories eliminated pre-I/O)
        "q_partition_prune",
        // round-12 flagships: Q17 self-agg join (ReusedExchange expected),
        // Q10 top-k (TakeOrderedAndProject, no global sort), Q19 compound
        // predicate (one broadcast join + single filter), Q4 conditioned
        // left-semi, CV eval (broadcast k-row model join)
        "q_tpch_small_qty", "q_tpch_returned_topk", "q_tpch_compound_pred",
        "q_tpch_late_priority", "q_cv_folds",
        // round-13 flagships: single-shuffle KMV sketch (native bounded
        // distinct-min-k), small-side-replicated grid proximity join,
        // struct-argmax mode, hashing-trick featurizer
        "q_source_overlap", "q_geo_join", "q_mode", "q_feature_hash",
        // round-14 flagships: relation_from_key assembly (keyed location
        // join, no cartesian), dynamic typed edge slots (row-keyed
        // router-bucket pairing), direct-weight carry
        "q_relation_from_key", "q_edge_typed_slots", "q_edge_direct_weights",
        // round-17 flagships: audio gram near-dup (shared-gram banded
        // hash join + df-cap — must never plan an all-pairs comparison)
        "q_audio_neardup")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = HarnessSession.build(defaultCpus = 4)
    val names = if (args.nonEmpty) args.toSeq else flagships
    names.foreach { n =>
      println(s"\n===== $n =====")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"(explain failed: ${e.getMessage})") }
    }
    spark.stop()
  }
}
