package graft

/** Cross-partitioning determinism (SURVEY §5.6): every declared result must
  * be independent of shuffle.partitions, or the driver's hash compare (and
  * a real cluster at any size) can silently diverge from local runs. Runs
  * the determinism-sensitive keys at 1 and 32 shuffle partitions on
  * sf0.001 (the churn-model keys on sf0.01) and requires exact
  * row-for-row equality. */
class HarnessSpec extends SparkSpec {

  // keys whose plans contain the determinism-sensitive machinery: decimal
  // sums, scaled-long centroids, k-means routing, LSH banding, stateful
  // fold, interpolated percentiles, prefix-sum windows
  private val probeKeys = Seq(
    "agg_group_q1", "agg_stats", "udaf_geomean", "emb_centroid",
    "dedup_lsh_pairs", "dedup_emb_cosine", "sim_ann_kmeans",
    "stream_session_custom", "agg_percentile", "win_theta_rewrite",
    "gen_date_spine", "scan_sample_hash",
    // round 3: banded Hamming join, salted-join rewrite, latest-wins
    // window, TWS stateful fold, custom merge-pass as-of exec
    "dedup_simhash_pairs", "join_skew_salted", "upsert_latest",
    "stream_tws_running", "join_asof_custom", "mm_frame_sample",
    "agg_sketch_union", "sim_ann_recall",
    // round 4: iterative CC fixpoint, exact-moment corr, window fill,
    // chained stateful agg, hash sampling
    "dedup_cc_cluster", "agg_corr_moments", "ts_fill_forward",
    "stream_chained_agg", "sample_stratified_hash", "join_interval_bucket",
    "upsert_scd2", "emb_norm_hist", "sim_knn_join", "pipeline_corpus_clean",
    // round 5: histogram-broadcast decile, partitioned-layout roundtrip,
    // frozen-weight model scoring
    "chp_score_linear", "chp_eval_lift", "scan_partition_prune",
    "chp_model_confusion", "chp_user_segments", "join_dpp_prune",
    "upsert_cdc_merge", "scan_zstd_roundtrip", "text_chunk_windows",
    "text_pack_sequences", "sample_rebalance_cap", "graph_pagerank_docs",
    "sql_scalar_subquery", "win_cume_dist", "fn_try_safe",
    "ts_resample_ohlc",
    // round 5b: prefix-sum sessionization, median interpolation +
    // mode tie-break window, interp windows over the rebuilt spine,
    // decorrelated lateral top-k, compaction roundtrip sums
    "chp_sessionize_batch", "agg_mode_median", "ts_gap_interp",
    "sql_lateral_topk", "maint_compact_files", "text_pii_redact",
    "sql_not_in_null", "ds_cogroup_stats",
    // round 5c: bloom probe + exact join, canonical-order triangle joins,
    // per-doc rank window, z-order relayout roundtrip, mergeSchema read
    "join_bloom_prune", "graph_triangle_count", "text_repetition_stats",
    "text_url_extract", "maint_zorder_cluster", "scan_schema_merge",
    // round 5d: scaled-long lambda sums, text-line parse, integer-moment
    // rolling stats, sign-LSH dots, smoothed transition grid
    "fn_lambda_hof", "scan_text_lines", "ts_anomaly_zscore",
    "sim_ann_hyperplane", "chp_markov_prob", "sql_filter_agg",
    // round 5e: 4-codebook PQ build, percentile skew profile, range() gen
    "emb_pq_codebook", "profile_key_skew", "gen_synthetic_sales",
    // round 5f: iterative recursion loop, star-flake broadcast shape,
    // scaled-long decay division, broadcast prefix histogram
    "sql_recursive_cte", "join_star_flake", "chp_ltv_decay",
    "text_boilerplate_strip",
    // round 5g: associative bitmap OR, cutoff-filtered rewrite,
    // tolerance-cut as-of window
    "agg_bitmap_distinct", "maint_vacuum_ttl", "join_asof_tolerance",
    // round 5h: variant parse path, pipe-syntax plan, collated grouping
    "fn_json_variant", "sql_pipe_syntax", "fn_collation_ci",
    // round 5i: chunk-fingerprint spread join, scaled-long norm ratios
    "text_dedup_paragraph", "emb_matryoshka_trunc",
    // round 7: IVF-PQ routing + ADC shortlist + refine (memoized shared
    // codebooks re-fit per partition setting via the Memo key), stride-1
    // shingle islands merge, greedy vocab encode over distinct words,
    // token-budget packing, per-doc dup coverage
    "sim_ann_ivfpq", "text_dedup_substring", "dedup_substring_summary",
    "text_vocab_tokenize", "text_pack_tokens",
    // round 7b: within-cell semantic-dup verdict, lag-term EWMA,
    // iterative LPA vote windows, decoded-hash grouping
    "dedup_semdedup", "ts_ewma_smooth", "graph_lpa_community",
    "mm_phash_groups",
    // round 7b second pass: integer scatter-matrix PCA, hash-threshold
    // HT sampling
    "emb_pca_project", "sample_importance_weight",
    // round 7c: iterative BPE merge loop (argmax + island windows per
    // round), watermark-bounded dedup batch twin
    "text_bpe_merges", "text_bpe_encode", "stream_dedup_within_wm",
    "mm_scene_cuts", "sql_udf_inline",
    // round 7d: corpus governance (hash-split decontamination, df cap)
    "text_decontaminate", "dedup_substring_capped", "text_lm_bigram_score",
    "chp_attribution_last", "sql_parameterized", "text_containment_pairs",
    "mm_audio_energy", "pipeline_domain_mix", "chp_calibration_bins",
    "pipeline_curation_verdict", "emb_pca_project2", "win_streak_islands",
    "profile_histogram",
    // round 9: NSW beam search (windowed per qid, k-means cells), band-key
    // first-arrival admission
    "sim_ann_nsw", "stream_dedup_minhash",
    // round 11: shared triangle-enumeration memo (memo re-keys on the
    // partition setting, so both runs genuinely rebuild), TxnLog staged
    // commits (file layout varies with partitioning; the audit must not),
    // rate-source batch twin, dominant-token-blocked NN
    "graph_local_bridges", "maint_txn_log", "stream_rate_source",
    "dedup_tfidf_nn",
    // round 11 second pass: shared seq-edge memo + driver-side bounded
    // closure (hub pick is a limit over a deterministic tiebreak sort)
    "graph_scc_hubs", "graph_reciprocity",
    // round 14: per-writer idempotent commits + delta/checkpoint log
    // shape (staged TxnLog tables — file layout varies with
    // partitioning; the audits must not)
    "stream_txn_multiwriter", "maint_txn_checkpoint", "maint_txn_restore",
    // round 15: compaction rewrite + timestamp time travel (the compact
    // repartition and the staged layouts vary with parallelism; the
    // audited op/kind/file-count/total columns must not)
    "maint_txn_compact", "scan_txn_time_travel", "scan_txn_skip",
    "maint_txn_delete", "upsert_txn_merge")

  test("Memo.memo: concurrent misses build exactly once (no leaked loser)") {
    val built = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 8).map(_ => new Thread(() => {
      Memo.memo(spark, "racetest", "race-d") {
        built.incrementAndGet()
        Thread.sleep(200) // widen the race window
        spark.range(100).toDF("x")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      ()
    }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(built.get() === 1,
      s"expected exactly one build under 8 concurrent misses, got ${built.get()}")
    // a later hit must reuse, not rebuild
    Memo.memo(spark, "racetest", "race-d") {
      built.incrementAndGet()
      spark.range(100).toDF("x")
    }
    assert(built.get() === 1, "post-race hit rebuilt the memoized entry")
  }

  // the trained churn model (fixed-point Newton fit + integer AUC), at
  // sf0.01: sf0.001's test fold holds 3 users
  private val modelKeys = Seq("chp_train_auc", "chp_train_cv")
  private val sfModel = s"${new java.io.File(sf).getParent}/sf0.01"

  (probeKeys.map(_ -> sf) ++ modelKeys.map(_ -> sfModel)).foreach {
    case (key, dir) =>
      test(s"$key: identical at shuffle.partitions 1 and 32") {
        def run(parts: Int): Seq[String] = {
          spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
          try SparkEntry.queries(key)(spark, dir).collect().map(_.toString).toSeq
          finally spark.conf.set("spark.sql.shuffle.partitions", "4")
        }
        assert(run(1) === run(32), s"$key depends on partition count")
      }
  }

  // Memoization-immune probes (ADVICE r14): the declared-key probes above
  // re-execute memoized pipelines only because Memo keys on the partition
  // setting — a future memo keyed without it would silently turn those
  // probes into cached-vs-cached comparisons. These run the RAW builder
  // dataflows directly (no memo, no localCheckpoint), so the
  // cross-partitioning gate exercises the real dedup_semdedup /
  // emb_jl_projection / emb_neighbor_preservation dataflows regardless of
  // any caching discipline layered on top.
  private val rawBuilders: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
    ("semdedupVerdictBuild", () => operators.QRound7b.semdedupVerdictBuild(spark, sf)),
    ("jlIndexBuild", () => operators.QRound9bt.jlIndexBuild(spark, sf)))

  rawBuilders.foreach { case (name, build) =>
    test(s"raw builder $name: identical at shuffle.partitions 1 and 32") {
      def run(parts: Int): Seq[String] = {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        try build().collect().map(_.toString).sorted.toSeq
        finally spark.conf.set("spark.sql.shuffle.partitions", "4")
      }
      assert(run(1) === run(32), s"$name depends on partition count")
    }
  }

  // Last in this suite: it stops the shared session; later suites build a
  // fresh one through SparkSpec.session.
  test("Memo: the next call after a session stops evicts its entries and build locks") {
    val old = spark
    Memo.memo(old, "evicttest", "evict-d")(old.range(3).toDF("x"))
    // a build that throws leaves a lock but no entry
    intercept[IllegalStateException] {
      Memo.memo(old, "evictfail", "evict-d")(
        throw new IllegalStateException("build failed"))
    }
    val (entries, locks) = Memo.heldFor(old)
    assert(entries >= 1 && locks > entries)
    old.stop()
    val fresh = SparkSpec.session()
    assert(fresh ne old)
    Memo.memo(fresh, "evicttest", "evict-d")(fresh.range(3).toDF("x"))
    assert(Memo.heldFor(old) === ((0, 0)))
    assert(Memo.heldFor(fresh) === ((1, 1)))
  }
}
