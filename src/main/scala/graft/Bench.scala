package graft

import graft.sources.Formats

/** Benchmark entry point (driver contract: prints ONE JSON line).
  *
  * Measurement discipline (r2 lesson — a noisy bench can't adjudicate a
  * 2× criterion):
  *   - every query runs `SPARK_GRAFT_REPS` times (default 3); the JSON
  *     reports the MIN per query (steady-state throughput) plus the
  *     per-query spread (max-min) so run-to-run noise is visible in the
  *     artifact instead of baked into the number;
  *   - each rep runs the WHOLE registry in a different (seeded, so
  *     reproducible) order. Rounds 6 and 7 both saw 2–10× slowdowns land
  *     on trivial untouched queries and recover untouched the next round
  *     — with a fixed run order inside one JVM, one query's GC/JIT/
  *     codegen-cache debris always falls on the same fixed neighbors, so
  *     min-of-reps could not average it away. Shuffling per rep means the
  *     min samples three different neighborhoods and an order artifact
  *     can no longer masquerade as a regression (root-cause entry in
  *     BASELINE.md);
  *   - between runs the session is swept clean — `catalog.clearCache()`
  *     plus unpersisting every persistent RDD (localCheckpoint blocks) —
  *     so no query's pinned storage shadows the queries after it;
  *   - a query that throws is recorded as an explicit entry in `errors`
  *     and its time is reported as -1, never as a normal-looking number.
  */
object Bench {

  /** The REAL-Structured-Streaming gate rows (s7+): each runs actual
    * micro-batches with checkpointed state, whose per-batch incremental
    * planning sets a ~0.9 s/batch floor that is certification cost, not
    * engine throughput. The artifact reports their subtotal
    * (`stream_overhead_s`) so the headline decomposes into engine cost
    * vs stream-certification cost — and so nobody "optimizes" certified
    * semantics to win bench seconds. s1–s6 are light single-drain
    * streams that existed in the round-4 baseline mix and stay inside
    * the batch mean. Membership is BY RULE, not a hand list — the
    * round-13 hand list silently omitted s19–s21. */
  private val streamCertMinId = 7
  private val StreamCertRe = "^s(\\d+)_.*".r

  private[graft] def isStreamCert(name: String): Boolean = name match {
    case StreamCertRe(id) => id.toInt >= streamCertMinId
    case _                => false
  }

  /** FROZEN membership of the gated stream-certification subtotal:
    * s7–s22, the 16 micro-batch rows of the round-14 registry, frozen
    * at the round-14 driver artifact (BASELINE.md round-15
    * re-derivation). s23+ land OUTSIDE it — this bound never moves,
    * exactly as core192's membership never moves. */
  private val stream16MaxId = 22

  private[graft] def isStream16(name: String): Boolean = name match {
    case StreamCertRe(id) =>
      id.toInt >= streamCertMinId && id.toInt <= stream16MaxId
    case _ => false
  }

  /** FROZEN membership of the round-15 stream-certification subtotal:
    * s7–s24, the 18 micro-batch rows of the round-15 registry, frozen
    * at the round-15 driver artifact (BASELINE.md "stream18 freeze").
    * Nested over stream16 exactly as core153 nests core82; s25+ land
    * OUTSIDE it. */
  private val stream18MaxId = 24

  private[graft] def isStream18(name: String): Boolean = name match {
    case StreamCertRe(id) =>
      id.toInt >= streamCertMinId && id.toInt <= stream18MaxId
    case _ => false
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    // Stream-certification rows (s7+) sample fewer reps (round-17
    // harness-budget derivation, BASELINE.md "Certification-row
    // job-count cuts": the round-16 driver bench TIMED OUT; these rows
    // are job-count-bound certification floors whose per-rep cost is
    // per-micro-batch planning + checkpoint I/O, the steal-discard
    // retry already guards contaminated samples, and every gated
    // stream subtotal holds ≥2x margin). Min-of-2 still samples two
    // different seeded neighborhoods.
    val streamReps = sys.env.getOrElse("SPARK_GRAFT_STREAM_REPS", "2")
      .toInt.max(1).min(reps)
    // The shared front-door builder (Graft.sessionBuilder) carries the
    // engine confs the bench must inherit — notably the codegen-cache
    // sizing root-caused in round 9 (the default 100-entry LRU thrashes
    // at 153 registry queries and re-pays janino compilation per rep;
    // rationale at the builder).
    val spark = Graft.sessionBuilder("graft-bench", s"local[$cpus]",
        cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def sweep(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // Untimed warm-up: JIT + codegen compile + shuffle/parquet machinery,
    // so per-query numbers measure steady-state throughput rather than
    // first-job session setup (which otherwise lands entirely on the
    // alphabetically-first query). Round 19 widened it from one groupBy
    // + the entry pipeline to the SHARED execution machinery the
    // registry leans on — parquet write+read, hash/sha expression
    // kernels, window exec, broadcast join, object/approx aggregates,
    // and one stateful micro-batch through the streaming engine —
    // because the r19 baseline showed the alphabetically-first gated
    // rows absorbing the session's entire first-use JIT wave
    // (d11_neardup_groups rep-1: 20.0 s wall against a 1.24 s min with
    // 42.7 s of JIT-compiler time and ~zero steal; 694 s of rep-1
    // excess across the artifact), and the driver's deadline schedule
    // records mostly rep-1 walls. Timing methodology is unchanged:
    // the warm-up stays untimed, synthetic (spark.range — never the
    // fixture tables), and result-free (nothing it computes or writes
    // is read by any timed query; the scratch dir is deleted before
    // timing starts).
    // The deadline / rep-1-budget clock starts BEFORE the warm-up
    // (review r19): both budgets exist to keep total JVM wall under
    // the external harness kill, and a warm-up that ran outside the
    // clock would let a slow box spend its minutes twice — once
    // warming, once against a full 840 s budget. Warm-up seconds now
    // shrink the measuring budget instead, which degrades in the safe
    // direction (gated rows are never shed; only optional samples go).
    val benchStartNs = System.nanoTime()
    try {
      import org.apache.spark.sql.functions._
      spark.range(0, 1000000, 1, 8).selectExpr("id % 97 AS k")
        .groupBy("k").count().count()
      SparkEntry.entry(spark).count()
      val wdir = TmpHygiene.scratchDir("graft_warm")
      try {
        val df = spark.range(0, 50000, 1, 8).selectExpr("id",
          "id % 101 AS k", "sha2(cast(id AS string), 256) AS s",
          "xxhash64(cast(id AS string)) AS h")
        df.write.mode("overwrite").parquet(s"$wdir/p")
        val back = Formats.readParquet(spark, s"$wdir/p")
        back.groupBy("k").agg(count(lit(1)).as("n"), sum("h").as("sh"),
          approx_count_distinct("s").as("d")).count()
        back.withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("k")
              .orderBy(col("h"))))
          .filter(col("rn") <= 3).count()
        val dim = spark.range(0, 101).selectExpr("id AS k", "id * 2 AS v")
        back.join(broadcast(dim), "k").count()
        back.select(explode(split(col("s"), "a")).as("w"))
          .groupBy("w").count().orderBy(col("count").desc).limit(5).count()
        // one stateful micro-batch: offset/commit logs, state store,
        // incremental planner, foreachBatch + sink write
        implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
        import spark.implicits._
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[Long]
        val q = ms.toDF().toDF("id").dropDuplicates("id")
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$wdir/_cp")
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.write.mode("overwrite").parquet(s"$wdir/sb")
          }.start()
        try {
          ms.addData(1L, 2L, 3L)
          q.processAllAvailable()
        } finally q.stop() // never leave it running into the timed reps
      } finally TmpHygiene.rmTree(wdir)
    } catch { case _: Throwable => () }
    sweep()
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    // SPARK_GRAFT_ONLY=q1_agg,e23_graph_serve — dev A/B knob: time only
    // the named queries. The artifact still writes, but core/freeze
    // subtotals are not comparable (their _n counts expose that).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val registry = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))
    // Frozen round-7 registry membership (82 queries). The full "total"
    // changes meaning every time a query is registered, so round-over-round
    // comparisons kept degenerating into hand-recomputed subsets (the r8
    // headline went 37.7 -> 62.6 s purely by growing the registry). This
    // set NEVER changes: `core82_total` is the one number whose delta
    // between rounds is a real performance delta. New queries only ever
    // move the full total.
    val core82: Set[String] = Set(
      "d10_hash_split", "d11_neardup_groups", "d12_stratified_sample",
      "d13_simhash_sha", "d14_minhash_sha", "d15_neardup_pipeline",
      "d1_exact_dedup", "d2_token_stats", "d3_lang_id", "d4_quality_score",
      "d5_fingerprint", "d6_jaccard_pairs", "d7_minhash_pairs",
      "d8_simhash_pairs", "d9_bpe_tokens", "e1_cosine_topk",
      "e2_knn_classify", "e3_lsh_ann", "e4_cosine_neardup", "e5_ivf_ann",
      "e6_quantized_topk", "e7_ivf2_ann", "m1_gen_raw", "m2_gen_second",
      "m3_rollup_minute", "m4_rollup_hour", "m5_rollup_day", "m6_said_seed",
      "m7_dedup_rollup", "m8_routed_report", "mm1_multimodal_meta",
      "mm2_frame_sample", "q10_cube", "q11_distinct", "q12_topk_global",
      "q13_conditional", "q14_strings", "q15_datetime", "q16_json",
      "q17_scalar_stats", "q18_asof_join", "q19_ranking", "q1_agg",
      "q20_correlated_avg", "q21_sql_entry", "q22_array_agg",
      "q23_range_join", "q24_map_functions", "q25_multiset_ops",
      "q26_typed_agg", "q27_approx_distinct", "q28_explode_words",
      "q29_pivot", "q2_selective_filter", "q30_lateral_topn",
      "q31_range_frame", "q32_grouping_sets", "q33_unpivot", "q34_from_json",
      "q35_clustered_layout", "q36_window_extras", "q37_sketch_rollup",
      "q38_corr_moments", "q39_approx_percentile", "q3_join_topk",
      "q40_bloom_pruned_join", "q41_zorder_layout", "q42_bucketed_join",
      "q43_salted_sum", "q44_text_roundtrip", "q4_star_broadcast",
      "q5_semi_anti", "q6_window_topk", "q7_window_running", "q8_setops",
      "q9_rollup", "s1_event_deltas", "s2_tumbling_hour", "s3_sliding_2h1h",
      "s4_session_window", "s5_interval_join", "s6_gap_detect")
    // Frozen round-9 registry membership (153 queries) — the second
    // freeze, cut the same way core82 froze at round 7: rounds 12+ get a
    // recent comparable subset whose delta is a real performance delta
    // while the registry keeps growing past it.
    val core153: Set[String] = Set(
      "d10_hash_split", "d11_neardup_groups", "d12_stratified_sample",
      "d13_simhash_sha", "d14_minhash_sha", "d15_neardup_pipeline",
      "d16_contamination", "d17_repetition_quality", "d18_source_quota",
      "d19_weighted_mix", "d1_exact_dedup", "d20_dup_shingles",
      "d21_incremental_dedup", "d22_token_budget", "d23_pii_redact",
      "d24_line_dedup", "d25_bm25_rank", "d26_fuzzy_join",
      "d27_quality_model", "d28_unigram_surprisal", "d29_sequence_pack",
      "d2_token_stats", "d30_heavy_hitters", "d31_curation_pipeline",
      "d32_substr_dedup", "d33_bigram_surprisal", "d34_leakage_safe_split",
      "d35_cms_estimates", "d36_weighted_sample", "d37_nfc_normalize",
      "d38_url_filter", "d39_c4_line_filter", "d3_lang_id",
      "d40_corpus_report", "d41_containment_pairs", "d42_dsir_select",
      "d43_cluster_sample", "d44_token_pmi", "d45_zipf_fit",
      "d46_source_overlap", "d47_bpe_merges", "d48_minhash_accuracy",
      "d4_quality_score", "d5_fingerprint", "d6_jaccard_pairs",
      "d7_minhash_pairs", "d8_simhash_pairs", "d9_bpe_tokens",
      "e10_semantic_dedup", "e11_pq_rerank", "e12_ivfpq_residual",
      "e13_kmeans_refined_ann", "e14_hamming_rerank",
      "e15_matryoshka_rerank", "e16_hybrid_retrieval", "e17_triplet_mine",
      "e18_ann_recall", "e19_centroid_outliers", "e1_cosine_topk",
      "e20_rrf_fusion", "e2_knn_classify", "e3_lsh_ann", "e4_cosine_neardup",
      "e5_ivf_ann", "e6_quantized_topk", "e7_ivf2_ann", "e8_pq_adc_ann",
      "e9_ivfpq_ann", "m1_gen_raw", "m2_gen_second", "m3_rollup_minute",
      "m4_rollup_hour", "m5_rollup_day", "m6_said_seed", "m7_dedup_rollup",
      "m8_routed_report", "mm1_multimodal_meta", "mm2_frame_sample",
      "mm3_visual_topk", "mm4_audio_segments", "mm5_scene_cuts", "q10_cube",
      "q11_distinct", "q12_topk_global", "q13_conditional", "q14_strings",
      "q15_datetime", "q16_json", "q17_scalar_stats", "q18_asof_join",
      "q19_ranking", "q1_agg", "q20_correlated_avg", "q21_sql_entry",
      "q22_array_agg", "q23_range_join", "q24_map_functions",
      "q25_multiset_ops", "q26_typed_agg", "q27_approx_distinct",
      "q28_explode_words", "q29_pivot", "q2_selective_filter",
      "q30_lateral_topn", "q31_range_frame", "q32_grouping_sets",
      "q33_unpivot", "q34_from_json", "q35_clustered_layout",
      "q36_window_extras", "q37_sketch_rollup", "q38_corr_moments",
      "q39_approx_percentile", "q3_join_topk", "q40_bloom_pruned_join",
      "q41_zorder_layout", "q42_bucketed_join", "q43_salted_sum",
      "q44_text_roundtrip", "q45_orc_roundtrip", "q46_gapfill_ffill",
      "q47_sessionize", "q48_gapfill_interp", "q49_dpp_join",
      "q4_star_broadcast", "q50_scd2_intervals", "q51_pagerank",
      "q52_ewma_smooth", "q53_full_outer", "q54_funnel",
      "q55_triangle_census", "q56_cohort_retention", "q57_assortativity",
      "q58_link_predict", "q59_hierarchy_rollup", "q5_semi_anti",
      "q6_window_topk", "q7_window_running", "q8_setops", "q9_rollup",
      "s10_stream_static_join", "s11_stream_dedup", "s12_stream_stream_join",
      "s13_stream_outer_join", "s1_event_deltas", "s2_tumbling_hour",
      "s3_sliding_2h1h", "s4_session_window", "s5_interval_join",
      "s6_gap_detect", "s7_stream_incr_dedup", "s8_stream_ffill",
      "s9_stream_topk")
    // Frozen round-10 registry membership (158 queries) — third freeze,
    // same pattern: core153 plus round 10's five additions. Freeze value
    // = the committed round-10 full-precision artifact's total (77.7 s,
    // exactly this membership).
    val core158: Set[String] = core153 ++ Set("e21_graph_ann",
      "e22_nn_descent", "q60_capped_coedges", "s14_stream_ann_serve",
      "s15_stream_index_build")
    // Frozen round-12 registry membership (167 queries) — fourth freeze:
    // core158 plus round 11's two additions (e23 graph-serve, s16
    // streaming graph maintenance) and round 12's seven (d49/d51
    // winnowing sketch + detector, d50 alt-star CC, e24 SQ8 ANN, q61
    // label propagation, mm6/mm7 perceptual-hash dedup). Freeze value =
    // the round-12 solo bench total on exactly this membership
    // (BASELINE.md round-12 summary; measured on a box running ~1.3x
    // slower than the round-11 artifact's — the per-query diff there).
    // d52 (components append), s17/s18 (streaming phash / winnow
    // dedup), d53/d54 (BPE application, incremental winnowing), and
    // e25 (filtered ANN) registered after the freeze was cut and are
    // deliberately outside it, like every later round's additions.
    val core167: Set[String] = core158 ++ Set("e23_graph_serve",
      "s16_stream_graph_maintain", "d49_winnow_fingerprints",
      "d50_altstar_components", "d51_winnow_matches", "e24_sq8_rerank",
      "q61_label_prop", "mm6_phash", "mm7_phash_pairs")
    // Frozen round-13 registry membership (192 queries = the FULL
    // registry at round-13 close) — fifth freeze: core167 plus the
    // round-12 post-freeze five (d52/d53/d54/e25 + s17/s18 — see the
    // core167 comment) and round 13's nineteen (fixpoint faces
    // q62–q67, reachability/clustering/truss/weighted-PR q68–q72,
    // streaming crash recovery s19, CQL wire bind m9, the multimodal
    // dedup matrix mm8–mm10 + s20/s21, and e26 append-recall). Freeze
    // value = the committed round-13 artifact's total (138.7 s,
    // exactly this membership, quiet-box run at the 16384-entry
    // codegen cache — BASELINE.md round-13 summary). Anything round 14
    // adds lands outside it, as with every earlier freeze.
    val core192: Set[String] = core167 ++ Set("d52_components_append",
      "d53_bpe_apply", "d54_winnow_incremental", "e25_filtered_ann",
      "e26_append_recall", "m9_cql_bind", "mm8_video_dup_pairs",
      "mm9_audio_dup_pairs", "mm10_video_probe_pairs",
      "q62_lpa_fixpoint", "q63_pagerank_fixpoint", "q64_lpa_resume",
      "q65_pagerank_resume", "q66_kcore", "q67_trustrank",
      "q68_modularity", "q69_bfs_levels", "q70_local_clustering",
      "q71_ktruss", "q72_weighted_pagerank", "s17_stream_phash_dedup",
      "s18_stream_winnow_dedup", "s19_crash_recovery",
      "s20_stream_audio_dedup", "s21_stream_video_dedup")
    // FROZEN membership of the gated batch subtotal (round-17
    // derivation, BASELINE.md "batch187 freeze"): the 187 non-stream-
    // certification rows of the ROUND-15 driver artifact — the last
    // complete driver measurement — listed mechanically from that
    // artifact's own keys. The mix-sensitive all-rows batch MEAN became
    // informational the moment this subtotal exists in an artifact
    // (the round-14/15 stream-mean playbook applied to the batch
    // population after the round-16 DNF): a new batch certification
    // row lands OUTSIDE this set and can never again move a gated
    // batch signal for mix reasons. Membership NEVER changes.
    val batch187: Set[String] = Set(
      "d10_hash_split", "d11_neardup_groups", "d12_stratified_sample",
      "d13_simhash_sha", "d14_minhash_sha", "d15_neardup_pipeline",
      "d16_contamination", "d17_repetition_quality", "d18_source_quota",
      "d19_weighted_mix", "d1_exact_dedup", "d20_dup_shingles",
      "d21_incremental_dedup", "d22_token_budget", "d23_pii_redact",
      "d24_line_dedup", "d25_bm25_rank", "d26_fuzzy_join",
      "d27_quality_model", "d28_unigram_surprisal", "d29_sequence_pack",
      "d2_token_stats", "d30_heavy_hitters", "d31_curation_pipeline",
      "d32_substr_dedup", "d33_bigram_surprisal", "d34_leakage_safe_split",
      "d35_cms_estimates", "d36_weighted_sample", "d37_nfc_normalize",
      "d38_url_filter", "d39_c4_line_filter", "d3_lang_id",
      "d40_corpus_report", "d41_containment_pairs", "d42_dsir_select",
      "d43_cluster_sample", "d44_token_pmi", "d45_zipf_fit",
      "d46_source_overlap", "d47_bpe_merges", "d48_minhash_accuracy",
      "d49_winnow_fingerprints", "d4_quality_score", "d50_altstar_components",
      "d51_winnow_matches", "d52_components_append", "d53_bpe_apply",
      "d54_winnow_incremental", "d55_components_retract",
      "d56_winnow_retract", "d57_shingle_retract", "d5_fingerprint",
      "d6_jaccard_pairs", "d7_minhash_pairs", "d8_simhash_pairs",
      "d9_bpe_tokens", "e10_semantic_dedup", "e11_pq_rerank",
      "e12_ivfpq_residual", "e13_kmeans_refined_ann", "e14_hamming_rerank",
      "e15_matryoshka_rerank", "e16_hybrid_retrieval", "e17_triplet_mine",
      "e18_ann_recall", "e19_centroid_outliers", "e1_cosine_topk",
      "e20_rrf_fusion", "e21_graph_ann", "e22_nn_descent", "e23_graph_serve",
      "e24_sq8_rerank", "e25_filtered_ann", "e26_append_recall",
      "e27_nnd_retract", "e28_ivfpq_retract", "e2_knn_classify", "e3_lsh_ann",
      "e4_cosine_neardup", "e5_ivf_ann", "e6_quantized_topk", "e7_ivf2_ann",
      "e8_pq_adc_ann", "e9_ivfpq_ann", "m1_gen_raw", "m2_gen_second",
      "m3_rollup_minute", "m4_rollup_hour", "m5_rollup_day", "m6_said_seed",
      "m7_dedup_rollup", "m8_routed_report", "m9_cql_bind",
      "mm10_video_probe_pairs", "mm11_video_retract", "mm12_phash_retract",
      "mm13_audio_retract", "mm1_multimodal_meta", "mm2_frame_sample",
      "mm3_visual_topk", "mm4_audio_segments", "mm5_scene_cuts", "mm6_phash",
      "mm7_phash_pairs", "mm8_video_dup_pairs", "mm9_audio_dup_pairs",
      "q10_cube", "q11_distinct", "q12_topk_global", "q13_conditional",
      "q14_strings", "q15_datetime", "q16_json", "q17_scalar_stats",
      "q18_asof_join", "q19_ranking", "q1_agg", "q20_correlated_avg",
      "q21_sql_entry", "q22_array_agg", "q23_range_join", "q24_map_functions",
      "q25_multiset_ops", "q26_typed_agg", "q27_approx_distinct",
      "q28_explode_words", "q29_pivot", "q2_selective_filter",
      "q30_lateral_topn", "q31_range_frame", "q32_grouping_sets",
      "q33_unpivot", "q34_from_json", "q35_clustered_layout",
      "q36_window_extras", "q37_sketch_rollup", "q38_corr_moments",
      "q39_approx_percentile", "q3_join_topk", "q40_bloom_pruned_join",
      "q41_zorder_layout", "q42_bucketed_join", "q43_salted_sum",
      "q44_text_roundtrip", "q45_orc_roundtrip", "q46_gapfill_ffill",
      "q47_sessionize", "q48_gapfill_interp", "q49_dpp_join",
      "q4_star_broadcast", "q50_scd2_intervals", "q51_pagerank",
      "q52_ewma_smooth", "q53_full_outer", "q54_funnel",
      "q55_triangle_census", "q56_cohort_retention", "q57_assortativity",
      "q58_link_predict", "q59_hierarchy_rollup", "q5_semi_anti",
      "q60_capped_coedges", "q61_label_prop", "q62_lpa_fixpoint",
      "q63_pagerank_fixpoint", "q64_lpa_resume", "q65_pagerank_resume",
      "q66_kcore", "q67_trustrank", "q68_modularity", "q69_bfs_levels",
      "q6_window_topk", "q70_local_clustering", "q71_ktruss",
      "q72_weighted_pagerank", "q73_weighted_modularity", "q74_weighted_lpa",
      "q7_window_running", "q8_setops", "q9_rollup", "s1_event_deltas",
      "s2_tumbling_hour", "s3_sliding_2h1h", "s4_session_window",
      "s5_interval_join", "s6_gap_detect")
    // GATED-membership rows: every query that contributes to a frozen
    // gated subtotal (batch187 ∪ core82..core192 ∪ stream16/18 — the
    // coreNN sets nest, and batch187 covers their batch members, but
    // the union is explicit so a membership edit can never silently
    // un-gate the schedule). Round-18 derivation (VERDICT r17 item 1):
    // the r16 AND r17 driver benches were killed by the harness wall
    // (rc 124), and rep 1's ALPHABETICAL order meant the r17 kill
    // landed on the s* tail — erroring stream16 members s7–s9 and
    // destroying gated subtotal membership. Rep 1 therefore runs every
    // gated row FIRST (alphabetical within each segment, still
    // deterministic), so an external kill — which cannot be prevented
    // from here — sacrifices only ungated certification rows and the
    // artifact's gated subtotals stay complete.
    val gatedRow: String => Boolean = n =>
      batch187(n) || core82(n) || core192(n) ||
        isStream16(n) || isStream18(n)
    // Rep-1 SOFT BUDGET (round 18, same derivation): once rep 1 has
    // run longer than this, remaining UNGATED rows are recorded as
    // skipped instead of run — on a box slow enough to threaten the
    // harness wall, rep 1 finishes the gated segment and sheds the
    // optional tail, landing a complete-gated artifact with rc 0
    // rather than rc 124 with parsed: null. Gated rows are NEVER
    // skipped (rep 1 stays honest); a skipped row reports -1 with its
    // name in `skipped`, distinct from `errors`.
    // The DEFAULT budget is scaled by the CORE DEFICIT (round 20,
    // VERDICT r19 item 2): the driver's low-core scaling rep runs the
    // same registry on a fraction of the box (SPARK_GRAFT_CPUS=8 on a
    // 32-core box ⇒ up to ~4× the wall per row), and the flat 840 s
    // default shed 28 ungated rows there — leaving the round's
    // scaling.per_query comparison without their low-core samples. An
    // explicit env value always wins; otherwise 840 s × (box cores /
    // benched cores), capped at 4× so a mis-set CPUS cannot disarm the
    // budget entirely. The deadline stays flat: rep 1 is never aborted
    // by it, and reps 2–3 are optional extras either way.
    val coreDeficit = math.min(4.0, math.max(1.0,
      Runtime.getRuntime.availableProcessors.toDouble / cpus.toInt))
    val rep1BudgetS = sys.env.get("SPARK_GRAFT_REP1_BUDGET_S")
      .map(_.toLong.max(60L))
      .getOrElse((840 * coreDeficit).toLong)
    val skippedRows = scala.collection.mutable.ArrayBuffer.empty[String]
    var rep1BudgetHit = false
    // Queries whose first execution pays a one-time physical-layout build
    // (bucketed tables, partitioned rewrites) that min-of-reps then hides.
    // For these the artifact carries `build_s` = rep-1 time minus the
    // steady-state min — the honest price of the build, reported instead
    // of silently dropped.
    val buildOnce: Set[String] = Set("q42_bucketed_join", "q49_dpp_join")
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    // Residency instrumentation (VERDICT r14 item 1b): the round-14
    // driver artifact showed three queries inflating ONLY inside the
    // 202-query bench session (d22/q71/d31 ran 1.9–4× faster solo on
    // the same box), and min+spread alone cannot localize why. Each
    // timed run therefore also records, chronologically per rep:
    //   - its RUN-ORDER index (is the inflation positional?),
    //   - the JVM GC-time delta across it (heap pressure?),
    //   - the janino COMPILE-count delta across it (codegen-cache
    //     thrash — soft-referenced compiled classes reclaimed under
    //     pressure force re-compilation; the round-9/12 failure shape),
    //   - heap used after the post-query sweep (monotone growth = a
    //     session-residency leak).
    // All land in bench.json so the DRIVER's own artifact localizes
    // the cause instead of hiding it in min+spread.
    val gcDeltas = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val cgDeltas = scala.collection.mutable.Map.empty[String, List[Long]]
      .withDefaultValue(Nil)
    val ordIdx = scala.collection.mutable.Map.empty[String, List[Int]]
      .withDefaultValue(Nil)
    val heapAfter = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val jitDeltas = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val ccAfter = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val stealS = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    var stealRetries = 0
    def gcMs: Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime.toDouble).sum
    }
    def heapMb: Double = {
      val rt = Runtime.getRuntime
      (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
    }
    // JIT churn telemetry: a query that stalls with ZERO GC delta (the
    // round-15 q71 signature — 97 s wall, gc 0, normal janino counts)
    // is waiting on something; if the JIT-compilation-time delta spikes
    // with it and the code cache sits at its ceiling, the cause is
    // CODE-CACHE exhaustion (thousands of generated classes' nmethods
    // accumulate; when the fixed-size cache fills, the JVM flushes/
    // deoptimizes and hot loops run interpreted until recompiled).
    // Hypervisor CPU-steal telemetry (/proc/stat, cumulative CPU-seconds
    // summed over cores): the round-15 stall investigation found
    // minutes-long windows (104 s on s10 whose steady min is 0.3 s; zero
    // GC, JIT and code-cache flat, CONSECUTIVE run-order neighbors slowed
    // together regardless of query) — the box is a VM guest and the host
    // steals its cores in bursts. A box-wide sampler caught one window
    // at steal = 24 CPU-s per 8 s interval against ~4 CPU-s of demand:
    // ~80% of every runnable slice stolen, which serializes the session
    // on Spark's single-threaded scheduler path while 94% of the box
    // reads idle. The honest contamination measure is therefore steal as
    // a fraction of DEMANDED cpu — stealΔ / (stealΔ + busyΔ) — NOT of
    // elapsed × cores (the guest is mostly blocked during a burst, so
    // that fraction stays deceptively small; the first cut of this gate
    // used it and missed the windows). A contaminated sample is
    // DISCARDED and re-measured (bounded retries; a heavily-stolen
    // attempt sleeps first, since bursts outlast an immediate retry), so
    // a hypervisor burst cannot masquerade as an engine regression in
    // min-of-reps. Both counters -1 when unreadable (non-Linux).
    def cpuStat: (Double, Double) =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try {
          val f = src.getLines().next().trim.split("\\s+")
          // fields: cpu user nice system idle iowait irq softirq steal
          ((f(1).toDouble + f(3).toDouble) / 100.0, f(8).toDouble / 100.0)
        } finally src.close()
      } catch { case scala.util.control.NonFatal(_) => (-1.0, -1.0) }
    val stealFracLimit = 0.15
    // Retry budget BOUNDED (round 17): each discard re-runs the query
    // and a heavy burst adds a 10 s wait, so an unbounded budget on a
    // stolen box turns into tens of minutes of added wall — the r16
    // driver bench DNF'd (rc 124), and a round-17 local run on a box
    // absorbing ~2000 steal-CPU-s demonstrated the mechanism. Worst
    // case added wall is now ~20 re-runs + ≤ 120 s of sleeps; past the
    // budget, contaminated samples are RECORDED (visible in their
    // steal column) instead of silently re-measured — a complete
    // artifact with noisy samples beats a timeout with no artifact.
    var stealRetryBudget = 20
    var stealSleepBudgetMs = 120000L
    def jitMs: Double =
      Option(java.lang.management.ManagementFactory.getCompilationMXBean)
        .filter(_.isCompilationTimeMonitoringSupported)
        .map(_.getTotalCompilationTime.toDouble).getOrElse(-1.0)
    def codeCacheMb: Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith("CodeHeap"))
        .map(_.getUsage.getUsed / (1024.0 * 1024.0)).sum
    }
    // DEADLINE (round 17, after the r16 driver DNF): rep 1 covers
    // EVERY query, so the artifact is complete after it — later reps
    // only tighten the min. On a steal-stormy box the full 3-rep
    // schedule can outrun the driver's wall (a round-17 local run on a
    // box absorbing ~2000 steal-CPU-s ran 3× its calm wall), so once
    // the elapsed time crosses the deadline, reps ≥ 2 stop — between
    // reps AND mid-rep (their samples are optional extras; rep 1 is
    // never aborted, keeping every subtotal complete). Loud line +
    // `reps_completed` in the artifact; min-of-fewer-samples with a
    // complete artifact beats rc 124 with parsed: null.
    val deadlineS = sys.env.getOrElse("SPARK_GRAFT_DEADLINE_S", "840")
      .toLong.max(60L)
    // benchStartNs is captured ABOVE, before the untimed warm-up, so
    // warm-up wall counts against both budgets (see the warm-up note).
    def pastDeadline: Boolean =
      (System.nanoTime() - benchStartNs) / 1000000000L > deadlineS
    var repsCompleted = 0
    var deadlineHit = false
    (1 to reps).foreach { rep =>
      if (rep > 1 && pastDeadline) {
        if (!deadlineHit) System.err.println(
          s"[bench] deadline: > ${deadlineS}s elapsed — stopping after " +
            s"$repsCompleted complete rep(s); min is over fewer samples")
        deadlineHit = true
      } else {
      // Deterministic per-rep order: rep 1 is gated-membership rows
      // first (registry order within each segment — see gatedRow),
      // later reps are seeded shuffles — same schedule every run,
      // different neighbors every rep.
      val fullOrder =
        if (rep == 1)
          registry.filter(q => gatedRow(q._1)) ++
            registry.filterNot(q => gatedRow(q._1))
        else {
          val shuffled = new scala.util.Random(0xb7a9L * rep).shuffle(registry)
          // Rep 2 runs UNGATED rows first — rep-1-skipped rows at the
          // very front (VERDICT r18 item 4): rep 1 protects the gated
          // subtotals, so on a slow box the rep-1 soft budget sheds
          // exactly the ungated tail, and with alphabetical/shuffled
          // rep-2 order those rows were structurally starved of driver
          // walls for three straight rounds (the 27 post-freeze rows
          // have never been driver-measured). Whatever budget survives
          // rep 1 now measures never-sampled rows before re-sampling
          // rows that already have a rep-1 time. Rep 3 stays a plain
          // shuffle for neighborhood variety.
          if (rep == 2) {
            val (skippedQ, rest) = shuffled.partition(q => skippedRows.contains(q._1))
            val (ungated, gated) = rest.partition(q => !gatedRow(q._1))
            skippedQ ++ ungated ++ gated
          } else shuffled
        }
      // Stream-cert rows sample only the first `streamReps` reps —
      // later reps drop them from the schedule entirely (min-of-reps
      // just has fewer stream samples to take the min over; batch
      // rows' neighborhoods still vary per rep via the seeded shuffle).
      val order =
        if (rep <= streamReps) fullOrder
        else fullOrder.filterNot(q => isStreamCert(q._1))
      order.zipWithIndex.foreach { case ((name, fn), idx) =>
        // mid-rep deadline abort, reps >= 2 only (see the deadline
        // comment above — rep-2/3 samples are optional extras)
        if (rep > 1 && (deadlineHit || pastDeadline)) {
          if (!deadlineHit) System.err.println(
            s"[bench] deadline: > ${deadlineS}s elapsed mid-rep $rep — " +
              "aborting the remaining optional samples")
          deadlineHit = true
        } else if (rep == 1 && !gatedRow(name) && (rep1BudgetHit ||
            (System.nanoTime() - benchStartNs) / 1000000000L >
              rep1BudgetS)) {
          // rep-1 soft budget: shed the remaining UNGATED rows (gated
          // rows are scheduled before this segment and never skipped)
          if (!rep1BudgetHit) System.err.println(
            s"[bench] rep-1 budget: > ${rep1BudgetS}s elapsed — " +
              "skipping the remaining ungated rows (recorded in " +
              "`skipped`; gated subtotals are already complete)")
          rep1BudgetHit = true
          skippedRows += name
        } else {
        // SPARK_GRAFT_TRACE=1: per-query start lines (stderr), so a
        // stalled query can be caught in the act (jstack while the
        // line is the log's last) — off by default to keep the
        // driver-captured output tail on the min/spread summary.
        if (sys.env.get("SPARK_GRAFT_TRACE").contains("1"))
          System.err.println(
            s"[bench][run] rep $rep idx $idx $name @${System.nanoTime() / 1000000000L}")
        var attempt = 0
        var recorded = false
        var sampled = false
        // A buildOnce query's rep-1 run pays its one-time layout build;
        // discarding that attempt would let the retry find the layout
        // already built and record a warm time as "rep 1" — build_s
        // would silently read ≈ 0 (the exact misreport its guard
        // comment forbids). A contaminated build sample stays, visible
        // in its steal column, rather than silently deflating build_s.
        val retryable = !(buildOnce(name) && rep == 1)
        while (!recorded) {
          val (busy0, st0) = cpuStat
          val gc0 = gcMs
          val jit0 = jitMs
          val cg0 = org.apache.spark.sql.graft.bridge.codegenCompileCount
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            val elapsed = (System.nanoTime() - t0) / 1e9
            val (busy1, st1) = cpuStat
            // EITHER read failing means the interval is unmeasurable:
            // st1 - (-1) or -1 - st0 would be garbage (a large negative
            // delta recorded verbatim corrupts the steal telemetry the
            // round-15 stall analysis reads)
            val stDelta = if (st0 < 0 || st1 < 0) 0.0 else st1 - st0
            val busyDelta = if (busy0 < 0) 1.0 else math.max(0.0, busy1 - busy0)
            val frac = stDelta / math.max(1e-9, stDelta + busyDelta)
            if (frac > stealFracLimit && stDelta > 0.5 && attempt < 2 &&
                retryable && stealRetryBudget > 0) {
              // contaminated by a hypervisor steal burst: discard and
              // re-measure; a heavily-stolen attempt waits the burst out
              // first (windows run minutes — an immediate retry lands
              // right back inside). Sleep is untimed wall-clock only.
              attempt += 1
              stealRetryBudget -= 1
              stealRetries += 1
              if (frac > 0.3 && stealSleepBudgetMs > 0) {
                Thread.sleep(10000)
                stealSleepBudgetMs -= 10000L
              }
              sweep()
            } else {
              samples(name) = elapsed :: samples(name)
              // -1 sentinel when /proc/stat is unreadable: an
              // unmeasurable box must not read as a steal-free one
              stealS(name) =
                (if (st0 < 0 || st1 < 0) -1.0 else stDelta) :: stealS(name)
              gcDeltas(name) = (gcMs - gc0) :: gcDeltas(name)
              jitDeltas(name) = (jitMs - jit0) :: jitDeltas(name)
              cgDeltas(name) =
                (org.apache.spark.sql.graft.bridge.codegenCompileCount - cg0) ::
                  cgDeltas(name)
              ordIdx(name) = idx :: ordIdx(name)
              recorded = true
              sampled = true
            }
          } catch {
            case e: Throwable =>
              errors += s"$name: ${e.getClass.getSimpleName}: " +
                String.valueOf(e.getMessage).take(120)
              recorded = true
          }
        }
        sweep()
        // appended ONLY for recorded samples: an errored rep must not
        // shift these chronological arrays out of alignment with
        // queries_reps/queries_order (the correlation the telemetry
        // exists for)
        if (sampled) {
          heapAfter(name) = heapMb :: heapAfter(name)
          ccAfter(name) = codeCacheMb :: ccAfter(name)
        }
        }
      }
      if (!deadlineHit) repsCompleted = rep
      }
    }
    val results = registry.map { case (name, _) =>
      val times = samples(name)
      val best = if (times.isEmpty) -1.0 else times.min
      val spread = if (times.isEmpty) -1.0 else times.max - times.min
      val expReps = if (isStreamCert(name)) streamReps else reps
      System.err.println(
        f"[bench] $name%-24s min $best%8.2f s  spread $spread%6.2f s  (${times.size}/$expReps ok)")
      (name, best, spread)
    }
    def jmap(kv: Seq[(String, Double)], fmt: Double => String): String =
      kv.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    // Compact time format for the stdout line: ~3 significant digits,
    // locale-pinned. The driver's artifact keeps only the LAST 2000 chars
    // of output, so the whole JSON line must fit there or the per-query
    // block is truncated away (r1–r3 all lost it); full precision lives in
    // bench.json instead.
    def fmtT(t: Double): String =
      if (t < 0) "-1"
      else java.lang.String.format(java.util.Locale.ROOT,
        if (t >= 100) "%.0f" else if (t >= 10) "%.1f"
        else "%.2f", Double.box(t))
    val errJson = errors.map(e => Graft.jsonString(e)).mkString("[", ",", "]")
    // `skipped` means "this row has NO sample in this artifact" (ADVICE
    // r18): a row shed by the rep-1 soft budget stays in the rep-2/3
    // schedules (rep 2 deliberately runs it first), so with a raised
    // deadline it may carry a perfectly valid min — listing it as
    // skipped then would misreport a sampled row as absent. Drop any
    // name that later acquired a sample; keep only genuinely unsampled
    // rows.
    val skippedFinal = skippedRows.filter(n => samples(n).isEmpty).toList
    val skipJson = skippedFinal.map(Graft.jsonString).mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // core82_n records how many of the frozen 82 produced a valid time:
    // if a member errors, its time is EXCLUDED from core82_total, which
    // would otherwise read as a spurious round-over-round improvement —
    // a consumer must treat core82_total as comparable only when
    // core82_n == 82.
    val core82Times = results.filter(r => core82(r._1))
      .map(_._2).filter(_ >= 0)
    val core82Total = core82Times.sum
    val core82N = core82Times.size
    val core153Times = results.filter(r => core153(r._1))
      .map(_._2).filter(_ >= 0)
    val core153Total = core153Times.sum
    val core153N = core153Times.size
    val core158Times = results.filter(r => core158(r._1))
      .map(_._2).filter(_ >= 0)
    val core158Total = core158Times.sum
    val core158N = core158Times.size
    val core167Times = results.filter(r => core167(r._1))
      .map(_._2).filter(_ >= 0)
    val core167Total = core167Times.sum
    val core167N = core167Times.size
    val core192Times = results.filter(r => core192(r._1))
      .map(_._2).filter(_ >= 0)
    val core192Total = core192Times.sum
    val core192N = core192Times.size
    // The GATED batch signal since round 17 (BASELINE.md "batch187
    // freeze"): frozen-membership subtotal over the round-15 driver
    // artifact's 187 batch rows. The all-rows batch mean is
    // informational once this field exists in the artifact.
    val batch187Times = results.filter(r => batch187(r._1))
      .map(_._2).filter(_ >= 0)
    val batch187Total = batch187Times.sum
    val batch187N = batch187Times.size
    val streamCert = results.filter(r => isStreamCert(r._1))
      .map(_._2).filter(_ >= 0)
    val streamOverhead = streamCert.sum
    val streamN = streamCert.size
    // The GATED stream signal: frozen-membership subtotal (s7–s22, the
    // 16 round-14 rows — BASELINE.md "Stream-cert gate re-derivation").
    // s23+ rows stay in stream_overhead_s but outside this freeze.
    val stream16 = results.filter(r => isStream16(r._1))
      .map(_._2).filter(_ >= 0)
    val stream16Total = stream16.sum
    val stream16N = stream16.size
    // The round-15 freeze nesting it (s7–s24 — BASELINE.md "stream18
    // freeze"); s25+ rows stay in stream_overhead_s but outside both.
    val stream18 = results.filter(r => isStream18(r._1))
      .map(_._2).filter(_ >= 0)
    val stream18Total = stream18.sum
    val stream18N = stream18.size
    // build_s: samples are prepended per rep, so .last is the rep-1
    // (chronologically first) run — the one that pays any build-once
    // cost. Attributable ONLY when every rep succeeded: if rep 1 threw,
    // .last would be a later steady-state rep and build_s ≈ 0 would
    // silently misreport the build as free.
    val buildS = results.collect {
      case (name, best, _) if buildOnce(name) && best >= 0 &&
          samples(name).size == reps =>
        name -> math.max(0.0, samples(name).last - best)
    }
    // Per-query chronological arrays (lists were PREPENDED per rep, so
    // reverse restores rep order). Written only to the full artifact.
    def jarr[A](kv: Seq[(String, Seq[A])]): String =
      kv.map { case (k, vs) =>
        "\"" + k + "\":" + vs.mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    def chron[A](m: collection.Map[String, List[A]]): Seq[(String, Seq[A])] =
      registry.map { case (name, _) => name -> m(name).reverse }
    // Locale-pinned like fmtT: a comma decimal separator would corrupt
    // the JSON arrays.
    def fmtD(digits: Int)(t: Double): String =
      java.lang.String.format(java.util.Locale.ROOT, s"%.${digits}f",
        Double.box(t))
    // Full-precision artifact (times + spreads + reps + residency
    // instrumentation) written to the repo root, where the per-round
    // auto-commit preserves it whole.
    val full = s"""{"metric":"total","value":$total,"unit":"sec","core82_total":$core82Total,"core82_n":$core82N,"core153_total":$core153Total,"core153_n":$core153N,"core158_total":$core158Total,"core158_n":$core158N,"core167_total":$core167Total,"core167_n":$core167N,"core192_total":$core192Total,"core192_n":$core192N,"batch187_total":$batch187Total,"batch187_n":$batch187N,"stream_overhead_s":$streamOverhead,"stream_n":$streamN,"stream16_total":$stream16Total,"stream16_n":$stream16N,"stream18_total":$stream18Total,"stream18_n":$stream18N,"jvm_max_heap_mb":${
      Runtime.getRuntime.maxMemory / (1024 * 1024)},"queries":${
      jmap(results.map(r => r._1 -> r._2), _.toString)},"reps":$reps,"reps_completed":$repsCompleted,"queries_spread":${
      jmap(results.map(r => r._1 -> r._3), _.toString)},"queries_reps":${
      jarr(chron(samples).map { case (k, vs) =>
        k -> vs.map(fmtD(3)) })},"queries_order":${
      jarr(chron(ordIdx))},"queries_gc_ms":${
      jarr(chron(gcDeltas).map { case (k, vs) =>
        k -> vs.map(fmtD(0)) })},"queries_jit_ms":${
      jarr(chron(jitDeltas).map { case (k, vs) =>
        k -> vs.map(fmtD(0)) })},"queries_steal_cpu_s":${
      jarr(chron(stealS).map { case (k, vs) =>
        k -> vs.map(fmtD(1)) })},"steal_retries":$stealRetries,"queries_codecache_mb":${
      jarr(chron(ccAfter).map { case (k, vs) =>
        k -> vs.map(fmtD(0)) })},"queries_codegen":${
      jarr(chron(cgDeltas))},"queries_heap_mb":${
      jarr(chron(heapAfter).map { case (k, vs) =>
        k -> vs.map(fmtD(0)) })},"build_s":${
      jmap(buildS, _.toString)},"errors":$errJson,"skipped":$skipJson,"sf":${
      Graft.jsonString(sfDir)}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench.json"), full + "\n")
    System.err.println(s"[bench] full-precision artifact: bench.json (${full.length} chars)")
    val errField = if (errors.isEmpty) "" else s""","errors":$errJson"""
    val skipField =
      if (skippedFinal.isEmpty) "" else s""","n_skipped":${skippedFinal.size}"""
    // Stdout carries only the headline: total, query count, the 5 heaviest
    // queries, and any errors. The driver keeps ~2000 chars of output, and
    // the full 79-query map no longer fits (r4/r5 sat at 1828/~1900 chars,
    // one registration from truncating); per-query times live whole in
    // bench.json, which the per-round auto-commit preserves.
    val top5 = results.filter(_._2 >= 0).sortBy(-_._2).take(5)
    val compact = s"""{"metric":"total","value":${fmtT(total)},"unit":"sec","core82":${
      fmtT(core82Total)},"queries":${
      jmap(top5.map(r => r._1 -> r._2), fmtT)},"n_queries":${results.size
      },"full":"bench.json","sf":${
      Graft.jsonString(sfDir.split('/').last)}$skipField$errField}"""
    System.err.println(s"[bench] stdout line: ${compact.length} chars (must stay < ~1900)")
    // Write straight to the raw FileDescriptor, bypassing Console/sbt logger
    // wrappers, so the driver-captured line carries no `[info] ` prefix
    // (BENCH_r1–r5 all recorded "parsed": null from exactly that).
    val raw = new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.out), true)
    // Print ORDER is load-bearing (VERDICT r18 item 1): the round-18
    // driver bench finished rc 0 but recorded `parsed: null` because
    // this line used to print BEFORE `spark.stop()` — the state-store
    // maintenance pool then raced shutdown and dumped ~2.5 KB of
    // "Could not unload state store provider" stacktrace AFTER it,
    // pushing the JSON out of the driver's bounded tail capture.
    // Therefore: (1) print once here as crash insurance (if shutdown
    // hangs and the harness kills us, an earlier copy beats none),
    // (2) silence the noise at its source by unloading state stores
    // explicitly, (3) stop the session, (4) print AGAIN as the final
    // stdout line, so nothing — stacktrace or sbt `[success]` — can
    // displace the last copy. Both stops are NonFatal-guarded: a
    // shutdown exception must never cost the artifact line.
    raw.println(compact)
    raw.flush()
    try org.apache.spark.sql.graft.bridge.stopStateStores()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] state-store stop failed (ignored): $e") }
    try spark.stop()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] spark.stop failed (ignored): $e") }
    raw.println(compact)
    raw.flush()
  }
}
