package graft.bench

/** Committed per-query steady-state anchors at sf0.1 (seconds), measured
  * as pass-2 of a local `SPARK_GRAFT_REPEAT=2` full-suite run (warm
  * caches, quiet machine — the protocol SCALING.md's tables use).
  *
  * Purpose (round 13, VERDICT r12 "What's wrong" #2): the bench's
  * noise-rerun rider used to self-adjudicate only queries whose
  * bracketing cal samples flagged load WITHIN the run — but the r12
  * driver artifact ran on a loaded VM whose spikes fell between samples,
  * smearing ~5 line numbers (d13 13.8 s vs ~3 s steady, d12, t33, e14,
  * siw) with no rider to contest them. Anchoring on committed data makes
  * the check absolute: any query whose pass-1 line exceeds
  * [[graft.Bench]]'s 2.5× multiple of its anchor is re-run isolated and
  * carries the adjudicated number in the `rerun` rider, whatever the cal
  * samples saw.
  *
  * Maintenance contract: re-measure when a query's PLAN changes (the
  * value is data about the code, like a golden file); a missing entry
  * just means no absolute anchor — the cal-bracket heuristic still
  * applies. Values are deliberately coarse (2 dp) — the rider fires at
  * 2.5×, so ±20% measurement variance cannot flip it.
  */
object SteadyState {
  /** Per-query adjudication multiplier override (default 2.5 in
    * [[graft.Bench]]): a pass-1 line above `mult × anchor` is re-run.
    * Wide-variance queries need a tighter trigger — a22's wall is a
    * smooth 7.7–10.4 s per-task-CPU/JIT band (SCALING.md "Round 15:
    * a22 bimodality decomposed"),
    * so with the anchor at the 9.0 median the default 2.5× would only
    * fire at 22.5 s and let a 14.76 s load smear (the r14 line) ride;
    * 1.3× (trigger 11.7) adjudicates real smears while the JIT band
    * rides un-rerun. The multiplier must still clear honest run-to-run
    * variance (±20%), so never set below ~1.25. */
  val adjMult: Map[String, Double] = Map(
    "a22_betweenness" -> 1.3)

  /** Anchor-aware default band (round 17, VERDICT r16 #2): the flat 2.5×
    * let multi-second load smears ride un-adjudicated — on the loaded
    * r16 driver VM, t6 stood at 9.55 s (anchor 4.40, ratio 2.17) and t35
    * at 8.18 s (anchor 3.46, ratio 2.37), ~10 s of machine noise inside
    * adjudicated_sec. A line whose anchor is ≥ 2 s has enough signal
    * that 2.0× still clears the honest ±20% run-to-run variance with
    * 3+ σ to spare, so those lines rerun at 2.0×; sub-2 s anchors keep
    * 2.5× (short lines are dominated by fixed scheduling jitter, where
    * the wider band is the right false-positive guard — and their smear
    * contribution is bounded by the band × a small anchor anyway).
    * Per-query [[adjMult]] overrides still win (they encode a measured
    * variance mode, not a default). */
  private def bandOf(anchor: Option[Double]): Double =
    if (anchor.exists(_ >= 2.0)) 2.0 else 2.5

  def multOf(name: String): Double =
    adjMult.getOrElse(name, bandOf(sec.get(name)))

  /** Anchor-set selection (round 16, VERDICT r15 #4): a 10×-scale bench
    * run must adjudicate against 10× anchors — the r15 sf1 rider ran
    * REPEAT=2 with the sf0.1-anchored rerun stage disabled, so its
    * flagged set was ad hoc. Bench picks the set from the data dir's
    * basename ("sf1" marks the ScaleTestData 10× replica — matched as an
    * exact underscore-delimited token since round 17: a substring test
    * would silently adjudicate an "sf10" or "mysf1x" dir against sf1
    * anchors, ADVICE r16); the sf0.1 driver path is byte-identical to
    * before. The per-query adjMult overrides are sf0.1 measurements and
    * do NOT transfer — sf1 runs use the anchor-aware default band. */
  private def isSf1(sfName: String): Boolean =
    sfName.split("[^A-Za-z0-9.]+").contains("sf1")
  def anchorsFor(sfName: String): Map[String, Double] =
    if (isSf1(sfName)) sf1Sec else sec
  def multFor(sfName: String)(name: String): Double =
    if (isSf1(sfName)) bandOf(sf1Sec.get(name)) else multOf(name)

  /** The deliberately-EXACT verification tiers (round 17, VERDICT r16
    * #5): gates whose configuration is the degenerate-exact anchor of an
    * approximate twin — brute-force / exhaustive / full-probe forms whose
    * cost is quadratic or scan-shaped BY DESIGN (their job is verifying
    * the sub-linear tiers, so "optimizing" them would defeat their
    * purpose). At sf1 e16 alone is ~16% of the ladder and masks the
    * trend of the other ~150 scale-path gates, so [[graft.Bench]] splits
    * the adjudicated total into `exact_sec` (this set) and the
    * scale-tier remainder — full verification coverage, nothing
    * subsampled, but the scale-path trend is a first-class number. */
  val exactTier: Set[String] = Set(
    "e1_ann_bruteforce_topk",  // brute-force cosine top-k (e2/e7/e8/e9/e10/e15 twin)
    "e5_ann_ivf_exact",        // nProbe = nCentroids degenerate IVF
    "e6_ann_lsh_exact",        // zero-bit one-bucket LSH
    "e16_mutual_knn",          // exact quadratic mutual-kNN (e17 twin)
    "e18_mutual_knn_planted_exact",
    "d6_embedding_dups_exact", // exhaustive cosine pairs (d4/d9/d17 twin)
    "d15_semantic_decontam")   // exhaustive cross-corpus tier

  /** sf1 (10×, /tmp/graft_sf1_full — ScaleTestData) steady anchors:
    * round 22 — per-gate BEST steady pass across two same-binary
    * full-suite REPEAT=2 runs (bench_detail_sf1_r22.json /
    * _r22b.json, errors [] in both), with the /proc/stat steal record
    * for both windows committed (plans/r22/steal_samples_r22.txt: run 1
    * carried early bursts, run 2 one mid-run burst; min-of-passes
    * washes per-run bursts out — the residual handful of cpu-dense
    * gates anchored above their r20 values, d13 17.4 vs 12.8 and e16
    * 19.2 vs 16.3, ran under measured residual steal and the loose
    * direction only relaxes rerun bands). The round-22 plan changes
    * moved the toGraphX consumers wholesale (exact-count partition
    * sizing: a5 8.87 → 1.80, a3 3.93 → 0.88, d5 1.05 → 0.24,
    * d8 1.49 → 0.42) plus the fused e14 (2.10 → 0.87) and the
    * m-gates' decode-dispatch fix — stale anchors there would have let
    * a contaminated pass-1 through unre-run.
    * Sparse-by-construction is fine — anchorless queries rank at ratio
    * 1.0 and never flag, exactly like a new gate on the sf0.1 path. */
  val sf1Sec: Map[String, Double] = Map(
    "a10_edge_support" -> 0.12,
    "a11_hits" -> 13.30,
    "a12_modularity" -> 5.94,
    "a13_adamic_adar" -> 2.78,
    "a14_jaccard_links" -> 5.53,
    "a15_harmonic_closeness" -> 6.34,
    "a16_random_walks" -> 3.79,
    "a17_ktruss" -> 11.77,
    "a18_weighted_sssp" -> 6.74,
    "a19_bipartite_projection" -> 1.80,
    "a1_reachable_orders" -> 5.68,
    "a20_clustering_coefficient" -> 2.39,
    "a21_assortativity" -> 3.01,
    "a22_betweenness" -> 9.48,
    "a23_scc" -> 0.02,
    "a24_condensation_layers" -> 4.62,
    "a25_eccentricity" -> 6.06,
    "a2_shortest_hops" -> 5.38,
    "a3_connected_components" -> 0.88,
    "a4_degree_histogram" -> 1.75,
    "a5_pagerank" -> 1.80,
    "a6_triangles" -> 0.10,
    "a7_kcore" -> 8.88,
    "a8_ppr" -> 4.11,
    "a9_label_propagation" -> 0.06,
    "cw_mailed_1hop" -> 0.19,
    "d10_dup_ngrams" -> 1.04,
    "d11_dup_ngram_removal" -> 6.51,
    "d12_leakage_split" -> 0.45,
    "d13_containment_pairs" -> 17.38,
    "d14_ngram_jaccard_banded" -> 9.54,
    "d15_semantic_decontam" -> 1.08,
    "d16_exact_dedup_against" -> 0.75,
    "d17_semantic_dedup_auto" -> 10.20,
    "d1_minhash_near_dups" -> 0.06,
    "d2_simhash_signatures" -> 2.57,
    "d3_ngram_jaccard_pairs" -> 10.36,
    "d4_embedding_near_dups" -> 13.34,
    "d5_dedup_clusters" -> 0.24,
    "d6_embedding_dups_exact" -> 0.32,
    "d7_dedup_against" -> 8.82,
    "d8_dedup_keepers" -> 0.42,
    "d9_semantic_dedup" -> 3.00,
    "e10_ann_ivfsq8_topk" -> 3.92,
    "e11_ann_filtered_topk" -> 1.17,
    "e12_kmeans_clusters" -> 1.95,
    "e13_random_projection" -> 0.25,
    "e14_mmr_rerank" -> 0.87,
    "e15_ann_projected_topk" -> 2.64,
    "e16_mutual_knn" -> 19.20,
    "e17_mutual_knn_ivf" -> 1.05,
    "e18_mutual_knn_planted_exact" -> 0.50,
    "e1_ann_bruteforce_topk" -> 0.31,
    "e2_ann_lsh_topk" -> 2.85,
    "e3_embedding_cluster_stats" -> 0.18,
    "e4_ann_ivf_topk" -> 1.68,
    "e5_ann_ivf_exact" -> 0.92,
    "e6_ann_lsh_exact" -> 0.46,
    "e7_ann_pq_topk" -> 2.30,
    "e8_ann_ivfpq_topk" -> 2.66,
    "e9_ann_sq8_topk" -> 1.70,
    "g10_graph_query_subgraph" -> 3.04,
    "g11_orth_overlay_match" -> 1.22,
    "g12_createmem_diff" -> 2.70,
    "g13_unbounded_reachability" -> 3.53,
    "g14_temp_nested_layers" -> 1.72,
    "g15_planned_strategy" -> 1.55,
    "g16_where_predicate" -> 1.76,
    "g17_bucketed_reopen" -> 5.99,
    "g18_planned_middle" -> 1.46,
    "g1_building_customer_orders" -> 0.51,
    "g2_parts_of_customer_orders" -> 1.26,
    "g3_out_degrees" -> 1.05,
    "g4_union_overlap" -> 0.99,
    "g5_second_next_order" -> 3.07,
    "g6_orders_to_customer_backedges" -> 0.27,
    "g7_part_suppliers_3hop" -> 2.62,
    "g8_dml_roundtrip" -> 1.28,
    "g9_csv_dict_ingest" -> 3.24,
    "m1_media_features" -> 0.23,
    "m2_media_near_dups" -> 1.08,
    "m3_crossmodal_dedup" -> 1.24,
    "m4_audio_near_dups" -> 0.66,
    "miw_bulk_ingest" -> 0.05,
    "q10_scalar_functions" -> 0.45,
    "q11_analytic_windows" -> 0.79,
    "q1_pricing_summary" -> 1.14,
    "q2_revenue_by_nation" -> 0.92,
    "q3_top_customers" -> 0.67,
    "q4_first_events_per_user" -> 0.49,
    "q5_customers_with_orders" -> 0.66,
    "q6_customers_without_orders" -> 0.54,
    "q7_events_hourly" -> 0.48,
    "q8_orders_by_year_priority" -> 0.47,
    "q9_rollup_totals" -> 0.72,
    "qwfa_find_adjacent" -> 0.54,
    "qwfn_find_neighbours" -> 0.23,
    "qwfs_find_shortest" -> 0.37,
    "s10_attribution" -> 0.63,
    "s11_trending_types" -> 0.41,
    "s12_session_stats" -> 1.21,
    "s13_sessionize_stream" -> 7.64,
    "s14_sliding_window_stream" -> 12.20,
    "s1_sliding_window_counts" -> 0.59,
    "s2_user_sessions" -> 0.74,
    "s3_asof_join" -> 0.88,
    "s4_event_pairs" -> 1.18,
    "s5_event_funnel" -> 0.58,
    "s6_retention_cohorts" -> 0.92,
    "s7_type_transitions" -> 0.70,
    "s8_window_anomalies" -> 0.59,
    "s9_active_users" -> 0.65,
    "siw_incremental_ingest" -> 2.30,
    "t10_interleave_sources" -> 0.19,
    "t11_repetition" -> 0.28,
    "t12_normalize" -> 0.31,
    "t13_ngram_decontam" -> 0.49,
    "t14_token_stats" -> 0.71,
    "t15_length_stats" -> 0.34,
    "t16_pii" -> 0.52,
    "t17_token_budget" -> 0.76,
    "t18_length_filter" -> 0.40,
    "t19_surprisal" -> 1.20,
    "t1_token_counts" -> 0.31,
    "t20_line_dedup" -> 0.91,
    "t21_tfidf" -> 2.32,
    "t22_bm25" -> 3.26,
    "t23_dsir_weights" -> 2.06,
    "t24_stratified_sample" -> 0.15,
    "t25_weighted_sample" -> 0.88,
    "t26_bigram_surprisal" -> 2.15,
    "t27_heavy_hitters" -> 0.53,
    "t28_c4_filters" -> 0.26,
    "t29_corpus_entropy" -> 0.67,
    "t2_dedup_exact" -> 0.32,
    "t30_gopher_filters" -> 0.96,
    "t31_collocations" -> 1.26,
    "t32_bpe_merges" -> 1.69,
    "t33_bpe_token_counts" -> 1.19,
    "t34_naive_bayes" -> 3.79,
    "t35_textrank" -> 2.00,
    "t36_perplexity_buckets" -> 1.43,
    "t37_vocab" -> 0.42,
    "t38_readability" -> 0.50,
    "t39_distinct_tokens" -> 0.64,
    "t3_doc_stats" -> 0.26,
    "t40_distinct_tokens_sketch" -> 0.45,
    "t41_chunking" -> 0.34,
    "t42_mixture_rebalance" -> 0.55,
    "t43_source_overlap" -> 3.54,
    "t44_source_overlap_sketch" -> 2.16,
    "t4_quality_scores" -> 0.61,
    "t5_lang_id" -> 0.80,
    "t6_fingerprints" -> 2.00,
    "t7_deterministic_sample" -> 0.14,
    "t8_pack_sequences" -> 0.54,
    "t9_decontamination" -> 0.20)
    // 157 anchors from graft_sf1_full ts_ms=1786925522215 total=500.708

  /** sf0.1 steady seconds by full query name (round-13 measurement:
    * pass-2 of the full-suite REPEAT=2 run, 2026-08-14, quiet VM,
    * cal_ms all 9-11; e17/e18 from an isolated REPEAT=2 run after their
    * corpus was resized to n=2000/c10). */
  val sec: Map[String, Double] = Map(
    // a6/a10/a17/a20 re-measured 2026-08-15 after the co-purchase session
    // memos (edge relation + support + triangles warmed in train phase;
    // a6/a10 now emit their memo) and the incremental-truss rewrite
    "a10_edge_support" -> 0.15,
    // re-measured 2026-08-14 after the once-per-iteration normalization
    // + single-base-scan setup restructure (isolated REPEAT=2 pass-2)
    "a11_hits" -> 9.22,
    "a12_modularity" -> 2.78,
    "a13_adamic_adar" -> 1.40, // r18: shared triangle-set memo
    "a14_jaccard_links" -> 1.60, // r18: explicit triangle-set memo
    "a15_harmonic_closeness" -> 3.87,
    "a16_random_walks" -> 2.19,
    "a17_ktruss" -> 4.9, // re-measured 2026-08-15 r14: guard folded into the seed join (groupBy-collapsed support0)
    "a18_weighted_sssp" -> 3.55,
    "a19_bipartite_projection" -> 1.19,
    "a1_reachable_orders" -> 1.85,
    "a20_clustering_coefficient" -> 1.0, // re-measured 2026-08-15 r14: free full-outer wrong-graph guard
    "a21_assortativity" -> 1.56,
    // a22 re-anchored 2026-08-15 r15 after the a22 decomposition
    // (SCALING.md "a22 bimodality decomposed"): 4 JVMs × 20 passes show
    // wall ≈ executor CPU 1:1 with task count constant (160), GC ≈ 0,
    // fetch-wait 0 — the "modes" are per-task CPU under JIT warmth, a
    // smooth 7.7–10.4 s band, not two plan states. Anchor = the 9.0
    // cross-JVM steady median; adjMult 1.3 (trigger 11.7) adjudicates
    // genuine load smears (r14's 14.76) while the JIT band rides.
    "a22_betweenness" -> 9.0,
    "a23_scc" -> 0.02,
    // a24 re-measured 2026-08-15 r14: the round-13 probe-job coverage
    // guard replaced by a raise_error projection riding the arc build
    // (left joins + null-tolerant cut; zero extra jobs) — 6.35 → 6.1
    "a24_condensation_layers" -> 6.1,
    "a25_eccentricity" -> 3.69, // isolated REPEAT=2, 2026-08-15 (gate added round 13)
    "a2_shortest_hops" -> 1.49,
    "a3_connected_components" -> 0.51,
    "a4_degree_histogram" -> 1.16,
    "a5_pagerank" -> 0.9,
    "a6_triangles" -> 0.11,
    // t43/t44 measured 2026-08-15 (isolated REPEAT=2 pass-2, quiet VM)
    "t43_source_overlap" -> 2.10, // r18: wideT documents scan
    "t44_source_overlap_sketch" -> 1.20, // r18: wideT documents scan
    "a7_kcore" -> 3.02,
    "a8_ppr" -> 2.73,  // re-measured 2026-08-14: window-degree single-scan setup
    "a9_label_propagation" -> 0.03,
    "cw_mailed_1hop" -> 0.2,
    "d10_dup_ngrams" -> 0.7,
    "d11_dup_ngram_removal" -> 2.41,
    "d12_leakage_split" -> 1.87,
    "d13_containment_pairs" -> 2.59,
    "d14_ngram_jaccard_banded" -> 4.61,
    "d15_semantic_decontam" -> 0.55, // r18: floor-fix exchange cost at small scale
    "d16_exact_dedup_against" -> 0.49,
    // d17/m3 measured 2026-08-15 (gates added round 16; isolated
    // REPEAT=3 pass-2/3, quiet VM). d17's steady excludes the width
    // calibration + centroid training the bench train phase owns.
    "d17_semantic_dedup_auto" -> 1.54,
    "m3_crossmodal_dedup" -> 0.97,
    "d1_minhash_near_dups" -> 0.04,
    "d2_simhash_signatures" -> 1.58,
    "d3_ngram_jaccard_pairs" -> 2.67,
    "d4_embedding_near_dups" -> 2.20, // re-measured 2026-08-15: score-then-dedup restructure
    "d5_dedup_clusters" -> 1.6, // isolated REPEAT=3 (full-run pass-2 read 6.2 under tail contention)
    "d6_embedding_dups_exact" -> 0.45, // r18 re-measure
    "d7_dedup_against" -> 4.11,
    "d8_dedup_keepers" -> 1.79,
    "d9_semantic_dedup" -> 1.32, // re-measured 2026-08-15: score-then-dedup restructure (narrow dedup exchange)
    "e10_ann_ivfsq8_topk" -> 2.54,
    "e11_ann_filtered_topk" -> 0.51,
    "e12_kmeans_clusters" -> 1.19,
    "e13_random_projection" -> 0.39,
    "e14_mmr_rerank" -> 1.81,
    "e15_ann_projected_topk" -> 2.80, // r18: floor-fix exchange cost at small scale (sf1-side win; SCALING.md)
    "e16_mutual_knn" -> 1.50, // r18: 64KB widening floor (780KB corpus = 4M pairs ran as ONE task)
    "e17_mutual_knn_ivf" -> 1.85, // r18: floor fix adds small-scale exchanges here (sf1 wins 1.30->0.87; net positive, SCALING.md)
    "e18_mutual_knn_planted_exact" -> 1.10, // r18: 64KB widening floor
    "e1_ann_bruteforce_topk" -> 0.43,
    "e2_ann_lsh_topk" -> 2.71,
    "e3_embedding_cluster_stats" -> 0.2,
    "e4_ann_ivf_topk" -> 1.24,
    "e5_ann_ivf_exact" -> 0.55, // r18: 64KB widening floor
    "e6_ann_lsh_exact" -> 0.43,
    "e7_ann_pq_topk" -> 3.13,
    "e8_ann_ivfpq_topk" -> 5.69,
    "e9_ann_sq8_topk" -> 1.79,
    "g10_graph_query_subgraph" -> 4.15,
    "g11_orth_overlay_match" -> 0.74,
    "g12_createmem_diff" -> 1.85,
    "g13_unbounded_reachability" -> 3.88,
    "g14_temp_nested_layers" -> 2.3,
    // g15-g17 + s13 measured 2026-08-15 (gates added round 14; isolated
    // REPEAT=3 pass-2/3, quiet VM). s13's steady excludes the one-time
    // streaming-machinery first-touch (~18 s incl. state-store/codegen
    // init, honest on the driver's first pass and visible cross-pass on
    // stderr); g17's wall is the bucketed SAVE of the edge relation —
    // persistence IS the op.
    "g15_planned_strategy" -> 1.35,
    "g16_where_predicate" -> 1.53,
    "g17_bucketed_reopen" -> 3.8,
    "s13_sessionize_stream" -> 6.2, // re-measured 2026-08-15 r16: atomic single-file chunk pushes (race fix) — fewer files to list/read
    // g18/s14 measured 2026-08-15 (gates added round 15; isolated
    // REPEAT=3 pass-2/3, quiet VM). s14's wall is the s13 shape: 7
    // micro-batches × 4 state partitions (r15 sweep) of fixed
    // streaming-aggregation state-store commit I/O — the data is small,
    // the wall is commit latency, and it's the only gate exercising
    // watermarked window state across micro-batches.
    "g18_planned_middle" -> 1.8,
    "s14_sliding_window_stream" -> 7.4, // re-measured 2026-08-15 r16: atomic single-file chunk pushes
    "g1_building_customer_orders" -> 0.5,
    "g2_parts_of_customer_orders" -> 2.17,
    "g3_out_degrees" -> 1.02,
    "g4_union_overlap" -> 0.61,
    "g5_second_next_order" -> 2.24,
    "g6_orders_to_customer_backedges" -> 0.39,
    "g7_part_suppliers_3hop" -> 3.35,
    "g8_dml_roundtrip" -> 0.69,
    "g9_csv_dict_ingest" -> 1.93,
    "m1_media_features" -> 0.3, // re-measured 2026-08-15 r15 isolated REPEAT=3 (0.29/0.29; the r14 0.72 reading carried warm-path cost the train phase now owns)
    "m2_media_near_dups" -> 0.45, // re-measured 2026-08-15 r15 isolated REPEAT=3 (0.47/0.42)
    "m4_audio_near_dups" -> 0.6, // measured 2026-08-15 r17 isolated REPEAT=3 (0.79/0.44)
    "miw_bulk_ingest" -> 0.06,
    "q10_scalar_functions" -> 0.21,
    "q11_analytic_windows" -> 0.62,
    "q1_pricing_summary" -> 1.06,
    "q2_revenue_by_nation" -> 0.54,
    "q3_top_customers" -> 0.49,
    "q4_first_events_per_user" -> 0.37,
    "q5_customers_with_orders" -> 0.27,
    "q6_customers_without_orders" -> 0.28,
    "q7_events_hourly" -> 0.34,
    "q8_orders_by_year_priority" -> 0.38,
    "q9_rollup_totals" -> 0.56,
    "qwfa_find_adjacent" -> 0.66,
    "qwfn_find_neighbours" -> 0.28,
    "qwfs_find_shortest" -> 0.32,
    "s10_attribution" -> 0.39,
    "s11_trending_types" -> 0.4,
    "s12_session_stats" -> 0.85, // re-measured 2026-08-15 r14 isolated REPEAT=3
    "s1_sliding_window_counts" -> 0.58,
    "s2_user_sessions" -> 0.56,
    "s3_asof_join" -> 0.59,
    "s4_event_pairs" -> 0.42,
    "s5_event_funnel" -> 0.37,
    "s6_retention_cohorts" -> 0.69,
    "s7_type_transitions" -> 0.5,
    "s8_window_anomalies" -> 0.41,
    "s9_active_users" -> 0.37,
    "siw_incremental_ingest" -> 2.9, // bimodal op (2.6 ↔ 10.9 across passes); anchor = the quiet mode so the slow mode gets adjudicated
    "t10_interleave_sources" -> 0.18,
    "t11_repetition" -> 0.28,
    "t12_normalize" -> 0.17,
    "t13_ngram_decontam" -> 0.51,
    "t14_token_stats" -> 0.68,
    "t15_length_stats" -> 0.29,
    "t16_pii" -> 0.6,
    "t17_token_budget" -> 0.3,
    "t18_length_filter" -> 0.24,
    "t19_surprisal" -> 0.82,
    "t1_token_counts" -> 0.14,
    "t20_line_dedup" -> 0.61,
    "t21_tfidf" -> 1.18,
    "t22_bm25" -> 1.31,
    "t23_dsir_weights" -> 1.09,
    "t24_stratified_sample" -> 0.11,
    "t25_weighted_sample" -> 0.22,
    "t26_bigram_surprisal" -> 1.84,
    "t27_heavy_hitters" -> 0.41,
    "t28_c4_filters" -> 0.26,
    "t29_corpus_entropy" -> 0.62,
    "t2_dedup_exact" -> 0.21,
    "t30_gopher_filters" -> 1.32,
    "t31_collocations" -> 1.25,
    "t32_bpe_merges" -> 1.53,
    "t33_bpe_token_counts" -> 2.25,
    "t34_naive_bayes" -> 1.90, // r18: likelihood broadcast
    "t35_textrank" -> 3.46,
    "t36_perplexity_buckets" -> 1.6,
    "t37_vocab" -> 0.64,
    "t38_readability" -> 1.06,
    "t39_distinct_tokens" -> 0.82,
    "t3_doc_stats" -> 0.33,
    "t40_distinct_tokens_sketch" -> 0.47,
    "t41_chunking" -> 0.5,
    "t42_mixture_rebalance" -> 0.92,
    "t4_quality_scores" -> 0.79,
    "t5_lang_id" -> 1.26,
    "t6_fingerprints" -> 0.55, // wideT re-measure 2026-08-16 r17 isolated REPEAT=2 steady (was 4.4: the scan ran as ONE task)
    "t7_deterministic_sample" -> 0.13,
    "t8_pack_sequences" -> 0.43,
    "t9_decontamination" -> 0.29
  )
}
