"""Regenerate SURVEY.md §2.5 — the graded operator-inventory contract —
mechanically from the query registry (VERDICT r8 item 5).

The registry (`hyppo_worker_spark.queries.load_all()`) is the source of
truth; this tool holds the family taxonomy (every registry name assigned
to exactly one family, with the family's engine-surface prose) and
rewrites the section between the `### 2.5` heading and the `## 3.`
separator. It FAILS LOUD if any registry name is unassigned or any
assigned name is stale, so the section cannot drift again
(`tests/test_survey_sync.py` runs the same check plus a
rendered-vs-file equality assert under pytest).

    python tools/gen_survey_25.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# family -> (registry names, engine-surface prose). Order is the render
# order. Every registered query must appear in exactly one family.
FAMILIES: list[tuple[str, list[str], str]] = [
    # ---- dedup ---------------------------------------------------------
    ("exact dedup",
     ["d01_exact_dedup_groups", "d02_exact_dedup_kept",
      "d15_canonical_selection"],
     "digest groupBy keep-first; quality-aware canonical selection — "
     "normalized-digest groups keep the cleanest member via deterministic "
     "argmax, with the keep-min-id disagreement count reported"),
    ("exact-substring / boilerplate dedup",
     ["d13_exact_substring_repeats", "d18_boilerplate_removal"],
     "k-token repeated-span detection with run coalescing + coverage basis "
     "points (the Lee et al. 2022 signal), one hash-keyed shuffle; d18 is "
     "the ACTIONABLE tier — k-grams past a document-frequency threshold "
     "(cross-doc boilerplate, not within-doc repetition) are stripped with "
     "occurrence-interval UNION coverage and the uncovered tokens rejoined "
     "IN ORDER, the whole rewrite pinned byte-for-byte by an md5 checksum "
     "over every cleaned text; the df table is the only corpus-wide "
     "aggregate and the qualifying gram set broadcasts back"),
    ("near-dup: MinHash+LSH",
     ["d03_minhash_lsh_pairs", "d06_training_corpus_pipeline",
      "d10_incremental_neardup"],
     "single-shuffle signatures, band buckets, co-group verify; composed "
     "corpus curation pipeline; incremental batch-vs-corpus check"),
    ("near-dup: SimHash / n-gram Jaccard",
     ["d04_simhash_sketches", "d05_ngram_jaccard_pairs"],
     "sketches + banded candidates"),
    ("near-dup: embedding cosine / SemDeDup",
     ["d08_embedding_neardup_dedup", "d11_semantic_dedup",
      "d16_semantic_dedup_two_level", "d17_projection_lsh_neardup",
      "s03_cosine_neardup_pairs"],
     "banded sign-LSH → exact cosine → connected components; "
     "SemDeDup k-means-cluster-scoped exact pairwise with DATA-DERIVED "
     "centroid counts (`similarity.derive_n_centroids`); two-level "
     "IVF-style assignment scale path with a driver-checkable 10%-of-flat "
     "recall bound (`similarity.two_level_assign`); RANDOM-PROJECTION "
     "(Rademacher/SimHash) banding past the raw-component bucket "
     "ceiling — 2^bits buckets per band decoupled from the embedding "
     "width, md5-parity weights, folds bit-identical across engines "
     "so the full machinery is SQL-mirrored (`vectors.py:"
     "banded_projection_buckets`); all-pairs oracle"),
    ("connected components",
     ["d07_dedup_clusters"],
     "large-star/small-star, O(log n) rounds; size-adaptive bounded "
     "local solve with distributed fallback "
     "(`dedup.connected_components_adaptive`, the measured launch-"
     "floor cut — NOTES_r11)"),
    ("split assignment / leakage safety",
     ["d14_split_assignment"],
     "cluster-atomic 80/10/10 train/val/test split — near-dup components "
     "share one md5-gated split, naive-split leak count quantified"),
    ("corpus versioning / erasure",
     ["d12_snapshot_diff", "p06_manifest_time_travel",
      "p31_erasure_vs_time_travel"],
     "snapshot-to-snapshot diff (added/removed/changed/unchanged) via "
     "full-outer id join on scan-side digests; manifest SNAPSHOT "
     "VERSIONING with checksum-verified time-travel reads — "
     "`read_committed(version=n)` reproduces the corpus AS OF any "
     "retained version (`sources/integration_source.py`); GDPR-style "
     "erasure that DEFEATS history — shared data files rewritten once, "
     "every retained snapshot re-stamped, fail-loud crash window, "
     "rerun-convergent (`erase_rows`)"),
    ("merge-on-read deletes (deletion vectors)",
     ["q85_deletion_vector_reads", "p41_streaming_deletion_vectors"],
     "the delete tier between append-only and erase_rows' "
     "copy-on-write: the Delta/Iceberg position-delete layout as "
     "RELATIONAL packed-word bitmaps "
     "(`operators/deletion_vectors.py` — (fid, word, bits_w), the "
     "bloom.py 32-bit-word discipline) — delete batches fold by "
     "bit_or (idempotent: double-deletes are the same bit, exercised "
     "on overlapping waves), readers anti-apply the folded sidecar in "
     "ONE map-side broadcast join (engine-asserted: the fact side is "
     "never shuffled for the read tax), an all-integer bit_count "
     "density gate names which file groups earned the copy-on-write "
     "rewrite, and the hot-group rewrite (ordinals re-stamped, "
     "sidecar rows dropped) is pinned value-identical to the "
     "pre-rewrite read; the oracle replays live = NOT(deleted) — a "
     "single wrong bit shifts the aggregates; p41 runs the delete "
     "side CONTINUOUSLY — retraction batches stream through "
     "foreachBatch, each resolved to persisted ordinals and packed "
     "into a per-batch overwrite shard (replay-idempotent twice "
     "over: overwrite dirs AND bit_or algebra), reads replayed at "
     "every batch boundary with the broadcast apply engine-asserted, "
     "live counts monotone (no resurrection) and folded popcount "
     "equal to arrived deletes (no lost or double-counted bits); the "
     "data zone is never rewritten on the delete path"),
    ("sharding / export",
     ["t13_shard_manifest", "d09_corpus_export_manifest"],
     "deterministic md5-bucket shard writer + manifest "
     "(`operators/sharding.py`); end-to-end curated export manifest"),
    # ---- similarity ----------------------------------------------------
    ("similarity search",
     ["s01_knn_cosine_bruteforce", "s02_knn_sign_bucket", "s04_knn_ivf",
      "s05_knn_ivf_multiprobe", "s06_int8_quantization", "s07_pq_adc_topk",
      "s08_range_search", "s09_hard_negatives", "s10_pca_power_iteration",
      "s11_truncated_retrieval", "s20_margin_bitext_mining",
      "s21_indexed_bitext_mining"],
     "brute-force top-k; sign-bucket ANN; k-means IVF nprobe 1/2; int8 "
     "quantization stats; product-quantization ADC at 32x compression — "
     "m-keyed fixed-point Lloyd codebooks, integer lookup-table distances "
     "(`operators/pq.py`); cosine range/radius search — the dedup-verify "
     "primitive (`similarity.range_search`); contrastive hard-negative "
     "mining — top-k most-similar strictly below the near-dup band; "
     "distributed PCA head via integer-exact X^T X sufficient statistics "
     "(executor-side int64 partials, pure-integer power iteration); "
     "Matryoshka-style truncated-prefix retrieval agreement (top-5 "
     "overlap + top-1 match at 64/32/16 dims — the prefix-scan "
     "cost-quality gate); margin-based bitext mining (Artetxe & Schwenk "
     "ratio margin, the LASER/CCMatrix parallel-corpus rule — "
     "`similarity.margin_bitext_mine`): cos over the mean of both "
     "endpoints' average top-k cross-side cosines, MUTUAL-argmax pairs "
     "only (hubness control), everything after the bit-identical cosine "
     "fold on an integer grid (cos6 / top-k sums / one positive-operand "
     "division to basis points) — planted cross-side twins recovered "
     "100/0 at 1.5x margin over a random background; s21 is the SCALE "
     "form — the same margin algebra (`similarity.margin_mine_pairs`, "
     "shared code) over IVF-bucketed candidates from a shared "
     "2-round-Lloyd quantizer, A probing top-2 cells, with all-integer "
     "cand_pairs and recall_bp honesty columns riding in the row (100% "
     "planted recall at 27% of the pairs; the 2 index-relaxation false "
     "positives are visible in the output)"),
    ("vector index maintenance",
     ["s12_incremental_ivf_maintenance", "s13_streaming_ivf_admission",
      "s14_incremental_pq_maintenance", "s17_streaming_ivfpq_admission"],
     "train-once persisted IVF index (`operators/ivf_index.py` — "
     "centroids + assignments parquet, the embedding twin of the "
     "persisted LSH index): a new embedding batch is admitted by "
     "assignment against the PERSISTED quantizer (O(batch·k) broadcast, "
     "no retrain, append-only), and retraining is decided by an "
     "all-integer basis-point L1 population-DRIFT GATE pinned from both "
     "directions — the real batch admits with the gate quiet, a planted "
     "all-one-cell batch fires it from the same index; made CONTINUOUS "
     "in s13 — embedding batches stream through foreachBatch admission "
     "against the persisted centroids with the gate re-evaluated per "
     "batch into an idempotent per-batch ledger (batch=<id> overwrite "
     "dirs: replay rewrites identical bytes), the oracle replaying the "
     "full cumulative-drift evolution in SQL; the PQ codes-side twin "
     "(`operators/pq.py:PqIndex`) persists the m×k codebooks and admits "
     "by ENCODING against them, with the drift gate PER SUBSPACE — a "
     "fired gate names WHICH codebooks to retrain (s14, planted "
     "all-code-0 batch fires all m gates from the engine); the COMPOSED "
     "index's lifecycle closes in s17 — embedding batches stream through "
     "the persisted-artifact encode (coarse-assign → residual → PQ code, "
     "O(batch·(k + m·k)), `IvfPqIndex.encode_batch/admit`) with the "
     "per-subspace gate folded INCREMENTALLY per trigger (prev ledger + "
     "batch counts, O(batch + m·k) I/O — the s13 lesson applied from "
     "day one), oracle replaying coarse Lloyd → residuals → residual-PQ "
     "Lloyd → encode → cumulative per-(m, code) drift per batch_seq"),
    ("vector index serving (read path)",
     ["s15_persisted_ivf_query", "s16_ivfpq_residual_search",
      "s18_search_under_admission", "s19_filtered_ann_search"],
     "query the PERSISTED index with NO training job in the search "
     "lineage — the read path the maintenance rows built the write "
     "path for: s15 probes the persisted centroids and reads only the "
     "probed inverted lists (`IvfIndex.export_cells`/`search` — cells/ "
     "parquet PARTITIONED BY cell; the bounded probed-cell list becomes "
     "a literal partition filter), both properties asserted FROM THE "
     "ENGINE as columns (no ExistingRDD in the plan; PartitionFilters "
     "on cell) with an all-integer recall_bp bound vs in-plan exact "
     "brute force; s16 composes the two indexes into the production "
     "IVF-PQ layout (`operators/ivfpq.py:IvfPqIndex` — FAISS IVFPQ): "
     "coarse cells over PQ codes of the per-cell RESIDUAL "
     "(v − centroid[cell]), codes partitioned by cell, search = coarse "
     "probe + residual ADC lookup tables against persisted codebooks "
     "over only the probed cells' codes, every adist pinned bit-exact "
     "by a full-machinery SQL replay; s18 closes the lifecycle "
     "composition — vectors admitted AFTER training (append-only, no "
     "retrain) are immediately FINDABLE and can themselves QUERY: "
     "top-5 ADC for admitted queries over the grown index from a "
     "fresh handle, n_admitted_hits pinning post-training neighbors, "
     "recall bounded vs exact L2 over the full grown corpus — the "
     "read-your-admissions consistency check; s19 adds METADATA-"
     "FILTERED search — pre-filter (semi-join on the probed cells' "
     "codes: exact top-k over the qualifying subset, "
     "`IvfPqIndex.search(allowed=)`) vs post-filter on the same "
     "queries, BOTH recalls pinned against the exact label-restricted "
     "L2 truth: the measured argument for pushing the filter into the "
     "index instead of the result page"),
    # ---- text ----------------------------------------------------------
    ("language ID / quality",
     ["t01_language_id", "t02_quality_scores", "t12_repetition_signals",
      "t19_unigram_surprisal", "t28_bigram_surprisal", "t30_ngram_novelty",
      "t33_gopher_repetition"],
     "stopword argmax; length/punct/stopword ratios; repetition signals; "
     "integer-exact unigram surprisal; bigram CONDITIONAL surprisal with "
     "unigram backoff (the CCNet-style perplexity filter, whole-bit "
     "integer-exact); corpus-relative n-gram novelty profile with a "
     "skew-proof three-path plan (df-1 grams holder-side, cold flags "
     "bounded equi-join, hot flags salt-replicated); GOPHER repetition "
     "filters (Rae et al. 2021 Table A1) in word-n-gram form — "
     "top-2-gram CHAR fraction and duplicate-5-gram covered-char "
     "fraction with occurrence-interval UNION (not t12's occurrence "
     "share: the paper's covered-character semantics), integer basis "
     "points, per-doc metrics + corpus keep/drop verdicts"),
    ("token statistics / retrieval",
     ["t03_token_stats", "t04_fingerprints", "t05_token_frequencies",
      "t09_bigram_collocations", "t20_textrank_keywords",
      "t23_term_retrieval", "t29_bm25_retrieval"],
     "counts + BPE-ish pre-tokenizer; fingerprints; corpus frequencies; "
     "PMI collocations; TextRank keywords via fixed-point weighted "
     "PageRank; inverted-index coordinate ranking; integer-exact BM25 — "
     "piecewise-linear int log2 idf + fixed-point Robertson saturation"),
    ("tokenizer training",
     ["t16_bpe_merges", "t17_bpe_encoding", "t24_vocab_coverage",
      "t34_unigram_viterbi_cost"],
     "distributed BPE merge induction (vocab-table iterations); encoding "
     "with the learned merges; vocabulary coverage curves for budget "
     "sizing; the OTHER major tokenizer algorithm — unigram-LM Viterbi "
     "segmentation (SentencePiece/Kudo 2018 inference): corpus-derived "
     "piece vocab (char coverage + top-50 substrings) priced in whole "
     "bits (t19's length(bin(T div f)) idiom), each word segmented by a "
     "min-cost DP that runs as ONE Catalyst aggregate-fold expression "
     "carrying the dp array (embarrassingly parallel over DISTINCT "
     "words; corpus size enters only via the word-count join), the "
     "oracle replaying the same DP as 16 unrolled MATERIALIZED CTEs; "
     "per-source cost-per-char basis points = the compression-rate OOD "
     "signal"),
    ("chunking / packing",
     ["t08_token_chunks", "t14_sequence_packing", "t32_udtf_chunk_explode"],
     "overlapping token windows; distributed prefix-sum sequence packing "
     "(`operators/packing.py`); Python UDTF chunk fan-out joined "
     "LATERALly in SQL — the table-function surface"),
    ("sampling / mixing",
     ["t06_stratified_sample", "t07_weighted_sample", "t15_source_mix",
      "t25_source_drift", "t26_temperature_mix"],
     "stratified gate; weighted race; target-mix quotas; per-source "
     "distribution-drift guard (integer L1 vs the corpus profile); "
     "alpha=0.5 temperature-scaled source mixing, integer-exact via "
     "floor(sqrt) weights + md5 admission gates"),
    ("decontamination",
     ["t11_decontamination", "t22_source_overlap"],
     "n-gram overlap vs parameterized eval set — broadcast probe with "
     "shuffle fallback above the broadcast threshold "
     "(`operators/decontamination.py`); cross-source shared-shingle "
     "overlap matrix with presence caps against universal boilerplate"),
    ("normalization / PII",
     ["t10_normalize_redact", "t31_unicode_nfc_normalize"],
     "URL/email redaction + dedup counts; Unicode NFC normalization — the "
     "primitive Spark has no built-in for, as an Arrow-batched "
     "unicodedata stage vs DuckDB's native nfc_normalize"),
    ("quality classifier",
     ["t18_quality_classifier", "t35_nb_quality_training",
      "p42_streaming_nb_refresh"],
     "hashing-trick linear scoring (fastText-shaped): hashed "
     "unigram+bigram features, broadcast frozen weight table, all-integer "
     "keep decision; t35 closes the gap t18 leaves open — it TRAINS the "
     "classifier: multinomial Naive Bayes against a stopword-density "
     "weak label (the heuristic-positive-set bootstrap real curation "
     "stacks use), md5-hash 80/20 split, training = ONE (word, class) "
     "sufficient-statistics shuffle, Laplace costs in MILLIBITS via "
     "t29's piecewise-linear integer log2 (whole-bit quantization "
     "measurably collapses to the majority class), argmin integer "
     "decision — 8653 bp held-out accuracy at sf0.01, pinned per-source "
     "in the row; p42 runs the trainer CONTINUOUSLY — the training "
     "corpus streams in 3 md5 blocks, each foreachBatch trigger folds "
     "the batch's (word, class) counts into an idempotent per-batch "
     "model ledger (sufficient statistics are associative — the s13 "
     "incremental-fold lesson applied to a MODEL, O(batch + vocab) per "
     "trigger) and re-scores the fixed held-out set; the final batch's "
     "cumulative counts equal the one-shot training set, so the stream "
     "provably converges to t35's model (8365 -> 8461 -> 8653 bp at "
     "sf0.01, last row pinned equal)"),
    ("batch shaping",
     ["t21_padding_waste"],
     "padding-waste measurement for fixed-size batches, arrival vs "
     "length-sorted policies, global ranks via the distributed prefix-sum "
     "operator"),
    # ---- sketches ------------------------------------------------------
    ("frequency / quantile / set sketches",
     ["q46_cms_heavy_hitters", "q47_quantile_sketch", "q48_kmv_set_sketch",
      "q49_bloom_runtime_filter", "q27_approx_aggregates",
      "q44_hll_shard_rollup", "q60_sliding_distinct_rollup",
      "q65_native_sketch_rollup"],
     "relational count-min sketch (shard-merge by addition, broadcast "
     "point queries) maintained per micro-batch "
     "(`streaming/sketch_maintenance.py`); integer log2-histogram "
     "quantiles with provable <1/8 relative error; mergeable KMV with "
     "intersection estimates; packed-bitmap Bloom runtime filter "
     "(`operators/bloom.py`); HLL++ / quantile sketches validated in-plan "
     "vs exact; per-day HLL shard rollups + trailing-7-day sliding "
     "distinct union; native DataSketches HLL/theta/bitmap stack"),
    # ---- storage / layout ---------------------------------------------
    ("storage layout / data skipping",
     ["q50_zorder_skipping", "q54_zonemap_pruning", "p28_rebalance_write",
      "q73_dynamic_partition_pruning", "q75_sorted_export",
      "q80_nested_schema_pruning", "q81_max_records_per_file",
      "q83_bloom_file_manifest", "p40_streaming_bloom_manifest"],
     "z-order (Morton) clustered export with min-max pruning on every "
     "clustered dimension verified from parquet footers "
     "(`operators/zorder.py`); distributed zonemap build from REAL "
     "footers via mapInPandas + manifest-based file pruning "
     "(`operators/zonemap.py`); REBALANCE-hinted write shaping — the "
     "small-files control, file counts asserted from the committed "
     "directory; small-file compaction (`maintenance.compact`); DYNAMIC "
     "partition pruning — the runtime skip path for filters only known "
     "after evaluating the dim side, dynamicpruning subquery asserted "
     "in the executed plan; globally-sorted RANGE-shard export at exact "
     "percentile_disc cutpoints — one sorted file per shard, strict "
     "[min,max] disjointness proven from the committed parquet footers; "
     "NESTED schema pruning — an aggregate over one struct leaf scans "
     "ReadSchema struct<meta:struct<priority>> ONLY, sibling leaves and "
     "the payload array never leave the file (asserted from the "
     "executed scan); maxRecordsPerFile proven EXACT from committed "
     "footers — the writer-side file-roll cap (full files then the "
     "remainder, counts summing back to the table), completing p28's "
     "partition-side REBALANCE from the other end; FILE-LEVEL BLOOM "
     "INDEX — per-file-group membership filters over a high-cardinality "
     "NON-partition column (the case min/max zonemaps and partition "
     "pruning cannot skip), persisted as a relational manifest "
     "(`bloom.bloom_candidates`), point lookups read only the candidate "
     "groups via a literal partition filter (engine-asserted), "
     "no-false-negatives engine-asserted vs the unpruned count, the "
     "exact candidate set — false positives included — replayed by the "
     "oracle's md5 arithmetic; maintained under CONTINUOUS ingest in "
     "p40 — per-batch shards built from the WRITTEN file groups and "
     "OR-merged (the mergeable contract, never re-reading earlier "
     "data), point lookups replayed at EVERY batch boundary with "
     "pruning and no-false-negatives engine-asserted mid-lifecycle"),
    ("dimension history (SCD2) / merge",
     ["q30_merge_upsert", "q51_scd2_history", "q52_temporal_scd2_join",
      "p39_streaming_scd2_pit_enrichment"],
     "keyed upsert audit; type-2 close-and-append versioning with no-op "
     "resubmission guard (`operators/merge.py:scd2_apply`); point-in-time "
     "temporal join against the history — the label-leakage guard; "
     "maintained continuously from CDC (`streaming/scd2_maintenance.py`); "
     "STREAMING point-in-time enrichment — a CDC stream maintains the "
     "history, then the fact stream joins the version valid AT EVENT "
     "TIME per micro-batch (broadcast, zero state operators asserted "
     "in-progress: the leakage guard made continuous)"),
    # ---- relational breadth (the §2.4 categories, exercised row-by-row)
    ("relational: aggregation core",
     ["q01_pricing_summary", "q06_forecast_revenue", "q09_rollup_qty",
      "q11_distinct_parts", "q20_grouping_sets", "q23_price_percentiles",
      "q26_price_histogram", "q33_array_agg", "q35_conditional_aggregates"],
     "grouped partial+final aggregates, rollup/grouping sets, exact "
     "distincts, percentiles, histograms, array_agg, "
     "count_if/bool_and/bool_or — all whole-stage-codegen built-ins"),
    ("relational: joins",
     ["q02_customer_by_region", "q03_shipping_priority",
      "q04_order_priority_semi", "q05_customers_without_orders",
      "q14_promo_revenue", "q15_small_quantity_orders",
      "q17_price_band_range_join", "q21_asof_join",
      "q22_nation_coverage_full_outer", "q25_global_sales_opportunity",
      "q28_cheapest_supplier_per_nation", "q39_salted_hot_keys",
      "q41_bucketed_colocated_join", "q57_interval_bin_join",
      "q69_aqe_skew_join", "q74_runtime_bloom_filter"],
     "broadcast/SMJ/semi/anti/full-outer/range/as-of; scalar-subquery + "
     "anti; two-phase salted hot keys; zero-exchange bucketed co-located "
     "fact joins (`operators/bucketing.py`); bin-bucketed interval "
     "overlap joins; AQE skew-join split proven in-plan; the INJECTED "
     "runtime Bloom filter (bloom_filter_might_contain asserted on the "
     "fact scan — rows die before the shuffle)"),
    ("relational: window functions",
     ["q07_top_suppliers_per_nation", "q08_user_running_state",
      "q18_sessionize", "q29_order_window_suite",
      "q36_rolling_window_range_frame", "q38_distribution_windows",
      "q58_gap_fill_interpolate", "q59_month_over_month",
      "q70_window_group_limit"],
     "rank/lag/lead/ntile/percent_rank/cume_dist/nth_value; RANGE frames; "
     "gap-fill + IGNORE-NULLS interpolation; period-over-period deltas; "
     "rank()<=k through the WindowGroupLimit pushdown (proven in-plan); "
     "hand-rolled sessionize kept as the session_window contrast"),
    ("relational: shape / set / sort",
     ["q10_set_ops", "q12_top_orders", "q16_pivot_status",
      "q31_multiset_ops", "q32_unpivot_measures"],
     "union/intersect/except + multiset exceptAll/intersectAll; "
     "TakeOrderedAndProject top-k; single-pass pivot; unpivot to long "
     "form"),
    ("relational: scalar / semi-structured",
     ["q13_scalar_functions", "q24_json_props", "q34_ship_latency",
      "q37_edit_distance_drift", "q45_variant_ingestion",
      "q64_collated_aggregation"],
     "string/math/date/conditional built-ins; classic JSON paths and "
     "Spark 4 VARIANT parse-once/extract-typed; Levenshtein drift; "
     "native UTF8_LCASE collation inside the hash aggregate"),
    ("relational: recursive / hierarchical",
     ["q40_recursive_month_spine", "q67_recursive_chain_fold",
      "q72_chain_fold_scale_twin"],
     "Spark 4 WITH RECURSIVE: gap-filled date spine; per-customer order "
     "chains walked by a recursive CTE with a reset-on-threshold carried "
     "accumulator; the 100 TB scale twin — the same fold as one "
     "customer-keyed shuffle + mapInPandas sequential fold "
     "(depth-independent, value-pinned equal)"),
    ("relational: SQL-text surface",
     ["q61_sql_correlated_subquery", "q62_sql_text_dedup",
      "q66_listagg_report", "q68_lateral_table_subquery",
      "q71_sql_pipe_syntax"],
     "correlated scalar + EXISTS subqueries de-correlated by Catalyst; "
     "multi-statement text (CREATE TEMPORARY VIEW + windowed CTE dedup); "
     "ordered listagg + DISTINCT listagg; LATERAL table subqueries; the "
     "Spark 4 |> pipe-syntax pipeline — plus parameterized SQL binds "
     "(tested injection-safe)"),
    ("event analytics",
     ["q19_event_time_windows", "q42_retention_cohorts",
      "q43_conversion_funnel", "q63_session_window_native"],
     "tumbling event-time windows; retention triangle; strict-order "
     "conversion funnel (the match_recognize gap expressed relationally); "
     "NATIVE session_window with the exact strictly-greater-gap split "
     "boundary property-pinned"),
    ("time-series / anomaly / experimentation",
     ["q53_mad_outliers", "q55_ab_experiment", "q56_integer_ols_trend",
      "q77_grouped_arrow_regression"],
     "exact median + 3*MAD robust outlier gates; deterministic md5-gate "
     "arm assignment with integer lift + 3-sigma sample-ratio-mismatch "
     "guard; integer-exact OLS trend from sufficient statistics — global "
     "(built-in aggregates) and per-entity via groupBy().applyInArrow "
     "(the grouped-map Arrow UDF shape: zero-copy group tables, integer "
     "numerator/denominator for bit-exact cross-engine slopes)"),
    ("relational: optimizer steering",
     ["q76_join_hint_matrix", "q78_cbo_join_reorder",
      "q79_aqe_coalesce_partitions"],
     "the escape hatches for when the optimizer's estimates are wrong — "
     "all four join-strategy hints (BROADCAST/MERGE/SHUFFLE_HASH/"
     "SHUFFLE_REPLICATE_NL) each forced and asserted from the executed "
     "plan under disabled auto-broadcast; the opposite direction: "
     "ANALYZE column statistics + spark.sql.cbo.joinReorder re-plan a "
     "worst-first join chain (leaf-order flip asserted from the "
     "optimized plan, catalog rowCount pinned exact); and the runtime "
     "direction: AQE coalesces a deliberately-256-partition exchange "
     "(AQEShuffleRead coalesced asserted in-plan) — with q69's skew "
     "split, task size bounded from both sides"),
    # ---- pipeline / reference surface ----------------------------------
    ("reference pipeline end-to-end",
     ["p01_ingestion_pipeline", "p02_raw_pipeline", "p12_format_roundtrips"],
     "the full §2.A operation cycle (validate → create tasks → fetch → "
     "process → persist → complete) run as one engine job over lineitem "
     "and over the gzip raw path; all six batch formats defended by the "
     "round-trip matrix with hostile quoting/escaping columns"),
    ("integration connector (Python DataSource)",
     ["p03_integration_connector", "p04_integration_sink_roundtrip",
      "p25_connector_streaming_loop"],
     "one InputPartition per ingestion task (executor-parallel fetch); "
     "equality/IN + date-range pushdown prunes whole tasks; the write "
     "path commits per-epoch manifests; the worker polling loop as ONE "
     "Structured Streaming query — task-log stream source (offsets = "
     "consumed line counts, rotation + base-offset archiving) into the "
     "exactly-once manifest sink across coordinator waves"),
    ("schema evolution (Avro + parquet zones)",
     ["p19_schema_evolution_roundtrip", "p29_parquet_schema_drift"],
     "declared schemas embedded verbatim (fingerprint-identical round "
     "trip) and full spec Schema Resolution — promotions, reader "
     "defaults, enum fallback (`sources/avro_schema.py`), golden-pinned "
     "and property-tested; two writer versions read as one frame; the "
     "parquet twin — mergeSchema over a zone holding two schema "
     "generations, NULL-fill invariants asserted in-plan"),
    ("data-quality gate / observability",
     ["p22_data_quality_gate", "p34_malformed_record_policy",
      "q82_observe_inflight_metrics"],
     "five-constraint one-pass gate over a deterministically corrupted "
     "staging copy; the three malformed-record "
     "parse modes over a 1-in-13-truncated JSONL zone — PERMISSIVE "
     "quarantine captured IN the ingest scan (corrupt-record column, "
     "counts pinned exact), DROPMALFORMED survivor equality, FAILFAST "
     "raise asserted; DataFrame.observe IN-FLIGHT metrics — row/sum/"
     "domain accumulators riding the real job's scan (no second pass), "
     "pinned equal to the oracle's direct aggregates: the seen-exactly-"
     "once proof under AccumulatorV2 retry semantics, and the zero-"
     "extra-cost tier of the quality story (streaming twin in "
     "`tests/test_observe_metrics.py`)"),
    ("control-plane ledgers",
     ["p09_scheduler_priority_ledger", "p10_ttl_redelivery_ledger",
      "p11_backoff_throttle_curves", "p14_delegation_affinity_ledger",
      "p17_queue_rollup_ledger"],
     "the §2.B scheduler under the data-plane oracle: priority/ack drain "
     "ledger (greedy max-ETA drain provably equal to a global sort); "
     "TTL/dead-letter/redelivery lifecycle; Gompertz backoff + "
     "token-bucket curves under a pinned clock; delegation/affinity/"
     "contention ordering; logical queue rollup with reference-parity "
     "weighted means"),
    # ---- streaming ------------------------------------------------------
    ("streaming ingestion dedup",
     ["p13_streaming_dropdup", "p16_dropdup_within_watermark",
      "p23_stream_checkpoint_resume"],
     "per-micro-batch admission against a persisted LSH index grown "
     "by generation appends (`streaming/ingest_dedup.py`, "
     "`operators/lsh_index.py`); "
     "NATIVE stateful dropDuplicates with cross-batch planted dupes; "
     "dropDuplicatesWithinWatermark with state eviction asserted "
     "in-plan; stop/resume over one checkpoint — recovery replays "
     "nothing and admits later files exactly once"),
    ("streaming maintenance sinks",
     ["p05_streaming_sketch_rollup", "p07_streaming_scd2_cdc",
      "p08_streaming_incremental_cc", "p32_native_file_sink"],
     "per-micro-batch mergeable-sketch rollups (bit-exact merge); "
     "continuous SCD2 from CDC with last-writer batch compaction + "
     "replay guard; incremental connected-components maintenance — only "
     "touched components recomputed, size-adaptive local-solve vs "
     "distributed fallback, committer layout auto-selected from the "
     "measured whole-table-vs-bucketed crossover "
     "(`streaming/incremental_cc.py`); the NATIVE parquet stream sink's "
     "_spark_metadata exactly-once log — a planted orphan part-file is "
     "invisible to committed reads and visible to a raw glob, proving "
     "the log is what readers trust"),
    ("streaming funnel / sessions",
     ["p15_streaming_funnel", "p24_streaming_session_windows"],
     "exact out-of-order conversion funnel with watermark-bounded state "
     "via applyInPandasWithState (`streaming/funnel.py`); NATIVE "
     "streaming session_window over time-ordered drains (strict-gap "
     "merge boundary property-pinned); exactly-once retention cells via "
     "event-time timeout wake-ups (`streaming/retention.py`)"),
    ("stream-stream joins / chained stateful",
     ["p18_stream_stream_join", "p20_stream_stream_outer_join",
      "p26_chained_stateful_rollup"],
     "watermarked symmetric-hash inner join; LEFT OUTER with "
     "watermark-proven null emission and state flushed to <5% of input "
     "(asserted in-plan); join → tumbling-window aggregate CHAINED in "
     "one query (two stateOperators asserted); deterministic hot-key "
     "pre-split for skew (`streaming/skew.py`, replay-safe, measured "
     "85→30s at 10× with one 10% hot key)"),
    ("stream-static enrichment",
     ["p21_stream_static_enrichment"],
     "per-micro-batch broadcast join against a static dimension, proven "
     "stateless in-plan (zero stateOperators)"),
    ("late-data accounting",
     ["p35_late_data_accounting"],
     "the drop side of the watermark contract, pinned on the operator "
     "that guarantees it: a 10-day-late block is discarded by "
     "dropDuplicates and numRowsDroppedByWatermark equals it EXACTLY "
     "(windowed aggregation measured NOT dropping — the docs' 'may or "
     "may not' is real, and append mode re-finalizes the re-opened "
     "window); the SPARK-42376 one-batch late-filter lag measured and "
     "bridged with a replay batch the dedup removes as duplicates"),
    ("multi-input watermark policy",
     ["p33_multi_watermark_union"],
     "union of a 1-hour-delay and a 3-day-delay stream under the MIN "
     "multiple-watermark policy: a block 10 days late for the fast "
     "stream is still admitted (full-corpus oracle equality breaks "
     "under max), and the final progress watermark equals sentinel "
     "minus the SLOW delay — the reason one laggard source stalls "
     "every window of a fused query at scale"),
    ("state-store introspection / backends",
     ["p27_state_store_introspection", "p30_rocksdb_state_backend",
      "p36_rocksdb_changelog_checkpoint", "p37_state_schema_guard",
      "p38_checkpoint_evolution_backfill"],
     "the statestore / state-metadata readers over a real checkpoint — "
     "batchId time travel, operator manifest asserted; the PRODUCTION "
     "backend end-to-end — the same stateful contract under "
     "RocksDBStateStoreProvider with rocksdb custom metrics proving "
     "the provider in the query's own progress, and the RocksDB "
     "checkpoint read back through the statestore source; CHANGELOG "
     "checkpointing — per-batch O(delta) uploads instead of O(state) "
     "snapshots, *.changelog artifacts asserted in the checkpoint and "
     "recovery-by-replay proven by a restarted query landing on the "
     "exact full-corpus rollup; the STATE-SCHEMA FREEZE as a fail-loud "
     "contract — one added aggregate over the same checkpoint dies with "
     "STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE, the original shape "
     "resumes exactly, and the measured zero-batch latency of the guard "
     "(no new data = never consulted) is documented as the reason "
     "deployment checks must read the checkpoint's state-metadata, not "
     "smoke-start; and the SANCTIONED evolution path — a NEW checkpoint "
     "backfilled from the retained zone under a changed aggregation "
     "shape AND a partition rescale (4 → 8, state-metadata asserted), "
     "with the old rollup surviving bit-exact (full-outer join over "
     "both statestore reads, zero mismatched keys: the blue/green "
     "cutover verification)"),
    # ---- multimodal -----------------------------------------------------
    ("multimodal",
     ["m01_media_manifest", "m02_media_header_decode",
      "m03_audio_header_decode", "m04_video_header_decode",
      "m05_fused_features", "m06_perceptual_neardup",
      "m07_audio_pcm_features", "m08_video_frame_sample"],
     "binaryFile manifests through mapInPandas; REAL byte-level header "
     "decode (PNG/GIF/BMP fixed-offset + JPEG marker walk, WAV/RIFF, "
     "MP4/ISO-BMFF box walk); REAL pixel decode + integer box-mean "
     "resize for BMP; REAL 16-bit PCM decode via RIFF chunk walk; "
     "perceptual aHash near-dup over decoded pixels; integer-exact PCM "
     "features; AVI chunk-TREE walk frame sampling with stride from the "
     "file's own cadence metadata — raw-byte formats need no codec "
     "library; compressed-format codecs stay environment-gated with "
     "loud failures (`operators/multimodal.py`)"),
]

HEADER = """### 2.5 Training-data pipeline surface (beyond the reference; graded first-class)

<!-- GENERATED by tools/gen_survey_25.py from the query registry; do not
hand-edit — rerun the tool after registering queries. Enforced by
tests/test_survey_sync.py. -->

The full oracle-backed registry ({n} queries, every entry with a DuckDB
oracle in `hyppo_worker_spark/queries/`), grouped by family. Registry
names are the grading contract: each name is a `queries()` entry the
driver can run side-by-side with its `oracle_sql()`.

| family | registry rows | engine surface |
|---|---|---|
"""


def render(registry_names: set[str]) -> str:
    assigned: list[str] = [n for _, names, _ in FAMILIES for n in names]
    dupes = {n for n in assigned if assigned.count(n) > 1}
    if dupes:
        raise SystemExit(f"duplicated in FAMILIES: {sorted(dupes)}")
    missing = registry_names - set(assigned)
    stale = set(assigned) - registry_names
    if missing or stale:
        raise SystemExit(
            f"registry/FAMILIES drift — unassigned: {sorted(missing)}; "
            f"stale: {sorted(stale)}"
        )
    lines = [HEADER.format(n=len(registry_names)).rstrip("\n")]
    for family, names, prose in FAMILIES:
        full = ", ".join(f"`{n}`" for n in names)
        lines.append(f"| {family} | {full} | {prose} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    from hyppo_worker_spark.queries import load_all

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    survey = os.path.join(root, "SURVEY.md")
    txt = open(survey, encoding="utf-8").read()
    head, rest = txt.split("### 2.5 ", 1)
    _, tail = rest.split("\n## 3. ", 1)
    # keep the trailing "---" separator before §3
    body = render(set(load_all()))
    new = head + body + "\n---\n\n## 3. " + tail
    with open(survey, "w", encoding="utf-8") as fh:
        fh.write(new)
    print(f"rewrote SURVEY.md §2.5 ({len(FAMILIES)} families)")


if __name__ == "__main__":
    main()
