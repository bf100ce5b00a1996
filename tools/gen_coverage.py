#!/usr/bin/env python
"""Generate COVERAGE.md — the SURVEY.md §2.3/§2.4 inventory mapped to the
implemented registry (query module, oracle status). Regenerate after adding
queries: python tools/gen_coverage.py > COVERAGE.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_excel_datasource_spark.plans.registry import ORACLES, load_all_queries

SECTIONS = {
    "Scans / sources / sinks (SURVEY §2.3)": [
        "q_scan_parquet", "q_scan_excel", "q_sink_excel", "q_scan_multifile",
        "q_sink_parquet_partitioned", "q_scan_evolving", "q_scan_csv",
        "q_sink_csv", "q_scan_jsonl", "q_scan_orc", "q_sink_orc",
        "q_scan_text", "q_sink_text", "q_scan_file_lineage",
        "q_scan_excel_sheets", "q_sink_excel_sheets",
        "q_scan_excel_recursive", "q_scan_excel_allsheets",
        "q_scan_tarshard", "q_sink_tarshard", "q_stream_tarshard",
        "q_sink_parquet_bloom", "q_scan_xml", "q_sink_xml",
    ],
    "Lakehouse: Delta (scan / DML / maintenance / stream)": [
        "q_scan_delta", "q_scan_delta_timetravel", "q_sink_delta",
        "q_delta_cdf", "q_delta_merge", "q_delta_optimize",
        "q_delta_zorder", "q_delta_delete_rows", "q_delta_schema_evolution",
        "q_delta_history", "q_stream_delta", "q_stream_delta_upsert",
        "q_federated_join", "q_convert_delta_to_iceberg",
        "q_scan_delta_pruned",
    ],
    "Lakehouse: Iceberg (scan / maintenance / stream / conversion)": [
        "q_scan_iceberg", "q_scan_iceberg_snapshot", "q_iceberg_compact",
        "q_iceberg_expire", "q_iceberg_files", "q_iceberg_incremental",
        "q_iceberg_history", "q_stream_iceberg", "q_convert_iceberg_to_delta",
        "q_scan_iceberg_pruned",
    ],
    "Avro source / sink / stream": [
        "q_scan_avro", "q_sink_avro", "q_stream_avro",
    ],
    "Projection / filter": ["q_project", "q_filter_basic", "q_filter_complex"],
    "Joins": [
        "q_join_inner", "q_join_broadcast", "q_join_left", "q_join_right",
        "q_join_full", "q_join_semi", "q_join_anti", "q_join_theta",
        "q_join_star3", "q_join_asof", "q_join_asof_tolerance",
        "q_join_bucketed", "q_join_skew_salted",
        "q_join_asof_nearest", "q_join_pit", "q_join_null_safe",
        "q_join_range", "q_join_interval_overlap", "q_skew_keys",
        "q_join_dpp", "q_zorder_layout", "q_join_bloom", "q_join_spatial_grid",
        "q_compaction_plan",
    ],
    "Aggregations": [
        "q_agg_group", "q_agg_distinct", "q_agg_stats", "q_agg_rollup",
        "q_agg_cube", "q_agg_gsets", "q_agg_approx", "q_agg_percentile",
        "q_agg_histogram", "q_agg_argmax", "q_agg_mode", "q_agg_listagg", "q_agg_approx_quantile",
        "q_dedup_exact",
        "q_dedup_keep_first", "q_pivot", "q_unpivot", "q_transpose", "q_quantile_bins",
    ],
    "Window functions": ["q_win_rank", "q_win_analytic", "q_win_frame", "q_win_range_frame", "q_win_cume", "q_win_median", "q_weighted_median", "q_win_ntile", "q_win_nth"],
    "Sorts / limits / top-k": ["q_sort_multi", "q_topk", "q_topk_group"],
    "Set operations": ["q_union_all", "q_union_dist", "q_intersect", "q_except"],
    "Scalar functions": [
        "q_fn_string", "q_fn_date", "q_fn_math", "q_fn_cond", "q_fn_array",
        "q_fn_array_agg", "q_fn_explode", "q_fn_json", "q_fn_map", "q_fn_bitwise",
        "q_fn_editdist", "q_fn_variant", "q_fn_xml", "q_fn_collation", "q_fn_try", "q_fn_url",
    ],
    "Subqueries / CTE": [
        "q_subquery_scalar", "q_subquery_correlated", "q_subquery_in", "q_cte",
        "q_lateral_topk", "q_recursive_closure",
    ],
    "Streaming": [
        "q_stream_discover", "q_stream_tumbling", "q_stream_sliding",
        "q_stream_session", "q_stream_watermark", "q_stream_dedup",
        "q_stream_stateful", "q_stream_enrich", "q_stream_join",
        "q_stream_foreachbatch", "q_stream_rate_limit", "q_stream_tws",
        "q_stream_join_outer", "q_stream_join_full", "q_state_reader",
    ],
    "UDF / UDAF / UDTF": [
        "q_udf_scalar", "q_udaf_grouped", "q_udtf", "q_udf_mapinpandas",
        "q_udf_cogroup", "q_udf_mapinarrow", "q_sql_udf",
        "q_udtf_analyze", "q_udtf_table_arg",
    ],
    "Flagship / composite analytics": [
        "q_flagship_pricing", "q_tpch_q5ish", "q_tpch_q10ish", "q_tpch_q3ish",
        "q_tpch_q7ish", "q_tpch_q18ish", "q_tpch_q2ish", "q_tpch_q20ish",
        "q_tpch_q14ish", "q_tpch_q12ish", "q_tpch_q21ish", "q_tpch_q8ish",
        "q_tpch_q4ish", "q_tpch_q6ish", "q_tpch_q9ish", "q_tpch_q11ish",
        "q_tpch_q13ish", "q_tpch_q15ish", "q_tpch_q16ish", "q_tpch_q17ish",
        "q_tpch_q19ish", "q_tpch_q22ish",
        "q_sql_pipe", "q_sql_scripting", "q_execute_immediate",
        "q_fulfillment_latency", "q_return_rates",
        "q_discount_lift",
    ],
    "North-star: dedup (SURVEY §2.4)": [
        "q_dedup_near", "q_dedup_clusters", "q_dedup_minhash",
        "q_dedup_simhash", "q_dedup_minhash_oracled", "q_dedup_simhash_oracled",
        "q_dedup_embed", "q_dedup_embed_lsh",
        "q_dedup_incremental", "q_dedup_incremental_lsh",
        "q_dedup_incremental_lsh_oracled", "q_dedup_embed_lsh_oracled", "q_graph_degree",
        "q_dedup_prefix", "q_dedup_ngram_jaccard", "q_minhash_union_sketch",
        "q_dedup_url", "q_fuzzy_match", "q_dedup_cross_source",
        "q_dedup_chunks", "q_dedup_containment", "q_dedup_semantic_cluster",
        "q_dedup_substring",
    ],
    "North-star: similarity search": [
        "q_sim_topk", "q_sim_selfjoin", "q_sim_ann_lsh", "q_sim_ann_ivf",
        "q_sim_ann_lsh_oracled", "q_sim_ann_ivf_oracled",
        "q_sim_ann_pq", "q_sim_ann_pq_oracled", "q_rank_fusion", "q_trajectory_topk",
    ],
    "North-star: text analysis": [
        "q_text_stats", "q_text_quality", "q_text_langid",
        "q_text_fingerprint", "q_text_winnow", "q_text_winnow_pairs",
        "q_text_tfidf", "q_tokenize", "q_text_lm_score", "q_contamination",
        "q_pii_redact", "q_strip_markup", "q_bm25", "q_pii_luhn",
        "q_inverted_index", "q_strip_boilerplate", "q_text_sentiment",
        "q_text_substring_clean",
    ],
    "North-star: multimodal": ["q_multimodal_cols", "q_multimodal_features", "q_multimodal_dedup", "q_multimodal_frames", "q_multimodal_tarshard", "q_content_chunking", "q_chunk_dedup"],
    "North-star: pipeline composition": [
        "q_split_assign", "q_sample_hash", "q_sample_stratified", "q_sample_weighted",
        "q_pipeline_llm_prep", "q_validate_constraints", "q_mix_budget",
        "q_dedup_weights", "q_quality_tiers", "q_winsorize_by_group",
        "q_sample_exact_pergroup", "q_agg_incremental", "q_mix_temperature",
        "q_skyline_pareto", "q_curriculum_interleave", "q_observe_metrics",
        "q_sample_coordinated", "q_quantile_normalize",
        "q_pipeline_corpus_v2", "q_pipeline_tarshard_ingest",
        "q_sample_importance",
    ],
    "Event analytics": [
        "q_sessionize", "q_funnel", "q_retention", "q_scd2_intervals", "q_event_transitions",
        "q_agg_hll", "q_anomaly_zscore", "q_robust_zscore", "q_fill_forward",
        "q_pattern_sequence", "q_ewma", "q_attribution", "q_agg_countmin",
        "q_delta_lag", "q_resample_timeseries", "q_window_deltas_vs_baseline",
        "q_path_topk", "q_late_data_audit", "q_rolling_dau",
        "q_funnel_ttc", "q_seasonal_baseline", "q_event_autocorr",
        "q_session_entry_exit", "q_rfm_segments", "q_cohort_ltv",
        "q_market_basket", "q_peak_detection", "q_repurchase_intervals",
        "q_seasonality_strength",
    ],
    "Incremental / DML patterns": [
        "q_rollup_hierarchical", "q_merge_upsert", "q_cdc_changelog",
    ],
    "In-plan statistics / ML": [
        "q_regression_by_group", "q_corr_matrix", "q_ab_ttest",
        "q_profile_table", "q_benford_audit", "q_gini_concentration",
        "q_hhi_concentration", "q_abc_classification",
        "q_nb_classify", "q_pipeline_classifier_filter",
        "q_regression_multi", "q_regression_cv",
        "q_eval_confusion", "q_eval_auc", "q_eval_auc_sampled",
        "q_agg_theta",
    ],
    "North-star: corpus prep (chunking / tokenizer / shards)": [
        "q_text_repetition", "q_chunk_tokens", "q_bpe_pair_counts",
        "q_shuffle_shard", "q_pack_context", "q_vocab_coverage",
        "q_corpus_stats", "q_drift_kl", "q_entropy_ngrams", "q_topic_cooccur",
        "q_bpe_encode", "q_zipf_slope", "q_pmi_collocations",
        "q_text_ngram_novelty",
    ],
    "North-star: embedding aggregates / clustering": [
        "q_embed_centroids", "q_embed_quantize", "q_embed_assign",
        "q_embed_norm", "q_embed_pca_power", "q_kmeans_lloyd",
    ],
    "North-star: graph analytics": [
        "q_graph_pagerank", "q_graph_triangles", "q_graph_ppr",
        "q_graph_randomwalk", "q_graph_kcore", "q_graph_cc",
    ],
    "Approximate-structure contract audits": [
        "q_sim_ann_recall", "q_approx_audit", "q_agg_hll_union",
        "q_agg_approx_topk", "q_agg_topk_union",
    ],
}


#: operator-contract roles: exact all-pairs queries are sf-capped oracle
#: baselines; their bucketed twins carry the operator contract at scale.
ROLES = {
    "q_dedup_near": "exact baseline (sf-capped) → scale path: q_dedup_minhash",
    "q_sim_selfjoin": "exact baseline (sf-capped) → scale path: q_sim_ann_lsh",
    "q_dedup_embed": "exact baseline (sf-capped) → scale path: q_dedup_embed_lsh",
    "q_dedup_embed_lsh": "scale path for q_dedup_embed (banded LSH candidates)",
    "q_dedup_minhash": "scale path for q_dedup_near",
    "q_sim_ann_lsh": "scale path for q_sim_topk/q_sim_selfjoin",
    "q_sim_ann_ivf": "scale path for q_sim_topk (centroid buckets)",
    "q_sim_ann_lsh_oracled": "md5 integer hyperplanes → whole sign-LSH pipeline hash-verified",
    "q_sim_ann_ivf_oracled": "md5 integer anchors → bucket-probe-rerank hash-verified",
    "q_sim_ann_pq_oracled": "md5 integer codebooks → PQ encode/ADC/refine hash-verified",
    "q_dedup_embed_lsh_oracled": "md5 integer hyperplanes → embedding canonicalization hash-verified",
    "q_dedup_incremental_lsh_oracled": "md5 minhash index probe → incremental dedup hash-verified",
    "q_join_bucketed": "exchange-free join via bucketBy layout",
    "q_join_skew_salted": "hot-key salting; result == unsalted join",
    "q_text_winnow": "rolling-hash winnowing fingerprints",
    "q_text_winnow_pairs": "partial-overlap pairs via fingerprint equi-join",
    "q_join_range": "interval join via time-bucket banding (2-probe equi-join)",
    "q_stream_stateful": "real applyInPandasWithState micro-batch run, SQL-oracled",
    "q_stream_tws": "Spark 4 transformWithStateInPandas (RocksDB + vendored protobuf wire shim), bit-agrees with the applyInPandasWithState twin",
    "q_split_assign": "content-addressed train/val/test split (no RNG)",
    "q_sample_hash": "deterministic ~10% downsample by content hash",
    "q_pipeline_llm_prep": "quality gate → dedup → split as one plan",
    "q_validate_constraints": "one-pass data-quality gate (nulls/ranges/FK)",
    "q_sample_stratified": "per-stratum deterministic keep-fraction (md5 bucket)",
    "q_sessionize": "gap-based sessions; batch twin of q_stream_session",
    "q_funnel": "ordered funnel, join-free single-shuffle window plan",
    "q_retention": "first-seen cohorts × week offsets",
    "q_scd2_intervals": "gaps-and-islands change tracking (SCD-2 validity)",
    "q_rollup_hierarchical": "daily derived from hourly partials (continuous-aggregate)",
    "q_merge_upsert": "MERGE INTO semantics: one full-outer join, per-row action",
    "q_text_lm_score": "unigram-LM mean NLL quality signal (order-canonical fold)",
    "q_agg_approx_quantile": "GK-sketch quantiles; scale twin of q_agg_percentile",
    "q_dedup_incremental": "new-batch vs corpus cross-set dedup (exact baseline)",
    "q_dedup_incremental_lsh": "scale path: probe the corpus band index with batch sigs",
    "q_tpch_q3ish": "TPC-H Q3 shape: segment filter + top-10 shipping priority",
    "q_tpch_q7ish": "TPC-H Q7 shape: twice-joined nation dim, bilateral volume",
    "q_tpch_q18ish": "TPC-H Q18 shape: HAVING subquery as agg-then-semi-join",
    "q_fn_url": "parse_url decomposition (host/path/query/param extraction)",
    "q_dedup_url": "URL canonicalization dedup (tracking params/fragment stripped)",
    "q_scan_orc": "ORC scan with pushed filters (stripe-stat skipping)",
    "q_agg_incremental": "mergeable-state aggregate maintenance (MV pattern); merge oracle-proven == full recompute",
    "q_pii_luhn": "Luhn-checksum card validation + PCI masking (row-local HOF fold)",
    "q_path_topk": "top-20 session paths (array_sort fold, one user shuffle)",
    "q_ab_ttest": "Welch two-sample t-test per type, one conditional-agg pass",
    "q_join_spatial_grid": "radius self-join via grid-cell banding, exactly-once emission",
    "q_fuzzy_match": "blocked entity resolution: noun blocks + Levenshtein<=3 verify",
    "q_mix_temperature": "temperature-scaled source sampling weights (tau=2, fixed-point)",
    "q_rank_fusion": "reciprocal-rank fusion of BM25 + cosine top-N (hybrid retrieval)",
    "q_bpe_encode": "BPE merge-table application; per-doc token count + fertility",
    "q_skyline_pareto": "Pareto-frontier selection via bucketed prune + tiny global window",
    "q_dedup_cross_source": "priority keep-rule dedup across sources, per-source census",
    "q_late_data_audit": "per-shard watermark lateness census (simulated arrival order)",
    "q_embed_norm": "per-dim mean/std + 3-sigma outlier census (fixed-point exact)",
    "q_curriculum_interleave": "easy->hard per-source rank, round-robin interleave (two-level rank)",
    "q_rolling_dau": "rolling 7-day distinct users via per-user interval merge (no COUNT DISTINCT)",
    "q_compaction_plan": "small-file bin packing over file metadata (next-fit window)",
    "q_tpch_q2ish": "per-part min-cost supplier argmin (Q2 shape, lineitem-derived cost)",
    "q_tpch_q20ish": "nested semi-join chain to excess-volume suppliers (Q20 shape)",
    "q_scan_text": "raw text-line scan + in-plan tab parse (lossless vs parquet oracle)",
    "q_graph_ppr": "personalized PageRank (seed-restart), bit-exact fixed-point",
    "q_graph_randomwalk": "hash-deterministic uniform random walks (DeepWalk sampling), full paths oracled",
    "q_graph_kcore": "self-scaling k-core peel with in-plan convergence verdict",
    "q_scan_delta_pruned": "log-level partition-pruned Delta scan (files never listed)",
    "q_scan_iceberg_pruned": "manifest-entry partition-pruned Iceberg scan",
    "q_eval_auc_sampled": "content-addressed sampled AUC + in-plan 5-sigma bound vs exact",
    "q_embed_pca_power": "top principal component: dims^2-bounded moments + power iteration",
    "q_win_nth": "NTH_VALUE second/third event per user, rank-1 reduce on one sort",
    "q_scan_xml": "Spark 4 native XML scan, bound schema, rowTag mode",
    "q_sink_xml": "parallel XML directory sink + bound-schema readback roundtrip",
    "q_sink_text": "text-line sink roundtrip (per-partition write, no driver funnel)",
    "q_inverted_index": "pruned posting lists: df floor + top-5-by-tf per term, bounded state",
    "q_strip_boilerplate": "drop segments repeating across >=3 docs; md5-keyed df shuffle",
    "q_join_asof_nearest": "bidirectional strict as-of, one shuffle + two sorts, tie->prior",
    "q_weighted_median": "exact weighted median, band-localized (no whole-group sort)",
    "q_profile_table": "one-pass per-column profile (nulls/distinct/min/max, long format)",
    "q_join_pit": "SCD2 point-in-time join via carried max-struct (one shuffle)",
    "q_funnel_ttc": "first-click to first-purchase latency histogram (one shuffle)",
    "q_seasonal_baseline": "per-(type,dow) mean/std profile + 3-sigma residual census",
    "q_observe_metrics": "df.observe health counters riding the filter scan (zero extra passes)",
    "q_scan_file_lineage": "_metadata.file_path row provenance census (no extra read)",
    "q_text_sentiment": "broadcast-lexicon polarity scoring (pos/neg/neutral label)",
    "q_trajectory_topk": "hour-profile trajectory cosine top-k, long-format dot products",
    "q_join_null_safe": "eqNullSafe join: NULL keys match the NULL dim bucket (broadcast)",
    "q_content_chunking": "Rabin-style content-defined chunk boundaries, map-only, layout-hashed",
    "q_chunk_dedup": "chunk-level dup census per source (16-byte hash shuffle only)",
    "q_sample_coordinated": "md5-rule coordinated sampling; FK-consistency proven by orphan=0",
    "q_quantile_normalize": "within-source rank -> global quantile value, banded ranks both sides",
    "q_dedup_chunks": "chunk-containment near-dup pairs from df-capped posting lists",
    "q_pipeline_corpus_v2": "boilerplate gate -> cross-source dedup -> quality -> curriculum, one plan",
    "q_scan_excel_sheets": "two sheet-addressed scans of ONE multi-sheet workbook, joined",
    "q_scan_excel_recursive": "recursiveFileLookup walk of a nested drop directory (reference is top-level only)",
    "q_scan_excel_allsheets": 'sheetName="*": union every sheet, one partition per (file, sheet)',
    "q_scan_tarshard": "WebDataset tar-shard scan: partition per shard, map<ext,binary> samples",
    "q_sink_tarshard": "tar-shard sink: one tar per task, staged commit, byte-lossless roundtrip",
    "q_stream_tarshard": "shard-arrival micro-batch stream, replayable manifest offsets",
    "q_multimodal_tarshard": "PNG shards → feature table; IHDR decoded JVM-side (substring+hex+conv)",
    "q_pipeline_tarshard_ingest": "raw shards → decode → dedup-pressure/quality-gate report, one plan",
    "q_sink_excel_sheets": "sheet-per-group workbook sink (bounded aggregate fan-in), lossless",
    "q_win_ntile": "NTILE quartiles per supplier (tie-stable full ordering)",
    "q_transpose": "Spark 4 DataFrame.transpose on a bounded aggregate (pivot family's 4th member)",
    "q_agg_listagg": "SQL:2016 LISTAGG WITHIN GROUP (ordered, hash-stable concatenation)",
    "q_fn_xml": "xpath_* + Spark 4 from_xml typed extraction (regex-oracled round-trip)",
    "q_agg_hll_union": "native DataSketches HLL per-group + union-merge, bound-asserted",
    "q_fn_collation": "Spark 4 UTF8_LCASE collated grouping (comparator-level case folding)",
    "q_sql_pipe": "flagship in Spark 4 SQL pipe syntax + parameterized :cutoff",
    "q_sql_scripting": "Spark 4 SQL scripting (BEGIN/DECLARE/WHILE) doubling-search, loop unrolled in the oracle",
    "q_execute_immediate": "Spark 4 EXECUTE IMMEDIATE: statement in a SQL variable, named USING parameter",
    "q_fn_try": "try_cast parse-health census over a deterministically dirtied feed",
    "q_event_autocorr": "lag-1 autocorrelation of daily counts (exact integer moments)",
    "q_session_entry_exit": "landing->exit session census + bounce counts (one user shuffle)",
    "q_rfm_segments": "RFM 27-cell segmentation grid (fixed bands, one customer-key pass)",
    "q_cohort_ltv": "acquisition-month x months-since LTV triangle (exact decimal revenue)",
    "q_market_basket": "same-order pair affinity with lift (bounded |order|^2 candidates)",
    "q_benford_audit": "Benford first-digit chi-square screen (literal probs, decimal-string digits)",
    "q_gini_concentration": "exact Gini via banded global rank + DECIMAL(38,0) rank-weighted sum",
    "q_peak_detection": "strict local maxima >1.2x trailing mean (one per-type ordering)",
    "q_repurchase_intervals": "inter-purchase gap histogram (30-day bands, one customer shuffle)",
    "q_hhi_concentration": "Herfindahl supplier-concentration per part type (exact decimal moments)",
    "q_seasonality_strength": "weekday-profile ANOVA R-squared (unrolled fixed-order terms)",
    "q_abc_classification": "Pareto ABC part classes (cross-multiplied exact thresholds, dim-bounded window)",
    "q_fulfillment_latency": "order-to-first-ship SLA latency per priority (exchange-reuse join)",
    "q_return_rates": "per-brand return share + exact returned value (one conditional pass)",
    "q_discount_lift": "discount-band volume/revenue lift table (exact 2-dec grid keys)",
    "q_sink_orc": "parallel ORC directory write + vectorized readback",
    "q_join_bloom": "explicit bloom runtime filter; map-side fact pruning",
    "q_corr_matrix": "all-pairs Pearson corr from one sufficient-stats pass",
    "q_udf_cogroup": "cogroup().applyInPandas per-key two-table reconcile",
    "q_vocab_coverage": "TakeOrdered top-K vocab build + per-doc OOV rate, one plan",
    "q_join_asof_tolerance": "as-of join + attribution-window tolerance (one plan)",
    "q_quantile_bins": "exact decile binning via banded global rank + NTILE arithmetic",
    "q_stream_rate_limit": "per-key per-window cap; deterministic throttle",
    "q_resample_timeseries": "hourly downsample + gap-filled dense spine",
    "q_window_deltas_vs_baseline": "per-entity trailing-24h baseline (RANGE frame, exact cents)",
    "q_drift_kl": "per-source KL vs corpus (fixed-point order-independent sum)",
    "q_entropy_ngrams": "char-bigram entropy per source (quality signal)",
    "q_topic_cooccur": "bounded-vocab within-doc pair mining",
    "q_dedup_ngram_jaccard": "char-5-gram Jaccard, md5-sampled 16x index",
    "q_minhash_union_sketch": "two-level mergeable MinHash; bound-asserted vs exact",
    "q_sim_ann_recall": "in-plan recall@k audit of the LSH index (verdict oracled)",
    "q_embed_centroids": "per-label mean vectors (k-means M-step)",
    "q_embed_assign": "nearest-centroid assignment (k-means E-step, broadcast)",
    "q_embed_quantize": "per-vector int8 quantization summary (map-only)",
    "q_multimodal_frames": "fixed-width byte-window frame sampling, hash-verified",
    "q_sample_exact_pergroup": "exactly-N per stratum via md5-rank permutation",
    "q_cdc_changelog": "snapshot-diff insert/update/delete classifier",
    "q_bm25": "BM25 lexical ranking, length-normalized, fp-canonical sums",
    "q_agg_hll": "mergeable DataSketches HLL; bound-asserted vs exact distinct",
    "q_agg_countmin": "count-min heavy-hitter probe; bound-asserted vs exact",
    "q_approx_audit": "all 5 approx structures recall-audited vs exact twins, one hash-checked query",
    "q_scan_csv": "splittable CSV scan, bound schema (no inference pass)",
    "q_sink_csv": "parallel CSV directory write + bound-schema readback",
    "q_scan_jsonl": "JSON-lines scan, bound schema, unparsed-key skipping",
    "q_udf_mapinarrow": "zero-copy Arrow RecordBatch UDF (pyarrow.compute kernels)",
    "q_stream_foreachbatch": "idempotent foreachBatch MERGE sink; genuine-stream twin in tests",
    "q_attribution": "join-free last-touch attribution (running last-click window)",
    "q_agg_countmin": "count-min heavy-hitter estimates; bounds asserted locally",
    "q_multimodal_dedup": "exact payload dedup: shuffle md5 keys, never bytes",
    "q_delta_lag": "per-key delta encoding (value delta + arrival gap)",
    "q_corpus_stats": "per-(lang, source) corpus report card; text never shuffles",
    "q_anomaly_zscore": "per-group 2.5-sigma outliers; stats broadcast onto the scan",
    "q_fill_forward": "last-valid-carry gap repair; one shuffle, O(1) state/key",
    "q_pattern_sequence": "MATCH_RECOGNIZE-style consecutive pattern via lead() chain",
    "q_sample_weighted": "importance sampling by per-row weight, content-addressed draw",
    "q_contamination": "eval-vs-train n-gram containment against the corpus index",
    "q_regression_by_group": "closed-form per-group OLS from one sufficient-stats pass",
    "q_fn_variant": "Spark 4 VARIANT: parse_json once, typed variant_get paths",
    "q_lateral_topk": "LATERAL correlated subquery -> join + per-key limit",
    "q_recursive_closure": "WITH RECURSIVE transitive closure; cross-checks q_dedup_clusters",
    "q_stream_enrich": "stream-static broadcast enrichment; true-stream twin in tests",
    "q_ewma": "EWMA recurrence as an ordered fold, bit-exact cross-engine",
    "q_graph_degree": "near-dup graph degree distribution (pre-CC capacity probe)",
    "q_event_transitions": "Markov transition matrix over per-user event paths",
    "q_skew_keys": "top-key share/cum-share diagnostic (salting decision probe)",
    "q_scan_evolving": "mergeSchema scan over pre/post-column file generations",
    "q_win_median": "exact rolling median (percentile 0.5 over a row frame)",
    "q_join_dpp": "dynamic partition pruning on a partitioned fact (plan-asserted)",
    "q_zorder_layout": "Morton-curve file layout; per-file 2-D min/max envelopes",
    "q_text_repetition": "Gopher-style duplicate/top-bigram quality gate",
    "q_chunk_tokens": "doc → overlapping 32-token training windows (shuffle-free)",
    "q_bpe_pair_counts": "BPE merge-round pair counting (bounded key domain)",
    "q_shuffle_shard": "deterministic md5 shuffle into 16 shards, no global sort",
    "q_dedup_minhash_oracled": "md5 hash family → whole LSH pipeline hash-verified",
    "q_dedup_simhash_oracled": "md5 features, complete Hamming<=5 banding recall",
    "q_sim_ann_pq": "product-quantized ANN (ADC + exact refine of the shortlist)",
    "q_pack_context": "concat-and-split context packing (per-shard running sum)",
    "q_mix_budget": "domain-mixing token-budget allocation (post-agg arithmetic)",
    "q_dedup_weights": "soft dedup: 1/n_copies sampling weight per fingerprint",
    "q_quality_tiers": "quartile tiers from one 3-double broadcast, no global sort",
    "q_pii_redact": "synthesize-then-scrub email/phone redaction, regex-portable",
    "q_strip_markup": "crawl cleaning: tag strip + whitespace collapse",
    "q_winsorize_by_group": "per-group p05/p95 clamp; bounds broadcast, one shuffle",
    "q_robust_zscore": "median/MAD outliers (50%-breakdown twin of q_anomaly_zscore)",
    "q_join_interval_overlap": "interval x interval overlap; exactly-once bucket emission",
    "q_stream_join": "stream-stream time-bounded join (watermarked twin in tests)",
    "q_dedup_prefix": "boilerplate catcher: collapse by first-16-token hash",
}


def main() -> None:
    queries = load_all_queries()
    listed = {n for names in SECTIONS.values() for n in names}
    print("# COVERAGE — SURVEY.md §2 inventory → implementation\n")
    print("Generated by tools/gen_coverage.py from the live registry.")
    print("`oracle` = DuckDB-hash-checked by the driver; `rows-only` =")
    print("non-SQL-expressible (approx/LSH/streaming-discovery) per the")
    print("driver contract.\n")
    total = ok = 0
    for section, names in SECTIONS.items():
        print(f"## {section}\n")
        print("| Query | Implemented | Check | Role |")
        print("|---|---|---|---|")
        for n in names:
            total += 1
            impl = n in queries
            ok += impl
            mod = queries[n].__module__.split(".")[-1] if impl else "—"
            check = "oracle" if n in ORACLES else ("rows-only" if impl else "—")
            role = ROLES.get(n, "")
            print(
                f"| `{n}` | {'yes — ' + mod if impl else 'NO'} | {check} | {role} |"
            )
        print()
    extra = sorted(set(queries) - listed)
    if extra:
        print("## Registered but not in the table above\n")
        for n in extra:
            print(f"- `{n}`")
        print()
    print(f"**{ok}/{total} implemented; "
          f"{len(ORACLES)}/{len(queries)} registry queries oracled.**")


if __name__ == "__main__":
    main()
