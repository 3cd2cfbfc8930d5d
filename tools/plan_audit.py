"""Dump formatted physical plans for the headline queries into PLANS.md
— evidence that filters push to scans, columns prune, dims broadcast,
and aggregates run partial+final. Run after plan-affecting changes.

Usage: python tools/plan_audit.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kairos_spark import configured_builder, queries as q

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

AUDITED = [
    "vocab_size_sweep",
    "dump_overlap",
    "lsh_br_planner",
    "readability_scores",
    "kcenter_coreset",
    "hits_scores",
    "mattr_diversity",
    "data_constrained_epochs",
    "ndcg_sessions",
    "value_precision_audit",
    "good_turing_mass",
    "cluster_stability_ari",
    "participation_ratio",
    "license_audit",
    "unimax_alloc",
    "simhash_radius_sweep",
    "pq_recall",
    "bpe_merge_chain",
    "temperature_sweep",
    "contamination_ngram_sweep",
    "prototypicality",
    "minhash_len_bias",
    "bpe_merge_candidates",
    "facility_select",
    "instruction_detect",
    "domain_mix",
    "sig_size_sweep",
    "minhash_scurve",
    "boilerplate_roi",
    "oov_rate",
    "contamination_matrix",
    "quant_bits_sweep",
    "source_containment",
    "dup_run_lengths",
    "near_dup_family_agreement",
    "knn_stability",
    "bloom_fpr_audit",
    "cross_shard_novelty",
    "char_rep_rate",
    "url_dedup",
    "doc_disposition",
    "forecast_mase",
    "brier_decomposition",
    "language_mix",
    "dup_degree_spectrum",
    "markup_stats",
    "link_density",
    "chunk_overlap",
    "degree_assortativity",
    "t_closeness",
    "vocab_partial_corr",
    "qte_deciles",
    "order_count_histogram",
    "hll_union_overlap",
    "cluster_diameter",
    "cuped_adjustment",
    "code_detect",
    "cohens_d",
    "script_mix",
    "doc_gini",
    "embedding_anisotropy",
    "l_diversity",
    "source_kl",
    "kendall_tau",
    "rule_disagreement",
    "cluster_quality_bias",
    "byte_entropy",
    "frame_dup_rate",
    "quant_recall",
    "shard_dup_locality",
    "ivf_probe_sweep",
    "rp_distortion",
    "fim_split_audit",
    "cramers_v",
    "dup_quality_bias",
    "cluster_source_purity",
    "bigram_entropy_rate",
    "dup_line_stats",
    "quality_threshold_sweep",
    "blocklist_audit",
    "contamination_spans",
    "boundary_overlap",
    "pipeline_roi",
    "cluster_balanced_sample",
    "ivf_list_balance",
    "paragraph_dedup",
    "crossdoc_spans",
    "ppl_bucket_mix",
    "tokenizer_drift",
    "eval_contamination",
    "cluster_keep_best",
    "cluster_keep_best_lsh",
    "cross_source_dup",
    "dup_cluster_sizes",
    "template_prefix",
    "quality_rule_pack",
    "dsir_weights",
    "packing_efficiency",
    "token_budget_alloc",
    "shard_balance_audit",
    "bm25_topk",
    "rrf_fusion",
    "semdedup",
    "interval_proration",
    "conformal_coverage",
    "quantile_normalize",
    "media_signature_buckets",
    "coactivity_kcore",
    "weight_ess",
    "cvm_drift",
    "table_fingerprint",
    "ipf_raking",
    "srm_audit",
    "drift_fdr",
    "freshness_audit",
    "policy_replay",
    "growth_accounting",
    "vocab_coverage",
    "ab_lift",
    "simpson_check",
    "post_stratified_mean",
    "capture_recapture",
    "powerlaw_alpha",
    "scale_drift",
    "rbo_rankings",
    "churn_auc",
    "session_gap_sweep",
    "langid_kappa",
    "event_study",
    "dedup_threshold_sweep",
    "did_estimate",
    "source_similarity",
    "absorption_prob",
    "bfs_reach",
    "audience_stability",
    "max_drawdown",
    "zonemap_prune",
    "incremental_join",
    "theil_decomposition",
    "wasserstein_drift",
    "variance_decomposition",
    "ship_lag_percentiles",
    "wilson_ci",
    "mann_kendall",
    "peak_detection",
    "hashing_trick_audit",
    "path_conformance",
    "schema_drift",
    "ratio_ci",
    "logrank_test",
    "qq_shift_fit",
    "chao1_richness",
    "ts_count_series_hour",
    "ts_fine_hour_minute",
    "ts_spine_gapfill",
    "q1_pricing_summary",
    "revenue_by_nation",
    "dedup_exact_keep",
    "minhash_first_hashes",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "event_sessions",
    "asof_signup_purchase",
    "ts_histogram_percentiles",
    "range_join_user_events",
    "contamination",
    "sample_split",
    "repetition_stats",
    "cohort_retention",
    "embed_near_pairs_lsh",
    "shard_packing",
    "rollup_revenue_region",
    "semi_join_urgent_custs",
    "anti_join_quiet_custs",
    "ts_multires_rollup",
    "ts_sliding_hour_15m",
    "value_percentiles",
    "json_props_stats",
    "label_centroids",
    "pii_scrub",
    "weighted_sample",
    "binned_quantiles",
    "anomaly_zscore",
    "ewma_smooth",
    "rolling_distinct_users",
    "funnel_conversion",
    "tfidf_top_terms",
    "bigram_lm_score",
    "normalize_dedup",
    "containment_pairs",
    "kmeans_clusters",
    "session_transitions",
    "interval_coverage",
    "seasonal_baseline",
    "key_skew_stats",
    "event_pivot",
    "doc_chunks",
    "inverted_index",
    "heavy_hitters",
    "bloom_filter_join",
    "salted_join",
    "unpivot_roundtrip",
    "cluster_quality",
    "pagerank_transitions",
    "asof_tolerance",
    "boilerplate_chunks",
    "pmi_pairs",
    "value_drift",
    "period_delta",
    "zorder_layout",
    "minhash_calibration",
    "cube_revenue",
    "mad_outliers",
    "freq_spectrum",
    "schema_profile",
    "fk_conformance",
    "snapshot_diff",
    "knn_join",
    "fuzzy_match",
    "interarrival",
    "label_agreement",
    "lsh_recall",
    "trend_slope",
    "fd_check",
    "event_debounce",
    "count_correlation",
    "revenue_deciles",
    "winsorize",
    "impute_median",
    "source_scorecard",
    "langid_metrics",
    "conversion_latency",
    "supplier_pareto",
    "gini_activity",
    "dedup_recall",
    "audience_overlap",
    "ngram_novelty",
    "changepoints",
    "temperature_mix",
    "grouped_weighted_sample",
    "decayed_topk",
    "pseudonym_audit",
    "quantize_audit",
    "kaplan_meier",
    "duplicated_spans",
    "domain_cap",
    "autocorr_hourly",
    "transition_entropy",
    "join_size_est",
    "skyline_docs",
    "weighted_median_len",
    "langid_confusion",
    "scd2_intervals",
    "distinctive_terms",
    "categorical_drift",
    "ks_drift",
    "lateness_audit",
    "dup_inflation",
    "norm_outliers",
    "theilsen_trend",
    "session_paths",
    "benford_totalprice",
    "rfm_segments",
    "triangle_cooccurrence",
    "context_budget",
    "bigram_holdout",
    "winnow_pairs",
    "editdist_pairs",
    "hll_distinct",
    "k_anonymity",
    "dp_noisy_counts",
    "calibration_bins",
    "filter_sweep",
    "vocab_growth",
    "burstiness",
    "forecast_eval",
    "prefix_jaccard_pairs",
    "entity_clusters",
    "incremental_rollup",
    "corr_matrix",
    "mutual_info",
    "lift_curve",
    "topk_churn",
    "embedding_drift",
    "embedding_moments",
    "ols2_fit",
    "json_schema_profile",
    "expectations_audit",
    "grouped_histogram",
    "pit_state_join",
    "cdc_upsert",
    "encoding_audit",
    "token_fertility",
    "calendar_heatmap",
    "attribution_split",
    "split_leakage_audit",
    "group_quantiles",
    "assoc_rules",
    "session_entry_exit",
    "dist_overlap",
    "label_centroid_dists",
    "trimmed_mean",
    "hapax_rate",
    "reconciliation_audit",
    "burst_windows",
    "target_encoding",
    "hierarchical_shares",
    "negative_pairs",
    "mrr_sessions",
    "crosscorr_types",
    "delta_attribution",
    "bernoulli_ht_audit",
    "markov_accuracy",
    "vocab_drift",
    "bootstrap_ci_mean",
    "seasonal_quantile_bands",
    "bpe_pairs",
    "spearman_activity",
    "quality_auc",
    "multimodal_features",
    "ts_properties",
    "ts_list_names",
    "ts_greg_daily",
    "ts_greg_weekly",
    "ts_greg_monthly_rate",
    "ts_fanout_minute",
    "ts_retention_filter",
    "ts_histogram_transforms",
    "ts_histogram_rate",
    "ts_variance_collapse",
    "ts_gauge_join",
    "ts_series_condense_order",
    "ts_iterate_full",
    "word_entropy",
    "dedup_incremental",
    "token_topk_by_lang",
    "sketch_distinct",
    "window_top_orders",
    "dedup_exact_groups",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_clusters_lsh",
    "training_data_prep",
    "minhash_lsh_pairs",
    "simhash_sample",
    "simhash_near_pairs",
    "text_stats",
    "quality_scores",
    "lang_id",
    "token_topk",
    "doc_fingerprint",
    "embed_near_pairs",
    "ann_lsh_topk",
    "frame_sample",
    "stratified_sample",
    "ts_count_rate_minute",
    "ts_series_transforms_hour",
    "ts_condense_hour",
    "ts_collapse_range",
    "ts_histogram_daily",
    "ts_gauge_last_hour",
    "ts_set_hour",
    "ts_multi_name_merge",
    "ts_set_cross_series",
]

CHECKS = {
    # r12: bounded id-capped sample (64 docs via one top-k) — the
    # signature pair join is a documented bounded-audit non-equi join;
    # signature build is partial+final HashAggregate
    "minhash_scurve": ["TakeOrderedAndProject", "HashAggregate", "!CartesianProduct"],
    # r12: same bounded-audit shape — one 64-hash signature aggregate,
    # capped all-pairs, shingle equi-join for the exact side
    "sig_size_sweep": ["TakeOrderedAndProject", "HashAggregate", "!CartesianProduct"],
    # r12: one map-only all-signals projection per doc + per-source
    # combiner aggregate — code_detect's shape (no joins, no windows)
    "instruction_detect": ["HashAggregate", "!CartesianProduct", "!SortMergeJoin", "!BroadcastHashJoin", "!Window"],
    # r12: pairs explode from DISTINCT words (vocab grain); the final
    # top-k is one TakeOrdered over pair-grain aggregates — no joins
    "bpe_merge_candidates": ["TakeOrderedAndProject", "HashAggregate", "!CartesianProduct", "!SortMergeJoin"],
    # r12 (re-pointed r13, ADVICE r12): the looped query's OUTPUT is a
    # LocalTableScan by construction, so the audited frame is the
    # first greedy step itself (text.facility_first_step — gains
    # aggregate + ≤64-row spine join + top-1); later steps add a
    # bounded left-anti join on covered digests to the same shape
    "facility_select": ["HashAggregate", "TakeOrderedAndProject", "!CartesianProduct", "!SortMergeJoin"],
    # r12: map-side URL/host extraction; (source, tld) combiner
    # aggregate; |sources|-row totals broadcast back — no NLJ/SMJ
    "domain_mix": ["HashAggregate", "BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin", "!BroadcastNestedLoopJoin"],
    # r12: line explode is map-side Generate; document frequency and
    # source rollup are hash aggregates; the boilerplate join-back is
    # a digest-key equi-join — no cartesian/NLJ over lines
    "boilerplate_roi": ["Generate", "HashAggregate", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # r12: token explode map-side; vocab rank window at vocab grain;
    # the V-row vocab BROADCASTS into the probe join — no NLJ
    "oov_rate": ["Generate", "Window", "BroadcastHashJoin", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # r13: token explode + |sizes| fan-out are map-side Generates; the
    # rank window and sweep aggregate run at VOCAB grain; the only
    # join is the |sizes|-row spine — never a shuffle join on tokens
    "vocab_size_sweep": ["Generate", "Window", "HashAggregate", "!CartesianProduct", "!SortMergeJoin"],
    # r13: distinct to (dump, digest) grain; digest-key equi-join with
    # per-digest fan-out bounded by n_dumps; sizes broadcast onto the
    # |pairs|-row spine — no cartesian/NLJ anywhere
    "dump_overlap": ["HashAggregate", "BroadcastHashJoin", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # r13: one map-only substring panel per doc + per-source combiner
    # aggregate — code_detect's shape (no joins, no windows)
    "license_audit": ["HashAggregate", "!CartesianProduct", "!SortMergeJoin", "!BroadcastHashJoin", "!Window"],
    # r13: corpus feeds ONE map-side-combined sum; the water-filling
    # runs at |languages| grain (windows over a handful of rows; the
    # 1-row totals ride broadcast NLJ crossJoins by construction)
    "unimax_alloc": ["HashAggregate", "Window", "!CartesianProduct", "!SortMergeJoin"],
    # r13: segment-value equi-join generates candidates (the
    # simhash_near_pairs block trick — never all-pairs); histogram is
    # a |radii|-row aggregate, cum window over those rows only
    "simhash_radius_sweep": ["HashAggregate", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # r13: quant_bits_sweep's shape per m — 1-row codebook broadcast,
    # map-only encode/reconstruct, salted two-phase top-k; broadcast
    # query/audit sides ride BNLJ crossJoins by construction, so only
    # cartesian and shuffle joins are forbidden
    "pq_recall": ["BroadcastHashJoin", "HashAggregate", "!CartesianProduct", "!SortMergeJoin"],
    # r13 (override surface — the looped query's output is a
    # LocalTableScan): first iteration's pair-count argmax — word
    # counts aggregate map-side, pairs explode at VOCAB grain, one
    # TakeOrdered; later iterations re-run this shape re-encoded
    "bpe_merge_chain": ["Generate", "HashAggregate", "TakeOrderedAndProject", "!CartesianProduct", "!SortMergeJoin"],
    # late-r13: |alphas| reruns of the group-grain plan — corpus feeds
    # the one count aggregate; scalars ride 1-row broadcasts (BNLJ by
    # construction); windows over |groups| rows only
    "temperature_sweep": ["HashAggregate", "Window", "!CartesianProduct", "!SortMergeJoin"],
    # late-r13: per n one broadcast gram probe (map-side hash join of
    # the exploded corpus against the tiny benchmark set) + 1-row
    # rollup — no shuffle joins on grams
    "contamination_ngram_sweep": ["Generate", "BroadcastHashJoin", "HashAggregate", "!CartesianProduct", "!SortMergeJoin"],
    # late-r13: kmeans' broadcast-centroid map-only loop; the ranking
    # window is PARTITIONED by cluster (never a global order); the
    # |k|-row p20 side broadcasts back — no shuffle joins
    "prototypicality": ["HashAggregate", "Window", "BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"],
    # late-r13: the sig_size_sweep bounded-audit shape — 64-doc
    # sample, documented bounded all-pairs BNLJ, shingle equi-join,
    # bin-grain aggregates (only the bounded audit joins appear)
    "minhash_len_bias": ["HashAggregate", "!CartesianProduct", "!SortMergeJoin"],
    # late-r13: the analytic (b,r) planner — the same bounded 64-doc
    # audit shape but NO signature pass at all (shingle equi-join +
    # the documented bounded all-pairs id join, config fan-out is a
    # 4-way union over the tiny pair frame, then one aggregate)
    "lsh_br_planner": ["HashAggregate", "Union", "!CartesianProduct", "!SortMergeJoin"],
    # late-r13: pure map-side per-doc regexp counting + one
    # partial+final hash aggregate at source grain — NO joins of any
    # kind; the 100 TB plan shuffles five long partial sums per group
    "readability_scores": ["HashAggregate", "!CartesianProduct", "!SortMergeJoin", "!BroadcastHashJoin"],
    # late-r13: kcenter step frame (via the kcenter_first_step
    # override) — broadcast of the <=k selected vectors into the
    # bounded 64-vec candidate set (the documented bounded BNLJ) +
    # one hash aggregate + top-1; the trace itself is a driver loop
    "kcenter_coreset": ["HashAggregate", "TakeOrderedAndProject", "!CartesianProduct", "!SortMergeJoin"],
    # late-r13: HITS — the pagerank plan family (edge-grain joins
    # against score vectors, broadcast totals via BNLJ crossJoin of
    # 1-row aggregates, never a CartesianProduct)
    "hits_scores": ["HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # late-r13: map-only segment slicing (Generate over the per-doc
    # token array), (group, token)-grain distinct + group-grain sums,
    # joins only at |groups| grain — no shuffle joins of corpus rows
    "mattr_diversity": ["Generate", "HashAggregate", "!CartesianProduct", "!SortMergeJoin"],
    # late-r13: one map-only token count + group-grain aggregate; the
    # 1-row corpus total broadcasts into the |groups| frame (BNLJ by
    # construction); the mult fan-out is a union at group grain
    "data_constrained_epochs": ["HashAggregate", "Union", "BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin"],
    # late-r13: one per-user sort (Window) shared by sessionization +
    # ranking, session-grain array state, |entry types| final rows —
    # no joins at all
    "ndcg_sessions": ["Window", "HashAggregate", "!CartesianProduct", "!SortMergeJoin", "!BroadcastHashJoin"],
    # late-r13: map-only cents extraction, (group, digit)-grain
    # aggregate (<=10 rows/group), broadcast modal-pick join back —
    # no shuffle joins, no corpus windows
    "value_precision_audit": ["HashAggregate", "BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"],
    # late-r13: gram explode (Generate) -> gram-grain count with
    # map-side combine -> broadcast-size freq-of-freq table; the
    # n_{r+1} lookup and totals join at <=|distinct counts| rows
    "good_turing_mass": ["Generate", "HashAggregate", "!CartesianProduct", "!SortMergeJoin"],
    # late-r13: bounded-audit shape (64-doc sample, shingle equi-join,
    # documented bounded all-pairs BNLJ); the CC labels come from the
    # size-gated local union-find so the output frame folds broadcast
    # 1-row aggregates — never a CartesianProduct
    "cluster_stability_ari": ["HashAggregate", "!CartesianProduct", "!SortMergeJoin"],
    # late-r13: MAP-ONLY d^2 outer-product generation (Generate over
    # the nested transform — no join anywhere), (i,j)-grain aggregate
    # with map-side combine, 1-row folds after
    "participation_ratio": ["Generate", "HashAggregate", "!CartesianProduct", "!SortMergeJoin", "!BroadcastHashJoin"],
    # r12: benchmark gram sets broadcast into the probe; the pair
    # frame is |suites|² (3×3) — the only non-equi join is that
    # bounded universe pair join, never over docs
    "contamination_matrix": ["BroadcastHashJoin", "HashAggregate", "!CartesianProduct"],
    # r12: quant_recall's shape per level — broadcast query/grid
    # sides, salted two-phase top-k, no shuffle joins of the corpus
    "quant_bits_sweep": ["BroadcastHashJoin", "HashAggregate", "!CartesianProduct", "!SortMergeJoin"],
    # r11 late: gram-key equi-join (fan-out bounded by |sources|² per
    # gram), sizes broadcast back — no cartesian/NLJ over docs
    "source_containment": ["HashAggregate", "BroadcastHashJoin", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # r11 late: shard-partitioned window (never a global single
    # partition), digest-grain shuffle only
    "dup_run_lengths": ["Window", "HashAggregate", "!CartesianProduct", "!Join"],
    # r11: both candidate pipelines are banded/blocked hash joins; the
    # audit adds a pair-grain full-outer hash join — no cartesian
    "near_dup_family_agreement": ["HashAggregate", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # r11: bounded id-capped sample (128 vectors) — the pair join is a
    # documented bounded-audit BNLJ; ranking windows over sample pairs
    "knn_stability": ["PushedFilters", "Window", "HashAggregate", "!CartesianProduct"],
    # r11: digest projection + distinct; per-position aggregate bounded
    # by m; position-grain hash join-back — no NLJ (the 1-row bits
    # crossJoin broadcasts)
    "bloom_fpr_audit": ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"],
    # r11: digest-grain first-occurrence aggregate + join-back; shard
    # histogram — no NLJ/cartesian
    "cross_shard_novelty": ["HashAggregate", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # r11: strided window explode is map-side Generate; both shuffles
    # are hash aggregates; group spine joins by broadcast — no NLJ/SMJ
    "char_rep_rate": ["Generate", "HashAggregate", "BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"],
    # r11: URL extraction map-side; first-fetch aggregate + url-grain
    # hash join-back; group spine broadcast — no NLJ
    "url_dedup": ["HashAggregate", "BroadcastHashJoin", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # r11: digest keeper aggregate + digest/doc-grain hash joins; the
    # |groups|-row totals broadcast — no NLJ/cartesian
    "doc_disposition": ["HashAggregate", "BroadcastHashJoin", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # one map-only all-signals projection per doc, one per-source
    # combiner aggregate — no joins, no windows, text never shuffles
    "code_detect": ["HashAggregate", "!CartesianProduct", "!SortMergeJoin", "!BroadcastHashJoin", "!Window"],
    # fact-scale aggregate to USER grain once (min/max rides a 1-row
    # broadcast BNLJ); variant/global moment joins are broadcast over
    # 2-row / 1-row sides — no shuffle join, no window
    "cuped_adjustment": ["HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin", "!Window"],
    # LSH pipeline + CC feed a size-capped within-cluster pair stage:
    # equi-joins on (cluster, shingle) / cluster keys only — never a
    # cartesian; CC is loop-shaped so only the negatives are asserted
    "cluster_diameter": ["HashAggregate", "!CartesianProduct"],
    # register build is one map-side-max aggregate; pair/union stages
    # run at group grain (≤ |G|·2^p rows); exact-overlap joins distinct
    # (group, value) on the value key — no cartesian on fact rows
    "hll_union_overlap": ["HashAggregate", "!CartesianProduct"],
    # one rank window per variant, one combiner aggregate, 2-row
    # broadcast join, 9-row explode AFTER aggregation — no shuffle join
    "qte_deciles": ["Window", "HashAggregate", "Generate", "!CartesianProduct", "!SortMergeJoin"],
    # ONE map-side-combined aggregate carrying 10 moment sums; all
    # arithmetic at group grain — no joins, no windows
    "vocab_partial_corr": ["HashAggregate", "!CartesianProduct", "!SortMergeJoin", "!BroadcastHashJoin", "!Window"],
    # one record-scale aggregate to (class, rank); grid fill + cum
    # windows + scalars all run at class grain; rank totals broadcast
    "t_closeness": ["HashAggregate", "Window", "!CartesianProduct", "!SortMergeJoin"],
    # edge build is the shared stop-bucket-capped co-activity join;
    # degrees decorate endpoints via hash joins; ONE combiner row out
    "degree_assortativity": ["HashAggregate", "!CartesianProduct", "!Window"],
    # map-only chunk explode + digest; stop-digest cap BEFORE the
    # digest-key pair join; only digests and counts shuffle
    "chunk_overlap": ["HashAggregate", "Generate", "!CartesianProduct", "!Window"],
    # one map-only extract per doc; source-grain combiner aggregate +
    # a (source, domain) distinct — no shuffle joins on fact rows
    "link_density": ["HashAggregate", "!CartesianProduct", "!SortMergeJoin", "!Window"],
    # one map-only line-signal projection, one per-source combiner
    # aggregate — no joins, no windows, text never shuffles
    "markup_stats": ["HashAggregate", "!CartesianProduct", "!SortMergeJoin", "!BroadcastHashJoin", "!Window"],
    # LSH banding feeds two chained combiner aggregates; no closure,
    # no windows — only ids and counts shuffle after banding
    "dup_degree_spectrum": ["HashAggregate", "!CartesianProduct", "!Window"],
    # map-only line explode + per-line panel scoring; doc-grain then
    # source-grain combiner aggregates; full-doc denominator re-joined
    "language_mix": ["HashAggregate", "Generate", "!CartesianProduct", "!Window"],
    # one map-only projection, n_bins-row combiner aggregate + 1-row
    # totals broadcast (BNLJ by design); bin-grain integer math after
    "brier_decomposition": ["HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin", "!Window"],
    # (group, hour) combiner aggregate; lag windows run over the
    # AGGREGATE (hour-grain rows); one combiner rollup — no joins
    "forecast_mase": ["HashAggregate", "Window", "!CartesianProduct", "!SortMergeJoin", "!BroadcastHashJoin"],
    # Q13 shape: the priority filter must push into the orders scan
    # (PushedFilters shows Not(StringContains)… via like), the left
    # join shuffles on the key (both sides fact-scale — broadcast would
    # be wrong), two chained combiner aggregates after
    "order_count_histogram": ["HashAggregate", "PushedFilters", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # map-only token count; per-source combiner aggregate; corpus
    # totals ride a 1-row broadcast (BNLJ by design) — no shuffle join
    "cohens_d": ["HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin"],
    # map-only token count; rank window over DOC-grain rows; one
    # combiner aggregate — no joins
    "doc_gini": ["Window", "HashAggregate", "!CartesianProduct", "!SortMergeJoin", "!BroadcastHashJoin"],
    # dim^2 pair fan-out is in-task (Generate) with map-side combine;
    # every iteration joins the dim^2 cov table to a broadcast dim-row
    # vector; only dim-grain rows move after the first aggregate
    "embedding_anisotropy": ["Generate", "HashAggregate", "BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"],
    # one hash aggregation on the quasi-key (count + distinct), corpus
    # scalars on an empty-key window over class-grain rows
    "l_diversity": ["HashAggregate", "Window", "!CartesianProduct", "!SortMergeJoin"],
    # (group, term) combiner aggregate; term totals re-aggregate and
    # join BACK on the term key (correctly NOT broadcast); the corpus
    # total N rides a 1-row broadcast (BNLJ by design); |sources| out
    "source_kl": ["Generate", "HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # one corpus aggregate to (day, hour) cells; the pair join runs on
    # cell-grain rows (day equality + hour inequality, bounded blocks)
    "kendall_tau": ["HashAggregate", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # one map-only 8-flag projection, ONE global combiner row, then a
    # 28-row explode AFTER aggregation — no joins, no second pass
    "rule_disagreement": ["HashAggregate", "Generate", "!CartesianProduct", "!SortMergeJoin", "!BroadcastHashJoin"],
    # labels (post-convergence CC output) join quality on the doc id;
    # size + bucket combiner aggregates — the LSH/CC loop itself is
    # exempt like dedup_clusters_lsh / cluster_source_purity
    "cluster_quality_bias": ["HashAggregate", "!CartesianProduct"],
    # byte explode is map-side (Generate); the only shuffle carries
    # <=256*|groups| combiner rows; final row set is |groups|
    "byte_entropy": ["Generate", "HashAggregate", "!CartesianProduct", "!SortMergeJoin", "!BroadcastHashJoin"],
    # frames digest map-side (Generate); only (digest, media) short
    # keys shuffle; flagged digests join BACK on the digest key (hash/
    # SMJ fine, correctly NOT broadcast); payload bytes never move
    "frame_dup_rate": ["Generate", "HashAggregate", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # range pass is a |dims|-row combiner; dequantization is map-only
    # under a 1-row broadcast; both top-k passes broadcast the query
    # block (knn_join salted merges) — corpus vectors never shuffle
    "quant_recall": ["BroadcastHashJoin", "HashAggregate", "!CartesianProduct", "!SortMergeJoin"],
    # only (digest, shard) short keys shuffle; two chained hash
    # aggregates then a one-row combiner — no joins, text never moves
    "shard_dup_locality": ["HashAggregate", "!CartesianProduct", "!SortMergeJoin", "!BroadcastHashJoin", "!Generate"],
    # assignment is the ivf_topk broadcast argmin (corpus never
    # shuffles on id); exact ground truth broadcasts the query block;
    # every join after runs on Q*k / Q*nlist audit rows — broadcast
    "ivf_probe_sweep": ["BroadcastHashJoin", "HashAggregate", "!CartesianProduct"],
    # bounded id-capped pair sample rides a broadcast nested-loop (the
    # documented bounded-audit pattern, embed_near_pairs precedent); a
    # data-sized cartesian is forbidden; tail is a <=17-row aggregate
    "rp_distortion": ["BroadcastNestedLoopJoin", "HashAggregate", "!CartesianProduct"],
    # map-only hash/cut projection + ONE |sources|-row aggregate:
    # no joins, no windows, no explode — text never shuffles
    "fim_split_audit": ["HashAggregate", "!CartesianProduct", "!Generate", "!SortMergeJoin", "!BroadcastHashJoin"],
    # ONE corpus shuffle (the (a,b) cell aggregate); marginals broadcast
    # back onto cell-grain rows; single global combiner row at the end
    "cramers_v": ["HashAggregate", "BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"],
    # map-only regexp-count projection + ONE |sources|-row aggregate:
    # no joins, no windows, no explode — raw text never shuffles
    "script_mix": ["HashAggregate", "!CartesianProduct", "!Generate", "!SortMergeJoin", "!BroadcastHashJoin"],
    # digest-grain sizes + map-only quality joined on the doc id, then
    # one <=size_cap-row bucket aggregate; doc-grain joins may SMJ
    "dup_quality_bias": ["HashAggregate", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # labels (post-convergence CC output) join sources on the doc id;
    # cluster-grain then histogram aggregates — the LSH/CC loop itself
    # is exempt like dedup_clusters_lsh
    "cluster_source_purity": ["HashAggregate", "!CartesianProduct"],
    # token/bigram explodes are Generates; two (group, term) aggregates
    # with map-side combine; |sources|-row join at the end
    "bigram_entropy_rate": ["Generate", "HashAggregate", "!CartesianProduct"],
    # line explode is a Generate; lines hash to (doc, md5, len) before
    # the per-(doc, line) aggregate — raw line text never shuffles,
    # and the all-docs left join is a hash/merge join, never quadratic
    "dup_line_stats": ["Generate", "HashAggregate", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # ONE corpus aggregate computes all 9 conditional sums; the sweep
    # rows come from an explode of the 1-row result, never a corpus
    # crossJoin amplification
    "quality_threshold_sweep": ["Generate", "HashAggregate", "!CartesianProduct"],
    # map-only per-doc phrase counts -> bounded |phrases| explode ->
    # (source, phrase) aggregate; no join anywhere
    "blocklist_audit": ["Generate", "HashAggregate", "!Join", "!CartesianProduct"],
    # benchmark gram set BROADCASTS against streaming corpus grams;
    # span merge is a per-doc window over flagged rows only
    "contamination_spans": ["Generate", "BroadcastHashJoin", "Window", "HashAggregate", "!CartesianProduct"],
    # one head + one tail digest per doc, stop-gram occ filter before
    # the equi-join — hash-partitioned by digest, never all-pairs
    "boundary_overlap": ["HashAggregate", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # digest-grain dedup keep + source-grain aggregates; the corpus
    # sqrt total rides a 1-row broadcast. Doc-grain score/keep joins
    # may plan as sort-merge — that is the scale-correct shape for two
    # fact-sized sides; only quadratic shapes are forbidden
    "pipeline_roi": ["HashAggregate", "!CartesianProduct"],
    # broadcast-centroid assignment (no corpus shuffle), then one
    # per-cluster window over short (cluster, id, hash) rows
    "cluster_balanced_sample": ["Window", "HashAggregate", "!CartesianProduct"],
    # assignment + ONE k-row aggregate; corpus total on a 1-row
    # broadcast
    "ivf_list_balance": ["HashAggregate", "!CartesianProduct"],
    # paragraph explode is a Generate; digests aggregate on the short
    # key and the flagged set joins back ON the digest — any hash
    # flavor, never quadratic
    "paragraph_dedup": ["Generate", "HashAggregate", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # gram posexplode -> corpus gram agg -> flagged join-back; span
    # merge is a PER-DOC window over flagged rows only — no pair join
    # anywhere in the plan
    "crossdoc_spans": ["Generate", "HashAggregate", "Window", "!CartesianProduct"],
    # the bigram_lm_score plan (pre-aggregated joins, broadcast vocab
    # scalar) + one per-group ntile window over doc-grain rows
    "ppl_bucket_mix": ["Window", "HashAggregate", "!CartesianProduct"],
    # one map-only projection -> group-grain agg; corpus totals ride a
    # 1-row broadcast — nothing shuffles twice, nothing sorts
    "tokenizer_drift": ["HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin"],
    # benchmark gram sets broadcast; the probe is a map-side hash join
    # over exploded distinct corpus grams
    "eval_contamination": ["BroadcastHashJoin", "HashAggregate", "!CartesianProduct"],
    # labels (post-convergence CC output) ⋈ quality on the doc id,
    # then one per-cluster window — the CC loop itself is exempt like
    # dedup_clusters (per-iteration plans carry the structure)
    "cluster_keep_best": ["Window", "!CartesianProduct"],
    # scale path: same labels-join + per-cluster window over the LSH
    # CC output — the banded-candidate loop is exempt like
    # dedup_clusters_lsh (per-iteration plans carry the structure)
    "cluster_keep_best_lsh": ["Window", "!CartesianProduct"],
    # digest-grain self-join on the digest key after the corpus
    # collapses to (digest, source, count) — hash join, never quadratic
    "cross_source_dup": ["HashAggregate", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # digest groupBy -> |distinct sizes|-row spectrum; the corpus total
    # is a window over spectrum rows only — no join at all
    "dup_cluster_sizes": ["HashAggregate", "Window", "!Join"],
    # map-only prefix digest -> (source, prefix) count -> argmax window
    # over aggregated rows; the top join-back is source-grain
    "template_prefix": ["HashAggregate", "Window", "!CartesianProduct", "!SortMergeJoin"],
    # one map-only projection -> 1-row aggregate -> 9-row rule explode;
    # the corpus text never shuffles and nothing joins
    "quality_rule_pack": ["HashAggregate", "Generate", "!Join"],
    # gram explode -> (doc,bucket) partial-agg; the 256-row lambda
    # table and both scalar totals broadcast; top-k is a heap, not a
    # global sort
    "dsir_weights": ["BroadcastHashJoin", "HashAggregate", "TakeOrderedAndProject", "!CartesianProduct", "!SortMergeJoin"],
    # two-phase prefix sum: bucket offsets broadcast back, the running
    # window is PARTITIONED by bucket (never one global sort), per-L
    # explode multiplies doc-grain scalars only
    "packing_efficiency": ["Window", "BroadcastHashJoin", "Generate", "HashAggregate", "!CartesianProduct", "!SortMergeJoin"],
    # everything after the per-source token sum runs on the |sources|
    # grain; scalar budget and water-level ride 1-row broadcasts
    "token_budget_alloc": ["HashAggregate", "Window", "BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin"],
    # 64-row shard spine broadcast against the per-shard aggregate;
    # one corpus-scale map-side-combined agg, then scalar math
    "shard_balance_audit": ["HashAggregate", "BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"],
    # query vocabulary + per-term stats broadcast; only postings of
    # query terms shuffle — the corpus text must never hit a sort-merge
    "bm25_topk": ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"],
    # 4-row query side broadcasts against the map-only scored scan; the
    # candidate fusion join is bounded by 2·top_n rows per query
    "rrf_fusion": ["BroadcastNestedLoopJoin", "!CartesianProduct"],
    # r14: the final assignment is localCheckpointed (ExistingRDD in
    # the visible plan), so the broadcast-centroid Lloyd subtree — the
    # old BroadcastNestedLoopJoin assertion — no longer appears here
    # (it is still pinned by the kmeans_clusters/cluster_quality
    # entries, which share _kmeans_final_assign uncheckpointed). The
    # visible contract TIGHTENS: pair scoring must join ON cid as a
    # broadcast hash join — never nested-loop, never cartesian:
    # candidate pairs bounded by Σ|cluster|²
    "semdedup": ["BroadcastHashJoin", "!BroadcastNestedLoopJoin", "!CartesianProduct", "HashAggregate"],
    # sessionize windows share one exchange; bucket explode is a
    # Generate feeding one hash agg — no join anywhere
    "interval_proration": ["Generate", "HashAggregate", "Window", "!Join"],
    # per-group pred/qhat scalars broadcast back onto cal/test rows
    "conformal_coverage": ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"],
    # pool count rides a 1-row broadcast; the idx lookup join may
    # legitimately shuffle (pool-sized), but never degenerate
    "quantile_normalize": ["BroadcastNestedLoopJoin", "Window", "!CartesianProduct"],
    # Arrow-batched feature pass; 16 per-dim means broadcast back onto
    # the exploded (media, dim) rows — a hash join, nothing quadratic
    "media_signature_buckets": ["MapInPandas", "BroadcastHashJoin", "HashAggregate", "!CartesianProduct"],
    # coactivity_kcore: EXEMPT from plan assertions — the operator runs
    # eagerly (per-round persist → collect 2 scalars → unpersist
    # superseded, ADVICE r5) so the returned trace is a local relation
    # with no plan structure to assert; the per-round plan shape
    # (LeftSemi + HashAggregate, no cartesian) is asserted by
    # tests/test_round6_fixes.py on graph._peel_round.
    # pure per-stratum moment aggregation: no join at all
    "weight_ess": ["HashAggregate", "!Join"],
    # same value-grain count table + cumulative window as ks_drift
    "cvm_drift": ["HashAggregate", "Window", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # additive row hashes: one map-side-combined aggregation, no join
    "table_fingerprint": ["HashAggregate", "!Join"],
    # marginal scalars broadcast back onto the cell table each iteration
    "ipf_raking": ["BroadcastHashJoin", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"],
    # split counts: one aggregation, no join
    "srm_audit": ["HashAggregate", "!Join"],
    # ks count table + global BH rank window over group-grain rows
    "drift_fdr": ["Window", "HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # global-max anchor rides a 1-row broadcast
    "freshness_audit": ["BroadcastNestedLoopJoin", "HashAggregate", "!CartesianProduct"],
    # arm index broadcast onto the fact scan; matching is map-side
    "policy_replay": ["BroadcastHashJoin", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"],
    # distinct (user, period) grid, then period-grain lag windows only
    "growth_accounting": ["HashAggregate", "Window", "!Join"],
    # vocabulary-grain rank/cum windows; tiny cutoff list broadcasts
    "vocab_coverage": ["HashAggregate", "Window", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # one moment aggregation per slice: no join, no window
    "ab_lift": ["HashAggregate", "!Join"],
    # pooled moments re-aggregate the per-group sums and broadcast back
    "simpson_check": ["HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # two chained aggregations (stratum grain then scalar): no join
    "post_stratified_mean": ["HashAggregate", "!Join"],
    # quarter bounds ride a 1-row broadcast; unit-grain aggregations
    "capture_recapture": ["BroadcastNestedLoopJoin", "HashAggregate", "!CartesianProduct"],
    # count-grain input, single scalar aggregation
    "powerlaw_alpha": ["HashAggregate", "Generate", "!CartesianProduct"],
    # midpoint broadcast + one moment aggregation per group
    "scale_drift": ["BroadcastNestedLoopJoin", "HashAggregate", "!CartesianProduct"],
    # vocabulary-grain rank windows; depth arithmetic on <= k^2 rows
    "rbo_rankings": ["HashAggregate", "Window", "!CartesianProduct"],
    # user-grain join of before/after activity, one rank window
    "churn_auc": ["HashAggregate", "Window", "!CartesianProduct"],
    # ONE lag window; every threshold is a conditional count over it
    "session_gap_sweep": ["Window", "HashAggregate", "!Join"],
    # map-only prediction projection; the only joins left are the
    # class-grain marginal merge + 1-row scalar merges
    "langid_kappa": ["HashAggregate", "!CartesianProduct"],
    # user-grain anchor join onto the fact stream, one aggregation
    "event_study": ["HashAggregate", "!CartesianProduct"],
    # shingle equality self-join (hash family, never cartesian);
    # thresholds are conditional counts over ONE pair table
    "dedup_threshold_sweep": ["HashAggregate", "!CartesianProduct"],
    # treated set + midpoint ride broadcasts; ONE fact aggregation
    "did_estimate": ["BroadcastHashJoin", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"],
    # token-grain equality self-join for dots — only shared tokens pair
    "source_similarity": ["HashAggregate", "!CartesianProduct"],
    # fact-scale lead window once; iterations join state-grain tables
    "absorption_prob": ["Window", "HashAggregate", "!CartesianProduct"],
    # bfs_reach: EXEMPT from plan assertions — eager per-hop
    # materialization (same ADVICE-r5 cache fix as coactivity_kcore)
    # returns a local trace with no plan structure to assert; the
    # per-hop LeftAnti + HashAggregate shape is asserted by
    # tests/test_round6_fixes.py on graph._bfs_hop.
    # distinct (unit, period) grid self-joined on (unit, period+1)
    "audience_stability": ["HashAggregate", "!CartesianProduct"],
    # bucket-grain cumulative/peak windows over one aggregation
    "max_drawdown": ["Window", "HashAggregate", "!Join"],
    # chunk-simulation windows + chunk-grain min/max aggregations
    "zonemap_prune": ["Window", "HashAggregate", "!Join"],
    # five equality joins on the key; delta components stay delta-sized
    "incremental_join": ["HashAggregate", "!CartesianProduct", "!NestedLoop"],
    # rows -> groups -> scalar aggregations; scalars ride broadcasts
    "theil_decomposition": ["BroadcastNestedLoopJoin", "HashAggregate", "!CartesianProduct"],
    # value-grain count table + per-group cumulative/lead windows
    "wasserstein_drift": ["HashAggregate", "Window", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # one fact aggregation to (a,b) cells; cell-grain arithmetic after
    "variance_decomposition": ["HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # orders dim broadcasts onto lineitem; exact per-group percentile
    "ship_lag_percentiles": ["BroadcastHashJoin", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"],
    # closed-form interval over exact counts: one aggregation, no join
    "wilson_ci": ["HashAggregate", "!Join"],
    # pair comparison runs on the BUCKET series, not rows
    "mann_kendall": ["HashAggregate", "!CartesianProduct"],
    # bucket counts + one lag/lead window per group
    "peak_detection": ["HashAggregate", "Window", "!Join"],
    # vocab-grain then bucket-grain aggregations; no join
    "hashing_trick_audit": ["HashAggregate", "!Join"],
    # sessionize windows + map-only levenshtein + histogram agg
    "path_conformance": ["Window", "HashAggregate", "!CartesianProduct"],
    # map-only json_object_keys explode; key-grain counts
    "schema_drift": ["Generate", "HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # unit-grain then group-grain moment aggregations; no join
    "ratio_ci": ["HashAggregate", "!Join"],
    # per-user durations + bounded non-equi join against period list
    "logrank_test": ["HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # exact per-half percentiles; fit on 9-row-per-group tables
    "qq_shift_fit": ["HashAggregate", "Generate", "!CartesianProduct"],
    # vocab-grain then frequency-of-frequency aggregation; no join
    "chao1_richness": ["HashAggregate", "!Join"],
    "q1_pricing_summary": ["PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual", "HashAggregate"],
    "revenue_by_nation": ["BroadcastHashJoin"],
    "ts_count_series_hour": ["HashAggregate"],
    # sessionize: the lag window and the cumulative-sum window must share
    # ONE exchange+sort (same partitioning and ordering)
    "event_sessions": ["Window"],
    # as-of join is union-and-carry: no join operator may appear
    "asof_signup_purchase": ["Window", "Union"],
    # IVF: centroid array broadcast (map-only argmin assignment), and —
    # critically — no shuffle of the corpus on vec_id ("!" = must NOT
    # appear in the plan)
    "ann_ivf_topk": ["BroadcastNestedLoopJoin", "!Exchange hashpartitioning"],
    # banded range join must be an equality hash join, never nested loop
    "range_join_user_events": ["HashJoin"],
    "rollup_revenue_region": ["BroadcastHashJoin", "Expand"],
    "semi_join_urgent_custs": ["LeftSemi"],
    "anti_join_quiet_custs": ["LeftAnti"],
    # single scan + paired partial/final aggregate for the new aggs
    "ts_sliding_hour_15m": ["HashAggregate"],
    "json_props_stats": ["HashAggregate"],
    "label_centroids": ["HashAggregate", "Generate"],
    # bench-gram probe must broadcast (map-side join), never shuffle the
    # corpus grams into a sort-merge join
    "contamination": ["BroadcastHashJoin", "!SortMergeJoin"],
    # split assignment is a pure projection: no exchange before the
    # grouping aggregate's own shuffle, no join anywhere
    "sample_split": ["HashAggregate", "!Join"],
    "repetition_stats": ["HashAggregate", "!Join"],
    # cohort sizes broadcast back; no cartesian/nested-loop anywhere
    "cohort_retention": ["BroadcastHashJoin", "!NestedLoop"],
    # SRP pair generation must hash-join on the bucket equality with the
    # id inequality as a post-filter — never a nested-loop over vectors
    "embed_near_pairs_lsh": ["Join", "!NestedLoop"],
    # offsets broadcast; the only global window runs over the constant
    # coarse-bucket rows, the data window is partitioned by range
    "shard_packing": ["BroadcastHashJoin", "Window"],
    # detect+redact is one map-only projection feeding one aggregate:
    # no join anywhere, and text must not survive past the projection
    "pii_scrub": ["HashAggregate", "!Join"],
    # A-ES top-k must be TakeOrderedAndProject (partition heaps), never
    # a global sort, and the priority projection needs no join/exchange
    "weighted_sample": ["TakeOrderedAndProject", "!Sort ", "!Join"],
    # histogram state is bounded (groups × bins) before the shuffle;
    # quantile windows run per group over ≤bins rows; no join anywhere
    "binned_quantiles": ["HashAggregate", "Window", "!Join"],
    # trend operators: raw events collapse to per-key bucket counts
    # (partial+final aggregate) BEFORE any window; no join anywhere
    "anomaly_zscore": ["HashAggregate", "Window", "!Join"],
    "ewma_smooth": ["HashAggregate", "Window", "!Join"],
    # distinct pairs first; the window-end cap is a 1-row broadcast
    # scalar (BroadcastNestedLoopJoin against one row is the intended
    # shape); a true cartesian over data-sized sides is forbidden
    "rolling_distinct_users": ["HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # every stage joins per-user aggregates on the user key
    "funnel_conversion": ["HashAggregate"],
    # doc-frequency joins on the token key over aggregated sides; corpus
    # size N broadcast; per-doc rank window over aggregated rows only
    "tfidf_top_terms": ["HashAggregate", "Window", "BroadcastNestedLoopJoin"],
    "bigram_lm_score": ["HashAggregate", "!CartesianProduct"],
    # digest groups: map-side normalize + one digest shuffle, no join
    "normalize_dedup": ["HashAggregate", "!Join"],
    # shingle self-join must be an equality hash/sort-merge join on the
    # shingle with the id inequality as a filter, never a nested loop
    "containment_pairs": ["Join", "!NestedLoop"],
    # Lloyd iterations: centroid array rides along as a broadcast
    # (1-row nested-loop is the intended shape); assignment is a
    # map-only argmin projection — the corpus must never cartesian-join
    # or hash-shuffle against a |corpus|-sized side
    "kmeans_clusters": ["BroadcastNestedLoopJoin", "!CartesianProduct", "HashAggregate"],
    # sessionize + lead share ONE (user) Exchange+Sort; pair counts are
    # a partial+final aggregate; the share window runs over |types|²
    # aggregated rows — no join anywhere
    "session_transitions": ["Window", "HashAggregate", "!Join"],
    # island flag + island cumsum share one (user, start) sort; both
    # summaries reuse the key partitioning — no join, no explode
    "interval_coverage": ["Window", "HashAggregate", "!Join"],
    # per-slot baselines (≤ |keys|×24 rows) broadcast back onto counts
    "seasonal_baseline": ["HashAggregate", "BroadcastHashJoin"],
    # two chained aggregates, raw rows shuffle once at most — no join
    "key_skew_stats": ["HashAggregate", "!Join"],
    # explicit category list ⇒ single CASE-sum aggregate: no Expand
    # (grouping-sets machinery) and no join
    "event_pivot": ["HashAggregate", "!Expand", "!Join"],
    # chunking is map-only: tokenize → sequence → Generate; the only
    # allowed exchange is _tbl's roundrobin split of the one-file
    # corpus — never a hash shuffle, never a join
    "doc_chunks": ["Generate", "!Exchange hashpartitioning", "!Join"],
    # two-phase salted min-k merge: chained aggregates only — the
    # naive single collect_list(all postings) would need no salt but
    # unbounded state; no window, no join
    "inverted_index": ["HashAggregate", "!Window", "!Join"],
    # counters collapse to ≤ d×w rows (partial+final agg); probes
    # broadcast; exact top-k must be TakeOrderedAndProject (partition
    # heaps), never a global sort
    "heavy_hitters": ["HashAggregate", "BroadcastHashJoin", "TakeOrderedAndProject"],
    # the bloom word table must BROADCAST to the probe side (that is
    # the entire point of the operator); truth check is a semi join
    "bloom_filter_join": ["BroadcastHashJoin", "LeftSemi", "!SortMergeJoin"],
    # dim side explodes (Generate) n_salt-fold and the join stays a
    # real equality hash join on (key, salt) — never a nested loop
    "salted_join": ["Generate", "HashJoin", "!NestedLoop"],
    # unpivot is the map-only Expand; melt feeds no join
    "unpivot_roundtrip": ["Expand", "!Join"],
    # centroids aggregate from posexplode and BROADCAST back for the
    # cohesion pass; corpus vectors never hash-shuffle
    "cluster_quality": ["Generate", "HashAggregate", "BroadcastHashJoin"],
    # per-iteration shape: edges-by-ranks hash join + dst aggregate;
    # the |V| and dangling-mass scalars ride 1-row broadcasts (allowed
    # BroadcastNestedLoopJoin); a data-sized cartesian is forbidden
    "pagerank_transitions": ["HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # staleness bound is a projection on the carried columns — the
    # union-and-carry shape (no join operator) must survive unchanged
    "asof_tolerance": ["Window", "Union", "!SortMergeJoin"],
    # map-only chunking; flagged digests broadcast back onto chunks
    "boilerplate_chunks": ["Generate", "HashAggregate", "BroadcastHashJoin"],
    # within-doc pair join is an equality hash join on the doc key
    # (the a<b predicate is the join condition, not a loop); the 1-row
    # corpus-size scalar rides a broadcast nested loop, which is fine —
    # only a data-sized cartesian is forbidden
    "pmi_pairs": ["HashAggregate", "BroadcastHashJoin", "!CartesianProduct"],
    # global scalars + bin grid ride 1-row/10-row broadcasts; the only
    # data shuffle is the (group, half, bin) aggregate
    "value_drift": ["HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # events collapse to per-(key, day) counts before the lag window
    "period_delta": ["HashAggregate", "Window", "!Join"],
    # the Morton key is pure projection bit math: one aggregate, no
    # join, no window, no explode
    "zorder_layout": ["HashAggregate", "!Join", "!Window", "!Generate"],
    # candidates from the banded LSH path; the exact check is bounded
    # by the candidate doc set (semi-join reduction) — the corpus-wide
    # all-pairs cartesian must never appear
    "minhash_calibration": ["HashAggregate", "LeftSemi", "!CartesianProduct"],
    # all four grouping sets in ONE pass (Expand), fact pre-aggregated
    # in DECIMAL before the broadcast dim join
    "cube_revenue": ["Expand", "BroadcastHashJoin", "HashAggregate"],
    # group medians broadcast back onto the stream twice; exact
    # percentile aggregates (ObjectHashAggregate) per group; no
    # cartesian anywhere
    "mad_outliers": ["BroadcastHashJoin", "HashAggregate", "!CartesianProduct"],
    # token counts then spectrum: chained aggregates; the window runs
    # over |distinct frequencies| rows only
    "freq_spectrum": ["HashAggregate", "Window", "!Join"],
    # ONE aggregate pass over the table (multi-distinct Expand; plans
    # as SortAggregate because of the string min/max) — per-column
    # scans would show as multiple parquet reads
    "schema_profile": ["Expand", "SortAggregate", "!Join"],
    # anti join on projected keys; summary scalars broadcast
    "fk_conformance": ["LeftAnti", "!CartesianProduct"],
    # each side reduces to (key, digest) BEFORE the full outer join;
    # payload columns must not cross the exchange
    "snapshot_diff": ["FullOuter", "HashAggregate", "!CartesianProduct"],
    # query block broadcasts; per-query top-k is the two-phase salted
    # merge (chained aggregates) — no per-query Window sort over the
    # corpus and no shuffled join
    "knn_join": ["HashAggregate", "BroadcastNestedLoopJoin", "!Window", "!SortMergeJoin"],
    # blocking must plan as an EQUALITY hash join (the whole point);
    # best-match is one min(struct) aggregate (SortAggregate — struct
    # min has no hash form), no window
    "fuzzy_match": ["HashJoin", "SortAggregate", "!NestedLoop", "!Window"],
    # one key shuffle for the lag window; exact-percentile aggregate
    # (ObjectHashAggregate) reuses it — no join
    "interarrival": ["Window", "Aggregate", "!Join"],
    # voting rides the salted knn shape + broadcast label joins — no
    # per-query window, no shuffled join of the N x N scored pairs
    "label_agreement": ["HashAggregate", "BroadcastNestedLoopJoin", "!Window", "!SortMergeJoin"],
    # both exact and probed paths broadcast the query block and rank
    # via the salted merge — no per-query window over corpus rows
    "lsh_recall": ["HashAggregate", "BroadcastNestedLoopJoin", "!Window", "!SortMergeJoin"],
    # per-key mins broadcast back onto aggregated counts; the OLS sums
    # are one more aggregate — no window, no sort-merge join
    "trend_slope": ["HashAggregate", "BroadcastHashJoin", "!Window", "!SortMergeJoin"],
    # each FD candidate is two chained aggregates; no join anywhere
    "fd_check": ["HashAggregate", "Union", "!Join"],
    # one lag window on the (user, type) key, then a count aggregate
    "event_debounce": ["Window", "HashAggregate", "!Join"],
    # pair join runs over AGGREGATED bucket counts on the bucket key;
    # correlation sums are one aggregate — no window
    "count_correlation": ["HashAggregate", "Join", "!Window"],
    # NTILE needs the single-partition sort (documented small-dim use);
    # no join
    "revenue_deciles": ["Window", "HashAggregate", "!Join"],
    # per-group cut/median aggregates broadcast back; clip/fill is a
    # projection; no window, no cartesian
    "winsorize": ["BroadcastHashJoin", "Aggregate", "!Window", "!CartesianProduct"],
    "impute_median": ["BroadcastHashJoin", "Aggregate", "!Window", "!CartesianProduct"],
    # digest counts join back on the short digest key; quality is a
    # map-only projection joined on the doc id — no window, no
    # cartesian
    "source_scorecard": ["HashAggregate", "Join", "!Window", "!CartesianProduct"],
    # prediction is map-only; everything after the confusion aggregate
    # is metrics-table sized
    "langid_metrics": ["HashAggregate", "!CartesianProduct", "!Window"],
    # two per-user min aggregates; the summary scalars ride a 1-row
    # broadcast — no data-sized cartesian
    "conversion_latency": ["HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # fact pre-aggregates to the supplier key before the broadcast dim
    # join; the Pareto window runs over |suppliers| aggregated rows
    "supplier_pareto": ["HashAggregate", "BroadcastHashJoin", "Window"],
    # rank window runs over per-(group, key) AGGREGATED counts only
    "gini_activity": ["HashAggregate", "Window", "!Join"],
    # injection is a map-only union feeding the banded LSH path; the
    # truth join moves id pairs only — never a corpus cartesian
    "dedup_recall": ["Union", "HashAggregate", "!CartesianProduct"],
    # distinct (group, key) pairs first; the pair self-join is an
    # equality hash join on the key; set sizes broadcast back
    "audience_overlap": ["HashAggregate", "Join", "!CartesianProduct", "!Window"],
    # --- round-5 additions: full-registry audit coverage ---
    # A-ES priority is a projection; per-group top-k is the rank
    # window on the group key — one shuffle, no join
    "grouped_weighted_sample": ["Window", "!Join"],
    # anchor scalar on a 1-row broadcast; partial-agg on the key; top-k
    # is partition heaps, never a global sort
    "decayed_topk": ["HashAggregate", "BroadcastNestedLoopJoin", "TakeOrderedAndProject", "!Sort ", "!CartesianProduct"],
    # distinct (id, surrogate) pairs then one scalar aggregate; no join
    "pseudonym_audit": ["HashAggregate", "!Join"],
    # one group aggregate; corpus scalars ride 1-row broadcasts; the
    # remainder-rank window runs over the |groups|-grain plan table
    "temperature_mix": ["HashAggregate", "BroadcastNestedLoopJoin", "Window", "!CartesianProduct"],
    # events collapse to (key, day) counts before ANY window; both
    # scan windows and the rank window run over bucket-grain rows
    "changepoints": ["HashAggregate", "Window", "!Join"],
    # distinct (doc, gram) pairs partition by content; the gram-df join
    # is an equality join straight back on the same key
    "ngram_novelty": ["Generate", "HashAggregate", "Join", "!NestedLoop", "!CartesianProduct"],
    # per-dim ranges aggregate to |dims| rows and BROADCAST back; the
    # component explode is map-only — vectors never join vectors
    "quantize_audit": ["Generate", "HashAggregate", "BroadcastHashJoin", "!CartesianProduct"],
    # two per-user min-aggregates; observation end rides a 1-row
    # broadcast; windows run over the period-grain table only
    "kaplan_meier": ["HashAggregate", "Window", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # r14: ONE content-keyed gram groupBy (occurrence-list aggregate,
    # ObjectHashAggregate) + bounded double explode replaces the gram
    # self-join — no Join node can appear at all, so no corpus-sized
    # broadcast relation and never a nested loop / cartesian; islands
    # windows still run over candidate (pair, diag) groups only
    "duplicated_spans": ["Generate", "ObjectHashAggregate", "Window", "HashAggregate", "!Join", "!NestedLoop", "!CartesianProduct"],
    # per-domain counts aggregate + join back; the row_number sort runs
    # ONLY on the over-cap branch; under-cap rows union through sortless
    "domain_cap": ["HashAggregate", "Window", "Union", "!CartesianProduct", "!NestedLoop"],
    # map-only prediction projection, id equi-join, |langs|^2 aggregate
    "langid_confusion": ["HashAggregate", "Join", "!NestedLoop", "!CartesianProduct"],
    # one tokenize pass; all joins are over vocabulary-grain aggregates;
    # the corpus total rides a 1-row broadcast; rank window per group
    "distinctive_terms": ["HashAggregate", "Window", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # category-grain counts after map-side combine; mid-time scalar
    # broadcast; chi2 window runs over |categories| rows
    "categorical_drift": ["HashAggregate", "Window", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # change-flag + run cumsum share one per-key sort; the close-time
    # lead runs over run-grain aggregated rows; no join anywhere
    # (Spark picks SortAggregate here — inputs arrive pre-sorted from
    # the window, so the bare "Aggregate" needle accepts either)
    "scd2_intervals": ["Window", "Aggregate", "!Join"],
    # fact collapses to distinct-x rows before the only sort; frontier
    # rows return via an equality join on x
    "skyline_docs": ["HashAggregate", "Window", "Join", "!NestedLoop", "!CartesianProduct"],
    # per-(group, value) weight sums before the cumulative window
    "weighted_median_len": ["HashAggregate", "Window", "!Join"],
    # counts aggregate before the lag self-join (equality, short rows)
    "autocorr_hourly": ["HashAggregate", "Join", "!NestedLoop", "!CartesianProduct"],
    # sessionize + lead share one per-user sort; |types|^2 aggregate
    "transition_entropy": ["Window", "HashAggregate", "!CartesianProduct"],
    # two bounded d*w counter tables + their equality join; the exact
    # side joins per-key COUNT tables; 1-row scalars broadcast
    "join_size_est": ["HashAggregate", "Join", "!CartesianProduct"],
    # rows collapse to per-(group, value) counts before the ECDF
    # window; the mid-time scalar rides a 1-row broadcast
    "ks_drift": ["HashAggregate", "Window", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # per-key running max + exact percentiles; no join anywhere
    "lateness_audit": ["Window", "HashAggregate", "!Join"],
    # digest projection + two bounded aggregates; payload never joins
    "dup_inflation": ["HashAggregate", "!Join"],
    # map-only norms + per-label DECIMAL aggregate; the tiny moment
    # table broadcasts back for the outlier count
    "norm_outliers": ["HashAggregate", "BroadcastHashJoin", "!CartesianProduct"],
    # events collapse to bucket counts BEFORE the calendar-bounded
    # quadratic pair join (equality on the key, never nested loop)
    "theilsen_trend": ["HashAggregate", "Join", "!NestedLoop", "!CartesianProduct"],
    # sessionize + leads share per-user sorts; counts aggregate with
    # map-side combine; top-k is a partition-heap merge, no join
    "session_paths": ["Window", "HashAggregate", "TakeOrderedAndProject", "!Join"],
    # map-only digit projection + one aggregate; totals via window
    "benford_totalprice": ["HashAggregate", "Window", "!Join"],
    # per-user aggregate first; corpus end rides a 1-row broadcast;
    # ntile windows run over |users| aggregated rows (documented)
    "rfm_segments": ["HashAggregate", "BroadcastNestedLoopJoin", "Window", "!CartesianProduct"],
    # pair generation bucket-bounded (stop-cell guard), edges aggregate
    # before the wedge joins; every join is an equality join
    "triangle_cooccurrence": ["Join", "HashAggregate", "!NestedLoop", "!CartesianProduct"],
    # per-doc token count is map-only; totals ride a 1-row broadcast
    # (BroadcastNestedLoopJoin against one row is the intended shape)
    "context_budget": ["HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # train tables pre-aggregate before the LEFT joins; the scalar V
    # rides a 1-row broadcast (BroadcastNestedLoopJoin is that shape)
    "bigram_holdout": ["HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # winnowing: per-doc sliding-min window over exploded gram hashes,
    # fp self-join must be an equality join — never nested loop/cartesian
    # r14 continuation: grouped occurrence-list pair generation — the
    # collect_list aggregate (ObjectHashAggregate) + bounded explode
    # (Generate) replace the fp self-join; the remaining Joins are the
    # two size lookups
    "winnow_pairs": ["Window", "Join", "Generate", "ObjectHashAggregate", "HashAggregate", "!NestedLoop", "!CartesianProduct"],
    # candidates from the simhash segment equality join; the O(prefix²)
    # levenshtein runs on candidate rows only — no all-pairs operator.
    # r13-opt: the fingerprint aggregate sits behind the operator's
    # localCheckpoint (invisible here) and the candidate dedup shuffle
    # was replaced by first-matching-segment attribution, so the
    # visible plan asserts the pinned broadcast-hash candidate join
    # instead of a HashAggregate.
    "editdist_pairs": ["BroadcastHashJoin", "!NestedLoop", "!CartesianProduct"],
    # registers collapse with map-side partial max (≤ groups × 2^p rows
    # before the shuffle); the exact side joins on the group key only
    "hll_distinct": ["HashAggregate", "!NestedLoop", "!CartesianProduct"],
    # one QI-key hash aggregate; the exposure scalars are empty-key
    # windows over class-grain rows — raw records never re-shuffle
    "k_anonymity": ["HashAggregate", "Window", "!Join", "!CartesianProduct"],
    # single count aggregate; the Laplace draw is a scalar md5
    # expression over the group key — no second pass, no join
    "dp_noisy_counts": ["HashAggregate", "!Join", "!Window", "!CartesianProduct"],
    # bin-id hash aggregate with map-side combine; ECE rides empty-key
    # windows over <= n_bins rows
    "calibration_bins": ["HashAggregate", "Window", "!Join", "!CartesianProduct"],
    # threshold explode collapses inside the task (map-side combine on
    # the generated column); one shuffle of |thresholds| partial rows
    "filter_sweep": ["Generate", "HashAggregate", "!Join", "!CartesianProduct"],
    # tokenize explode -> two bounded aggregates (bucket grain, token
    # first-occurrence); cumsums run over <= n_buckets rows; the id
    # range is a 1-row broadcast
    "vocab_growth": ["Generate", "HashAggregate", "BroadcastNestedLoopJoin", "Window", "!CartesianProduct"],
    # (token, doc) then token-grain aggregates, both map-side combined;
    # N rides a 1-row broadcast; rank window over vocabulary-grain rows
    "burstiness": ["Generate", "HashAggregate", "BroadcastNestedLoopJoin", "Window", "!CartesianProduct"],
    # (group, hour) count aggregate feeds per-group lag windows over
    # hour-grain rows; final rollup per group — no join
    "forecast_eval": ["HashAggregate", "Window", "!Join", "!CartesianProduct"],
    # candidates from PREFIX-token equality joins only; verify join is
    # candidate-bounded; the all-pairs shape must never appear
    "prefix_jaccard_pairs": ["Join", "HashAggregate", "!CartesianProduct", "!NestedLoop"],
    # the returned plan reads the CONVERGED localCheckpoint (the CC
    # rounds executed eagerly), so only the absence checks are
    # meaningful here — the per-round join shape is dedup_clusters'
    "entity_clusters": ["!CartesianProduct", "!NestedLoop"],
    # two half-aggregates merge through ONE full-outer hash join on the
    # rollup key (SortMergeJoin acceptable: both sides are aggregate-
    # grain); the mid scalar rides a 1-row broadcast
    "incremental_rollup": ["HashAggregate", "Join", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # ONE global aggregate row carries every decimal sum; pair rows are
    # unpacked from it via a generated-array explode — no joins at all
    "corr_matrix": ["HashAggregate", "Generate", "!Join", "!CartesianProduct"],
    # (x, y) cell aggregate; marginals + total are windows over
    # cell-grain rows — raw events shuffle once
    "mutual_info": ["HashAggregate", "Window", "!Join", "!CartesianProduct"],
    # bin-grain aggregate; cumulative walk + totals are windows over
    # <= n_bins rows
    "lift_curve": ["HashAggregate", "Window", "!Join", "!CartesianProduct"],
    # key-grain conditional-half aggregate; rank windows run over the
    # aggregate only; mid scalar rides a 1-row broadcast
    "topk_churn": ["HashAggregate", "Window", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # map-side posexplode; (label, dim) then label-grain aggregates;
    # the counts join is label-grain — no pairwise vector compare
    "embedding_drift": ["Generate", "HashAggregate", "Join", "!CartesianProduct", "!NestedLoop"],
    # map-side posexplode; ONE dim-grain partial+final aggregate; the
    # exact-decimal moments are scalar projection — no join, no window
    "embedding_moments": ["Generate", "HashAggregate", "!Join", "!Window", "!CartesianProduct"],
    # ONE sufficient-statistics aggregate per group; Cramer algebra is
    # scalar projection over group-grain rows — no join, no window
    "ols2_fit": ["HashAggregate", "!Join", "!Window", "!CartesianProduct"],
    # one from_json parse + map explode; key-grain aggregate
    "json_schema_profile": ["Generate", "HashAggregate", "!Join", "!CartesianProduct"],
    # all expectations fold into ONE aggregate row; constraint rows
    # unpack via a generated array — no join, no second scan
    "expectations_audit": ["HashAggregate", "Generate", "!Join", "!CartesianProduct"],
    # global range rides a 1-row broadcast; ONE (group, bin) aggregate
    "grouped_histogram": ["HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin"],
    # SCD2 build (shared per-key sort) + an EQUALITY hash join on the
    # key with the interval predicate as residual — never range-only
    "pit_state_join": ["Window", "Join", "!CartesianProduct", "!NestedLoop"],
    # latest-wins window over the CHANGELOG only; base survives via a
    # left-anti hash join; union — the base never sorts
    "cdc_upsert": ["Window", "Join", "Union", "!CartesianProduct", "!NestedLoop"],
    # map-only char-class counts folded by one group aggregate
    "encoding_audit": ["HashAggregate", "!Join", "!Window", "!CartesianProduct"],
    # map-only token/word counts folded by one language aggregate
    "token_fertility": ["HashAggregate", "!Join", "!Window", "!CartesianProduct"],
    # <= |groups|x168 cells after map-side combine; share is a window
    # over cell-grain rows
    "calendar_heatmap": ["HashAggregate", "Window", "!Join", "!CartesianProduct"],
    # conversions x touches join on USER equality with the lookback as
    # residual; credit windows over conversion-grain joined rows
    "attribution_split": ["Join", "Window", "HashAggregate", "!CartesianProduct", "!NestedLoop"],
    # pair list (prefix-filtered, subquadratic) joins the split
    # projection twice on id equality; |splits|^2 cells
    "split_leakage_audit": ["Join", "HashAggregate", "!CartesianProduct", "!NestedLoop"],
    # one exact-percentile aggregate per group; array unzip is a
    # generated projection
    "group_quantiles": ["Generate", "!Join", "!CartesianProduct"],
    # distinct (basket, item) first; within-basket self-join fans out
    # at |items-per-basket|^2; totals ride a 1-row broadcast
    "assoc_rules": ["HashAggregate", "Join", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # gaps-and-islands cumsum shares one per-user sort; entry/exit via
    # min_by/max_by at session grain; total rides a 1-row broadcast
    "session_entry_exit": ["Window", "HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # (group, bin) aggregate; probs via per-group window; pairwise join
    # runs on BIN-GRAIN rows only (the range scalar rides a 1-row
    # BroadcastNestedLoopJoin, so the bare !NestedLoop needle is off)
    "dist_overlap": ["HashAggregate", "Window", "Join", "BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin"],
    # (label, dim) sums; pairwise join on dim over label-grain sums
    "label_centroid_dists": ["Generate", "HashAggregate", "Join", "!CartesianProduct", "!NestedLoop"],
    # group-grain quantile cuts broadcast back onto the fact scan; the
    # conditional mean folds in one aggregate
    "trimmed_mean": ["HashAggregate", "BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"],
    # tokenize explode -> (group, token) counts -> group rollup
    "hapax_rate": ["Generate", "HashAggregate", "!Join", "!CartesianProduct"],
    # lines pre-aggregate per key BEFORE the header join; rollup at
    # group grain
    "reconciliation_audit": ["HashAggregate", "Join", "!CartesianProduct", "!NestedLoop"],
    # RANGE-frame window per key (one time sort), key-grain max + tie
    # resolve join, global top-k over key-grain rows
    "burst_windows": ["Window", "HashAggregate", "Join", "!CartesianProduct", "!NestedLoop"],
    # one category aggregate; prior + encoding via windows over
    # category-grain rows
    "target_encoding": ["HashAggregate", "Window", "!Join", "!CartesianProduct"],
    # dims broadcast onto the fact join; one (l1, l2) aggregate; share
    # windows over cell-grain rows
    "hierarchical_shares": ["BroadcastHashJoin", "HashAggregate", "Window", "!CartesianProduct"],
    # map-only hash-indexed vocab lookup + slot explode; the false-
    # negative filter is a left-anti hash join on short keys
    "negative_pairs": ["Generate", "Join", "!CartesianProduct", "!SortMergeJoin"],
    # sessionize + position share ONE per-user sort; session-grain
    # min-aggregate; single summary row
    "mrr_sessions": ["Window", "HashAggregate", "!Join", "!CartesianProduct"],
    # (type, hour) aggregate; each lag folds the hour-grain join; the
    # 7-row union is plan-level, not data-level
    "crosscorr_types": ["HashAggregate", "Join", "Union", "!CartesianProduct", "!NestedLoop"],
    # key-grain conditional-half DECIMAL sums; total + rank windows
    # over key-grain rows; mid scalar on a 1-row broadcast
    "delta_attribution": ["HashAggregate", "Window", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # membership is a scalar md5 predicate; truth + sample fold in ONE
    # stratum aggregate — single scan, no join
    "bernoulli_ht_audit": ["HashAggregate", "!Join", "!Window", "!CartesianProduct"],
    # successor pairs from one per-user lag window; model reduces to
    # |states| argmax rows and BROADCASTS onto the test join
    "markov_accuracy": ["Window", "BroadcastHashJoin", "HashAggregate", "!CartesianProduct", "!SortMergeJoin"],
    # one tokenize pass with the half tag generated; vocabulary-grain
    # aggregate; totals + ranks as windows over vocab rows
    "vocab_drift": ["Generate", "HashAggregate", "Window", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    # bounded B-way explode folds straight into the (b) aggregate; the
    # CI quantile runs over B rows; overall stats join via a 1-row
    # broadcast — the resampled dataset never materializes
    "bootstrap_ci_mean": ["Generate", "HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin"],
    # one exact-percentile aggregate per hour-of-day; array unzip is a
    # generated projection
    "seasonal_quantile_bands": ["Generate", "HashAggregate", "!Join", "!CartesianProduct"],
    # corpus collapses to vocabulary first; pair explode runs over
    # distinct tokens; top-k is a partition-heap merge, never global sort
    "bpe_pairs": ["HashAggregate", "TakeOrderedAndProject", "!Join"],
    # per-key rank windows over aggregated bucket counts; pair join on
    # the bucket key over short rows
    "spearman_activity": ["HashAggregate", "Window", "Join", "!NestedLoop", "!CartesianProduct"],
    # one rank window per source over aggregation-grain rows; no join
    "quality_auc": ["Window", "HashAggregate", "!Join"],
    # Arrow-batched media featurization is map-only: payloads must not
    # shuffle or join
    "multimodal_features": ["MapInPandas", "!Join", "!Exchange hashpartitioning"],
    # reference-parity facade queries: ±N fan-out is the Generate, the
    # bucket rollup the partial+final HashAggregate; single-series paths
    # must not join
    "ts_properties": ["Generate", "HashAggregate", "!Join"],
    "ts_list_names": ["Generate", "HashAggregate", "!Join"],
    "ts_greg_daily": ["Generate", "HashAggregate", "!Join"],
    "ts_greg_weekly": ["Generate", "HashAggregate", "!Join"],
    "ts_greg_monthly_rate": ["Generate", "HashAggregate", "!Join"],
    "ts_fanout_minute": ["Generate", "HashAggregate", "!Join"],
    # retention cutoff is a 1-row max-ts scalar riding a broadcast
    "ts_retention_filter": ["Generate", "HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    "ts_histogram_transforms": ["Generate", "HashAggregate", "!Join"],
    # map-valued histogram rate: percentile state is the ObjectHashAggregate
    "ts_histogram_rate": ["Generate", "HashAggregate", "ObjectHashAggregate", "!Join"],
    "ts_variance_collapse": ["Generate", "HashAggregate", "!Join"],
    # gauge multi-name join-merge runs as grouped map-merge aggregates,
    # not a row join — no join operator may appear
    "ts_gauge_join": ["Generate", "HashAggregate", "!Join", "!CartesianProduct"],
    "ts_series_condense_order": ["Generate", "HashAggregate", "ObjectHashAggregate", "!Join"],
    # iterate spine join is broadcast (bucket-count sized spine)
    "ts_iterate_full": ["Generate", "BroadcastHashJoin", "HashAggregate", "!CartesianProduct"],
    "word_entropy": ["Generate", "HashAggregate", "!Join"],
    # new-batch digests semi/anti-join the seen set on the short digest key
    "dedup_incremental": ["LeftSemi", "LeftAnti", "!CartesianProduct"],
    # rank window runs over per-(lang, token) AGGREGATED counts
    "token_topk_by_lang": ["Generate", "HashAggregate", "Window", "!CartesianProduct"],
    "sketch_distinct": ["HashAggregate", "!CartesianProduct"],
    # per-customer rank window (hash-partitioned by the key, never global)
    "window_top_orders": ["Window", "!Join"],
    "dedup_exact_groups": ["HashAggregate", "!CartesianProduct"],
    # shingle equality join (broadcast at test scale, SMJ at 100 TB) —
    # the all-pairs oracle shape is quarantined; no nested loop
    "dedup_ngram_jaccard": ["Generate", "HashAggregate", "Join", "!NestedLoop", "!CartesianProduct"],
    "training_data_prep": ["LeftSemi", "Union", "HashAggregate", "!CartesianProduct"],
    "minhash_lsh_pairs": ["Generate", "HashAggregate", "!NestedLoop", "!CartesianProduct"],
    "simhash_sample": ["Generate", "HashAggregate", "!Join"],
    # r13-opt: fingerprint HashAggregate sits behind the operator's
    # localCheckpoint; the visible plan is the posexplode (Generate) +
    # the PINNED broadcast-hash segment join (the bounded-frame gate),
    # with the dropDuplicates shuffle replaced by first-matching-
    # segment attribution.
    "simhash_near_pairs": ["Generate", "BroadcastHashJoin", "!NestedLoop", "!CartesianProduct"],
    # per-doc stat projections are map-only: no join, no hash shuffle
    # (the only allowed exchange is _tbl's roundrobin corpus split)
    "text_stats": ["!Join", "!Exchange hashpartitioning"],
    "quality_scores": ["!Join", "!Exchange hashpartitioning"],
    "lang_id": ["!CartesianProduct", "!Exchange hashpartitioning"],
    # exact top-k must be partition heaps, never a global sort
    "token_topk": ["Generate", "HashAggregate", "TakeOrderedAndProject", "!Sort ", "!Join"],
    # 1-hash MinHash: struct min has no hash form -> SortAggregate
    "doc_fingerprint": ["Generate", "SortAggregate", "!Join"],
    # bounded exact pair check: the id-capped block broadcasts and the
    # inequality predicate rides the BNLJ — a data-sized cartesian is
    # forbidden (the cap is what makes this the oracle path)
    "embed_near_pairs": ["BroadcastNestedLoopJoin", "!CartesianProduct"],
    "ann_lsh_topk": ["TakeOrderedAndProject", "!Sort ", "!CartesianProduct"],
    "frame_sample": ["Generate", "HashAggregate", "!Join"],
    "stratified_sample": ["HashAggregate", "!Join", "!Window"],
    "ts_count_rate_minute": ["Generate", "HashAggregate", "!Join"],
    "ts_series_transforms_hour": ["Generate", "HashAggregate", "!Join"],
    "ts_condense_hour": ["Generate", "HashAggregate", "!Join"],
    "ts_collapse_range": ["Generate", "HashAggregate", "!Join"],
    "ts_histogram_daily": ["Generate", "HashAggregate", "!Join"],
    # last-write-wins = max_by over (ts, value) structs -> SortAggregate
    "ts_gauge_last_hour": ["Generate", "SortAggregate", "!Join"],
    "ts_set_hour": ["Generate", "HashAggregate", "!Join"],
    "ts_multi_name_merge": ["Generate", "HashAggregate", "!Join"],
    "ts_set_cross_series": ["Generate", "HashAggregate", "!Join"],
    # bucket-explode Generate + per-bucket window ranks, no join
    "ts_histogram_percentiles": ["Generate", "Window", "HashAggregate", "!Join"],
    # two resolutions aggregate from one bucketized scan union — no join
    "ts_multires_rollup": ["Generate", "HashAggregate", "!Join"],
    # exact typed percentiles: one aggregation pass, no join/window
    "value_percentiles": ["HashAggregate", "!Join", "!Window"],
    # keeper choice joins digest-grain winners back — hash semi path,
    # small side broadcast; payload never sort-merges
    "dedup_exact_keep": ["LeftSemi", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"],
    # shingle explode + per-doc min-hash aggregation, no join
    "minhash_first_hashes": ["Generate", "HashAggregate", "!Join"],
    # brute-force scorer is map-only scan + global top-k: no sort of
    # the full table, no join anywhere
    "ann_cosine_topk": ["TakeOrderedAndProject", "!Sort ", "!Join"],
    # fine-grain read re-bucketizes the coarse scan: Generate + agg,
    # interval filter pushed to the parquet scan
    "ts_fine_hour_minute": ["Generate", "HashAggregate", "PushedFilters", "!Join"],
    # spine join fills gaps: bucket spine broadcasts against the agg —
    # hash join, never degenerate
    "ts_spine_gapfill": ["Generate", "BroadcastHashJoin", "HashAggregate", "!CartesianProduct"],
    # dedup_clusters / dedup_clusters_lsh: EXEMPT from plan assertions —
    # the returned DataFrame is the post-convergence result of the
    # pointer-jumping loop (per-iteration plans are the thing with
    # structure; their shape — band-bucket join, no cartesian — is
    # asserted by the operator design and the dedup unit tests, and the
    # convergence driver sees one scalar per round).
}


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    spark = (
        configured_builder("kairos_spark-plan-audit", cores=8)
        .master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Queries whose registered output frame is a LocalTableScan by
    # construction (driver-side greedy loops): audit the real per-step
    # plan surface instead (ADVICE r12).
    from kairos_spark.operators import text as _text

    overrides = {
        "facility_select": lambda sp, sf: _text.facility_first_step(
            q._tbl(sp, sf, "documents"), n=3, sample_docs=64
        ),
        "bpe_merge_chain": lambda sp, sf: _text.bpe_chain_first_pairs(
            q._tbl(sp, sf, "documents")
        ),
        "kcenter_coreset": lambda sp, sf: __import__(
            "kairos_spark.operators.similarity", fromlist=["similarity"]
        ).kcenter_first_step(q._tbl(sp, sf, "embeddings")),
    }

    sections = []
    ok = True
    for name in AUDITED:
        build = overrides.get(name, q.QUERIES[name])
        text = plan_text(build(spark, SF_DIR))
        for needle in CHECKS.get(name, []):
            if needle.startswith("!"):
                if needle[1:] in text:
                    print(f"AUDIT FAIL {name}: forbidden {needle[1:]!r} present")
                    ok = False
            elif needle not in text:
                print(f"AUDIT FAIL {name}: missing {needle!r}")
                ok = False
        sections.append(f"## {name}\n\n```\n{text.strip()}\n```\n")

    header = (
        "# PLANS — physical-plan audit of headline queries\n\n"
        "Generated by tools/plan_audit.py (sf dir: %s). What to look for:\n"
        "`PushedFilters`/`ReadSchema` at scans (pushdown + column\n"
        "pruning), `BroadcastHashJoin` for dims, paired partial/final\n"
        "`HashAggregate` around each `Exchange`.\n\n" % SF_DIR
    )
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(header + "\n".join(sections))
    print("PLANS.md written;", "all checks passed" if ok else "CHECKS FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
