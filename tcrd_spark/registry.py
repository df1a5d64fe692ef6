"""Central query registry: collects QUERIES/ORACLE from every module.

`__spark_entry__.py` (the driver contract) is a thin shim over this.
Each query name appears in exactly one module; a name collision is a
bug and raises at import time.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from tcrd_spark.session import clear

_MODULES = []

PRIORITY = (
    # ---- the 50-query adjudication cap for round 12, emitted by
    # tools/rotate_cap.py (obligations first): CORRECTNESS_r11 landed
    # after the r11 optimization commits, expiring every one-round
    # churn grace at once — 81 obligations (the r11 session touched
    # functions/hashing.py, operators/graph.py and pipeline/dedup.py,
    # whose import closures cover most of the registry) for 50 slots.
    # The cap takes the first 50 alphabetically; the remaining 31 are
    # explicitly deferred ONE round in DEFERRALS.json (they sort first
    # at the next rotation), and every deferred query is still
    # re-hash-matched against DuckDB by this round's tools/check.py
    # sweeps and the pytest oracle sweep — grace never means
    # unverified. Staleness bound: ceil(209/50) = 5 rounds.
    "ancestor_closure",
    "ann_bruteforce",
    "ann_ivf",
    "ann_ivf_indexed",
    "ann_ivfpq",
    "ann_ivfsq",
    "ann_pq_rerank",
    "ann_pq_topk",
    "ann_sq_topk",
    "apsp_min_merge",
    "bm25_search",
    "ccnet_buckets",
    "classifier_quality_gate",
    "cms_heavy_hitters",
    "compressibility_buckets",
    "corpus_clean",
    "corpus_divergence",
    "decontaminate_bloom",
    "dedup_embedding_cosine",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "domain_mixture_exact",
    "domain_mixture_sample",
    "entity_tagging",
    "gopher_quality_filter",
    "gopher_repetition",
    "hard_negatives",
    "hard_negatives_shortlist",
    "hgram_cdf",
    "html_extract",
    "image_near_dups",
    "incremental_orders_agg",
    "kmeans_assign",
    "kmv_distinct",
    "lang_id",
    "leakage_safe_split",
    "line_dedup",
    "lm_trigram_perplexity",
    "mixture_token_budget",
    "mixture_weights",
    "mmr_rerank",
    "nb_classify",
    "nearest_flagged",
    "pagerank",
    "phrase_search",
    "qualitative_levels",
    "quality_quantile_filter",
    # ---- past the driver's 50-query cap (position 51+) ----
    # 31 churn-stale obligations DEFERRED one round (81 obligations
    # > 50 slots; DEFERRALS.json records them; they head the r13 cap)
    "rrf_fusion",  # green r7 [deferred]
    "semantic_dedup",  # green r7 [deferred]
    "semantic_dedup_pairs",  # green r7 [deferred]
    "sequence_pack",  # green r7 [deferred]
    "tau_continuous",  # green r7 [deferred]
    "tau_ordinal",  # green r7 [deferred]
    "tdl_classification",  # green r7 [deferred]
    "tdl_refresh_delta",  # green r7 [deferred]
    "tinx_importance",  # green r7 [deferred]
    "tinx_novelty",  # green r7 [deferred]
    "tinx_pmid_rankings",  # green r7 [deferred]
    "winnow_fingerprints",  # green r7 [deferred]
    "sample_stratified",  # green r8 [deferred]
    "text_clean_pii",  # green r8 [deferred]
    "text_quality",  # green r8 [deferred]
    "text_stats",  # green r8 [deferred]
    "tokenizer_fertility",  # green r8 [deferred]
    "triangle_counts",  # green r8 [deferred]
    "vocab_topk",  # green r8 [deferred]
    "web_pipeline",  # green r8 [deferred]
    "web_pipeline_funnel",  # green r8 [deferred]
    "quantile_sketch",  # green r10 [deferred]
    "snapshot_changes",  # green r10 [deferred]
    "substring_dedup",  # green r10 [deferred]
    "substring_dedup_incremental",  # green r10 [deferred]
    "substring_excise",  # green r10 [deferred]
    "table_profile",  # green r10 [deferred]
    "theta_sketch_ops",  # green r10 [deferred]
    "winnow_candidate_pairs",  # green r10 [deferred]
    "zorder_sampled",  # green r10 [deferred]
    "zorder_values",  # green r10 [deferred]
    "grouping_sets_mix",
    "merge_intervals",
    "rolling_anomaly",
    "unpivot_metrics",
    "welch_ttest",
    "winsorize_values",
    "anti_join_notfnd",
    "asof_forward_events",
    "chunk_documents",
    "date_funcs",
    "dq_expectations",
    "dq_group_expectations",
    "embedding_covariance",
    "embedding_meanpool",
    "fallback_join_cascade",
    "mean_std_population",
    "median_per_group",
    "profile_documents",
    "self_join_common",
    "session_durations",
    "shipping_priority",
    "tfidf_topterms",
    "type_histogram",
    "url_filter",
    "window_range_interval",
    "window_rank_funcs",
    "window_sliding",
    "asof_join_segmented",
    "beans_counts",
    "bridge_m2n_join",
    "decile_bucketing",
    "dedup_composite_key",
    "distinct_projection",
    "dq_drift_gate",
    "drift_psi",
    "event_pattern_match",
    "except_sets",
    "filter_like_null",
    "frank_level_buckets",
    "group_sum",
    "grouped_set_agg",
    "intersect_sets",
    "json_case_funcs",
    "k_anonymity_audit",
    "keyset_pagination",
    "lookup_point_join",
    "min_tie_expansion",
    "mode_consensus",
    "multimodal_features",
    "nested_document",
    "pit_feature_join",
    "pivot_wide",
    "pricing_summary",
    "rank_compound_order",
    "resample_gapfill",
    "rollup_counts",
    "scan_project_filter",
    "semi_join",
    "session_pattern_match",
    "sessionize_skew",
    "string_math_funcs",
    "three_way_entity_join",
    "topk_per_group",
    "union_dedup",
    "asof_join_events",
    "cohort_retention",
    "dedup_edit_distance",
    "funnel_stages",
    "lm_perplexity",
    "lm_top_bigrams",
    "lttb_downsample",
    "merge_upsert",
    "range_join_events",
    "sessionize_events",
    "skyline_parts",
    "wide_export",
    "window_session",
    "window_tumbling",
    "association_rules",
    "attribution_touch",
    "big_share_parts",
    "blamed_suppliers",
    "bpe_pair_counts",
    "chi2_independence",
    "clique_expansion",
    "consensus_expression",
    "corpus_pipeline",
    "corpus_pipeline_v2",
    "corpus_shard_assign",
    "corr_not_exists_idle",
    "corr_scalar_below_avg",
    "cube_counts",
    "decontaminate",
    "dedup_containment",
    "dedup_groups_cc",
    "dedup_incremental",
    "dedup_incremental_indexed",
    "dedup_incremental_lsh",
    "dedup_rep_quality",
    "doc_compressibility",
    "dsir_sample",
    "dsir_weights",
    "dv_deletes",
    "dv_merge",
    "dv_updates",
    "event_transitions",
    "excess_share_suppliers",
    "group_ols",
    "incremental_join_agg",
    "lake_history",
    "min_cost_supplier",
    "scd2_apply_batch",
    "scd2_history",
    "top_revenue_supplier",
    "tpch_q10_returned",
    "tpch_q12_priority_lines",
    "tpch_q13_custdist",
    "tpch_q14_promo",
    "tpch_q16_supplier_cnt",
    "tpch_q18_large_orders",
    "tpch_q19_disjunctive",
    "tpch_q4_priority",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_profit",
    "video_near_dups",
)


def _collect():
    from tcrd_spark.operators import (
        aggregates,
        joins,
        scans,
        setops,
        temporal,
        temporal_skew,
        windows,
    )
    from tcrd_spark.functions import scalars

    mods = [scans, joins, aggregates, windows, setops, temporal,
            temporal_skew, scalars]
    for name in ("graph",):
        try:
            from tcrd_spark.operators import graph as _g

            mods.append(_g)
        except ImportError:
            pass
    for modname in ("operators.olap_ext", "operators.basket",
                    "operators.skyline", "operators.regress",
                    "operators.scd", "operators.analytic_ext",
                    "operators.attribution", "operators.triangles",
                    "operators.stats", "operators.sessions_ext",
                    "operators.window_ext", "operators.temporal_ext",
                    "operators.timeseries", "operators.patterns",
                    "operators.downsample",
                    "operators.subqueries", "operators.tpch",
                    "operators.feature_join",
                    "analytics.testdata_queries", "pipeline.testdata_queries",
                    "pipeline.corpus_queries", "pipeline.corpus_v2",
                    "pipeline.substring",
                    "pipeline.bpe", "pipeline.gopher", "pipeline.lm",
                    "pipeline.nbayes", "pipeline.mixture",
                    "pipeline.bloom", "pipeline.sq", "pipeline.pq",
                    "pipeline.semdedup", "pipeline.ccnet",
                    "pipeline.bm25", "pipeline.dsir",
                    "pipeline.sketches", "pipeline.winnow",
                    "pipeline.tfidf", "pipeline.negatives",
                    "pipeline.html", "pipeline.lm3", "pipeline.budget",
                    "pipeline.urlfilter",
                    "pipeline.splits", "pipeline.chunker",
                    "pipeline.linalg", "pipeline.fertility",
                    "pipeline.clf_gate",
                    "pipeline.editdist", "pipeline.divergence",
                    "pipeline.compressibility",
                    "pipeline.pooling", "pipeline.containment",
                    "pipeline.imagedup", "pipeline.videodup",
                    "pipeline.quantiles",
                    "pipeline.phrase", "pipeline.profile",
                    "pipeline.fusion", "pipeline.mmr",
                    "sources.zorder", "sources.merge",
                    "sources.snapshots", "sources.incremental",
                    "sources.incremental_join",
                    "quality.expectations", "quality.drift",
                    "quality.anonymity",
                    "pipeline.multimodal", "streaming.testdata_queries",
                    "api.testdata_queries", "quality.testdata_queries"):
        try:
            import importlib

            mods.append(importlib.import_module(f"tcrd_spark.{modname}"))
        except ImportError:
            pass

    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracle: dict[str, str] = {}
    for mod in mods:
        for k, v in getattr(mod, "QUERIES", {}).items():
            if k in queries:
                raise ValueError(f"duplicate query name {k!r} in {mod.__name__}")
            queries[k] = v
        for k, v in getattr(mod, "ORACLE", {}).items():
            if k in oracle:
                raise ValueError(f"duplicate oracle name {k!r} in {mod.__name__}")
            oracle[k] = v
    # every oracle key must have a query; not every query needs an oracle
    # (non-SQL-expressible ops get the driver's weaker rows-only check)
    missing = set(oracle) - set(queries)
    if missing:
        raise ValueError(f"oracle entries without queries: {missing}")
    lost = [n for n in PRIORITY if n not in queries]
    if lost:
        raise ValueError(f"PRIORITY names without queries: {lost}")
    # priority names first (driver checks the first 50), rest in
    # module-collection order
    q_ordered = {n: queries[n] for n in PRIORITY}
    q_ordered.update((k, v) for k, v in queries.items() if k not in q_ordered)
    o_ordered = {n: oracle[n] for n in PRIORITY if n in oracle}
    o_ordered.update((k, v) for k, v in oracle.items() if k not in o_ordered)
    return q_ordered, o_ordered


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _collect()[0]


def all_oracle_sql() -> dict[str, str]:
    return _collect()[1]


# Bench-isolation hook (VERDICT r11 #8): memos are shared across
# QUERIES (kmeans assignment ↔ semantic_dedup ↔ corpus_pipeline_v2),
# so one query's min-of-3 can exclude work a sibling already paid for;
# `SPARK_GRAFT_BENCH_ISOLATE=1` resets between queries so per-query
# seconds are attributable. It IS the memo store's `clear`: every memo
# lives in that store, so no family's state can be missed by a reset.
clear_session_memos = clear
