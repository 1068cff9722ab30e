"""Central registry: query name → (Spark callable, DuckDB oracle SQL).

This is the single source of truth consumed by ``__spark_entry__`` and
the test harness. Every registered query carries a Spark implementation
and the DuckDB oracle SQL it must match.

Naming rule: a name listed under module ``m`` in ``CONVENTIONAL``
resolves to the function ``m.<name>`` and the oracle ``m.<NAME>_SQL``.
A missing function or constant fails the import of this module with
``AttributeError``. Queries whose function or oracle is named otherwise,
or whose oracle is shared, are registered explicitly below the table.
``register`` rejects a name it already holds.

``queries()`` and ``oracle_sql()`` return entries in registration
order: the table's, then the explicit calls'.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .analytics import ml_eval, tpch, tpch_more, triangles
from .dedup import novelty
from .functions import gate as fn_gate
from .functions import lm, vocab
from .multimodal import binary_ops
from .operators.grouped import GROUP_ZSCORE_GRID_SQL
from .similarity import gate as sim_gate
from .similarity import ivf, ivfpq, pq, text_retrieval
from .streaming import events as streaming_events

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Entry:
    fn: QueryFn
    oracle: str


_REGISTRY: dict[str, Entry] = {}


def register(name: str, fn: QueryFn, oracle: str) -> None:
    if name in _REGISTRY:
        raise ValueError(f"query {name!r} is already registered")
    _REGISTRY[name] = Entry(fn=fn, oracle=oracle)


def queries() -> dict[str, QueryFn]:
    return {name: e.fn for name, e in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: e.oracle for name, e in _REGISTRY.items()}


def _sql_interface_gate(spark, sf_dir):
    """The SQL front door: the same ANSI text runs on spark.sql and on
    the DuckDB oracle (dialect-shared subset)."""
    from .sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(tpch.Q1_SQL)


def _group_zscore_gate(spark, sf_dir):
    """applyInPandas grouped-map coverage. The grid variant quantizes
    the per-group mean/std to a 1e-6 integer grid inside the pandas
    UDF, so the resulting z-scores are exact integer arithmetic and
    fully oracle-checkable (the float-summation-order caveat of the
    raw variant no longer applies)."""
    from .operators.grouped import group_zscore_grid
    from .sources.catalog import load_table

    l = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_returnflag", "l_quantity")
    return group_zscore_grid(l, ["l_returnflag"], "l_quantity").orderBy(
        "l_orderkey", "l_returnflag", "l_quantity"
    )


# Module path (relative to this package) → the queries it defines by the
# naming rule: ``<name>`` is the function, ``<NAME>_SQL`` the oracle.
CONVENTIONAL: dict[str, tuple[str, ...]] = {
    "analytics.bfs": ("supplier_reach_hops",),
    "analytics.cms": ("events_cms_heavy_hitters", "events_kmv_distinct", "events_kmv_overlap"),
    "analytics.communities": ("supplier_communities",),
    "analytics.drift": ("events_jsd_arms", "events_value_drift_psi", "events_windowed_psi"),
    "analytics.engagement": (
        "events_engagement",
        "iso8601_duration",
        "orders_per_year",
        "per_segment_summary",
        "top_n_orders",
    ),
    "analytics.features": (
        "customer_rfm_migration",
        "customer_rfm_segments",
        "customer_segment_target_encoding",
        "events_lag_features",
        "events_sequence_trigrams",
        "events_transition_entropy",
        "events_type_transitions",
    ),
    "analytics.funnel": (
        "cohort_retention_weekly",
        "customer_cohort_ltv",
        "events_user_journeys",
        "funnel_step_significance",
        "funnel_time_to_convert",
        "funnel_view_click_purchase",
        "purchase_touch_attribution",
    ),
    "analytics.hits": ("graph_hits",),
    "analytics.kcore": ("supplier_kcore",),
    "analytics.market_basket": ("brand_association_rules",),
    "analytics.ml_eval": (
        "events_cuped_adjustment",
        "events_purchase_stump",
        "events_rater_agreement",
        "events_rater_mcnemar",
        "events_value_ap",
        "events_value_auc",
        "events_value_calibration",
        "events_value_lift",
        "events_value_ndcg",
        "events_value_pr_curve",
    ),
    "analytics.pagerank": ("graph_pagerank", "graph_personalized_pagerank"),
    "analytics.quality_audit": (
        "customer_concentration",
        "events_ab_fdr",
        "events_ab_test",
        "events_chisq_independence",
        "events_cliffs_delta",
        "events_cusum_changepoints",
        "events_cvm_test",
        "events_grouping_sets",
        "events_kruskal_wallis",
        "events_ks_test",
        "events_mannwhitney",
        "events_max_concurrency",
        "events_mutual_information",
        "events_runs_test",
        "events_spearman",
        "events_welch_ttest",
        "lineitem_lorenz_curve",
        "lineitem_supplier_gini",
        "lineitem_supplier_theil",
        "orders_benford_audit",
        "parts_abc_classification",
    ),
    "analytics.relational": (
        "churned_customers",
        "customers_without_orders",
        "events_cube_summary",
        "events_pivot",
        "lapsed_customers_except",
        "loyal_customers_intersect",
        "order_price_percentiles",
        "orders_above_customer_avg",
        "q10_returned_items",
        "q12_priority_class",
        "q14_promo_revenue",
        "q19_disjunctive_revenue",
        "q22_idle_rich_customers",
        "q2_min_cost_supplier",
        "q4_order_priority",
        "q6_revenue_forecast",
        "q7_volume_shipping",
        "q8_market_share",
        "revenue_rollup",
        "rolling_30d_customer_revenue",
        "top_parts_per_brand",
        "window_running_total",
    ),
    "analytics.robust": ("events_bootstrap_ci", "events_mad_outliers", "events_seasonal_anomaly"),
    "analytics.sketches": (
        "events_approx_stats",
        "events_exact_stats",
        "events_hll_rollup",
        "events_hypertable_rollup",
        "events_quantile_rollup",
    ),
    "analytics.skyline": ("parts_pareto_frontier",),
    "analytics.survival": ("users_churn_hazard", "users_churn_logrank", "users_churn_survival"),
    "analytics.timeseries": (
        "customer_repurchase_cadence",
        "events_dwell_transitions",
        "events_ewma",
        "events_gapfill",
        "events_interpolate",
        "events_ohlc_hourly",
        "events_rolling_distinct_users",
        "events_seasonal_strength",
        "events_type_correlation",
        "events_user_acf",
        "events_value_mase",
        "events_view_purchase_ccf",
        "fuzzy_name_pairs",
        "orders_business_latency",
        "top_terms_per_source",
    ),
    "analytics.tpch": ("revenue_by_region",),
    "analytics.tpch_more": (
        "q11_important_stock",
        "q13_customer_distribution",
        "q15_top_supplier",
        "q21_waiting_suppliers",
        "q9_product_type_profit",
    ),
    "analytics.trend": ("brand_price_elasticity", "events_theilsen_trend", "events_trend_slope"),
    "analytics.triangles": ("supplier_link_prediction", "supplier_triangles"),
    "dedup.contamination": ("contamination_check", "docs_decontaminate"),
    "dedup.fuzzy": ("supplier_er_scores", "supplier_fuzzy_matches"),
    "dedup.gate": (
        "dedup_clusters",
        "dedup_clusters_keep_best",
        "dedup_clusters_minhash",
        "dedup_containment",
        "dedup_containment_sketch_eval",
        "dedup_lsh_threshold_sweep",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_simhash",
        "dedup_sketch_eval",
        "split_leakage_check",
    ),
    "dedup.incremental": ("dedup_incremental",),
    "dedup.novelty": ("docs_duplication_profile",),
    "dedup.spans": ("dedup_spans",),
    "dedup.substring": ("docs_exact_substring_mass", "docs_remove_duplicate_spans"),
    "dedup.winnowing": ("docs_winnowing_matches",),
    "functions.bpe": ("bpe_compression_curve", "bpe_encode_documents", "bpe_learn_merges"),
    "functions.gate": (
        "docs_quality_rollup",
        "docs_token_fertility",
        "docs_with_embeddings",
        "lang_id_confusion",
        "text_c4_filters",
        "text_chunking",
        "text_fingerprint",
        "text_gopher_quality",
        "text_lang_id",
        "text_pii_redact",
        "text_quality_score",
        "text_repetition_score",
        "text_repetition_signals",
        "text_token_count",
    ),
    "functions.keywords": ("docs_rake_keywords",),
    "functions.lm": ("corpus_dsir_sample",),
    "functions.text": ("docs_flesch_readability", "text_nfc_normalize"),
    "functions.unigram": ("docs_unigram_tokens", "unigram_lm_vocab"),
    "functions.vocab": (
        "docs_collocation_pmi",
        "docs_heaps_fit",
        "docs_keyphrase_terms",
        "docs_source_keyness",
        "docs_source_vocab_kl",
        "docs_term_burstiness",
        "docs_tfidf_terms",
        "docs_token_budget_curve",
        "docs_zipf_fit",
    ),
    "multimodal.audio_ops": ("multimodal_audio_dedup", "multimodal_audio_stats"),
    "multimodal.binary_ops": (
        "multimodal_decode_gif",
        "multimodal_decode_jpeg",
        "multimodal_decode_jpeg_progressive",
        "multimodal_decode_real",
        "multimodal_decode_stats",
        "multimodal_video_dedup",
        "multimodal_video_frames",
    ),
    "multimodal.phash": ("multimodal_image_clusters", "multimodal_image_dedup"),
    "operators.bloom": ("bloom_pruned_brand_revenue",),
    "operators.gate": (
        "cap_events_per_user",
        "cdc_apply_changes",
        "clean_transform",
        "combine_concat",
        "combine_merge",
        "combine_on_agg",
        "corpus_mix_sample",
        "corpus_temperature_mix",
        "dedupe_keep_first",
        "docs_sequence_packing",
        "docs_sequence_packing_bpe",
        "heavy_hitter_terms",
        "pack_documents_by_budget",
        "profile_column_stats",
        "profile_metrics",
        "query_builder_filter",
        "sample_documents",
        "scd2_customer_history",
        "skew_salted_brand_revenue",
        "topn_events_per_type",
        "unpivot_part",
        "validate_coercion_metrics",
        "winsorize_prices",
    ),
    "operators.layout": ("events_parquet_pruning_audit", "events_zorder_stats"),
    "operators.skew": ("lineitem_key_skew",),
    "operators.temporal_gate": ("asof_view_before_purchase", "range_join_error_followups"),
    "operators.validate": (
        "customer_k_anonymity",
        "customer_l_diversity",
        "customer_t_closeness",
        "docs_dp_release",
        "orders_fd_audit",
        "star_integrity_audit",
    ),
    "operators.weighted_sample": (
        "docs_ht_estimate",
        "docs_stratified_sample",
        "sample_documents_weighted",
    ),
    "pipelines_llm": ("llm_prep_keep_best", "llm_prep_pipeline"),
    "similarity.bm25": ("text_bm25_topk",),
    "similarity.fusion": ("retrieval_rrf_fusion",),
    "similarity.gate": (
        "ann_cosine_topk",
        "ann_filtered_topk",
        "ann_lsh_topk",
        "ann_recall_eval",
        "dedup_embedding",
        "embedding_covariance",
        "embeddings_centroid_drift",
        "embeddings_hard_negatives",
        "embeddings_label_separation",
        "embeddings_label_stats",
        "embeddings_matryoshka_recall",
        "embeddings_rp_recall",
    ),
    "similarity.ivf": ("ann_delete_compact", "ann_incremental_admit", "ann_ivf_nprobe_sweep"),
    "similarity.mmr": ("embeddings_mmr_rerank",),
    "similarity.quant": ("embeddings_int8_quantization",),
    "similarity.semdedup": ("dedup_semantic",),
    "sources.gate": (
        "ingest_csv_multifile",
        "ingest_csv_template",
        "ingest_excel_datasource",
        "ingest_excel_template",
        "ingest_fixed_width",
        "ingest_jdbc_roundtrip",
        "ingest_jsonl_roundtrip",
        "ingest_orc_roundtrip",
        "normalize_rename",
        "pipeline_e2e",
    ),
    "streaming.events": (
        "events_props_extract",
        "events_session_stats",
        "events_sessionize",
        "events_sliding_window",
        "events_variant_extract",
        "events_view_purchase_interval_join",
        "events_windowed",
        "events_windowed_topk",
        "user_event_sequences",
    ),
}

for _path, _names in CONVENTIONAL.items():
    _module = importlib.import_module(f"{__package__}.{_path}")
    for _name in _names:
        register(_name, getattr(_module, _name), getattr(_module, _name.upper() + "_SQL"))

# The function has another name, or is a gate defined in this module.
register(
    "events_session_window",
    streaming_events.events_session_window_native,
    streaming_events.EVENTS_SESSION_WINDOW_SQL,
)
register("dedup_exact", fn_gate.dedup_exact_documents, fn_gate.DEDUP_EXACT_SQL)
register("doc_novelty", novelty.doc_novelty_gate, novelty.DOC_NOVELTY_SQL)
register(
    "text_retrieval_topk",
    text_retrieval.text_retrieval_topk_portable,
    text_retrieval.TEXT_RETRIEVAL_TOPK_SQL,
)
register("lm_score_documents", lm.lm_score_gate, lm.LM_SCORE_SQL)
register("vocab_coverage", vocab.vocab_coverage_gate, vocab.VOCAB_COVERAGE_SQL)
register("pq_adc_topk", pq.pq_adc_topk_gate, pq.PQ_ADC_TOPK_SQL)
register("ivfpq_adc_topk", ivfpq.ivfpq_adc_topk_gate, ivfpq.IVFPQ_ADC_TOPK_SQL)
register("pq_recall_eval", pq.pq_recall_eval_gate, pq.PQ_RECALL_EVAL_SQL)
register("sql_interface_q1", _sql_interface_gate, tpch.Q1_SQL)
register("group_zscore", _group_zscore_gate, GROUP_ZSCORE_GRID_SQL)

# The oracle constant has another name, or is shared with another query.
register("q1_pricing_summary", tpch.q1_pricing_summary, tpch.Q1_SQL)
register("q3_shipping_priority", tpch.q3_shipping_priority, tpch.Q3_SQL)
register("q5_local_supplier_volume", tpch.q5_local_supplier_volume, tpch.Q5_SQL)
register(
    "q16_parts_supplier_relationship",
    tpch_more.q16_parts_supplier_relationship,
    tpch_more.Q16_PARTS_SUPPLIER_SQL,
)
register(
    "q17_small_quantity_revenue",
    tpch_more.q17_small_quantity_revenue,
    tpch_more.Q17_SMALL_QUANTITY_SQL,
)
register(
    "q18_large_volume_customers",
    tpch_more.q18_large_volume_customers,
    tpch_more.Q18_LARGE_VOLUME_SQL,
)
register(
    "q20_promo_part_suppliers",
    tpch_more.q20_promo_part_suppliers,
    tpch_more.Q20_PROMO_SUPPLIERS_SQL,
)
register("events_brier_decomposition", ml_eval.events_brier_decomposition, ml_eval.EVENTS_BRIER_SQL)
register(
    "supplier_clustering_coefficient",
    triangles.supplier_clustering_coefficient,
    triangles.SUPPLIER_CLUSTERING_SQL,
)
register(
    "supplier_degree_assortativity",
    triangles.supplier_degree_assortativity,
    triangles.SUPPLIER_ASSORTATIVITY_SQL,
)
register("ann_ivf_topk", ivf.ann_ivf_topk, sim_gate.ANN_COSINE_TOPK_SQL)
register(
    "multimodal_decode_png",
    binary_ops.multimodal_decode_png,
    binary_ops.MULTIMODAL_DECODE_REAL_SQL,
)
