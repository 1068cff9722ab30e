"""Central registry: query name → (spark callable, DuckDB oracle SQL).

This is the single source of truth consumed by ``__spark_entry__`` and
the test harness. Every operator from SURVEY.md §2 that is SQL-
expressible registers both a Spark implementation and an oracle;
non-SQL-expressible ops register with ``oracle=None`` (rows-only
check).

``queries()`` and ``oracle_sql()`` return entries in registration
order.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .analytics import engagement, relational, sketches, timeseries, tpch, tpch_more
from .analytics.funnel import (
    COHORT_RETENTION_WEEKLY_SQL,
    FUNNEL_VIEW_CLICK_PURCHASE_SQL,
    cohort_retention_weekly,
    funnel_view_click_purchase,
)
from .analytics.pagerank import GRAPH_PAGERANK_SQL, graph_pagerank
from .dedup import gate as dedup_gate
from .dedup.contamination import (
    CONTAMINATION_CHECK_SQL,
    DOCS_DECONTAMINATE_SQL,
    contamination_check,
    docs_decontaminate,
)
from .dedup.fuzzy import SUPPLIER_FUZZY_MATCHES_SQL, supplier_fuzzy_matches
from .dedup.incremental import DEDUP_INCREMENTAL_SQL, dedup_incremental
from .dedup.novelty import DOC_NOVELTY_SQL, doc_novelty_gate
from .dedup.spans import DEDUP_SPANS_SQL, dedup_spans
from .functions import gate as fn_gate
from .functions.bpe import (
    BPE_COMPRESSION_CURVE_SQL,
    BPE_ENCODE_DOCUMENTS_SQL,
    BPE_LEARN_MERGES_SQL,
    bpe_compression_curve,
    bpe_encode_documents,
    bpe_learn_merges,
)
from .functions import lm
from .functions.lm import LM_SCORE_SQL, lm_score_gate
from .functions.vocab import VOCAB_COVERAGE_SQL, vocab_coverage_gate
from .multimodal.binary_ops import (
    MULTIMODAL_DECODE_REAL_SQL,
    MULTIMODAL_DECODE_STATS_SQL,
    multimodal_decode_real,
    multimodal_decode_stats,
)
from .operators import gate as ops_gate
from .operators import temporal_gate as tmp_gate
from .operators.skew import LINEITEM_KEY_SKEW_SQL, lineitem_key_skew
from .operators.weighted_sample import (
    SAMPLE_DOCUMENTS_WEIGHTED_SQL,
    sample_documents_weighted,
)
from .similarity import gate as sim_gate
from .similarity.bm25 import TEXT_BM25_TOPK_SQL, text_bm25_topk
from .similarity.ivf import ann_ivf_topk
from .similarity.semdedup import DEDUP_SEMANTIC_SQL, dedup_semantic
from .similarity.text_retrieval import (
    TEXT_RETRIEVAL_TOPK_SQL,
    text_retrieval_topk_portable,
)
from .sources import gate as src_gate
from .streaming import events as streaming_events
from . import pipelines_llm

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Entry:
    fn: QueryFn
    oracle: str | None


_REGISTRY: dict[str, Entry] = {}


def register(name: str, fn: QueryFn, oracle: str | None) -> None:
    _REGISTRY[name] = Entry(fn=fn, oracle=oracle)


def queries() -> dict[str, QueryFn]:
    return {name: e.fn for name, e in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: e.oracle for name, e in _REGISTRY.items() if e.oracle is not None}


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


from .operators.grouped import GROUP_ZSCORE_GRID_SQL  # noqa: E402
from .analytics.triangles import SUPPLIER_TRIANGLES_SQL, supplier_triangles  # noqa: E402
from .multimodal.audio_ops import (  # noqa: E402
    MULTIMODAL_AUDIO_STATS_SQL,
    multimodal_audio_stats,
)
from .multimodal.binary_ops import (  # noqa: E402
    MULTIMODAL_VIDEO_FRAMES_SQL,
    multimodal_video_frames,
)

register(
    "dedup_clusters_minhash",
    dedup_gate.dedup_clusters_minhash,
    dedup_gate.DEDUP_CLUSTERS_MINHASH_SQL,
)
register(
    "skew_salted_brand_revenue",
    ops_gate.skew_salted_brand_revenue,
    ops_gate.SKEW_SALTED_BRAND_REVENUE_SQL,
)
register(
    "docs_sequence_packing",
    ops_gate.docs_sequence_packing,
    ops_gate.DOCS_SEQUENCE_PACKING_SQL,
)
register(
    "ingest_excel_datasource",
    src_gate.ingest_excel_datasource,
    src_gate.INGEST_EXCEL_DATASOURCE_SQL,
)
register(
    "events_variant_extract",
    streaming_events.events_variant_extract,
    streaming_events.EVENTS_VARIANT_EXTRACT_SQL,
)
register(
    "events_hll_rollup",
    sketches.events_hll_rollup,
    sketches.EVENTS_HLL_ROLLUP_SQL,
)
register(
    "events_interpolate",
    timeseries.events_interpolate,
    timeseries.EVENTS_INTERPOLATE_SQL,
)
register("supplier_triangles", supplier_triangles, SUPPLIER_TRIANGLES_SQL)
register(
    "events_session_window",
    streaming_events.events_session_window_native,
    streaming_events.EVENTS_SESSION_WINDOW_SQL,
)
register("multimodal_decode_real", multimodal_decode_real, MULTIMODAL_DECODE_REAL_SQL)
register("multimodal_audio_stats", multimodal_audio_stats, MULTIMODAL_AUDIO_STATS_SQL)
register("multimodal_video_frames", multimodal_video_frames, MULTIMODAL_VIDEO_FRAMES_SQL)

register("q1_pricing_summary", tpch.q1_pricing_summary, tpch.Q1_SQL)
register("revenue_by_region", tpch.revenue_by_region, tpch.REVENUE_BY_REGION_SQL)
register("llm_prep_pipeline", pipelines_llm.llm_prep_pipeline, pipelines_llm.LLM_PREP_PIPELINE_SQL)
register("dedup_minhash_lsh", dedup_gate.dedup_minhash_lsh, dedup_gate.DEDUP_MINHASH_LSH_SQL)
register("dedup_ngram_jaccard", dedup_gate.dedup_ngram_jaccard, dedup_gate.DEDUP_NGRAM_JACCARD_SQL)
register("clean_transform", ops_gate.clean_transform, ops_gate.CLEAN_TRANSFORM_SQL)
register("events_sessionize", streaming_events.events_sessionize, streaming_events.EVENTS_SESSIONIZE_SQL)
register(
    "asof_view_before_purchase",
    tmp_gate.asof_view_before_purchase,
    tmp_gate.ASOF_VIEW_BEFORE_PURCHASE_SQL,
)
register("ann_cosine_topk", sim_gate.ann_cosine_topk, sim_gate.ANN_COSINE_TOPK_SQL)
register("ingest_csv_template", src_gate.ingest_csv_template, src_gate.INGEST_CSV_TEMPLATE_SQL)
register("pipeline_e2e", src_gate.pipeline_e2e, src_gate.PIPELINE_E2E_SQL)
register("sample_documents", ops_gate.sample_documents, ops_gate.SAMPLE_DOCUMENTS_SQL)

register("text_repetition_score", fn_gate.text_repetition_score, fn_gate.TEXT_REPETITION_SCORE_SQL)
register("text_chunking", fn_gate.text_chunking, fn_gate.TEXT_CHUNKING_SQL)
register("docs_with_embeddings", fn_gate.docs_with_embeddings, fn_gate.DOCS_WITH_EMBEDDINGS_SQL)
register("top_n_orders", engagement.top_n_orders, engagement.TOP_N_ORDERS_SQL)
register("per_segment_summary", engagement.per_segment_summary, engagement.PER_SEGMENT_SUMMARY_SQL)
register("orders_per_year", engagement.orders_per_year, engagement.ORDERS_PER_YEAR_SQL)
register("iso8601_duration", engagement.iso8601_duration, engagement.ISO8601_DURATION_SQL)
register("unpivot_part", ops_gate.unpivot_part, ops_gate.UNPIVOT_PART_SQL)
register("combine_concat", ops_gate.combine_concat, ops_gate.COMBINE_CONCAT_SQL)
register("combine_merge", ops_gate.combine_merge, ops_gate.COMBINE_MERGE_SQL)
register("combine_on_agg", ops_gate.combine_on_agg, ops_gate.COMBINE_ON_AGG_SQL)
register("dedupe_keep_first", ops_gate.dedupe_keep_first, ops_gate.DEDUPE_KEEP_FIRST_SQL)
register("profile_metrics", ops_gate.profile_metrics, ops_gate.PROFILE_METRICS_SQL)
register("profile_column_stats", ops_gate.profile_column_stats, ops_gate.PROFILE_COLUMN_STATS_SQL)
register(
    "validate_coercion_metrics",
    ops_gate.validate_coercion_metrics,
    ops_gate.VALIDATE_COERCION_METRICS_SQL,
)
register("text_token_count", fn_gate.text_token_count, fn_gate.TEXT_TOKEN_COUNT_SQL)
register("text_quality_score", fn_gate.text_quality_score, fn_gate.TEXT_QUALITY_SCORE_SQL)
register("text_lang_id", fn_gate.text_lang_id, fn_gate.TEXT_LANG_ID_SQL)
register("text_fingerprint", fn_gate.text_fingerprint, fn_gate.TEXT_FINGERPRINT_SQL)
register("text_pii_redact", fn_gate.text_pii_redact, fn_gate.TEXT_PII_REDACT_SQL)
register("text_gopher_quality", fn_gate.text_gopher_quality, fn_gate.TEXT_GOPHER_QUALITY_SQL)
register("dedup_exact", fn_gate.dedup_exact_documents, fn_gate.DEDUP_EXACT_SQL)
register("dedup_spans", dedup_spans, DEDUP_SPANS_SQL)
register("dedup_clusters", dedup_gate.dedup_clusters, dedup_gate.DEDUP_CLUSTERS_SQL)
register("contamination_check", contamination_check, CONTAMINATION_CHECK_SQL)
register("docs_decontaminate", docs_decontaminate, DOCS_DECONTAMINATE_SQL)
register("corpus_dsir_sample", lm.corpus_dsir_sample, lm.CORPUS_DSIR_SAMPLE_SQL)

from .functions.unigram import (  # noqa: E402
    DOCS_UNIGRAM_TOKENS_SQL,
    UNIGRAM_LM_VOCAB_SQL,
    docs_unigram_tokens,
    unigram_lm_vocab,
)

register("unigram_lm_vocab", unigram_lm_vocab, UNIGRAM_LM_VOCAB_SQL)
register("docs_unigram_tokens", docs_unigram_tokens, DOCS_UNIGRAM_TOKENS_SQL)
register("dedup_simhash", dedup_gate.dedup_simhash, dedup_gate.DEDUP_SIMHASH_SQL)

register(
    "q9_product_type_profit", tpch_more.q9_product_type_profit, tpch_more.Q9_PRODUCT_TYPE_PROFIT_SQL
)
register("q11_important_stock", tpch_more.q11_important_stock, tpch_more.Q11_IMPORTANT_STOCK_SQL)
register(
    "q13_customer_distribution",
    tpch_more.q13_customer_distribution,
    tpch_more.Q13_CUSTOMER_DISTRIBUTION_SQL,
)
register("q15_top_supplier", tpch_more.q15_top_supplier, tpch_more.Q15_TOP_SUPPLIER_SQL)
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
    "q20_promo_part_suppliers", tpch_more.q20_promo_part_suppliers, tpch_more.Q20_PROMO_SUPPLIERS_SQL
)
register(
    "q21_waiting_suppliers", tpch_more.q21_waiting_suppliers, tpch_more.Q21_WAITING_SUPPLIERS_SQL
)
register(
    "rolling_30d_customer_revenue",
    relational.rolling_30d_customer_revenue,
    relational.ROLLING_30D_CUSTOMER_REVENUE_SQL,
)
register(
    "lapsed_customers_except",
    relational.lapsed_customers_except,
    relational.LAPSED_CUSTOMERS_EXCEPT_SQL,
)
register(
    "events_cube_summary", relational.events_cube_summary, relational.EVENTS_CUBE_SUMMARY_SQL
)
register("supplier_fuzzy_matches", supplier_fuzzy_matches, SUPPLIER_FUZZY_MATCHES_SQL)
register(
    "text_repetition_signals",
    fn_gate.text_repetition_signals,
    fn_gate.TEXT_REPETITION_SIGNALS_SQL,
)
register("bpe_encode_documents", bpe_encode_documents, BPE_ENCODE_DOCUMENTS_SQL)
register("events_approx_stats", sketches.events_approx_stats, sketches.EVENTS_APPROX_STATS_SQL)
register("query_builder_filter", ops_gate.query_builder_filter, ops_gate.QUERY_BUILDER_FILTER_SQL)
register("q3_shipping_priority", tpch.q3_shipping_priority, tpch.Q3_SQL)
register("q5_local_supplier_volume", tpch.q5_local_supplier_volume, tpch.Q5_SQL)
register("q4_order_priority", relational.q4_order_priority, relational.Q4_ORDER_PRIORITY_SQL)
register("q6_revenue_forecast", relational.q6_revenue_forecast, relational.Q6_REVENUE_FORECAST_SQL)
register("q7_volume_shipping", relational.q7_volume_shipping, relational.Q7_VOLUME_SHIPPING_SQL)
register("q8_market_share", relational.q8_market_share, relational.Q8_MARKET_SHARE_SQL)
register(
    "orders_above_customer_avg",
    relational.orders_above_customer_avg,
    relational.ORDERS_ABOVE_CUSTOMER_AVG_SQL,
)
register(
    "customers_without_orders",
    relational.customers_without_orders,
    relational.CUSTOMERS_WITHOUT_ORDERS_SQL,
)
register("churned_customers", relational.churned_customers, relational.CHURNED_CUSTOMERS_SQL)
register(
    "window_running_total", relational.window_running_total, relational.WINDOW_RUNNING_TOTAL_SQL
)
register("top_parts_per_brand", relational.top_parts_per_brand, relational.TOP_PARTS_PER_BRAND_SQL)
register("events_pivot", relational.events_pivot, relational.EVENTS_PIVOT_SQL)
register("events_gapfill", timeseries.events_gapfill, timeseries.EVENTS_GAPFILL_SQL)
register("fuzzy_name_pairs", timeseries.fuzzy_name_pairs, timeseries.FUZZY_NAME_PAIRS_SQL)
register(
    "top_terms_per_source", timeseries.top_terms_per_source, timeseries.TOP_TERMS_PER_SOURCE_SQL
)
register(
    "events_hypertable_rollup",
    sketches.events_hypertable_rollup,
    sketches.EVENTS_HYPERTABLE_ROLLUP_SQL,
)
register("revenue_rollup", relational.revenue_rollup, relational.REVENUE_ROLLUP_SQL)
register("cdc_apply_changes", ops_gate.cdc_apply_changes, ops_gate.CDC_APPLY_CHANGES_SQL)
register("winsorize_prices", ops_gate.winsorize_prices, ops_gate.WINSORIZE_PRICES_SQL)
register(
    "scd2_customer_history", ops_gate.scd2_customer_history, ops_gate.SCD2_CUSTOMER_HISTORY_SQL
)
register("events_engagement", engagement.events_engagement, engagement.EVENTS_ENGAGEMENT_SQL)
register(
    "q2_min_cost_supplier", relational.q2_min_cost_supplier, relational.Q2_MIN_COST_SUPPLIER_SQL
)
register("q10_returned_items", relational.q10_returned_items, relational.Q10_RETURNED_ITEMS_SQL)
register("q12_priority_class", relational.q12_priority_class, relational.Q12_PRIORITY_CLASS_SQL)
register("q14_promo_revenue", relational.q14_promo_revenue, relational.Q14_PROMO_REVENUE_SQL)
register(
    "q19_disjunctive_revenue",
    relational.q19_disjunctive_revenue,
    relational.Q19_DISJUNCTIVE_REVENUE_SQL,
)
register(
    "q22_idle_rich_customers",
    relational.q22_idle_rich_customers,
    relational.Q22_IDLE_RICH_CUSTOMERS_SQL,
)
register("sql_interface_q1", _sql_interface_gate, tpch.Q1_SQL)
register("ann_lsh_topk", sim_gate.ann_lsh_topk, sim_gate.ANN_LSH_TOPK_SQL)
register("ann_ivf_topk", ann_ivf_topk, sim_gate.ANN_COSINE_TOPK_SQL)
register("dedup_embedding", sim_gate.dedup_embedding, sim_gate.DEDUP_EMBEDDING_SQL)
register("embedding_covariance", sim_gate.embedding_covariance, sim_gate.EMBEDDING_COVARIANCE_SQL)
register("dedup_semantic", dedup_semantic, DEDUP_SEMANTIC_SQL)
register("dedup_incremental", dedup_incremental, DEDUP_INCREMENTAL_SQL)
register("doc_novelty", doc_novelty_gate, DOC_NOVELTY_SQL)
register("text_bm25_topk", text_bm25_topk, TEXT_BM25_TOPK_SQL)
register("text_retrieval_topk", text_retrieval_topk_portable, TEXT_RETRIEVAL_TOPK_SQL)
register("text_c4_filters", fn_gate.text_c4_filters, fn_gate.TEXT_C4_FILTERS_SQL)
register("lm_score_documents", lm_score_gate, LM_SCORE_SQL)
register("docs_quality_rollup", fn_gate.docs_quality_rollup, fn_gate.DOCS_QUALITY_ROLLUP_SQL)
register("vocab_coverage", vocab_coverage_gate, VOCAB_COVERAGE_SQL)
register("bpe_learn_merges", bpe_learn_merges, BPE_LEARN_MERGES_SQL)
register("corpus_mix_sample", ops_gate.corpus_mix_sample, ops_gate.CORPUS_MIX_SAMPLE_SQL)
register("heavy_hitter_terms", ops_gate.heavy_hitter_terms, ops_gate.HEAVY_HITTER_TERMS_SQL)
register("topn_events_per_type", ops_gate.topn_events_per_type, ops_gate.TOPN_EVENTS_PER_TYPE_SQL)
register("sample_documents_weighted", sample_documents_weighted, SAMPLE_DOCUMENTS_WEIGHTED_SQL)
register(
    "funnel_view_click_purchase", funnel_view_click_purchase, FUNNEL_VIEW_CLICK_PURCHASE_SQL
)
register("cohort_retention_weekly", cohort_retention_weekly, COHORT_RETENTION_WEEKLY_SQL)
register("graph_pagerank", graph_pagerank, GRAPH_PAGERANK_SQL)
register(
    "events_sliding_window",
    streaming_events.events_sliding_window,
    streaming_events.EVENTS_SLIDING_WINDOW_SQL,
)
register("multimodal_decode_stats", multimodal_decode_stats, MULTIMODAL_DECODE_STATS_SQL)
register("ingest_orc_roundtrip", src_gate.ingest_orc_roundtrip, src_gate.INGEST_ORC_ROUNDTRIP_SQL)
register(
    "loyal_customers_intersect",
    relational.loyal_customers_intersect,
    relational.LOYAL_CUSTOMERS_INTERSECT_SQL,
)
register(
    "order_price_percentiles",
    relational.order_price_percentiles,
    relational.ORDER_PRICE_PERCENTILES_SQL,
)
register("lineitem_key_skew", lineitem_key_skew, LINEITEM_KEY_SKEW_SQL)
register("bpe_compression_curve", bpe_compression_curve, BPE_COMPRESSION_CURVE_SQL)
register("group_zscore", _group_zscore_gate, GROUP_ZSCORE_GRID_SQL)
register(
    "ingest_excel_template", src_gate.ingest_excel_template, src_gate.INGEST_EXCEL_TEMPLATE_SQL
)
register(
    "ingest_jdbc_roundtrip", src_gate.ingest_jdbc_roundtrip, src_gate.INGEST_JDBC_ROUNDTRIP_SQL
)
register(
    "embeddings_label_stats", sim_gate.embeddings_label_stats, sim_gate.EMBEDDINGS_LABEL_STATS_SQL
)
register("events_windowed", streaming_events.events_windowed, streaming_events.EVENTS_WINDOWED_SQL)
register(
    "events_props_extract",
    streaming_events.events_props_extract,
    streaming_events.EVENTS_PROPS_EXTRACT_SQL,
)
register(
    "user_event_sequences",
    streaming_events.user_event_sequences,
    streaming_events.USER_EVENT_SEQUENCES_SQL,
)
register(
    "range_join_error_followups",
    tmp_gate.range_join_error_followups,
    tmp_gate.RANGE_JOIN_ERROR_FOLLOWUPS_SQL,
)
register("ingest_csv_multifile", src_gate.ingest_csv_multifile, src_gate.INGEST_CSV_MULTIFILE_SQL)
register(
    "ingest_jsonl_roundtrip", src_gate.ingest_jsonl_roundtrip, src_gate.INGEST_JSONL_ROUNDTRIP_SQL
)
register("normalize_rename", src_gate.normalize_rename, src_gate.NORMALIZE_RENAME_SQL)
register("cap_events_per_user", ops_gate.cap_events_per_user, ops_gate.CAP_EVENTS_PER_USER_SQL)
register(
    "pack_documents_by_budget",
    ops_gate.pack_documents_by_budget,
    ops_gate.PACK_DOCUMENTS_BY_BUDGET_SQL,
)
register("events_exact_stats", sketches.events_exact_stats, sketches.EVENTS_EXACT_STATS_SQL)
register(
    "dedup_clusters_keep_best",
    dedup_gate.dedup_clusters_keep_best,
    dedup_gate.DEDUP_CLUSTERS_KEEP_BEST_SQL,
)
register(
    "docs_sequence_packing_bpe",
    ops_gate.docs_sequence_packing_bpe,
    ops_gate.DOCS_SEQUENCE_PACKING_BPE_SQL,
)
from .multimodal.binary_ops import multimodal_decode_png  # noqa: E402

register("multimodal_decode_png", multimodal_decode_png, MULTIMODAL_DECODE_REAL_SQL)
register(
    "llm_prep_keep_best",
    pipelines_llm.llm_prep_keep_best,
    pipelines_llm.LLM_PREP_KEEP_BEST_SQL,
)

# ---- round-5 additions ----
register("events_ohlc_hourly", timeseries.events_ohlc_hourly, timeseries.EVENTS_OHLC_HOURLY_SQL)
register("events_ewma", timeseries.events_ewma, timeseries.EVENTS_EWMA_SQL)

from .operators.bloom import (  # noqa: E402
    BLOOM_PRUNED_BRAND_REVENUE_SQL,
    bloom_pruned_brand_revenue,
)

register(
    "bloom_pruned_brand_revenue",
    bloom_pruned_brand_revenue,
    BLOOM_PRUNED_BRAND_REVENUE_SQL,
)

from .analytics.kcore import SUPPLIER_KCORE_SQL, supplier_kcore  # noqa: E402

register("supplier_kcore", supplier_kcore, SUPPLIER_KCORE_SQL)

register(
    "events_quantile_rollup",
    sketches.events_quantile_rollup,
    sketches.EVENTS_QUANTILE_ROLLUP_SQL,
)

from .operators.layout import EVENTS_ZORDER_STATS_SQL, events_zorder_stats  # noqa: E402

register("events_zorder_stats", events_zorder_stats, EVENTS_ZORDER_STATS_SQL)

from .multimodal.binary_ops import (  # noqa: E402
    MULTIMODAL_DECODE_JPEG_SQL,
    multimodal_decode_jpeg,
)

register("multimodal_decode_jpeg", multimodal_decode_jpeg, MULTIMODAL_DECODE_JPEG_SQL)

from .functions.text import TEXT_NFC_NORMALIZE_SQL, text_nfc_normalize  # noqa: E402

register("text_nfc_normalize", text_nfc_normalize, TEXT_NFC_NORMALIZE_SQL)

register(
    "split_leakage_check",
    dedup_gate.split_leakage_check,
    dedup_gate.SPLIT_LEAKAGE_CHECK_SQL,
)

from .analytics.features import EVENTS_LAG_FEATURES_SQL, events_lag_features  # noqa: E402

register("events_lag_features", events_lag_features, EVENTS_LAG_FEATURES_SQL)

from .analytics.robust import EVENTS_MAD_OUTLIERS_SQL, events_mad_outliers  # noqa: E402

register("events_mad_outliers", events_mad_outliers, EVENTS_MAD_OUTLIERS_SQL)

from .analytics.cms import (  # noqa: E402
    EVENTS_CMS_HEAVY_HITTERS_SQL,
    EVENTS_KMV_DISTINCT_SQL,
    events_cms_heavy_hitters,
    events_kmv_distinct,
)

register("events_cms_heavy_hitters", events_cms_heavy_hitters, EVENTS_CMS_HEAVY_HITTERS_SQL)
register("events_kmv_distinct", events_kmv_distinct, EVENTS_KMV_DISTINCT_SQL)

from .similarity.fusion import RETRIEVAL_RRF_FUSION_SQL, retrieval_rrf_fusion  # noqa: E402

register("retrieval_rrf_fusion", retrieval_rrf_fusion, RETRIEVAL_RRF_FUSION_SQL)

from .analytics.market_basket import (  # noqa: E402
    BRAND_ASSOCIATION_RULES_SQL,
    brand_association_rules,
)

register("brand_association_rules", brand_association_rules, BRAND_ASSOCIATION_RULES_SQL)

from .analytics.drift import EVENTS_VALUE_DRIFT_PSI_SQL, events_value_drift_psi  # noqa: E402

register("events_value_drift_psi", events_value_drift_psi, EVENTS_VALUE_DRIFT_PSI_SQL)

from .multimodal.phash import MULTIMODAL_IMAGE_DEDUP_SQL, multimodal_image_dedup  # noqa: E402

register("multimodal_image_dedup", multimodal_image_dedup, MULTIMODAL_IMAGE_DEDUP_SQL)

from .analytics.features import (  # noqa: E402
    EVENTS_TYPE_TRANSITIONS_SQL,
    events_type_transitions,
)

register("events_type_transitions", events_type_transitions, EVENTS_TYPE_TRANSITIONS_SQL)

from .analytics.timeseries import (  # noqa: E402
    EVENTS_ROLLING_DISTINCT_USERS_SQL,
    events_rolling_distinct_users,
)

register(
    "events_rolling_distinct_users",
    events_rolling_distinct_users,
    EVENTS_ROLLING_DISTINCT_USERS_SQL,
)

from .analytics.trend import EVENTS_TREND_SLOPE_SQL, events_trend_slope  # noqa: E402

register("events_trend_slope", events_trend_slope, EVENTS_TREND_SLOPE_SQL)

from .multimodal.phash import (  # noqa: E402
    MULTIMODAL_IMAGE_CLUSTERS_SQL,
    multimodal_image_clusters,
)

register("multimodal_image_clusters", multimodal_image_clusters, MULTIMODAL_IMAGE_CLUSTERS_SQL)

from .operators.validate import CUSTOMER_K_ANONYMITY_SQL, customer_k_anonymity  # noqa: E402

register("customer_k_anonymity", customer_k_anonymity, CUSTOMER_K_ANONYMITY_SQL)

from .analytics.cms import EVENTS_KMV_OVERLAP_SQL, events_kmv_overlap  # noqa: E402

register("events_kmv_overlap", events_kmv_overlap, EVENTS_KMV_OVERLAP_SQL)

from .analytics.features import CUSTOMER_RFM_SEGMENTS_SQL, customer_rfm_segments  # noqa: E402

register("customer_rfm_segments", customer_rfm_segments, CUSTOMER_RFM_SEGMENTS_SQL)

from .analytics.robust import EVENTS_SEASONAL_ANOMALY_SQL, events_seasonal_anomaly  # noqa: E402

register("events_seasonal_anomaly", events_seasonal_anomaly, EVENTS_SEASONAL_ANOMALY_SQL)

from .multimodal.audio_ops import MULTIMODAL_AUDIO_DEDUP_SQL, multimodal_audio_dedup  # noqa: E402

register("multimodal_audio_dedup", multimodal_audio_dedup, MULTIMODAL_AUDIO_DEDUP_SQL)

from .multimodal.binary_ops import MULTIMODAL_VIDEO_DEDUP_SQL, multimodal_video_dedup  # noqa: E402

register("multimodal_video_dedup", multimodal_video_dedup, MULTIMODAL_VIDEO_DEDUP_SQL)

from .analytics.trend import EVENTS_THEILSEN_TREND_SQL, events_theilsen_trend  # noqa: E402

register("events_theilsen_trend", events_theilsen_trend, EVENTS_THEILSEN_TREND_SQL)

# ---- round-6 additions ----
# (`split_leakage_check_fast` was registered here in round 6; round 7
# merged it INTO `split_leakage_check` — the signature-collapsed
# construction is now the gate itself, registered above.)

from .analytics.quality_audit import (  # noqa: E402
    EVENTS_CUSUM_CHANGEPOINTS_SQL,
    EVENTS_GROUPING_SETS_SQL,
    EVENTS_MAX_CONCURRENCY_SQL,
    ORDERS_BENFORD_AUDIT_SQL,
    events_cusum_changepoints,
    events_grouping_sets,
    events_max_concurrency,
    orders_benford_audit,
)

register("orders_benford_audit", orders_benford_audit, ORDERS_BENFORD_AUDIT_SQL)
register("events_max_concurrency", events_max_concurrency, EVENTS_MAX_CONCURRENCY_SQL)
register("events_grouping_sets", events_grouping_sets, EVENTS_GROUPING_SETS_SQL)

register(
    "corpus_temperature_mix",
    ops_gate.corpus_temperature_mix,
    ops_gate.CORPUS_TEMPERATURE_MIX_SQL,
)
register("ingest_fixed_width", src_gate.ingest_fixed_width, src_gate.INGEST_FIXED_WIDTH_SQL)

from .dedup.fuzzy import SUPPLIER_ER_SCORES_SQL, supplier_er_scores  # noqa: E402

register("supplier_er_scores", supplier_er_scores, SUPPLIER_ER_SCORES_SQL)

from .operators.validate import STAR_INTEGRITY_AUDIT_SQL, star_integrity_audit  # noqa: E402

register("star_integrity_audit", star_integrity_audit, STAR_INTEGRITY_AUDIT_SQL)

register(
    "lang_id_confusion", fn_gate.lang_id_confusion, fn_gate.LANG_ID_CONFUSION_SQL
)

from .analytics.funnel import (  # noqa: E402
    FUNNEL_TIME_TO_CONVERT_SQL,
    funnel_time_to_convert,
)

register(
    "funnel_time_to_convert", funnel_time_to_convert, FUNNEL_TIME_TO_CONVERT_SQL
)

from .analytics.quality_audit import (  # noqa: E402
    EVENTS_AB_TEST_SQL,
    LINEITEM_SUPPLIER_GINI_SQL,
    events_ab_test,
    lineitem_supplier_gini,
)

register("events_ab_test", events_ab_test, EVENTS_AB_TEST_SQL)
register("lineitem_supplier_gini", lineitem_supplier_gini, LINEITEM_SUPPLIER_GINI_SQL)
register("dedup_sketch_eval", dedup_gate.dedup_sketch_eval, dedup_gate.DEDUP_SKETCH_EVAL_SQL)
register(
    "events_cusum_changepoints",
    events_cusum_changepoints,
    EVENTS_CUSUM_CHANGEPOINTS_SQL,
)

from .similarity.quant import (  # noqa: E402
    EMBEDDINGS_INT8_QUANTIZATION_SQL,
    embeddings_int8_quantization,
)

register(
    "embeddings_int8_quantization",
    embeddings_int8_quantization,
    EMBEDDINGS_INT8_QUANTIZATION_SQL,
)

register(
    "dedup_lsh_threshold_sweep",
    dedup_gate.dedup_lsh_threshold_sweep,
    dedup_gate.DEDUP_LSH_THRESHOLD_SWEEP_SQL,
)

register(
    "docs_token_fertility",
    fn_gate.docs_token_fertility,
    fn_gate.DOCS_TOKEN_FERTILITY_SQL,
)

# --- round-7 additions ---
from .multimodal.binary_ops import (  # noqa: E402
    MULTIMODAL_DECODE_JPEG_PROGRESSIVE_SQL,
    multimodal_decode_jpeg_progressive,
)

register(
    "multimodal_decode_jpeg_progressive",
    multimodal_decode_jpeg_progressive,
    MULTIMODAL_DECODE_JPEG_PROGRESSIVE_SQL,
)

register(
    "ann_recall_eval",
    sim_gate.ann_recall_eval,
    sim_gate.ANN_RECALL_EVAL_SQL,
)

from .dedup.winnowing import (  # noqa: E402
    DOCS_WINNOWING_MATCHES_SQL,
    docs_winnowing_matches,
)

register(
    "docs_winnowing_matches",
    docs_winnowing_matches,
    DOCS_WINNOWING_MATCHES_SQL,
)

register(
    "events_view_purchase_interval_join",
    streaming_events.events_view_purchase_interval_join,
    streaming_events.EVENTS_VIEW_PURCHASE_INTERVAL_JOIN_SQL,
)

from .operators.layout import (  # noqa: E402
    EVENTS_PARQUET_PRUNING_AUDIT_SQL,
    events_parquet_pruning_audit,
)

register(
    "events_parquet_pruning_audit",
    events_parquet_pruning_audit,
    EVENTS_PARQUET_PRUNING_AUDIT_SQL,
)

# --- round-8 additions ---

from .dedup.substring import (  # noqa: E402
    DOCS_EXACT_SUBSTRING_MASS_SQL,
    DOCS_REMOVE_DUPLICATE_SPANS_SQL,
    docs_exact_substring_mass,
    docs_remove_duplicate_spans,
)

register(
    "docs_exact_substring_mass",
    docs_exact_substring_mass,
    DOCS_EXACT_SUBSTRING_MASS_SQL,
)

register(
    "docs_remove_duplicate_spans",
    docs_remove_duplicate_spans,
    DOCS_REMOVE_DUPLICATE_SPANS_SQL,
)

register(
    "embeddings_matryoshka_recall",
    sim_gate.embeddings_matryoshka_recall,
    sim_gate.EMBEDDINGS_MATRYOSHKA_RECALL_SQL,
)

from .analytics.communities import (  # noqa: E402
    SUPPLIER_COMMUNITIES_SQL,
    supplier_communities,
)

register("supplier_communities", supplier_communities, SUPPLIER_COMMUNITIES_SQL)

from .analytics.timeseries import EVENTS_USER_ACF_SQL, events_user_acf  # noqa: E402

register("events_user_acf", events_user_acf, EVENTS_USER_ACF_SQL)

from .similarity.mmr import EMBEDDINGS_MMR_RERANK_SQL, embeddings_mmr_rerank  # noqa: E402

register("embeddings_mmr_rerank", embeddings_mmr_rerank, EMBEDDINGS_MMR_RERANK_SQL)

from .operators.weighted_sample import (  # noqa: E402
    DOCS_STRATIFIED_SAMPLE_SQL,
    docs_stratified_sample,
)

register("docs_stratified_sample", docs_stratified_sample, DOCS_STRATIFIED_SAMPLE_SQL)

from .analytics.timeseries import (  # noqa: E402
    EVENTS_TYPE_CORRELATION_SQL,
    events_type_correlation,
)

register("events_type_correlation", events_type_correlation, EVENTS_TYPE_CORRELATION_SQL)

from .operators.validate import (  # noqa: E402
    CUSTOMER_L_DIVERSITY_SQL,
    customer_l_diversity,
)

register("customer_l_diversity", customer_l_diversity, CUSTOMER_L_DIVERSITY_SQL)

from .analytics.survival import (  # noqa: E402
    USERS_CHURN_SURVIVAL_SQL,
    users_churn_survival,
)

register("users_churn_survival", users_churn_survival, USERS_CHURN_SURVIVAL_SQL)

from .analytics.quality_audit import (  # noqa: E402
    EVENTS_MANNWHITNEY_SQL,
    events_mannwhitney,
)

register("events_mannwhitney", events_mannwhitney, EVENTS_MANNWHITNEY_SQL)

from .analytics.quality_audit import (  # noqa: E402
    EVENTS_KS_TEST_SQL,
    events_ks_test,
)

register("events_ks_test", events_ks_test, EVENTS_KS_TEST_SQL)

from .analytics.skyline import (  # noqa: E402
    PARTS_PARETO_FRONTIER_SQL,
    parts_pareto_frontier,
)

register("parts_pareto_frontier", parts_pareto_frontier, PARTS_PARETO_FRONTIER_SQL)

from .operators.validate import (  # noqa: E402
    ORDERS_FD_AUDIT_SQL,
    orders_fd_audit,
)

register("orders_fd_audit", orders_fd_audit, ORDERS_FD_AUDIT_SQL)

from .analytics.quality_audit import (  # noqa: E402
    EVENTS_SPEARMAN_SQL,
    events_spearman,
)

register("events_spearman", events_spearman, EVENTS_SPEARMAN_SQL)

from .analytics.quality_audit import (  # noqa: E402
    EVENTS_CHISQ_INDEPENDENCE_SQL,
    events_chisq_independence,
)

register(
    "events_chisq_independence",
    events_chisq_independence,
    EVENTS_CHISQ_INDEPENDENCE_SQL,
)

from .analytics.bfs import (  # noqa: E402
    SUPPLIER_REACH_HOPS_SQL,
    supplier_reach_hops,
)

register("supplier_reach_hops", supplier_reach_hops, SUPPLIER_REACH_HOPS_SQL)

from .similarity.gate import (  # noqa: E402
    EMBEDDINGS_HARD_NEGATIVES_SQL,
    embeddings_hard_negatives,
)

register(
    "embeddings_hard_negatives",
    embeddings_hard_negatives,
    EMBEDDINGS_HARD_NEGATIVES_SQL,
)

from .analytics.quality_audit import (  # noqa: E402
    EVENTS_MUTUAL_INFORMATION_SQL,
    events_mutual_information,
)

register(
    "events_mutual_information",
    events_mutual_information,
    EVENTS_MUTUAL_INFORMATION_SQL,
)

from .analytics.features import (  # noqa: E402
    CUSTOMER_SEGMENT_TARGET_ENCODING_SQL,
    customer_segment_target_encoding,
)

register(
    "customer_segment_target_encoding",
    customer_segment_target_encoding,
    CUSTOMER_SEGMENT_TARGET_ENCODING_SQL,
)

from .analytics.features import (  # noqa: E402
    EVENTS_SEQUENCE_TRIGRAMS_SQL,
    events_sequence_trigrams,
)

register(
    "events_sequence_trigrams",
    events_sequence_trigrams,
    EVENTS_SEQUENCE_TRIGRAMS_SQL,
)

from .functions.vocab import DOCS_ZIPF_FIT_SQL, docs_zipf_fit  # noqa: E402

register("docs_zipf_fit", docs_zipf_fit, DOCS_ZIPF_FIT_SQL)

from .analytics.quality_audit import (  # noqa: E402
    EVENTS_WELCH_TTEST_SQL,
    events_welch_ttest,
)

register("events_welch_ttest", events_welch_ttest, EVENTS_WELCH_TTEST_SQL)

register(
    "dedup_containment",
    dedup_gate.dedup_containment,
    dedup_gate.DEDUP_CONTAINMENT_SQL,
)

from .functions.vocab import DOCS_HEAPS_FIT_SQL, docs_heaps_fit  # noqa: E402

register("docs_heaps_fit", docs_heaps_fit, DOCS_HEAPS_FIT_SQL)

from .analytics.robust import (  # noqa: E402
    EVENTS_BOOTSTRAP_CI_SQL,
    events_bootstrap_ci,
)

register("events_bootstrap_ci", events_bootstrap_ci, EVENTS_BOOTSTRAP_CI_SQL)

from .multimodal.binary_ops import (  # noqa: E402
    MULTIMODAL_DECODE_GIF_SQL,
    multimodal_decode_gif,
)

register("multimodal_decode_gif", multimodal_decode_gif, MULTIMODAL_DECODE_GIF_SQL)

from .operators.weighted_sample import (  # noqa: E402
    DOCS_HT_ESTIMATE_SQL,
    docs_ht_estimate,
)

register("docs_ht_estimate", docs_ht_estimate, DOCS_HT_ESTIMATE_SQL)

from .analytics.quality_audit import (  # noqa: E402
    EVENTS_RUNS_TEST_SQL,
    events_runs_test,
)

register("events_runs_test", events_runs_test, EVENTS_RUNS_TEST_SQL)

from .functions.text import (  # noqa: E402
    DOCS_FLESCH_READABILITY_SQL,
    docs_flesch_readability,
)

register(
    "docs_flesch_readability",
    docs_flesch_readability,
    DOCS_FLESCH_READABILITY_SQL,
)

from .operators.validate import (  # noqa: E402
    DOCS_DP_RELEASE_SQL,
    docs_dp_release,
)

register("docs_dp_release", docs_dp_release, DOCS_DP_RELEASE_SQL)

from .analytics.timeseries import (  # noqa: E402
    ORDERS_BUSINESS_LATENCY_SQL,
    orders_business_latency,
)

register(
    "orders_business_latency",
    orders_business_latency,
    ORDERS_BUSINESS_LATENCY_SQL,
)

from .analytics.drift import (  # noqa: E402
    EVENTS_WINDOWED_PSI_SQL,
    events_windowed_psi,
)

register("events_windowed_psi", events_windowed_psi, EVENTS_WINDOWED_PSI_SQL)

register(
    "dedup_containment_sketch_eval",
    dedup_gate.dedup_containment_sketch_eval,
    dedup_gate.DEDUP_CONTAINMENT_SKETCH_EVAL_SQL,
)

from .analytics.funnel import (  # noqa: E402
    EVENTS_USER_JOURNEYS_SQL,
    events_user_journeys,
)

register("events_user_journeys", events_user_journeys, EVENTS_USER_JOURNEYS_SQL)

from .analytics.trend import (  # noqa: E402
    BRAND_PRICE_ELASTICITY_SQL,
    brand_price_elasticity,
)

register("brand_price_elasticity", brand_price_elasticity, BRAND_PRICE_ELASTICITY_SQL)

from .analytics.quality_audit import (  # noqa: E402
    LINEITEM_LORENZ_CURVE_SQL,
    lineitem_lorenz_curve,
)

register("lineitem_lorenz_curve", lineitem_lorenz_curve, LINEITEM_LORENZ_CURVE_SQL)

# ─────────────────────────── round-10 additions ───────────────────────────

from .similarity.ivf import (  # noqa: E402
    ANN_IVF_NPROBE_SWEEP_SQL,
    ann_ivf_nprobe_sweep,
)

register("ann_ivf_nprobe_sweep", ann_ivf_nprobe_sweep, ANN_IVF_NPROBE_SWEEP_SQL)

from .analytics.ml_eval import (  # noqa: E402
    EVENTS_CUPED_ADJUSTMENT_SQL,
    EVENTS_PURCHASE_STUMP_SQL,
    EVENTS_RATER_AGREEMENT_SQL,
    EVENTS_VALUE_AUC_SQL,
    events_cuped_adjustment,
    events_purchase_stump,
    events_rater_agreement,
    events_value_auc,
)

from .analytics.drift import EVENTS_JSD_ARMS_SQL, events_jsd_arms  # noqa: E402
from .analytics.features import (  # noqa: E402
    EVENTS_TRANSITION_ENTROPY_SQL,
    events_transition_entropy,
)
from .analytics.quality_audit import (  # noqa: E402
    LINEITEM_SUPPLIER_THEIL_SQL,
    lineitem_supplier_theil,
)

from .similarity.gate import (  # noqa: E402
    EMBEDDINGS_RP_RECALL_SQL,
    embeddings_rp_recall,
)

register("embeddings_rp_recall", embeddings_rp_recall, EMBEDDINGS_RP_RECALL_SQL)

from .analytics.funnel import CUSTOMER_COHORT_LTV_SQL, customer_cohort_ltv  # noqa: E402

register("customer_cohort_ltv", customer_cohort_ltv, CUSTOMER_COHORT_LTV_SQL)

from .functions.keywords import DOCS_RAKE_KEYWORDS_SQL, docs_rake_keywords  # noqa: E402

register("docs_rake_keywords", docs_rake_keywords, DOCS_RAKE_KEYWORDS_SQL)

from .analytics.timeseries import (  # noqa: E402
    EVENTS_VIEW_PURCHASE_CCF_SQL,
    events_view_purchase_ccf,
)
from .analytics.ml_eval import (  # noqa: E402
    EVENTS_VALUE_CALIBRATION_SQL,
    events_value_calibration,
)
from .analytics.quality_audit import (  # noqa: E402
    PARTS_ABC_CLASSIFICATION_SQL,
    parts_abc_classification,
)
from .analytics.features import (  # noqa: E402
    CUSTOMER_RFM_MIGRATION_SQL,
    customer_rfm_migration,
)

register("events_view_purchase_ccf", events_view_purchase_ccf, EVENTS_VIEW_PURCHASE_CCF_SQL)
register("events_value_calibration", events_value_calibration, EVENTS_VALUE_CALIBRATION_SQL)
register("parts_abc_classification", parts_abc_classification, PARTS_ABC_CLASSIFICATION_SQL)
register("customer_rfm_migration", customer_rfm_migration, CUSTOMER_RFM_MIGRATION_SQL)
register("events_jsd_arms", events_jsd_arms, EVENTS_JSD_ARMS_SQL)
register(
    "events_transition_entropy", events_transition_entropy, EVENTS_TRANSITION_ENTROPY_SQL
)
register("lineitem_supplier_theil", lineitem_supplier_theil, LINEITEM_SUPPLIER_THEIL_SQL)
register("events_value_auc", events_value_auc, EVENTS_VALUE_AUC_SQL)
register("events_rater_agreement", events_rater_agreement, EVENTS_RATER_AGREEMENT_SQL)
register("events_purchase_stump", events_purchase_stump, EVENTS_PURCHASE_STUMP_SQL)
register("events_cuped_adjustment", events_cuped_adjustment, EVENTS_CUPED_ADJUSTMENT_SQL)

from .analytics.funnel import (  # noqa: E402
    PURCHASE_TOUCH_ATTRIBUTION_SQL,
    purchase_touch_attribution,
)

register(
    "purchase_touch_attribution", purchase_touch_attribution, PURCHASE_TOUCH_ATTRIBUTION_SQL
)

from .functions.vocab import (  # noqa: E402
    DOCS_COLLOCATION_PMI_SQL,
    docs_collocation_pmi,
)

register("docs_collocation_pmi", docs_collocation_pmi, DOCS_COLLOCATION_PMI_SQL)

from .analytics.timeseries import (  # noqa: E402
    CUSTOMER_REPURCHASE_CADENCE_SQL,
    customer_repurchase_cadence,
)

register(
    "customer_repurchase_cadence",
    customer_repurchase_cadence,
    CUSTOMER_REPURCHASE_CADENCE_SQL,
)

from .functions.vocab import (  # noqa: E402
    DOCS_SOURCE_VOCAB_KL_SQL,
    docs_source_vocab_kl,
)

register("docs_source_vocab_kl", docs_source_vocab_kl, DOCS_SOURCE_VOCAB_KL_SQL)

from .similarity.gate import (  # noqa: E402
    EMBEDDINGS_CENTROID_DRIFT_SQL,
    embeddings_centroid_drift,
)

register(
    "embeddings_centroid_drift", embeddings_centroid_drift, EMBEDDINGS_CENTROID_DRIFT_SQL
)

from .analytics.survival import (  # noqa: E402
    USERS_CHURN_HAZARD_SQL,
    users_churn_hazard,
)

register("users_churn_hazard", users_churn_hazard, USERS_CHURN_HAZARD_SQL)

from .analytics.quality_audit import (  # noqa: E402
    CUSTOMER_CONCENTRATION_SQL,
    customer_concentration,
)
from .functions.vocab import (  # noqa: E402
    DOCS_TOKEN_BUDGET_CURVE_SQL,
    docs_token_budget_curve,
)

register("customer_concentration", customer_concentration, CUSTOMER_CONCENTRATION_SQL)
register("docs_token_budget_curve", docs_token_budget_curve, DOCS_TOKEN_BUDGET_CURVE_SQL)

from .streaming.events import (  # noqa: E402
    EVENTS_SESSION_STATS_SQL,
    events_session_stats,
)

register("events_session_stats", events_session_stats, EVENTS_SESSION_STATS_SQL)

from .similarity.gate import (  # noqa: E402
    EMBEDDINGS_LABEL_SEPARATION_SQL,
    embeddings_label_separation,
)

register(
    "embeddings_label_separation",
    embeddings_label_separation,
    EMBEDDINGS_LABEL_SEPARATION_SQL,
)

from .analytics.pagerank import (  # noqa: E402
    GRAPH_PERSONALIZED_PAGERANK_SQL,
    graph_personalized_pagerank,
)

register(
    "graph_personalized_pagerank",
    graph_personalized_pagerank,
    GRAPH_PERSONALIZED_PAGERANK_SQL,
)

from .dedup.novelty import (  # noqa: E402
    DOCS_DUPLICATION_PROFILE_SQL,
    docs_duplication_profile,
)
from .functions.vocab import (  # noqa: E402
    DOCS_SOURCE_KEYNESS_SQL,
    docs_source_keyness,
)

register("docs_source_keyness", docs_source_keyness, DOCS_SOURCE_KEYNESS_SQL)

from .functions.vocab import (  # noqa: E402
    DOCS_TERM_BURSTINESS_SQL,
    docs_term_burstiness,
)

register("docs_term_burstiness", docs_term_burstiness, DOCS_TERM_BURSTINESS_SQL)

from .analytics.quality_audit import (  # noqa: E402
    EVENTS_KRUSKAL_WALLIS_SQL,
    events_kruskal_wallis,
)

register("events_kruskal_wallis", events_kruskal_wallis, EVENTS_KRUSKAL_WALLIS_SQL)
register(
    "docs_duplication_profile", docs_duplication_profile, DOCS_DUPLICATION_PROFILE_SQL
)

# ─── round-11 additions ───
from .similarity.pq import PQ_ADC_TOPK_SQL, pq_adc_topk_gate
from .similarity.ivfpq import IVFPQ_ADC_TOPK_SQL, ivfpq_adc_topk_gate

register("pq_adc_topk", pq_adc_topk_gate, PQ_ADC_TOPK_SQL)
register("ivfpq_adc_topk", ivfpq_adc_topk_gate, IVFPQ_ADC_TOPK_SQL)

from .analytics.ml_eval import EVENTS_VALUE_AP_SQL, events_value_ap

register("events_value_ap", events_value_ap, EVENTS_VALUE_AP_SQL)

from .analytics.survival import USERS_CHURN_LOGRANK_SQL, users_churn_logrank

register("users_churn_logrank", users_churn_logrank, USERS_CHURN_LOGRANK_SQL)

from .analytics.hits import GRAPH_HITS_SQL, graph_hits

register("graph_hits", graph_hits, GRAPH_HITS_SQL)

from .analytics.ml_eval import EVENTS_BRIER_SQL, events_brier_decomposition

register("events_brier_decomposition", events_brier_decomposition, EVENTS_BRIER_SQL)

register(
    "ann_filtered_topk", sim_gate.ann_filtered_topk, sim_gate.ANN_FILTERED_TOPK_SQL
)

from .analytics.ml_eval import EVENTS_VALUE_LIFT_SQL, events_value_lift

register("events_value_lift", events_value_lift, EVENTS_VALUE_LIFT_SQL)

from .operators.validate import CUSTOMER_T_CLOSENESS_SQL, customer_t_closeness

register("customer_t_closeness", customer_t_closeness, CUSTOMER_T_CLOSENESS_SQL)

register(
    "events_windowed_topk",
    streaming_events.events_windowed_topk,
    streaming_events.EVENTS_WINDOWED_TOPK_SQL,
)

from .analytics.ml_eval import EVENTS_RATER_MCNEMAR_SQL, events_rater_mcnemar
from .similarity.pq import PQ_RECALL_EVAL_SQL, pq_recall_eval_gate

register("events_rater_mcnemar", events_rater_mcnemar, EVENTS_RATER_MCNEMAR_SQL)
register("pq_recall_eval", pq_recall_eval_gate, PQ_RECALL_EVAL_SQL)

from .analytics.triangles import (
    SUPPLIER_LINK_PREDICTION_SQL,
    supplier_link_prediction,
)

register(
    "supplier_link_prediction", supplier_link_prediction, SUPPLIER_LINK_PREDICTION_SQL
)

from .analytics.timeseries import EVENTS_VALUE_MASE_SQL, events_value_mase

register("events_value_mase", events_value_mase, EVENTS_VALUE_MASE_SQL)

from .analytics.funnel import (
    FUNNEL_STEP_SIGNIFICANCE_SQL,
    funnel_step_significance,
)

register(
    "funnel_step_significance", funnel_step_significance, FUNNEL_STEP_SIGNIFICANCE_SQL
)

# ─────────────────────────── round-12 additions ───────────────────────────

from .analytics.ml_eval import EVENTS_VALUE_PR_CURVE_SQL, events_value_pr_curve

register("events_value_pr_curve", events_value_pr_curve, EVENTS_VALUE_PR_CURVE_SQL)

from .similarity.ivf import ANN_INCREMENTAL_ADMIT_SQL, ann_incremental_admit

register("ann_incremental_admit", ann_incremental_admit, ANN_INCREMENTAL_ADMIT_SQL)

from .analytics.triangles import (
    SUPPLIER_ASSORTATIVITY_SQL,
    SUPPLIER_CLUSTERING_SQL,
    supplier_clustering_coefficient,
    supplier_degree_assortativity,
)

register(
    "supplier_clustering_coefficient",
    supplier_clustering_coefficient,
    SUPPLIER_CLUSTERING_SQL,
)
register(
    "supplier_degree_assortativity",
    supplier_degree_assortativity,
    SUPPLIER_ASSORTATIVITY_SQL,
)

from .analytics.ml_eval import EVENTS_VALUE_NDCG_SQL, events_value_ndcg

register("events_value_ndcg", events_value_ndcg, EVENTS_VALUE_NDCG_SQL)

from .analytics.quality_audit import EVENTS_CLIFFS_DELTA_SQL, events_cliffs_delta

register("events_cliffs_delta", events_cliffs_delta, EVENTS_CLIFFS_DELTA_SQL)

from .functions.vocab import DOCS_TFIDF_TERMS_SQL, docs_tfidf_terms

register("docs_tfidf_terms", docs_tfidf_terms, DOCS_TFIDF_TERMS_SQL)

from .analytics.timeseries import (
    EVENTS_DWELL_TRANSITIONS_SQL,
    events_dwell_transitions,
)

register(
    "events_dwell_transitions", events_dwell_transitions, EVENTS_DWELL_TRANSITIONS_SQL
)

from .analytics.timeseries import (
    EVENTS_SEASONAL_STRENGTH_SQL,
    events_seasonal_strength,
)

register(
    "events_seasonal_strength", events_seasonal_strength, EVENTS_SEASONAL_STRENGTH_SQL
)

from .analytics.quality_audit import EVENTS_AB_FDR_SQL, events_ab_fdr

register("events_ab_fdr", events_ab_fdr, EVENTS_AB_FDR_SQL)

# ── round-12 additions ──

from .similarity.ivf import ANN_DELETE_COMPACT_SQL, ann_delete_compact

register("ann_delete_compact", ann_delete_compact, ANN_DELETE_COMPACT_SQL)

from .analytics.quality_audit import EVENTS_CVM_TEST_SQL, events_cvm_test

register("events_cvm_test", events_cvm_test, EVENTS_CVM_TEST_SQL)

from .functions.vocab import DOCS_KEYPHRASE_TERMS_SQL, docs_keyphrase_terms

register("docs_keyphrase_terms", docs_keyphrase_terms, DOCS_KEYPHRASE_TERMS_SQL)
