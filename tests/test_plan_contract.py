"""Plan contract for the queries named in the expectation tables below.

One parametrized test holds each named query's plan to the physical
shape we want at 100 TB:
- predicate pushdown: queries whose WHERE touches pushable base-table
  columns must show them in the scan's PushedFilters;
- constant dims (region/nation, broadcast query sets) must be
  broadcast, not shuffled;
- declared scan-count ceilings for single-table aggregates.

Nested-loop/cartesian joins are bounded for every registered query by
``test_audit_and_scd2.py::test_no_accidental_cartesian_anywhere``.

If a future change un-pushes a filter or un-broadcasts a dim, this
fails with the offending plan.
"""

from __future__ import annotations

import pytest

from data_frame_demo_etl_spark import registry
from data_frame_demo_etl_spark.operators.audit import plan_report

# name -> substrings that must each appear in some PushedFilters entry.
PUSHED = {
    "q2_min_cost_supplier": ["p_type", "r_name"],
    "q10_returned_items": ["l_returnflag"],
    "q12_priority_class": ["l_shipdate"],
    "q14_promo_revenue": ["l_shipdate"],
    # The disjunction itself must reach both scans (Spark pushes the
    # whole Or tree; the line is truncated before every conjunct, so
    # assert the Or + the part-side brand predicate).
    "q19_disjunctive_revenue": ["Or(", "p_brand"],
    "sql_interface_q1": ["l_shipdate"],
    "q1_pricing_summary": ["l_shipdate"],
    # funnel: the one-pass formulation deliberately scans UNfiltered
    # (users with no funnel events must appear with nulls), so there
    # is no event_type pushdown — the contract is the 1-scan ceiling
    # below instead.
    "loyal_customers_intersect": ["o_orderdate"],
    # round-4 additions
    "q3_shipping_priority": ["o_orderdate", "l_shipdate"],
    "q6_revenue_forecast": ["l_shipdate"],
    "query_builder_filter": ["p_brand", "p_size"],
}

# name -> minimum number of BroadcastHashJoin nodes (constant dims /
# query sets that must never become shuffle joins).
BROADCASTS = {
    "q2_min_cost_supplier": 1,
    "q10_returned_items": 1,
    "revenue_by_region": 2,
}

# name -> maximum number of FileScan nodes (catches accidental
# double-scans of the fact table).
MAX_SCANS = {
    "q1_pricing_summary": 1,
    "sql_interface_q1": 1,
    "q12_priority_class": 2,
    "q14_promo_revenue": 2,
    "events_windowed": 1,
    "events_sessionize": 1,
    "text_token_count": 1,
    # one-pass funnel: one scan, one shuffle, no joins (was 10 scans
    # as an iterative join chain).
    "funnel_view_click_purchase": 1,
}


@pytest.mark.parametrize("name", sorted(PUSHED.keys() | BROADCASTS.keys() | MAX_SCANS.keys()))
def test_plan_contract(spark, sf_dir, name):
    df = registry.queries()[name](spark, sf_dir)
    rep = plan_report(df)

    for col in PUSHED.get(name, ()):
        assert any(col in f for f in rep.pushed_filters), (
            f"{name}: expected pushed filter on {col!r}; "
            f"PushedFilters={rep.pushed_filters}"
        )

    want_bc = BROADCASTS.get(name)
    if want_bc is not None:
        assert rep.broadcast_joins >= want_bc, (
            f"{name}: expected ≥{want_bc} broadcast joins, got {rep.broadcast_joins}"
        )

    max_scans = MAX_SCANS.get(name)
    if max_scans is not None:
        assert rep.scans <= max_scans, (
            f"{name}: {rep.scans} file scans (max {max_scans}) — accidental re-scan?"
        )


# --- round-4 additions --------------------------------------------------

def test_packing_plan_prunes_and_single_scan(spark, sf_dir):
    """docs_sequence_packing: one documents scan, pruned to the two
    columns the packing actually needs (a scan reading lang/source/
    n_chars for a doc_id+text computation would be wrong at 100 TB)."""
    rep = plan_report(registry.queries()["docs_sequence_packing"](spark, sf_dir))
    # The final plan reads the persisted (doc_id, n_tokens) pass-1
    # intermediate; the FileScan nodes in view are the InMemoryRelation
    # rendering its cached build plan. The contract is PRUNING: every
    # scan of documents reads exactly [doc_id, text], never the unused
    # lang/source/n_chars columns.
    scan_lines = [l for l in rep.raw.splitlines() if "FileScan" in l]
    assert scan_lines, rep.raw[:2000]
    for line in scan_lines:
        assert "doc_id" in line and "text" in line, line
        for unused in ("lang", "source", "n_chars"):
            assert unused not in line, f"packing scan reads {unused}: {line[:200]}"
    assert rep.nested_loop_joins == 0


def test_salted_join_plan_no_cartesian_and_pruned(spark, sf_dir):
    rep = plan_report(registry.queries()["skew_salted_brand_revenue"](spark, sf_dir))
    assert rep.nested_loop_joins == 0
    # lineitem scan pruned to the 3 used columns
    assert any(
        "l_partkey" in s and "l_extendedprice" in s and "l_shipdate" not in s
        for s in rep.read_schemas
    ), rep.read_schemas


def test_cluster_minhash_plan_no_cartesian(spark, sf_dir):
    rep = plan_report(registry.queries()["dedup_clusters_minhash"](spark, sf_dir))
    assert rep.nested_loop_joins == 0, rep.raw[:2000]


# --- round-5 additions --------------------------------------------------

def test_keep_best_plan_prunes_and_no_cartesian(spark, sf_dir):
    """dedup_clusters_keep_best: the quality join must not widen the
    documents scan — [doc_id, text] only, no cartesian anywhere in the
    sketch→components→window composition."""
    rep = plan_report(registry.queries()["dedup_clusters_keep_best"](spark, sf_dir))
    assert rep.nested_loop_joins == 0, rep.raw[:2000]
    doc_lines = [l for l in rep.raw.splitlines() if "FileScan" in l and "documents" in l]
    assert doc_lines, rep.raw[:2000]
    for line in doc_lines:
        for unused in ("lang", "source", "n_chars"):
            assert unused not in line, f"keep_best scan reads {unused}: {line[:200]}"


def test_bpe_packing_plan_prunes(spark, sf_dir):
    """docs_sequence_packing_bpe: both the learn and encode scans of
    documents read only [doc_id, text]."""
    rep = plan_report(registry.queries()["docs_sequence_packing_bpe"](spark, sf_dir))
    assert rep.nested_loop_joins == 0, rep.raw[:2000]
    doc_lines = [l for l in rep.raw.splitlines() if "FileScan" in l and "documents" in l]
    assert doc_lines
    for line in doc_lines:
        for unused in ("lang", "source", "n_chars"):
            assert unused not in line, f"bpe packing scan reads {unused}: {line[:200]}"


def test_png_gate_plan_prunes(spark, sf_dir):
    """multimodal_decode_png: the encode mapInPandas consumes only
    [doc_id, text] — column pruning must reach the scan through the
    Arrow boundary."""
    rep = plan_report(registry.queries()["multimodal_decode_png"](spark, sf_dir))
    doc_lines = [l for l in rep.raw.splitlines() if "FileScan" in l and "documents" in l]
    assert doc_lines
    for line in doc_lines:
        for unused in ("lang", "source", "n_chars"):
            assert unused not in line, f"png scan reads {unused}: {line[:200]}"


def test_llm_keep_best_plan_no_cartesian(spark, sf_dir):
    rep = plan_report(registry.queries()["llm_prep_keep_best"](spark, sf_dir))
    assert rep.nested_loop_joins == 0, rep.raw[:2000]


# --- round-5 additions --------------------------------------------------

def test_ohlc_plan_single_shuffle_and_pruned(spark, sf_dir):
    """events_ohlc_hourly: the window and the groupBy share the
    (bucket, event_type) partitioning — exactly ONE hash exchange; the
    events scan must not read user_id/props."""
    rep = plan_report(registry.queries()["events_ohlc_hourly"](spark, sf_dir))
    assert rep.nested_loop_joins == 0
    assert rep.exchanges == 1, f"expected 1 hash exchange, got {rep.exchanges}\n{rep.raw[:3000]}"
    for line in rep.raw.splitlines():
        if "FileScan" in line:
            for unused in ("user_id", "props"):
                assert unused not in line, f"ohlc scan reads {unused}: {line[:200]}"


def test_ewma_plan_single_shuffle(spark, sf_dir):
    """events_ewma: 16 lag terms must come from ONE window pass over
    one (event_type) exchange after the hourly agg — a plan with one
    exchange per lag would be wrong."""
    rep = plan_report(registry.queries()["events_ewma"](spark, sf_dir))
    assert rep.nested_loop_joins == 0
    assert rep.exchanges <= 2, f"hourly agg + window = 2 exchanges max\n{rep.raw[:3000]}"
    assert rep.raw.count("Window") <= 2  # one logical window (+AQE rendering)


def test_bloom_probe_stays_in_scan_stage(spark, sf_dir):
    """bloom_pruned_brand_revenue: the probe is a codegen Filter over
    the lineitem scan (no UDF, no extra exchange for the prune), and
    the part side broadcasts."""
    rep = plan_report(registry.queries()["bloom_pruned_brand_revenue"](spark, sf_dir))
    assert rep.nested_loop_joins == 0
    assert "BatchEvalPython" not in rep.raw and "ArrowEvalPython" not in rep.raw, (
        "bloom probe left codegen for a Python eval node"
    )
    assert rep.broadcast_joins >= 1
    assert any("p_brand" in f for f in rep.pushed_filters), rep.pushed_filters


def test_zorder_gate_plan_pruned(spark, sf_dir):
    """events_zorder_stats: pure scan+agg — no joins, and the scan
    reads only user_id/event_id."""
    rep = plan_report(registry.queries()["events_zorder_stats"](spark, sf_dir))
    assert rep.nested_loop_joins == 0
    assert rep.broadcast_joins == 0 and rep.sort_merge_joins == 0
    for line in rep.raw.splitlines():
        if "FileScan" in line:
            for unused in ("props", "value", "event_type"):
                assert unused not in line, f"zorder scan reads {unused}: {line[:200]}"


def test_quantile_rollup_broadcasts_summary(spark, sf_dir):
    """events_quantile_rollup: the per-type summary joins back to the
    base as a broadcast (5 rows), never a shuffle join."""
    rep = plan_report(registry.queries()["events_quantile_rollup"](spark, sf_dir))
    assert rep.nested_loop_joins == 0
    assert rep.broadcast_joins >= 1, rep.raw[:3000]


def test_jpeg_gate_plan_pruned(spark, sf_dir):
    """multimodal_decode_jpeg: the documents scan feeds mapInPandas
    with ONLY doc_id — reading text for a formula-generated fixture
    would ship the whole corpus through Arrow for nothing."""
    rep = plan_report(registry.queries()["multimodal_decode_jpeg"](spark, sf_dir))
    for line in rep.raw.splitlines():
        if "FileScan" in line:
            assert "doc_id" in line, line[:200]
            for unused in ("text", "lang", "source", "n_chars"):
                assert unused not in line, f"jpeg scan reads {unused}: {line[:200]}"


# --- round-5 late additions (sequence features, sketches, fusion, ---------
# --- basket rules, drift, image dedup) ------------------------------------

def test_lag_features_single_exchange_and_pruned(spark, sf_dir):
    """events_lag_features: every feature shares one (user_id, order)
    window — exactly ONE hash exchange; the scan must not read
    props/event_type (unused by the feature row)."""
    rep = plan_report(registry.queries()["events_lag_features"](spark, sf_dir))
    assert rep.nested_loop_joins == 0
    assert rep.exchanges == 1, f"expected 1 hash exchange\n{rep.raw[:3000]}"
    for line in rep.raw.splitlines():
        if "FileScan" in line:
            for unused in ("props", "event_type"):
                assert unused not in line, f"lag-features scan reads {unused}: {line[:200]}"


def test_mad_outliers_broadcasts_medians(spark, sf_dir):
    """events_mad_outliers: per-group median and MAD tables are
    group-cardinality-sized — they must come back as broadcast joins,
    and the scan must not read user_id/props."""
    rep = plan_report(registry.queries()["events_mad_outliers"](spark, sf_dir))
    assert rep.nested_loop_joins == 0
    assert rep.broadcast_joins >= 2, rep.raw[:3000]
    for line in rep.raw.splitlines():
        if "FileScan" in line:
            for unused in ("user_id", "props"):
                assert unused not in line, f"mad scan reads {unused}: {line[:200]}"


def test_cms_grid_broadcast_probe_and_pruned(spark, sf_dir):
    """events_cms_heavy_hitters: the ≤ depth·width grid joins the
    probes as a broadcast; the events scan reads only user_id."""
    rep = plan_report(registry.queries()["events_cms_heavy_hitters"](spark, sf_dir))
    assert rep.nested_loop_joins == 0
    assert rep.broadcast_joins >= 1, rep.raw[:3000]
    for line in rep.raw.splitlines():
        if "FileScan" in line:
            # NB: "ts" can't be substring-checked (matches "testdata"
            # in the scan path) — user_id-only is implied by the rest.
            for unused in ("props", "value", "event_type"):
                assert unused not in line, f"cms scan reads {unused}: {line[:200]}"


def test_kmv_salted_search_shape(spark, sf_dir):
    """events_kmv_distinct: the salted two-stage k-th-smallest search
    joins the (group-cardinality-sized) n_distinct and hk tables as a
    BROADCAST — never a shuffled join — and the scan reads only
    (event_type, user_id)."""
    rep = plan_report(registry.queries()["events_kmv_distinct"](spark, sf_dir))
    assert rep.nested_loop_joins == 0
    assert rep.sort_merge_joins == 0
    assert rep.broadcast_joins >= 1, rep.raw[:3000]
    for line in rep.raw.splitlines():
        if "FileScan" in line:
            for unused in ("props", "value"):
                assert unused not in line, f"kmv scan reads {unused}: {line[:200]}"


def test_rrf_fusion_prunes_documents(spark, sf_dir):
    """retrieval_rrf_fusion: the BM25 leg reads only [doc_id, text]
    (the cosine leg's broadcast-query cross shape is the documented
    ann pattern)."""
    rep = plan_report(registry.queries()["retrieval_rrf_fusion"](spark, sf_dir))
    doc_lines = [l for l in rep.raw.splitlines() if "FileScan" in l and "documents" in l]
    assert doc_lines, rep.raw[:2000]
    for line in doc_lines:
        for unused in ("lang", "source", "n_chars"):
            assert unused not in line, f"rrf doc scan reads {unused}: {line[:200]}"


def test_basket_rules_broadcasts_part_and_supports(spark, sf_dir):
    """brand_association_rules: part joins lineitem as a broadcast and
    both support lookups broadcast; the lineitem scan reads only
    (l_orderkey, l_partkey)."""
    rep = plan_report(registry.queries()["brand_association_rules"](spark, sf_dir))
    assert rep.nested_loop_joins == 0
    assert rep.broadcast_joins >= 3, rep.raw[:3000]
    li_lines = [l for l in rep.raw.splitlines() if "FileScan" in l and "lineitem" in l]
    assert li_lines
    for line in li_lines:
        for unused in ("l_extendedprice", "l_shipdate", "l_quantity"):
            assert unused not in line, f"basket scan reads {unused}: {line[:200]}"


def test_psi_scan_pruned(spark, sf_dir):
    """events_value_drift_psi: the dense-spine cross joins are
    constant-size by construction (groups × bins × 2); the contract
    here is pruning — the events scan must not read props/user_id."""
    rep = plan_report(registry.queries()["events_value_drift_psi"](spark, sf_dir))
    for line in rep.raw.splitlines():
        if "FileScan" in line and "events" in line:
            for unused in ("props", "user_id"):
                assert unused not in line, f"psi scan reads {unused}: {line[:200]}"


def test_image_dedup_scan_pruned(spark, sf_dir):
    """multimodal_image_dedup: the thumbnail encode consumes only
    [doc_id, text] through the Arrow boundary."""
    rep = plan_report(registry.queries()["multimodal_image_dedup"](spark, sf_dir))
    assert rep.nested_loop_joins == 0
    doc_lines = [l for l in rep.raw.splitlines() if "FileScan" in l and "documents" in l]
    assert doc_lines
    for line in doc_lines:
        for unused in ("lang", "source", "n_chars"):
            assert unused not in line, f"image-dedup scan reads {unused}: {line[:200]}"


def test_transitions_single_window_exchange(spark, sf_dir):
    """events_type_transitions: lag runs off ONE (user_id) exchange;
    the vocabulary² count agg and broadcast total join add no fact
    rescans; scan must not read props/value."""
    rep = plan_report(registry.queries()["events_type_transitions"](spark, sf_dir))
    assert rep.nested_loop_joins == 0
    assert rep.broadcast_joins >= 1, rep.raw[:3000]
    for line in rep.raw.splitlines():
        if "FileScan" in line:
            for unused in ("props", "value"):
                assert unused not in line, f"transitions scan reads {unused}: {line[:200]}"


def test_rolling_distinct_no_joins(spark, sf_dir):
    """events_rolling_distinct_users: distinct → explode → count
    distinct; no joins anywhere, scan reads only (user_id, ts)."""
    rep = plan_report(registry.queries()["events_rolling_distinct_users"](spark, sf_dir))
    assert rep.nested_loop_joins == 0
    assert rep.broadcast_joins == 0 and rep.sort_merge_joins == 0
    for line in rep.raw.splitlines():
        if "FileScan" in line:
            for unused in ("props", "value", "event_type"):
                assert unused not in line, f"rolling scan reads {unused}: {line[:200]}"


def test_trend_broadcast_origin_and_pruned(spark, sf_dir):
    """events_trend_slope: the per-group origin joins back broadcast;
    scan must not read props/user_id."""
    rep = plan_report(registry.queries()["events_trend_slope"](spark, sf_dir))
    assert rep.nested_loop_joins == 0
    assert rep.broadcast_joins >= 1, rep.raw[:3000]
    for line in rep.raw.splitlines():
        if "FileScan" in line:
            for unused in ("props", "user_id"):
                assert unused not in line, f"trend scan reads {unused}: {line[:200]}"


def test_seasonal_anomaly_broadcasts_profile(spark, sf_dir):
    """events_seasonal_anomaly: the (types × 24) profile and the
    median/MAD tables all join back broadcast — three broadcast joins,
    no shuffled join of the fact side."""
    rep = plan_report(registry.queries()["events_seasonal_anomaly"](spark, sf_dir))
    assert rep.nested_loop_joins == 0
    assert rep.broadcast_joins >= 3, rep.raw[:3000]
    assert rep.sort_merge_joins == 0


def test_k_anonymity_single_agg(spark, sf_dir):
    """customer_k_anonymity: one scan, one aggregation, no joins."""
    rep = plan_report(registry.queries()["customer_k_anonymity"](spark, sf_dir))
    assert rep.nested_loop_joins == 0
    assert rep.broadcast_joins == 0 and rep.sort_merge_joins == 0
    assert rep.scans <= 1, rep.raw[:2000]


def test_rfm_no_single_partition_window(spark, sf_dir):
    """customer_rfm_segments: quantile bands come from the two-pass
    prefix-sum rank — the plan must contain NO empty-partition-spec
    Window (the single-partition NTILE shape this replaced)."""
    rep = plan_report(registry.queries()["customer_rfm_segments"](spark, sf_dir))
    assert rep.nested_loop_joins == 0
    # A global NTILE/window would plan an Exchange SinglePartition —
    # the shape the two-pass prefix-sum rank exists to avoid.
    assert "Exchange SinglePartition" not in rep.raw, (
        "RFM plan re-grew a single-partition exchange\n" + rep.raw[:3000]
    )
