"""Tests of the benchmark's own parts; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import common, inputs, run, tracer  # noqa: E402
from perfbench.tracer import Span  # noqa: E402

FIXTURES = Path(__file__).parent / "fixtures"


# --- same seed, same inputs ------------------------------------------------------


def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_provider_files_repeat_per_seed(tmp_path):
    a = inputs.provider_files(tmp_path / "a", seed=5, n_files=3, rows_per_file=50)
    b = inputs.provider_files(tmp_path / "b", seed=5, n_files=3, rows_per_file=50)
    c = inputs.provider_files(tmp_path / "c", seed=6, n_files=3, rows_per_file=50)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert _files(tmp_path / "a") != _files(tmp_path / "c")
    assert [f.expected for f in a] == [f.expected for f in b]
    assert [f.template["header_row"] for f in a] == [0, 0, 1]


def test_provider_expected_sums_follow_the_template(tmp_path):
    (f,) = inputs.provider_files(tmp_path, seed=1, n_files=1, rows_per_file=40)
    lines = Path(f.path).read_text(encoding="utf-8").splitlines()
    assert lines[0].startswith("SKU,Region,Product,2024-01-01")
    total = sum(f.expected.values())
    import csv

    rows = list(csv.reader(lines[1:]))
    written = sum(int(c.replace(",", "")) for r in rows for c in r[3:] if c)
    assert total == written
    assert all(sku == sku.strip() for sku, _, _ in f.expected)


def test_request_stream_repeats_per_seed():
    a, b, c = inputs.request_stream(3, 40), inputs.request_stream(3, 40), inputs.request_stream(4, 40)
    assert a == b
    assert a != c
    kinds = [k for k, _, _ in a]
    assert kinds.count("transform") == 40 // inputs.TRANSFORM_EVERY
    for kind, payload, expected in a:
        if kind == "transform":
            assert len(payload["rows"]) == inputs.TRANSFORM_ROWS
            assert expected % len(inputs.MONTHS) == 0


def test_query_shapes_do_not_depend_on_the_seed():
    def shapes(seed):
        queries = [p for kind, p, _ in inputs.request_stream(seed, 32) if kind == "query"]
        return [([f.get("column", "or") for f in p["filters"]], p["order_by"], p["limit"]) for p in queries]

    assert shapes(1) == shapes(2)
    assert len({str(s) for s in shapes(1)[: inputs.QUERY_SHAPES]}) > 1


def test_star_schema_and_corpus_repeat_per_seed():
    a, b = inputs.star_tables(9, 0.001), inputs.star_tables(9, 0.001)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(inputs.star_tables(10, 0.001)["lineitem"])
    keys = list(zip(a["lineitem"]["l_orderkey"].to_pylist(), a["lineitem"]["l_linenumber"].to_pylist()))
    assert len(keys) == len(set(keys))
    d1, s1 = inputs.documents_table(9, 100)
    d2, s2 = inputs.documents_table(9, 100)
    assert d1.equals(d2) and s1 == s2
    assert d1.num_rows == 100 + int(100 * s1)
    assert len(set(d1["doc_id"].to_pylist())) == d1.num_rows


# --- tail percentile rule ----------------------------------------------------------


@pytest.mark.parametrize("n,rank", [(10, None), (11, None), (19, None), (20, 50), (48, 79), (100, 90), (1000, 99)])
def test_tail_rank(n, rank):
    assert common.tail_rank(n) == rank


@pytest.mark.parametrize("n", [20, 21, 24, 37, 48, 100, 250])
def test_tail_has_ten_samples_beyond(n):
    samples = [i / 1000 for i in range(1, n + 1)]
    lat = common.latency_summary(samples)
    assert lat["samples"] == n
    assert lat["tail_pct"] == common.tail_rank(n)
    assert sum(1 for s in samples if s * 1000 > lat["tail_ms"]) >= 10
    # the next whole percentile would leave fewer than ten samples above it
    assert n * (1 - (lat["tail_pct"] + 1) / 100) < 10


@pytest.mark.parametrize("n", [3, 12, 19])
def test_tail_of_a_small_sample_is_its_maximum(n):
    samples = [i / 10 for i in range(n, 0, -1)]
    lat = common.latency_summary(samples)
    assert (lat["tail_ms"], lat["tail_pct"], lat["samples"]) == (n * 100, 100, n)
    assert lat["p50_ms"] == pytest.approx(50 * (n + 1))


def test_percentile_matches_linear_interpolation():
    assert common.percentile([1, 2, 3, 4], 50) == 2.5
    assert common.percentile([10, 20], 90) == pytest.approx(19.0)


# --- self-time arithmetic -----------------------------------------------------------


def test_interval_helpers():
    assert tracer.union([(3, 4), (0, 2), (1, 3), (6, 6)]) == [(0, 4)]
    assert tracer.subtract([(0, 10)], [(1, 3), (2, 5), (8, 12)]) == [(0, 1), (5, 8)]
    assert tracer.length([(0, 1), (5, 8)]) == 4


def test_self_time_of_nested_and_concurrent_spans():
    spans = [
        Span(1, None, "bench", {}, 0.0, 10.0),
        # two concurrent children (client threads) overlap on [2, 3]
        Span(2, 1, "api", {}, 1.0, 3.0),
        Span(3, 1, "operators.query_builder", {}, 2.0, 5.0),
        Span(4, 2, "operators.validate", {}, 1.5, 2.5),
        Span(5, 1, "exporter", {}, 8.0, 9.0),
    ]
    selfs = {k: tracer.length(v) for k, v in tracer.self_intervals(spans).items()}
    assert selfs == {1: 5.0, 2: 1.0, 3: 3.0, 4: 1.0, 5: 1.0}


def test_driver_time_excludes_own_jobs(tmp_path):
    spans = [Span(1, None, "pipeline", {}, 1000.0, 1002.0), Span(2, 1, "operators.validate", {}, 1000.5, 1001.0)]
    jobs = {
        0: tracer.JobStats("perfbench-span-1", 1001.2, 1001.6, tasks=4, task_cpu_s=0.3),
        1: tracer.JobStats("perfbench-span-2", 1000.6, 1000.9, tasks=2),
        2: tracer.JobStats(None, 1000.0, 1002.0, tasks=9),
    }
    st = tracer.span_stats(spans, jobs)
    assert st[1]["wall_s"] == pytest.approx(1.5)
    assert st[1]["driver_s"] == pytest.approx(1.1)
    assert (st[1]["jobs"], st[1]["tasks"], st[1]["task_cpu_s"]) == (1, 4, 0.3)
    assert st[2]["wall_s"] == pytest.approx(0.5)
    assert st[2]["driver_s"] == pytest.approx(0.2)


def test_disabled_tracer_records_nothing():
    t = tracer.Tracer()
    with t.span("api") as s:
        assert s is None
    assert t.spans == []


def test_tracer_nests_spans_and_unwraps():
    t = tracer.Tracer(enabled=True)

    class Module:
        @staticmethod
        def work(x):
            return x + 1

    t.wrap(Module, "work", "functions")
    with t.pass_span(0):
        with t.span("registry.analytics", query="q"):
            assert Module.work(1) == 2
    t.unwrap()
    assert Module.work(1) == 2 and not hasattr(Module.work, "__wrapped__")
    by_layer = {s.layer: s for s in t.spans}
    assert by_layer["functions"].parent == by_layer["registry.analytics"].id
    assert by_layer["registry.analytics"].parent == by_layer["bench"].id
    assert by_layer["bench"].parent is None


# --- event log --------------------------------------------------------------------------


def test_parse_event_log_fixture():
    jobs = tracer.parse_event_log(FIXTURES / "eventlog.jsonl")
    assert sorted(jobs) == [0, 1, 2]
    j0, j1, j2 = jobs[0], jobs[1], jobs[2]
    assert (j0.group, j0.start, j0.end) == ("perfbench-span-1", 1000.0, 1000.5)
    assert j0.tasks == 3
    assert j0.task_cpu_s == pytest.approx(1.0)
    assert j0.gc_s == pytest.approx(0.03)
    assert j0.shuffle_write_mb == pytest.approx(3.0)
    assert j0.spill_mb == pytest.approx(3.0)
    # stage 1 ran in job 0; job 1 skipped it and ran stage 2 only
    assert (j1.group, j1.tasks, j1.failed_tasks) == ("perfbench-span-2", 2, 1)
    assert j2.group is None and j2.tasks == 1


# --- output checks ----------------------------------------------------------------------


def test_analytics_check_counts_each_mismatching_query_and_request(tmp_path):
    """Rows that DuckDB computed from the oracle SQL, and query-builder
    answers from DuckDB's run of ``to_sql()``, pass the check; each
    query or request whose rows were tampered with counts as one
    failure, a query with the harness's own description of the
    mismatch."""
    sys.path.insert(0, str(Path(__file__).resolve().parents[2] / "tests"))
    import oracle_harness

    from data_frame_demo_etl_spark import registry
    from perfbench import workloads

    w = workloads.Analytics(None, tracer.Tracer(), tmp_path, seed=3)
    w.SF, w.N_DOCS = 0.001, 40
    w.generate()
    w.specs = {i: workloads.query_spec(p) for i, (kind, p, _) in enumerate(w.stream[:8]) if kind == "query"}
    sqls = registry.oracle_sql()
    con = oracle_harness.duckdb_connection(str(w.sf_dir))
    try:
        w.collected = {q: con.execute(sqls[q]).fetchdf() for q in workloads.REGISTRY_QUERIES}
        w.answers = {i: [tuple(r) for r in con.execute(s.to_sql("lineitem")).fetchall()] for i, s in w.specs.items()}
    finally:
        con.close()
    assert len(w.answers) == 6
    assert w.check() == (0, [])
    for q in ("q1_pricing_summary", "events_hll_rollup"):
        w.collected[q] = w.collected[q].iloc[1:]
    request = min(i for i, rows in w.answers.items() if rows)
    w.answers[request] = w.answers[request][1:]
    failed, problems = w.check()
    assert failed == 3
    assert [p.split(":")[0] for p in problems] == ["q1_pricing_summary", "events_hll_rollup", f"request {request}"]
    assert all("row count differs" in p for p in problems[:2])


# --- the benchmark's declared metrics match what it prints --------------------------------


def test_benchmark_json_matches_the_runner():
    spec = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text(encoding="utf-8"))
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_names()
    assert max(m["bound"] for m in spec["end_to_end"]) == next(m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")
