"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload of ``perfbench/workloads.py`` against the engine in
this checkout, on ``local[nproc]`` with the engine's own session
defaults. Prints a human-readable report line, then, as the last line,
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` the per-layer ones, from spans around each layer's
calls and the Spark event log. Exits non-zero without a result when
the engine's source is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict
from pathlib import Path


def process_age_s() -> float:
    """Seconds since this process was created."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import common, tracer as tr  # noqa: E402

END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("rows_per_s", "rows/s"),
    ("ops_per_s", "1/s"),
)

# Layers that only build lazy plans: they run no Spark job, so their
# self time is all driver time.
PLAN_LAYERS = ("bench", "operators.transform", "api", "functions", "operators.sampling")
# Layers whose calls run Spark jobs.
JOB_LAYERS = (
    "sources",
    "operators.validate",
    "pipeline",
    "operators.combine",
    "exporter",
    "operators.query_builder",
    "dedup",
    "registry.analytics",
    "registry.similarity",
    "registry.streaming",
    "registry.operators",
    "registry.pipelines_llm",
    "session",
)
LAYERS = PLAN_LAYERS + JOB_LAYERS
LAYER_METRICS = (
    ("wall_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("task_cpu_s", "s"),
    ("shuffle_write_mb", "MB"),
)
QUERY_METRICS = (("wall_s", "s"), ("jobs", "count"), ("shuffle_write_mb", "MB"))


def per_layer_names() -> list[tuple[str, str]]:
    from perfbench.workloads import REGISTRY_QUERIES

    names = [(f"{layer}.wall_s", "s") for layer in PLAN_LAYERS]
    names += [(f"{layer}.{m}", u) for layer in JOB_LAYERS for m, u in LAYER_METRICS]
    names += [(f"registry.{q}.{m}", u) for q in REGISTRY_QUERIES for m, u in QUERY_METRICS]
    names += [("session.peak_rss_mb", "MB"), ("session.jvm_gc_s", "s"), ("trace.overhead_s", "s"), ("registry.pipelines_llm.docs_kept_ratio", "ratio")]
    return names


def timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def end_to_end(workload, passes, setup_s: float) -> dict:
    """The end-to-end metrics of the untraced passes. Operation
    latencies are only in the report (each workload's ``*_p50_ms`` and
    ``*_tail_ms``): a run affords twelve file latencies and nine
    registry-query latencies, and over two sets of ten runs of the same
    code the file tail's median moved by a fifth and the median query's
    spread reached a third, past the largest bound a metric may carry
    (a quarter)."""
    values = {
        "setup_s": setup_s,
        "wall_s": statistics.median(p.wall_s for p in passes),
        "rows_per_s": statistics.median(p.rows / p.wall_s for p in passes),
        "ops_per_s": statistics.median(sum(o.kind in workload.op_kinds for o in p.ops) / p.wall_s for p in passes),
    }
    return {n: {"value": values[n], "unit": u} for n, u in END_TO_END}


def layer_metrics(spans, jobs, n_traced: int) -> tuple[dict, dict]:
    """Per-pass layer totals over the traced passes (self time, driver
    time, event-log counters) and inclusive per-query figures."""
    stats = tr.span_stats(spans, jobs)
    table: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        row = table[s.layer]
        row["calls"] += 1
        for k, v in stats[s.id].items():
            row[k] += v
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)

    def inclusive(s, key):
        return stats[s.id][key] + sum(inclusive(c, key) for c in children[s.id])

    queries: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        q = s.attrs.get("query")
        if q:
            queries[q]["wall_s"] += s.end - s.start
            queries[q]["jobs"] += inclusive(s, "jobs")
            queries[q]["shuffle_write_mb"] += inclusive(s, "shuffle_write_mb")
    per_pass = lambda d: {k: {m: v / n_traced for m, v in row.items()} for k, row in d.items()}  # noqa: E731
    return per_pass(table), per_pass(queries)


def run(args) -> int:
    common.import_program()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = common.WORK / args.workload
    shutil.rmtree(work, ignore_errors=True)
    common.confine_scratch(work)
    sys.path.insert(0, str(common.ROOT / "tests"))
    load_1min = os.getloadavg()[0]
    event_log = work / "eventlog" if args.trace else None
    spark = common.start_spark(work, event_log)
    try:
        session_up = process_age_s()
        tracer = tr.Tracer(spark)
        workload = WORKLOADS[args.workload](spark, tracer, work, args.seed)
        phases = {
            "session_s": session_up,
            "generate_s": timed(workload.generate),
            "prepare_s": timed(workload.prepare),
            "warm_s": timed(workload.warm),
        }
        setup_s = process_age_s()

        if args.trace:
            for module, attr, layer in workload.trace_points():
                tracer.wrap(module, attr, layer)
        passes, traced, gc_s = [], [], 0.0
        deadline = time.perf_counter() + args.seconds
        k = 0
        # The traced run alternates untraced and traced passes, at least
        # untraced, traced, untraced, so the tracing overhead is measured
        # on the same session and inputs, and a trend of the JVM still
        # warming up cancels out of it.
        min_passes = max(workload.min_passes, 3 if args.trace else 1)
        while k < min_passes or time.perf_counter() < deadline:
            tracer.enabled = bool(args.trace) and k % 2 == 1
            gc0 = common.jvm_gc_s(spark) if tracer.enabled else 0.0
            with tracer.pass_span(k):
                result = workload.run_pass()
            if tracer.enabled:
                gc_s += common.jvm_gc_s(spark) - gc0
                traced.append(result)
            else:
                passes.append(result)
            k += 1
        tracer.enabled = False
        tracer.unwrap()

        phases["measure_s"] = time.perf_counter() + args.seconds - deadline
        ops = [o for p in passes + traced for o in p.ops]
        failed = sum(not o.ok for o in ops)
        t = time.perf_counter()
        try:
            check_failed, problems = workload.check()
        except Exception as exc:  # noqa: BLE001 - a check that cannot run fails the run
            check_failed, problems = 1, [f"check raised {exc!r}"]
        phases["check_s"] = time.perf_counter() - t
        failed += check_failed
        attempted = len(ops)
        metrics = end_to_end(workload, passes, setup_s)
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": common.nproc(),
            "spark_version": spark.version,
            "load_1min_at_start": load_1min,
            "passes": len(passes),
            "pass_wall_s": [p.wall_s for p in passes],
            "traced_passes": len(traced),
            "failed_ratio": failed / attempted,
            # Peak resident memory of this process and its JVM; it does
            # not repeat within a tenth from run to run, so it is a
            # per-layer (session) metric, not an end-to-end one.
            "peak_rss_mb": common.peak_rss_mb(),
            "problems": problems[:10],
            "phases": phases,
            **workload.report(passes),
        }
    finally:
        common.stop_spark(spark)

    if args.trace:
        log = next(event_log.iterdir())
        jobs = tr.parse_event_log(log)
        layers, queries = layer_metrics(tracer.spans, jobs, len(traced))
        untraced_wall = statistics.median(p.wall_s for p in passes)
        traced_wall = statistics.median(p.wall_s for p in traced)
        values = {f"{layer}.{m}": layers.get(layer, {}).get(m, 0.0) for layer in LAYERS for m, _ in LAYER_METRICS}
        values |= {f"registry.{q}.{m}": row[m] for q, row in queries.items() for m, _ in QUERY_METRICS}
        values["session.peak_rss_mb"] = report["peak_rss_mb"]
        values["session.jvm_gc_s"] = gc_s / len(traced)
        values["trace.overhead_s"] = traced_wall - untraced_wall
        values["registry.pipelines_llm.docs_kept_ratio"] = report.get("docs_kept_ratio", {}).get("value", 0.0)
        metrics = {n: {"value": values.get(n, 0.0), "unit": u} for n, u in per_layer_names()}
        report["trace"] = {
            "untraced_wall_s": untraced_wall,
            "traced_wall_s": traced_wall,
            "overhead_s": traced_wall - untraced_wall,
            "self_time_sum_s": sum(row["wall_s"] for row in layers.values()),
            "layers": layers,
            "queries": queries,
        }
        tracer.dump(work / "trace" / "spans.jsonl")
    (work / "report.json").write_text(json.dumps(report, indent=2, default=str), encoding="utf-8")
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        return run(args)
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 3


if __name__ == "__main__":
    sys.exit(main())
