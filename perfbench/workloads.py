"""The benchmark's workloads.

Each workload writes its seeded inputs, warms up, then runs *passes*
until the run's time is up. A pass is one complete unit of the
workload's traffic, and each pass records the latency of every
operation in it (a file, a request, a split or a query). Outputs are
checked against independent references after the timed region.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from pathlib import Path

from . import common, inputs


@dataclass
class Op:
    kind: str
    latency_s: float
    ok: bool


@dataclass
class PassResult:
    wall_s: float
    rows: int
    ops: list[Op] = field(default_factory=list)


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class Workload:
    """One workload bound to a session, a tracer and a work directory."""

    name = ""
    # Operation kinds counted by ops_per_s; other kinds only count as
    # attempted.
    op_kinds: tuple[str, ...] = ()
    warm_passes = 1
    # Passes a run measures even when --seconds end sooner, so that a
    # slower machine does not change a run's sample count.
    min_passes = 1

    def __init__(self, spark, tracer, work: Path, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed

    def generate(self) -> None:
        """Write the seeded inputs (idempotent)."""
        raise NotImplementedError

    def prepare(self) -> None:
        """Open the generated inputs once they exist."""

    def warm(self) -> None:
        for _ in range(self.warm_passes):
            self.run_pass()

    def run_pass(self) -> PassResult:
        raise NotImplementedError

    def check(self) -> tuple[int, list[str]]:
        """Compare the outputs with their references, after the timed
        region. Returns (failed operations, problems)."""
        raise NotImplementedError

    def trace_points(self) -> list[tuple[object, str, str]]:
        """(module, function name, layer) of engine calls made below
        the benchmark's own spans, wrapped in the traced run."""
        return []

    def report(self, passes: list[PassResult]) -> dict:
        """Workload-specific figures, under the names its users know them by."""
        return {}


# --- provider_etl -----------------------------------------------------------------


class ProviderETL(Workload):
    """Thousands-of-small-spreadsheets traffic: each provider CSV goes
    through ``run_pipeline``, then all outputs are concatenated and
    exported with a manifest. One pass = N_FILES files + combine +
    export; one client. The warm-up is two whole passes: on a 4-core
    machine the three passes after the cold one took 7.1, 6.2 and
    5.6 s, and a steady pass 5.6 s, so passes timed while the JVM is
    still compiling would carry the speed of that compilation, which
    a busy host slows. A run measures at least three passes, so twelve
    file latencies."""

    name = "provider_etl"
    op_kinds = ("file",)
    warm_passes = 2
    min_passes = 3
    N_FILES = 4
    ROWS_PER_FILE = 2000

    def generate(self):
        self.files = inputs.provider_files(self.work / "providers", self.seed, self.N_FILES, self.ROWS_PER_FILE)
        self.out_dir = self.work / "pipeline_out"
        self.export_dir = self.work / "export"

    def run_pass(self):
        from data_frame_demo_etl_spark import exporter, pipeline
        from data_frame_demo_etl_spark.operators import combine
        from data_frame_demo_etl_spark.template_config import TemplateConfig

        ops, outputs = [], []
        t0 = time.perf_counter()
        for f in self.files:
            out = str(self.out_dir / (Path(f.path).stem + ".parquet"))
            t = time.perf_counter()
            try:
                with self.tracer.span("pipeline"):
                    res = pipeline.run_pipeline(self.spark, f.path, TemplateConfig.from_dict(f.template), out)
                ok = res.success and res.row_count == len(f.expected)
            except Exception:  # noqa: BLE001 - a failed file is counted, not fatal
                ok = False
            ops.append(Op("file", time.perf_counter() - t, ok))
            outputs.append(out)
        t = time.perf_counter()
        try:
            with self.tracer.span("operators.combine"):
                combined = combine.concat_frames([self.spark.read.parquet(o) for o in outputs])
            with self.tracer.span("exporter"):
                exporter.export_dataset(combined, self.export_dir, meta={"providers": len(outputs)})
            ok = True
        except Exception:  # noqa: BLE001
            ok = False
        ops.append(Op("export", time.perf_counter() - t, ok))
        return PassResult(time.perf_counter() - t0, sum(f.rows for f in self.files), ops)

    def check(self):
        import pyarrow.parquet as pq

        got: dict[str, dict] = {}
        table = pq.read_table(self.export_dir / "data.parquet")
        for p, sku, region, date, amount in zip(
            *(table.column(c).to_pylist() for c in ("provider_id", "sku", "region", "report_date", "sales_amount"))
        ):
            got.setdefault(p, {})[(sku, region, date.strftime("%Y-%m-%d"))] = amount
        problems = []
        for f in self.files:
            provider = f.template["provider_name"]
            if got.get(provider) != {k: float(v) for k, v in f.expected.items()}:
                problems.append(f"{provider}: exported sums differ from the generator's")
        return len(problems), problems

    def trace_points(self):
        from data_frame_demo_etl_spark import pipeline

        return [
            (pipeline, "read_with_template", "sources"),
            (pipeline, "apply_transforms", "operators.transform"),
            (pipeline, "validate_contract", "operators.validate"),
        ]

    def report(self, passes):
        files = [o.latency_s for p in passes for o in p.ops if o.kind == "file"]
        lat = common.latency_summary(files)
        in_bytes = sum(f.in_bytes for f in self.files)
        return {
            "file_p50_ms": {"value": lat["p50_ms"], "unit": "ms"},
            "file_tail_ms": {"value": lat["tail_ms"], "unit": "ms", "percentile": lat["tail_pct"], "samples": lat["samples"]},
            "out_bytes_per_in_byte": {
                "value": (dir_bytes(self.out_dir) + dir_bytes(self.export_dir)) / in_bytes,
                "unit": "B/B",
            },
        }


# --- analytics --------------------------------------------------------------------------

# Query -> the tables it reads (for input rows per second).
QUERY_TABLES = {
    "q1_pricing_summary": ("lineitem",),
    "q5_local_supplier_volume": ("lineitem", "orders", "customer", "supplier", "nation", "region"),
    "events_sessionize": ("events",),
    "events_hll_rollup": ("events",),
    "events_quantile_rollup": ("events",),
    "combine_on_agg": ("lineitem",),
    "ann_cosine_topk": ("embeddings",),
    "llm_prep_pipeline": ("documents",),
    "pack_documents_by_budget": ("documents",),
}
REGISTRY_QUERIES = tuple(QUERY_TABLES)


class Collected:
    """Rows a query already returned, in the shape
    ``oracle_harness.compare`` reads a Spark result from."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def query_family(fn) -> str:
    """``registry.<family>`` from the package the query lives in."""
    return "registry." + fn.__module__.split(".")[1]


def query_spec(payload: dict):
    from data_frame_demo_etl_spark.operators.query_builder import Filter, OrGroup, QuerySpec

    def one(f):
        v = f["value"]
        return Filter(f["column"], f["operator"], tuple(v) if isinstance(v, list) else v)

    filters = tuple(OrGroup(tuple(one(g) for g in f["or"])) if "or" in f else one(f) for f in payload["filters"])
    return QuerySpec(tuple(payload["columns"]), filters, tuple(payload["order_by"]), payload["limit"])


class Analytics(Workload):
    """A fixed set of registry queries on a seeded star schema, then a
    run of API requests against it; one client sends everything, one
    operation after another. One pass = every registry query once, each
    fully executed through ``session.materialize`` with caches released
    between queries, then REQUESTS_PER_PASS requests of the seeded
    request stream: three in four are query-builder requests on the
    line-item table, one in four is an ``api.transform_endpoint``
    request of 200 rows.

    Besides TPC-H, sketch, sessionization, triangle and ANN queries,
    the set holds the LLM corpus preparation (redaction and quality
    regex, n-gram Jaccard pairs, connected components) over a corpus
    with a seed-chosen share of exact and near duplicates, and the
    token-budget packing of that corpus."""

    name = "analytics"
    op_kinds = ("registry", "query", "transform")
    SF = 0.01
    N_DOCS = 250
    STREAM = 256
    REQUESTS_PER_PASS = 8

    def generate(self):
        self.sf_dir = self.work / "star"
        self.table_rows, self.duplicate_share = inputs.star_schema(self.sf_dir, self.seed, self.SF, self.N_DOCS)
        self.stream = inputs.request_stream(self.seed, self.STREAM)
        self.cursor = 0
        self.answers: dict[int, list[tuple]] = {}

    def prepare(self):
        self.table = self.spark.read.parquet(str(self.sf_dir / "lineitem.parquet"))
        self.specs = {i: query_spec(p) for i, (kind, p, _) in enumerate(self.stream) if kind == "query"}

    def warm(self):
        """Run every query once, collecting its rows for the check (the
        check then needs no second execution), and one pass's requests."""
        from data_frame_demo_etl_spark import registry, session

        fns = registry.queries()
        self.collected = {}
        for q in REGISTRY_QUERIES:
            self.collected[q] = fns[q](self.spark, str(self.sf_dir)).toPandas()
            session.release_all_caches(self.spark)
        self._requests()

    def _request(self, i: int) -> tuple[Op, int]:
        """Send request ``i``; returns its operation and its input rows
        (the rows of the table a query reads, the rows a transform
        carries)."""
        from data_frame_demo_etl_spark import api

        kind, payload, expected = self.stream[i % self.STREAM]
        t = time.perf_counter()
        try:
            if kind == "query":
                with self.tracer.span("operators.query_builder"):
                    rows = [tuple(r) for r in self.specs[i % self.STREAM].apply(self.table).collect()]
                self.answers[i % self.STREAM] = rows
                ok, n = True, self.table_rows["lineitem"]
            else:
                with self.tracer.span("api"):
                    res = api.transform_endpoint(self.spark, payload)
                ok = isinstance(res, api.ProcessResult) and res.success and res.row_count == expected
                n = len(payload["rows"])
        except Exception:  # noqa: BLE001 - a failed request is counted, not fatal
            ok, n = False, 0
        return Op(kind, time.perf_counter() - t, ok), n

    def _requests(self) -> tuple[list[Op], int]:
        start = self.cursor
        self.cursor += self.REQUESTS_PER_PASS
        sent = [self._request(i) for i in range(start, self.cursor)]
        return [op for op, _ in sent], sum(n for _, n in sent)

    def run_pass(self):
        from data_frame_demo_etl_spark import registry, session

        fns = registry.queries()
        ops = []
        t0 = time.perf_counter()
        for q in REGISTRY_QUERIES:
            t = time.perf_counter()
            try:
                with self.tracer.span(query_family(fns[q]), query=q):
                    df = fns[q](self.spark, str(self.sf_dir))
                    with self.tracer.span("session"):
                        session.materialize(df)
                ok = True
            except Exception:  # noqa: BLE001
                ok = False
            session.release_all_caches(self.spark)
            ops.append(Op("registry", time.perf_counter() - t, ok))
        request_ops, request_rows = self._requests()
        rows = sum(self.table_rows[t] for q in REGISTRY_QUERIES for t in QUERY_TABLES[q]) + request_rows
        return PassResult(time.perf_counter() - t0, rows, ops + request_ops)

    def check(self):
        import oracle_harness
        from data_frame_demo_etl_spark import registry

        sqls = registry.oracle_sql()
        problems = []
        con = oracle_harness.duckdb_connection(str(self.sf_dir))
        try:
            for q in REGISTRY_QUERIES:
                rep = oracle_harness.compare(Collected(self.collected[q]), con, sqls[q], q)
                if not rep["ok"]:
                    problems.append(f"{q}: {rep['issues']}")
                if q == "llm_prep_pipeline":
                    self.kept = rep["oracle_rows"]
            for i, rows in sorted(self.answers.items()):
                want = [tuple(r) for r in con.execute(self.specs[i].to_sql("lineitem")).fetchall()]
                if rows != want:
                    problems.append(f"request {i}: {len(rows)} rows, DuckDB gives {len(want)}")
        finally:
            con.close()
        return len(problems), problems

    def trace_points(self):
        from data_frame_demo_etl_spark import engine, pipelines_llm
        from data_frame_demo_etl_spark.functions import text
        from data_frame_demo_etl_spark.operators import sampling

        return [
            (pipelines_llm, "jaccard_pairs", "dedup"),
            (pipelines_llm, "connected_components", "dedup"),
            (sampling, "pack_by_budget", "operators.sampling"),
            (text, "redact_pii", "functions"),
            (text, "quality_score", "functions"),
            (text, "lang_id", "functions"),
            (engine, "apply_transforms", "operators.transform"),
            (engine, "validate_contract", "operators.validate"),
        ]

    def report(self, passes):
        ops = [o for p in passes for o in p.ops]
        out = {
            "duplicate_share": {"value": self.duplicate_share, "unit": "ratio"},
            "docs_kept_ratio": {"value": getattr(self, "kept", 0) / self.table_rows["documents"], "unit": "ratio"},
        }
        for kind in ("registry", "query", "transform"):
            lat = common.latency_summary([o.latency_s for o in ops if o.kind == kind])
            out[f"{kind}_p50_ms"] = {"value": lat["p50_ms"], "unit": "ms"}
            out[f"{kind}_tail_ms"] = {
                "value": lat["tail_ms"], "unit": "ms", "percentile": lat["tail_pct"], "samples": lat["samples"]
            }
        requests = [o.latency_s for o in ops if o.kind in ("query", "transform")]
        out["requests_per_s"] = {"value": len(requests) / sum(requests), "unit": "1/s"}
        return out


WORKLOADS = {w.name: w for w in (ProviderETL, Analytics)}
