"""The correctness gate, locally: every registered query must match
its DuckDB oracle exactly at sf0.01 (same comparison the driver runs).

r13 shape: ONE sweep test fanning the 289 queries over a small thread
pool instead of 289 parametrized cases run serially. The asserted
property is identical (per-query compare: columns, row count, typed
dtypes, sorted row values — plus the non-vacuous row-count guard) and
every failing query is reported by name with its issues; what changed
is wall only — per-query cost is Spark-job latency that overlaps
cleanly across driver threads (optimization guide §2.6), and the
serial form was the single heaviest block of the suite (416 s; the
driver's pytest window is the constraint the r12 verdict gated on).
DuckDB cursors are per-thread (a DuckDB connection must not be shared
by concurrent executes).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from data_frame_demo_etl_spark import registry
from tests.oracle_harness import compare, duckdb_connection

ORACLE_KEYS = sorted(registry.oracle_sql().keys())
ALL_KEYS = sorted(registry.queries().keys())


def test_oracle_parity_all(spark, sf_oracle_dir):
    qs = registry.queries()
    oracles = registry.oracle_sql()
    root = duckdb_connection(sf_oracle_dir)

    def run(name):
        con = root.cursor()
        try:
            df = qs[name](spark, sf_oracle_dir)
            report = compare(df, con, oracles[name], name=name)
            if not report["ok"]:
                return name, report["issues"]
            # An empty result "matches" trivially — zero-row gates are
            # zero evidence (a bad filter passed this way once: q2's
            # '%BRASS'). The row count rides the compare report; a
            # separate df.count() would re-execute the plan.
            if report["spark_rows"] == 0:
                return name, ["oracle query returns 0 rows at sf0.01 — gate is vacuous"]
            return name, None
        except Exception as exc:  # noqa: BLE001 — collect, then assert
            return name, [f"exception: {exc!r}"]
        finally:
            con.close()

    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            results = dict(pool.map(run, ORACLE_KEYS))
    finally:
        root.close()
    bad = {n: iss for n, iss in results.items() if iss}
    assert not bad, f"{len(bad)}/{len(ORACLE_KEYS)} queries diverge from oracle: {bad}"
    assert len(results) == len(ORACLE_KEYS)


def test_all_queries_oracle_backed():
    """Every registered query carries a full oracle (the stronger
    property the old rows-only fallback asserted via its sentinel)."""
    assert set(ALL_KEYS) == set(ORACLE_KEYS)
