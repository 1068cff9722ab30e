"""Generate QUERIES.md from the registry (name, module, oracle
status, first docstring line). Run after adding queries."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from data_frame_demo_etl_spark import registry

# Gates that lean on version-gated or conf-gated Spark features, with
# the fallback story. The vanilla-session smoke sweep
# (scripts/vanilla_smoke.py, tests/test_vanilla_session.py) exercises
# each of these on a conf-less session; everything NOT listed here
# uses the baseline DataFrame/SQL API (Spark 3.5-compatible
# expressions, no session-conf dependency).
REQUIRES = {
    "ingest_excel_datasource": (
        "Python DataSource API (Spark 4.0+); filter pushdown behind "
        "spark.sql.python.filterPushdown.enabled — the source degrades "
        "to a plain-scan reader when the conf is off"
    ),
    "events_variant_extract": (
        "VARIANT / parse_json / variant_get (Spark 4.0+); pre-4.0 "
        "fallback is from_json with an explicit schema (loses the "
        "parse-once shredded representation, not the answers)"
    ),
    "events_session_window": "native session_window aggregation (Spark 3.2+)",
    "events_sessionize": (
        "batch gate: window functions only; the streaming twin "
        "(streaming/stateful.py) needs applyInPandasWithState + Arrow"
    ),
    "text_nfc_normalize": "mapInPandas + Arrow (documented Python slow path)",
    "multimodal_decode_real": "mapInPandas + Arrow (codec UDF)",
    "multimodal_decode_png": "mapInPandas + Arrow (codec UDF)",
    "multimodal_decode_jpeg": "mapInPandas + Arrow (codec UDF)",
    "multimodal_decode_stats": "mapInPandas + Arrow (codec UDF)",
    "multimodal_audio_stats": "mapInPandas + Arrow (codec UDF)",
    "multimodal_video_frames": "mapInPandas + Arrow (codec UDF)",
    "multimodal_image_dedup": "mapInPandas + Arrow (decode); bit_count (Spark 3.5+)",
    "multimodal_image_clusters": "mapInPandas + Arrow (decode); bit_count (Spark 3.5+)",
    "multimodal_audio_dedup": "mapInPandas + Arrow (decode); bit_count (Spark 3.5+)",
    "multimodal_video_dedup": "mapInPandas + Arrow (decode); bit_count (Spark 3.5+)",
    "dedup_simhash": "bit_count (Spark 3.5+)",
    "events_hll_rollup": "hll_sketch_agg / hll_union_agg (Spark 3.5+)",
    "group_zscore": "applyInPandas + Arrow",
    "multimodal_decode_jpeg_progressive": "mapInPandas + Arrow (codec UDF)",
    "docs_winnowing_matches": "mapInPandas + Arrow (numpy Karp–Rabin kernel)",
    "events_parquet_pruning_audit": (
        "mapInPandas + Arrow; pyarrow on executors (footer reads); "
        "writes a local-FS parquet fixture under the sf_dir tmp root"
    ),
}


def render() -> str:
    """QUERIES.md as generated from the registry."""
    oracles = registry.oracle_sql()
    lines = [
        "# Query index",
        "",
        f"{len(registry.queries())} registered gate queries, "
        f"{len(oracles)} with DuckDB oracles. Generated by "
        "`scripts/gen_query_index.py` — do not edit by hand.",
        "",
        "Engine baseline: plain Spark DataFrame/SQL API (tested on "
        "PySpark 4.1, expressions 3.5-compatible unless noted); no "
        "gate requires a session conf to function (vanilla-session "
        "sweep: scripts/vanilla_smoke.py). The `requires` column "
        "lists version/conf-gated features and the fallback story; "
        "`—` means baseline only.",
        "",
        "| query | module | oracle | requires | summary |",
        "|---|---|---|---|---|",
    ]
    for name, fn in sorted(registry.queries().items()):
        mod = fn.__module__.replace("data_frame_demo_etl_spark.", "")
        doc = (fn.__doc__ or "").strip().splitlines()
        summary = doc[0].strip() if doc else ""
        req = REQUIRES.get(name, "—")
        lines.append(f"| `{name}` | {mod} | SQL | {req} | {summary} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    out = Path(__file__).resolve().parents[1] / "QUERIES.md"
    out.write_text(render(), encoding="utf-8")
    print(f"wrote QUERIES.md with {len(registry.queries())} entries")


if __name__ == "__main__":
    main()
