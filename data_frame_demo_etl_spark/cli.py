"""CLI entrypoints: run (template batch pipeline), combine, profile,
export — parity with the reference CLI surface (reference src/cli.py:
run/combine subcommands), Spark-backed.

Usage:
  python -m data_frame_demo_etl_spark.cli run --target-dir data/input --output-dir out
  python -m data_frame_demo_etl_spark.cli combine --input-dir out --pattern '*.parquet' --mode concat --output combined
  python -m data_frame_demo_etl_spark.cli profile --path table.parquet
"""

from __future__ import annotations

import argparse
import json
import logging
import sys
from pathlib import Path

from .exporter import export_dataset
from .operators.combine import concat_frames, merge_frames
from .operators.profile import profile_metrics
from .pipeline import run_pipeline
from .session import get_spark
from .template_config import load_template, locate_template


def _cmd_run(args) -> int:
    spark = get_spark(app_name="etl-run")
    target = Path(args.target_dir)
    tpl_path = Path(args.template) if args.template else locate_template(target)
    tpl = load_template(tpl_path)
    out_dir = Path(args.output_dir or tpl.output_dir or target / "output")

    patterns = {"csv": "*.csv", "excel": "*.xlsx", "jsonl": "*.jsonl", "parquet": "*.parquet"}
    pattern = patterns.get(tpl.source_type, "*.csv")
    sources = sorted(target.glob(pattern))
    if not sources:
        logging.error("no %s sources in %s", tpl.source_type, target)
        return 1
    failures = 0
    for src in sources:
        result = run_pipeline(
            spark,
            str(src),
            tpl,
            str(out_dir / f"{src.stem}_clean.parquet"),
            quarantine_dir=args.quarantine_dir,
            validation_level=args.validation_level,
        )
        print(json.dumps({"source": src.name, "success": result.success, "rows": result.row_count}))
        failures += 0 if result.success else 1
    return 1 if failures else 0


def _cmd_combine(args) -> int:
    spark = get_spark(app_name="etl-combine")
    files = sorted(Path(args.input_dir).glob(args.pattern))
    if not files:
        logging.error("no files match %s in %s", args.pattern, args.input_dir)
        return 1
    frames = [spark.read.parquet(str(f)) for f in files]
    if args.mode == "concat":
        combined = concat_frames(frames, strict_schema=args.strict_schema)
    else:
        combined = merge_frames(frames, keys=args.key or [], how=args.how)
    combined.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"output": args.output, "rows": spark.read.parquet(args.output).count()}))
    return 0


def _cmd_profile(args) -> int:
    spark = get_spark(app_name="etl-profile")
    df = spark.read.parquet(args.path)
    print(json.dumps(profile_metrics(df), indent=2))
    return 0


def _cmd_export(args) -> int:
    spark = get_spark(app_name="etl-export")
    df = spark.read.parquet(args.path)
    written = export_dataset(df, args.out_dir, formats=tuple(args.format))
    print(json.dumps({k: str(v) for k, v in written.items()}, indent=2))
    return 0


def _cmd_youtube(args) -> int:
    from .analytics.engagement import build_summaries
    from .exporter import export_summary_workbook
    from .sources.youtube_api import fetch_videos_df

    spark = get_spark(app_name="etl-youtube")
    frames = []
    for pid in args.playlist_id or []:
        frames.append(fetch_videos_df(spark, playlist_id=pid, max_results=args.max_results, api_key=args.api_key))
    for cid in args.channel_id or []:
        frames.append(fetch_videos_df(spark, channel_id=cid, max_results=args.max_results, api_key=args.api_key))
    if not frames:
        logging.error("provide --playlist-id or --channel-id")
        return 1
    detail = frames[0]
    for f in frames[1:]:
        detail = detail.unionByName(f)
    written = export_dataset(detail, args.output_dir, formats=("parquet", "jsonl"))
    if args.summary:
        summaries = build_summaries(detail, top_n=args.top_n)
        export_summary_workbook(summaries, Path(args.output_dir) / "summary")
    print(json.dumps({"rows": detail.count(), "output": str(written.get("parquet"))}))
    return 0


def _cmd_query(args) -> int:
    """Run any registered gate query by name against a testdata-style
    directory of parquet tables; print rows as JSONL (capped)."""
    from . import registry

    qs = registry.queries()
    if args.name == "list" or args.name not in qs:
        names = "\n".join(sorted(qs))
        if args.name == "list":
            print(names)
            return 0
        logging.error("unknown query %r; available:\n%s", args.name, names)
        return 1
    spark = get_spark(app_name=f"etl-query-{args.name}")
    df = qs[args.name](spark, args.sf_dir)
    rows = df.limit(args.limit).collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    if args.oracle:
        print(json.dumps({"oracle_sql": registry.oracle_sql()[args.name]}))
    return 0


def _cmd_plan_audit(args) -> int:
    """Print the physical-plan audit report (operators/audit.py) for a
    registered query: scans, exchanges, join strategies, pushed
    filters, read schemas — the `.explain` you can grep and assert
    on. The same report the plan-contract tests consume."""
    from . import registry
    from .operators.audit import plan_report

    qs = registry.queries()
    if args.name not in qs:
        logging.error("unknown query %r (try `query list`)", args.name)
        return 1
    spark = get_spark(app_name=f"etl-plan-audit-{args.name}")
    rep = plan_report(qs[args.name](spark, args.sf_dir))
    print(
        json.dumps(
            {
                "query": args.name,
                "scans": rep.scans,
                "exchanges": rep.exchanges,
                "broadcast_joins": rep.broadcast_joins,
                "sort_merge_joins": rep.sort_merge_joins,
                "nested_loop_joins": rep.nested_loop_joins,
                "wholestage_codegen": rep.wholestage_codegen,
                "pushed_filters": rep.pushed_filters,
                "read_schemas": rep.read_schemas,
            },
            indent=2,
        )
    )
    if args.full:
        print(rep.raw)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="data_frame_demo_etl_spark")
    sub = p.add_subparsers(dest="command", required=True)

    run = sub.add_parser("run", help="batch-process files in a directory with a template")
    run.add_argument("--target-dir", required=True)
    run.add_argument("--template")
    run.add_argument("--output-dir")
    run.add_argument("--quarantine-dir")
    run.add_argument("--validation-level", default="coerce", choices=["off", "coerce", "contract"])
    run.set_defaults(fn=_cmd_run)

    combine = sub.add_parser("combine", help="concat or merge processed outputs")
    combine.add_argument("--input-dir", required=True)
    combine.add_argument("--pattern", default="*.parquet")
    combine.add_argument("--mode", default="concat", choices=["concat", "merge"])
    combine.add_argument("--key", action="append")
    combine.add_argument("--how", default="inner")
    combine.add_argument("--strict-schema", action="store_true")
    combine.add_argument("--output", required=True)
    combine.set_defaults(fn=_cmd_combine)

    profile = sub.add_parser("profile", help="print manifest-style quality metrics")
    profile.add_argument("--path", required=True)
    profile.set_defaults(fn=_cmd_profile)

    export = sub.add_parser("export", help="export a parquet dataset with manifest")
    export.add_argument("--path", required=True)
    export.add_argument("--out-dir", required=True)
    export.add_argument("--format", action="append", default=["parquet", "jsonl"])
    export.set_defaults(fn=_cmd_export)

    query = sub.add_parser("query", help="run a registered query by name ('list' to enumerate)")
    query.add_argument("name")
    query.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    query.add_argument("--limit", type=int, default=20)
    query.add_argument("--oracle", action="store_true", help="also print the DuckDB oracle SQL")
    query.set_defaults(fn=_cmd_query)

    audit = sub.add_parser(
        "plan-audit", help="physical-plan audit report for a registered query"
    )
    audit.add_argument("name")
    audit.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    audit.add_argument("--full", action="store_true", help="also print the raw plan")
    audit.set_defaults(fn=_cmd_plan_audit)

    yt = sub.add_parser("youtube", help="YouTube ETL: fetch videos + engagement summaries")
    yt.add_argument("--playlist-id", action="append")
    yt.add_argument("--channel-id", action="append")
    yt.add_argument("--max-results", type=int, default=50)
    yt.add_argument("--api-key")
    yt.add_argument("--output-dir", required=True)
    yt.add_argument("--summary", action="store_true")
    yt.add_argument("--top-n", type=int, default=15)
    yt.set_defaults(fn=_cmd_youtube)
    return p


def main(argv: list[str] | None = None) -> int:
    logging.basicConfig(level=logging.INFO, format="%(levelname)s: %(message)s")
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
