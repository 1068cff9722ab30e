"""End-to-end template-driven pipeline:
ingest → normalize → transform → validate → export (+ quarantine).

Parity: reference src/pipeline.py:120-184 (run_pipeline) and
src/api/v1/engine.py:134-232 (transform_data), re-expressed as one
lazy Catalyst plan — ingest/normalize/transform build a single
DataFrame, which runs exactly twice per file: once for the one
validate action (row count and coercion failures from a single
aggregate row) and once for the write (output or quarantine).
"""

from __future__ import annotations

import json
import logging
import traceback
from dataclasses import dataclass, field as dc_field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .operators import transform as T
from .operators.dedupe import dedupe_keep_first
from .operators.validate import SchemaContractError, validate_contract
from .sources.readers import read_with_template
from .template_config import TemplateConfig

log = logging.getLogger(__name__)


@dataclass
class PipelineResult:
    success: bool
    message: str
    output_path: str | None = None
    row_count: int = 0
    metrics: dict = dc_field(default_factory=dict)


def ingest(spark: SparkSession, source: str, tpl: TemplateConfig) -> DataFrame:
    return read_with_template(spark, source, tpl)


def apply_transforms(df: DataFrame, tpl: TemplateConfig) -> tuple[DataFrame, dict]:
    """The reference transform_data sequence, as Column expressions."""
    metrics: dict = {"unpivot_before": None, "unpivot_after": None}

    if tpl.unpivot:
        ids = [c for c in (tpl.id_columns or list(tpl.column_mappings.values())) if c in df.columns]
        if ids:
            metrics["unpivot_before"] = len(df.columns)
            df = T.unpivot(df, ids, var_name=tpl.var_name, value_name=tpl.value_name)
            metrics["unpivot_after"] = len(df.columns)
        else:
            log.warning("Unpivot requested but no identifier columns found.")

    df = T.add_provider_id(df, tpl.provider_name or tpl.source_file or "unknown")

    if tpl.drop_empty_rows:
        df = T.drop_empty_rows(df)
    if tpl.drop_null_columns_threshold is not None:
        df = T.drop_null_columns(df, tpl.drop_null_columns_threshold)
    if tpl.trim_strings:
        df = T.trim_strings(df)
    if tpl.strip_thousands:
        df = T.strip_thousands(df)
    if tpl.var_name in df.columns and tpl.unpivot:
        df = T.coerce_date(df, tpl.var_name, drop_unparseable=True)
    elif "report_date" in df.columns:
        df = T.coerce_date(df, "report_date", drop_unparseable=True)
    if tpl.value_name in df.columns and tpl.unpivot:
        df = T.coerce_numeric(df, tpl.value_name, fill=0.0)
    elif "sales_amount" in df.columns:
        df = T.coerce_numeric(df, "sales_amount", fill=0.0)

    if tpl.combine_on:
        keys = [k for k in tpl.combine_on if k in df.columns]
        if keys:
            group_cols = list(keys)
            if tpl.unpivot and tpl.var_name in df.columns:
                group_cols.append(tpl.var_name)
            if "provider_id" in df.columns and "provider_id" not in group_cols:
                group_cols.append("provider_id")
            df = T.combine_on_aggregate(df, group_cols)
        else:
            log.warning("combine_on keys not found; skipping aggregation.")

    if tpl.dedupe_on:
        keys = [k for k in tpl.dedupe_on if k in df.columns]
        if keys:
            order = [c for c in (tpl.dedupe_order_by or df.columns) if c in df.columns]
            df = dedupe_keep_first(df, subset=keys, order_by=order)
        else:
            log.warning("dedupe_on keys not found; skipping dedupe.")

    return df, metrics


def save_quarantine(
    df: DataFrame | None, source: str, quarantine_dir: Path, error_msg: str
) -> None:
    """Persist the failing frame (if any) + an error log
    (reference pipeline.py:61-84 parity, parquet instead of copies)."""
    quarantine_dir.mkdir(parents=True, exist_ok=True)
    stem = Path(source).stem or "source"
    text = f"Validation failed for {source}\n{'-' * 50}\n{error_msg}\n"
    if df is not None:
        try:
            df.write.mode("overwrite").parquet(str(quarantine_dir / f"{stem}.parquet"))
        except Exception as exc:
            text += f"{'-' * 50}\nQuarantine parquet write failed: {exc}\n"
    (quarantine_dir / f"{stem}.error.log").write_text(text, encoding="utf-8")


def run_pipeline(
    spark: SparkSession,
    source: str,
    tpl: TemplateConfig,
    output_path: str,
    quarantine_dir: str | None = None,
    validation_level: str = "coerce",
) -> PipelineResult:
    try:
        raw = ingest(spark, source, tpl)
        clean, metrics = apply_transforms(raw, tpl)

        try:
            result = validate_contract(
                clean,
                required_fields=tpl.required_fields,
                field_types=tpl.field_types,
                level=validation_level,
            )
        except SchemaContractError as err:
            if quarantine_dir:
                save_quarantine(clean, source, Path(quarantine_dir), str(err))
            return PipelineResult(False, f"Validation failed: {err}", metrics=metrics)

        out = result.coerced if result.coerced is not None else clean
        Path(output_path).parent.mkdir(parents=True, exist_ok=True)
        out.write.mode("overwrite").parquet(output_path)

        report = {
            "source": source,
            "validation_level": validation_level,
            "rows": result.row_count,
            "errors": result.errors,
            **metrics,
        }
        Path(output_path + ".validation.json").write_text(
            json.dumps(report, indent=2, default=str), encoding="utf-8"
        )
        return PipelineResult(True, "ok", output_path, result.row_count, metrics)
    except Exception as exc:
        log.error("Critical pipeline error: %s", exc)
        if quarantine_dir:
            save_quarantine(None, source, Path(quarantine_dir), traceback.format_exc())
        return PipelineResult(False, str(exc))
