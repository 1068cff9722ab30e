"""Headless API surface: typed request/response models around the
engine — parity with the reference's pydantic schemas
(src/api/v1/endpoints.py:10-53) re-expressed as stdlib dataclasses
(no pydantic in the runtime image; the field names, defaults, and
payload shapes are the compatibility surface).

Handlers are transport-agnostic functions (dict-in → model-out), so
any web layer (FastAPI, Flask, a queue consumer) can mount them
one-to-one; rows travel as JSON-able lists of dicts and run through
the same Spark operators the rest of the package uses.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, field
from typing import Any

from pyspark.sql import SparkSession

from .engine import DataEngine, ValidationResponse
from .template_config import TemplateConfig


@dataclass
class ValidationConfig:
    """Parity: endpoints.py ValidationConfig."""

    level: str = "coerce"


@dataclass
class ProcessResult:
    """Parity: endpoints.py ProcessResult."""

    success: bool
    message: str
    output_path: str | None = None
    row_count: int = 0
    metrics: dict[str, Any] = field(default_factory=dict)


@dataclass
class IngestRequest:
    """Parity: endpoints.py IngestRequest."""

    template: dict[str, Any] = field(default_factory=dict)
    rows: list[dict[str, Any]] = field(default_factory=list)

    @classmethod
    def from_dict(cls, payload: dict[str, Any]) -> "IngestRequest":
        _require_mapping(payload)
        return cls(
            template=dict(payload.get("template") or {}),
            rows=list(payload.get("rows") or []),
        )


@dataclass
class TransformRequest:
    """Parity: endpoints.py TransformRequest."""

    template: dict[str, Any] = field(default_factory=dict)
    rows: list[dict[str, Any]] = field(default_factory=list)
    validation_level: str = "coerce"

    @classmethod
    def from_dict(cls, payload: dict[str, Any]) -> "TransformRequest":
        _require_mapping(payload)
        return cls(
            template=dict(payload.get("template") or {}),
            rows=list(payload.get("rows") or []),
            validation_level=str(payload.get("validation_level", "coerce")),
        )


@dataclass
class ErrorResponse:
    """Parity: endpoints.py ErrorResponse."""

    error: str
    details: str | None = None


_VALID_LEVELS = ("off", "coerce", "contract")


def _require_mapping(payload: Any) -> None:
    if not isinstance(payload, dict):
        raise ValueError(f"request payload must be a mapping, got {type(payload).__name__}")


def _require_level(level: str) -> str:
    """The engine itself treats unknown levels as 'coerce' (reference
    parity); at the API boundary a typo'd level must NOT silently
    downgrade validation."""
    if level.lower() not in _VALID_LEVELS:
        raise ValueError(
            f"unknown validation_level {level!r}; expected one of {_VALID_LEVELS}"
        )
    return level.lower()


def _rows_to_df(spark: SparkSession, rows: list[dict[str, Any]]):
    if not rows:
        raise ValueError("request contains no rows")
    # Stable column order across rows (dict-literal payloads can vary).
    cols: list[str] = []
    for r in rows:
        for k in r:
            if k not in cols:
                cols.append(k)
    data = [tuple(r.get(c) for c in cols) for r in rows]
    return spark.createDataFrame(data, cols)


def ingest_endpoint(
    spark: SparkSession, request: IngestRequest | dict
) -> ProcessResult | ErrorResponse:
    """POST /v1/ingest equivalent: parse template, land rows."""
    try:
        req = request if isinstance(request, IngestRequest) else IngestRequest.from_dict(request)
        tpl = TemplateConfig.from_dict(req.template)
        df = _rows_to_df(spark, req.rows)
        df = DataEngine(spark).ingest(df, tpl)
        return ProcessResult(
            success=True, message="ingested", row_count=len(req.rows),
            metrics={"columns": df.columns},
        )
    except Exception as exc:
        return ErrorResponse(error="ingest_failed", details=str(exc))


def transform_endpoint(
    spark: SparkSession, request: TransformRequest | dict
) -> ProcessResult | ErrorResponse:
    """POST /v1/transform equivalent: normalize → transform → validate."""
    try:
        req = (
            request
            if isinstance(request, TransformRequest)
            else TransformRequest.from_dict(request)
        )
        tpl = TemplateConfig.from_dict(req.template)
        df = _rows_to_df(spark, req.rows)
        eng = DataEngine(spark)
        level = _require_level(req.validation_level)
        normalized = eng.normalize_data(df, tpl)
        transformed, metrics = eng.transform_data(normalized, tpl)
        validation = eng.validate_data(transformed, tpl, level=level)
        return ProcessResult(
            success=validation.is_valid,
            message="transformed" if validation.is_valid else "validation_failed",
            row_count=validation.row_count,
            metrics={**metrics, "validation": asdict(validation)},
        )
    except Exception as exc:
        return ErrorResponse(error="transform_failed", details=str(exc))


def validate_endpoint(
    spark: SparkSession,
    request: TransformRequest | dict,
    config: ValidationConfig | None = None,
) -> ValidationResponse | ErrorResponse:
    """POST /v1/validate equivalent."""
    try:
        req = (
            request
            if isinstance(request, TransformRequest)
            else TransformRequest.from_dict(request)
        )
        tpl = TemplateConfig.from_dict(req.template)
        df = _rows_to_df(spark, req.rows)
        level = _require_level((config or ValidationConfig(level=req.validation_level)).level)
        return DataEngine(spark).validate_data(df, tpl, level=level)
    except Exception as exc:
        return ErrorResponse(error="validate_failed", details=str(exc))
