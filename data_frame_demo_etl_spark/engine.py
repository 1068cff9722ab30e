"""DataEngine: the headless engine façade — API parity with the
reference's ``DataEngine`` class (reference src/api/v1/engine.py:
113-310), backed by this package's Spark operators.

Method-for-method mapping:
  read_source       → sources.readers.read_with_template
  ingest            → type checks + pass-through (lazy plans: no copy)
  normalize_data    → sources.readers._project_spark
  transform_data    → pipeline.apply_transforms
  validate_data     → operators.validate.validate_contract
  run_full_process  → pipeline.run_pipeline (minus file movement)
  run_combine       → operators.combine via parquet inputs
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .operators.combine import concat_frames, merge_frames
from .operators.validate import SchemaContractError, validate_contract
from .pipeline import PipelineResult, apply_transforms, run_pipeline
from .sources.readers import _project_spark, read_with_template
from .template_config import TemplateConfig


@dataclass
class ValidationResponse:
    """Parity with reference ValidationResponse (endpoints.py)."""

    is_valid: bool
    errors: list = field(default_factory=list)
    row_count: int = 0


class DataEngine:
    """Headless ETL engine over Spark DataFrames."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def read_source(self, source_path: str | Path, template: TemplateConfig) -> DataFrame:
        return read_with_template(self.spark, str(source_path), template)

    def ingest(self, df: DataFrame, template: TemplateConfig) -> DataFrame:
        if not isinstance(df, DataFrame):
            raise ValueError("Engine ingest expects a Spark DataFrame.")
        if not isinstance(template, TemplateConfig):
            raise ValueError("Engine ingest expects a TemplateConfig.")
        return df

    def normalize_data(self, df: DataFrame, template: TemplateConfig) -> DataFrame:
        return _project_spark(df, template)

    def transform_data(self, df: DataFrame, template: TemplateConfig) -> tuple[DataFrame, dict]:
        return apply_transforms(df, template)

    def validate_data(
        self, df: DataFrame, template: TemplateConfig, level: str = "coerce"
    ) -> ValidationResponse:
        try:
            result = validate_contract(
                df,
                required_fields=template.required_fields,
                field_types=template.field_types,
                level=level,
            )
            return ValidationResponse(result.is_valid, result.errors, result.row_count)
        except SchemaContractError as exc:
            return ValidationResponse(False, exc.failures, exc.row_count)
        except Exception as exc:  # pragma: no cover - defensive
            return ValidationResponse(False, [{"failure": str(exc)}], 0)

    def run_full_process(
        self,
        source_path: str | Path,
        template: TemplateConfig,
        output_path: str | Path,
        validation_level: str = "coerce",
    ) -> PipelineResult:
        return run_pipeline(
            self.spark, str(source_path), template, str(output_path), validation_level=validation_level
        )

    def run_combine(
        self,
        input_dir: str | Path,
        pattern: str = "*.parquet",
        mode: str = "concat",
        keys: list[str] | None = None,
        how: str = "inner",
        strict_schema: bool = False,
    ) -> DataFrame:
        files = sorted(Path(input_dir).glob(pattern))
        if not files:
            raise FileNotFoundError(f"No files found in {input_dir} with pattern {pattern}")
        frames = [self.spark.read.parquet(str(f)) for f in files]
        if mode == "concat":
            return concat_frames(frames, strict_schema=strict_schema)
        return merge_frames(frames, keys or [], how=how)


def run_engine(
    spark: SparkSession, df: DataFrame, template: TemplateConfig, validation_level: str = "coerce"
) -> tuple[DataFrame, dict, ValidationResponse]:
    """Compatibility wrapper mirroring reference engine.run_engine."""
    eng = DataEngine(spark)
    ingested = eng.ingest(df, template)
    normalized = eng.normalize_data(ingested, template)
    transformed, metrics = eng.transform_data(normalized, template)
    validation = eng.validate_data(transformed, template, level=validation_level)
    return transformed, metrics, validation
