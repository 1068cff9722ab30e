"""Template format: the declarative per-source config that drives
ingest → normalize → transform, compatible with the reference's
``.df-template.json`` files (reference src/templates.py:98-296 defines
the field set; this is a fresh, minimal implementation of the same
public format).

A template records how to read a file (sheet, header row, skiprows,
delimiter, encoding), which columns to keep and how to rename them,
and which transforms to apply (unpivot, cleanup flags, combine keys,
dedupe keys, contract fields).
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field
from pathlib import Path
from typing import Any

try:
    import yaml

    _HAS_YAML = True
except Exception:  # pragma: no cover
    yaml = None
    _HAS_YAML = False


def parse_skiprows(raw: str | None) -> list[int]:
    """'0,2, 5' → [0, 2, 5]; tolerant of blanks/junk."""
    if not raw:
        return []
    out: list[int] = []
    for part in str(raw).split(","):
        part = part.strip()
        if part:
            try:
                out.append(int(part))
            except ValueError:
                continue
    return out


@dataclass
class TemplateConfig:
    """Unified template (field names match the reference JSON format)."""

    source_type: str = "csv"  # csv | excel | jsonl | parquet | orc | avro | sql
    sheet: str | int | None = None
    sheets: list = field(default_factory=list)
    header_row: int = 0
    skiprows: list = field(default_factory=list)
    delimiter: str = ","
    encoding: str = "utf-8"
    columns: list = field(default_factory=list)
    column_mappings: dict = field(default_factory=dict)
    source_file: str | None = None
    output_dir: str | None = None
    provider_name: str | None = None
    combine_sheets: bool = False
    combine_on: list = field(default_factory=list)
    connection_name: str | None = None
    sql_table: str | None = None
    sql_query: str | None = None
    trim_strings: bool = True
    drop_empty_rows: bool = False
    drop_null_columns_threshold: float | None = None
    dedupe_on: list = field(default_factory=list)
    dedupe_order_by: list = field(default_factory=list)  # spark addition: explicit order
    strip_thousands: bool = False
    unpivot: bool = False
    id_columns: list = field(default_factory=list)
    var_name: str = "report_date"
    value_name: str = "sales_amount"
    required_fields: list = field(default_factory=list)
    field_types: dict = field(default_factory=dict)
    template_version: int = 3

    def to_dict(self) -> dict[str, Any]:
        return asdict(self)

    @classmethod
    def from_dict(cls, payload: dict) -> "TemplateConfig":
        if not isinstance(payload, dict):
            raise ValueError("Template payload must be a JSON/YAML object")
        known = {f for f in cls.__dataclass_fields__}
        # Legacy aliases used by older reference templates.
        aliases = {"sheet_name": "sheet", "header": "header_row", "excel_file": "source_file",
                   "selected_headers": "columns", "header_mapping": "column_mappings"}
        clean: dict[str, Any] = {}
        for k, v in payload.items():
            key = aliases.get(k, k)
            if key in known and v is not None:
                clean[key] = v
        for list_field in ("combine_on", "dedupe_on"):
            v = clean.get(list_field)
            if isinstance(v, str):
                clean[list_field] = [p.strip() for p in v.split(",") if p.strip()]
        tpl = cls(**clean)
        if not tpl.sheets and tpl.sheet is not None:
            tpl.sheets = [tpl.sheet]
        if len(tpl.sheets) > 1:
            tpl.combine_sheets = True
        if not tpl.columns and tpl.column_mappings:
            tpl.columns = list(tpl.column_mappings.keys())
        return tpl


def locate_template(directory: Path, stem: str | None = None) -> Path:
    exts = ("json", "yaml", "yml")
    if stem:
        for ext in exts:
            p = directory / f"{stem}.df-template.{ext}"
            if p.exists():
                return p
    else:
        for ext in exts:
            matches = sorted(directory.glob(f"*.df-template.{ext}"))
            if matches:
                return matches[0]
    raise FileNotFoundError(f"No *.df-template.(json|yaml) found in {directory}")


def load_template(path: Path | str) -> TemplateConfig:
    path = Path(path)
    if not path.exists():
        raise FileNotFoundError(f"Template not found: {path}")
    text = path.read_text(encoding="utf-8")
    if path.suffix.lower() in {".yaml", ".yml"}:
        if not _HAS_YAML:
            raise ValueError("PyYAML is required for YAML templates")
        payload = yaml.safe_load(text)
    else:
        payload = json.loads(text)
    return TemplateConfig.from_dict(payload)


def save_template(tpl: TemplateConfig, path: Path | str) -> None:
    path = Path(path)
    path.parent.mkdir(parents=True, exist_ok=True)
    if path.suffix.lower() in {".yaml", ".yml"}:
        if not _HAS_YAML:
            raise ValueError("PyYAML is required for YAML templates")
        path.write_text(yaml.safe_dump(tpl.to_dict(), sort_keys=False), encoding="utf-8")
    else:
        path.write_text(json.dumps(tpl.to_dict(), indent=2), encoding="utf-8")
