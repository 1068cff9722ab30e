"""Template-driven source readers.

Two execution shapes, chosen by the template:

1. **Fast path** (plain CSV/JSONL/parquet, header at row 0, no
   skiprows): native ``spark.read`` — fully distributed, splittable,
   pushdown-capable.
2. **Pandas-per-file path** (header offsets, skiprows, Excel sheets):
   the file *list* is parallelized and each task parses whole files
   with pandas via ``mapInPandas``. This is the right scale shape for
   the reference's workload — thousands of small provider
   spreadsheets — where per-file parallelism beats intra-file
   splitting and pandas handles the messy header logic.

Excel needs openpyxl (absent here) → import-gated with a clear error.
JDBC (``source_type='sql'``) wraps ``spark.read.jdbc`` and is gated on
a driver jar being present.
"""

from __future__ import annotations

import glob as globmod
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..template_config import TemplateConfig
from . import xlsx_lite


def _pandas_dtype_to_spark(dtype) -> object:
    s = str(dtype)
    if s.startswith("int"):
        return LongType()
    if s.startswith("float"):
        return DoubleType()
    if s.startswith("datetime"):
        return TimestampType()
    return StringType()


def _read_one_csv(path: str, tpl: TemplateConfig, nrows: int | None = None) -> pd.DataFrame:
    return pd.read_csv(
        path,
        header=tpl.header_row,
        skiprows=tpl.skiprows or None,
        sep=tpl.delimiter,
        encoding=tpl.encoding,
        nrows=nrows,
    )


def _effective_header_row(header_row: int, skiprows) -> int:
    """0-based pandas header index → 1-based worksheet row, accounting
    for rows pandas skipped before the header (reference
    templates.py:393-403)."""
    skipped_before = len(
        [r for r in (skiprows or []) if isinstance(r, int) and r <= header_row]
    )
    return header_row + skipped_before + 1


def expand_merged_headers(
    headers: list, merged_ranges: list[tuple], target_row: int
) -> tuple[list[str], bool]:
    """Expand merged header regions across their spanned columns
    (reference-parity: templates.py:412-465).

    `merged_ranges`: (min_row, min_col, max_row, max_col, base_value)
    tuples, 1-based. For each range crossing `target_row`, the
    top-left value propagates to every spanned column; an EMPTY base
    becomes ``merged_<colletter><row>`` (suffixed ``_<colletter>``
    per column when the span is wider than one column, to stay
    unique). Pure function so the semantics are unit-testable without
    openpyxl; the workbook extraction lives in
    ``_normalized_excel_headers``.
    """
    headers = ["" if h is None else str(h) for h in headers]
    merged_detected = False
    for min_row, min_col, max_row, max_col, base_value in merged_ranges:
        if not (min_row <= target_row <= max_row):
            continue
        merged_detected = True
        base_empty = base_value in (None, "")
        placeholder = (
            f"merged_{xlsx_lite._col_letters(min_col)}{min_row}" if base_empty else str(base_value)
        )
        for col in range(min_col, max_col + 1):
            value = placeholder
            if base_empty and max_col > min_col:
                value = f"{placeholder}_{xlsx_lite._col_letters(col)}"
            idx = col - 1
            while len(headers) <= idx:
                headers.append("")
            headers[idx] = value
    return headers, merged_detected


def _normalized_excel_headers(path: str, sheet, header_row: int, skiprows):
    """Openpyxl-side extraction feeding ``expand_merged_headers``
    (reference templates.py:407-440 worksheet-selection fallbacks)."""
    from openpyxl import load_workbook

    workbook = load_workbook(path, read_only=False, data_only=False)
    if isinstance(sheet, int):
        try:
            worksheet = workbook.worksheets[sheet]
        except IndexError:
            worksheet = workbook.active
    elif sheet is None:
        worksheet = workbook.active
    else:
        try:
            worksheet = workbook[sheet]
        except KeyError:
            worksheet = workbook.active

    target_row = _effective_header_row(header_row, skiprows)
    row_cells = list(
        worksheet.iter_rows(min_row=target_row, max_row=target_row, values_only=True)
    )
    if not row_cells:
        return [], False
    headers = ["" if v is None else str(v) for v in row_cells[0]]
    ranges = [
        (r.min_row, r.min_col, r.max_row, r.max_col, worksheet.cell(r.min_row, r.min_col).value)
        for r in worksheet.merged_cells.ranges
    ]
    return expand_merged_headers(headers, ranges, target_row)


def _read_one_excel_lite(path: str, tpl: TemplateConfig, nrows: int | None = None) -> pd.DataFrame:
    """openpyxl-free Excel ingest via the built-in OOXML reader
    (``xlsx_lite``), with pandas ``read_excel`` semantics: skiprows
    drops physical rows (0-based), header_row indexes the remaining
    rows, merged title regions expand per ``expand_merged_headers``."""
    sheets = (
        tpl.sheets if (tpl.combine_sheets and tpl.sheets) else [tpl.sheet if tpl.sheet is not None else 0]
    )
    skip_set = {r for r in (tpl.skiprows or []) if isinstance(r, int)}
    frames = []
    for sheet in sheets:
        grid, merges = xlsx_lite.read_grid(path, sheet)
        kept = [row for i, row in enumerate(grid) if i not in skip_set]
        header_cells = kept[tpl.header_row] if len(kept) > tpl.header_row else []
        data = kept[tpl.header_row + 1 :]
        if nrows is not None:
            data = data[:nrows]
        columns = [
            str(h) if h not in (None, "") else f"Unnamed: {i}"
            for i, h in enumerate(header_cells)
        ]
        target_row = _effective_header_row(tpl.header_row, tpl.skiprows)
        expanded, merged = expand_merged_headers(
            ["" if h is None else str(h) for h in header_cells], merges, target_row
        )
        if merged and expanded:
            expanded = (expanded + [""] * len(columns))[: len(columns)]
            columns = [e if e else orig for e, orig in zip(expanded, columns)]
        width = len(columns)
        rows = [(r + [None] * width)[:width] for r in data]
        pdf = pd.DataFrame(rows, columns=columns)
        if tpl.combine_sheets:
            pdf["source_sheet"] = str(sheet)
        frames.append(pdf)
    return pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]


def _read_one_excel(path: str, tpl: TemplateConfig, nrows: int | None = None) -> pd.DataFrame:
    try:
        import openpyxl  # noqa: F401
    except ImportError:
        # Fall back to the dependency-free OOXML subset reader.
        return _read_one_excel_lite(path, tpl, nrows)
    sheets = tpl.sheets if (tpl.combine_sheets and tpl.sheets) else [tpl.sheet if tpl.sheet is not None else 0]
    frames = []
    for sheet in sheets:
        pdf = pd.read_excel(
            path, sheet_name=sheet, header=tpl.header_row, skiprows=tpl.skiprows or None, nrows=nrows
        )
        # Merged title rows leave pandas with Unnamed:/NaN headers;
        # expand them from the worksheet's merged regions.
        headers, merged = _normalized_excel_headers(path, sheet, tpl.header_row, tpl.skiprows)
        if merged and headers:
            ncols = len(pdf.columns)
            headers = (headers + [""] * ncols)[:ncols]
            pdf.columns = [h if h else str(orig) for h, orig in zip(headers, pdf.columns)]
        if tpl.combine_sheets:
            pdf["source_sheet"] = str(sheet)
        frames.append(pdf)
    return pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]


def _apply_template_projection(pdf: pd.DataFrame, tpl: TemplateConfig) -> pd.DataFrame:
    """Column subset + rename (reference filter_and_rename semantics,
    templates.py:484-512)."""
    if tpl.columns:
        available = [c for c in tpl.columns if c in pdf.columns]
        extras = [c for c in ("source_sheet",) if c in pdf.columns and c not in available]
        pdf = pdf[available + extras]
    if tpl.column_mappings:
        pdf = pdf.rename(columns={c: tpl.column_mappings.get(c, c) for c in pdf.columns})
    return pdf


def _needs_pandas_path(tpl: TemplateConfig) -> bool:
    return bool(
        tpl.source_type == "excel"
        or tpl.header_row != 0
        or tpl.skiprows
        or tpl.combine_sheets
    )


def read_with_template(
    spark: SparkSession, path_or_glob: str, tpl: TemplateConfig
) -> DataFrame:
    """Read one file or a glob of files according to the template."""
    files = sorted(globmod.glob(path_or_glob)) or [path_or_glob]

    if tpl.source_type == "parquet":
        df = spark.read.parquet(*files)
        return _project_spark(df, tpl)
    if tpl.source_type == "orc":
        df = spark.read.orc(*files)
        return _project_spark(df, tpl)
    if tpl.source_type == "avro":
        return _project_spark(read_avro(spark, path_or_glob), tpl)
    if tpl.source_type == "jsonl":
        df = spark.read.json(files)
        return _project_spark(df, tpl)
    if tpl.source_type == "sql":
        return read_jdbc(spark, tpl)

    if not _needs_pandas_path(tpl):
        df = (
            spark.read.option("header", "true")
            .option("sep", tpl.delimiter)
            .option("encoding", tpl.encoding)
            .option("inferSchema", "true")
            .csv(files)
        )
        return _project_spark(df, tpl)

    # Pandas-per-file path: parallelize the file list, parse each file
    # in a task. Schema comes from a driver-side sample of the first
    # file (cheap: header region only for CSV).
    reader = _read_one_excel if tpl.source_type == "excel" else _read_one_csv
    sample = _apply_template_projection(reader(files[0], tpl, nrows=200), tpl)
    schema = StructType(
        [StructField(str(c), _pandas_dtype_to_spark(dt), True) for c, dt in sample.dtypes.items()]
    )
    tpl_dict = tpl.to_dict()

    def parse_files(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tpl_local = TemplateConfig.from_dict(tpl_dict)
        rdr = _read_one_excel if tpl_local.source_type == "excel" else _read_one_csv
        for pdf in batches:
            for p in pdf["path"]:
                out = _apply_template_projection(rdr(p, tpl_local), tpl_local)
                out = out.reindex(columns=[f.name for f in schema.fields])
                yield out

    paths_df = spark.createDataFrame([(p,) for p in files], "path string").repartition(
        min(len(files), 64)
    )
    return paths_df.mapInPandas(parse_files, schema)


def _project_spark(df: DataFrame, tpl: TemplateConfig) -> DataFrame:
    if tpl.columns:
        available = [c for c in tpl.columns if c in df.columns]
        if available:
            df = df.select(*available)
    if tpl.column_mappings:
        for old, new in tpl.column_mappings.items():
            if old in df.columns:
                df = df.withColumnRenamed(old, new)
    return df


#: Embedded Derby ships with Spark (hive-metastore dependency), so the
#: JDBC path is fully testable offline: jdbc:derby:<dir>;create=true
#: with this driver. Real deployments swap in their warehouse's driver.
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def read_jdbc(
    spark: SparkSession,
    tpl: TemplateConfig,
    url: str | None = None,
    properties: dict | None = None,
    partition_options: dict | None = None,
) -> DataFrame:
    """SQL source via spark.read.jdbc (reference connectors.py parity).

    Requires a connection URL plus a driver property (embedded Derby
    is always available — see ``DERBY_DRIVER``). ``partition_options``
    (partitionColumn/lowerBound/upperBound/numPartitions) turn the
    read into N parallel range queries — the scale path for pulling a
    big table out of a warehouse; only valid with ``sql_table``."""
    if url is None:
        raise ValueError(
            "JDBC source requires a connection URL; pass url='jdbc:...' and a "
            "driver property (embedded Derby works offline: DERBY_DRIVER)."
        )
    reader = spark.read.format("jdbc").option("url", url)
    if tpl.sql_query:
        if partition_options:
            raise ValueError("partitioned JDBC reads need sql_table, not sql_query")
        reader = reader.option("query", tpl.sql_query)
    elif tpl.sql_table:
        reader = reader.option("dbtable", tpl.sql_table)
    else:
        raise ValueError("sql source needs sql_table or sql_query")
    for k, v in {**(properties or {}), **(partition_options or {})}.items():
        reader = reader.option(k, str(v))
    return reader.load()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict | None = None,
    mode: str = "overwrite",
) -> None:
    """JDBC sink counterpart (each partition writes its own batch)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        writer = writer.option(k, str(v))
    writer.mode(mode).save()


#: Deploy-time coordinate for the external Avro module (it ships with
#: the Spark distribution's `--packages`, not the pyspark wheel — this
#: container does not deploy it, which `avro_available` detects).
AVRO_PACKAGE = "org.apache.spark:spark-avro_2.13:<spark-version>"


def avro_available(spark: SparkSession) -> bool:
    """True when the spark-avro data source is deployed. Probe runs
    Spark's OWN provider lookup (a `format("avro").load` against a
    path that is never touched): an undeployed module fails the lookup
    with FAILED_FIND_DATA_SOURCE before any I/O; a deployed one gets
    past lookup and fails on the missing path instead. A bare
    `Class.forName` probe is NOT sufficient — the pyspark wheel ships
    a partial avro jar (schema helpers) whose classes resolve even
    when the data source itself cannot."""
    try:
        spark.read.format("avro").load("/nonexistent-avro-probe-path")
        return True  # pragma: no cover — only with the jar deployed
    except Exception as e:  # noqa: BLE001 — classify by Spark error
        # Classify POSITIVELY (r10 advice): "deployed" is proven only by
        # the probe getting past provider lookup to the missing-path
        # error (PATH_NOT_FOUND / AnalysisException "Path does not
        # exist"). Any other exception — including a transient JVM or
        # session failure — reports unavailable, so read_avro raises the
        # named --packages error instead of an opaque downstream one.
        msg = str(e)
        if "Failed to find data source" in msg:
            return False
        # Prefer the structured error class over message substrings
        # (r11 advice: wording is version-coupled; the class survives
        # renames of the human text). PySpark exceptions expose it via
        # getErrorClass() / getCondition() depending on version.
        for attr in ("getCondition", "getErrorClass"):
            get = getattr(e, attr, None)
            if callable(get):  # pragma: no cover — jar-deployed path
                try:
                    cls = get() or ""
                except Exception:  # noqa: BLE001 — probe must not raise
                    cls = ""
                if "PATH_NOT_FOUND" in cls:
                    return True
                if "DATA_SOURCE" in cls:  # e.g. FAILED_FIND_DATA_SOURCE
                    return False
        return (  # pragma: no cover — only with the jar deployed
            "PATH_NOT_FOUND" in msg or "Path does not exist" in msg
        )


def read_avro(spark: SparkSession, path_or_glob: str) -> DataFrame:
    """Avro source behind the availability gate: a deployment that
    ships the spark-avro jar gets a native, splittable, pushdown-
    capable scan; this container (no jar) gets a NAMED error with the
    exact `--packages` coordinate instead of Spark's opaque
    'Failed to find data source: avro'."""
    if not avro_available(spark):
        raise ModuleNotFoundError(
            "spark-avro is not on the JVM classpath; launch with "
            f"--packages {AVRO_PACKAGE} (matching your Spark version) "
            "to enable source_type='avro'"
        )
    files = sorted(globmod.glob(path_or_glob)) or [path_or_glob]
    return spark.read.format("avro").load(files)


def write_avro(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    if not avro_available(df.sparkSession):
        raise ModuleNotFoundError(
            "spark-avro is not on the JVM classpath; launch with "
            f"--packages {AVRO_PACKAGE} (matching your Spark version) "
            "to enable the Avro sink"
        )
    df.write.mode(mode).format("avro").save(path)


def read_csv_with_quarantine(
    spark: SparkSession,
    path_or_glob: str,
    schema_ddl: str,
    delimiter: str = ",",
    header: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE ingest with physical malformed-row capture: returns
    (good, quarantine). Rows that fail to parse against the declared
    schema land in the quarantine frame with the raw line preserved in
    ``_raw`` — the file-level counterpart of the pipeline's logical
    contract quarantine (validate/quarantine covers rows that PARSE
    but violate the contract; this covers rows that don't parse at
    all).

    Spark only materializes the corrupt-record column when the
    filtered plan retains it, and filtering on it alone is rejected
    for un-cached reads (the scan would need to re-parse), so the raw
    frame is cached for the split — one parse over the files — then
    released before returning: both outputs are eagerly checkpointed
    (ContextCleaner frees their blocks when the caller drops them,
    unlike CacheManager entries, which live until session end and
    accumulate across a long ingest session).
    """
    files = sorted(globmod.glob(path_or_glob)) or [path_or_glob]
    raw = (
        spark.read.schema(schema_ddl + ", _raw string")
        .option("header", "true" if header else "false")
        .option("sep", delimiter)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_raw")
        .csv(files)
    ).cache()
    good = raw.filter(F.col("_raw").isNull()).drop("_raw").localCheckpoint(eager=True)
    quarantine = raw.filter(F.col("_raw").isNotNull()).localCheckpoint(eager=True)
    raw.unpersist()
    return good, quarantine


def read_jsonl_with_quarantine(
    spark: SparkSession, path_or_glob: str, schema_ddl: str
) -> tuple[DataFrame, DataFrame]:
    """JSONL twin of :func:`read_csv_with_quarantine` (malformed JSON
    or type-mismatched documents go to quarantine with the raw text;
    same parse-once-then-release cache discipline)."""
    files = sorted(globmod.glob(path_or_glob)) or [path_or_glob]
    raw = (
        spark.read.schema(schema_ddl + ", _raw string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_raw")
        .json(files)
    ).cache()
    good = raw.filter(F.col("_raw").isNull()).drop("_raw").localCheckpoint(eager=True)
    quarantine = raw.filter(F.col("_raw").isNotNull()).localCheckpoint(eager=True)
    raw.unpersist()
    return good, quarantine
