"""Physical data-layout utilities for the 100 TB path.

- ``write_partitioned``: hive-style partition directories → partition
  pruning turns predicates on the partition column into directory
  listing, not data reads.
- ``write_bucketed``: hash-bucketed, optionally sorted table.
  Bucketing pre-shuffles the data ONCE at write time; every later
  equi-join or aggregation on the bucket key is shuffle-free.
- ``compact``: repartition + sortWithinPartitions for write-time
  clustering (row-group min/max statistics become selective, so
  filter pushdown skips row groups).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_partitioned(
    df: DataFrame, path: str, partition_cols: Sequence[str], mode: str = "overwrite"
) -> None:
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 8,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def compact(
    df: DataFrame, n_partitions: int, cluster_cols: Sequence[str]
) -> DataFrame:
    """Repartition on the cluster columns and sort within partitions —
    the standard pre-write step that makes parquet row-group stats
    selective for later scans."""
    return df.repartition(n_partitions, *cluster_cols).sortWithinPartitions(*cluster_cols)


def zorder_value(x, y, bits: int = 16):
    """Morton/Z-order interleave of two non-negative ints (each
    truncated to ``bits`` low bits) as a pure column expression —
    bit i of x lands at position 2i, bit i of y at 2i+1.

    Static shift amounts keep every term inside whole-stage codegen;
    the chain is a constant-width OR fold, no UDF. Used by
    ``zorder_cluster`` so multi-column range layouts preserve locality
    in BOTH dimensions (a lexicographic sort clusters only the leading
    column; Z-order gives every column ~bits/2 effective prefix)."""
    from pyspark.sql import functions as F

    xi = x.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    yi = y.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(xi, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(F.shiftleft(F.shiftright(yi, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return z


def zorder_cluster(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_partitions: int,
    bits: int = 16,
    normalize: bool = True,
) -> DataFrame:
    """Range-partition + sort by the Z-value of (x_col, y_col): the
    Delta/Iceberg OPTIMIZE ZORDER layout, expressed with vanilla
    repartitionByRange. Files written from the result have tight
    min/max on BOTH columns, so parquet row-group stats prune scans
    filtered on either one — test_pruning_observed.py asserts the
    engine's scans skip exactly the row groups the footers predict.

    ``normalize`` (default) rescales each column to the full
    ``bits``-wide domain from its observed min/max before interleaving
    (one cheap agg, two driver-side scalars per column — the rank-based
    trick Delta's OPTIMIZE ZORDER uses). Interleaving RAW values gives
    the wider-domain column ALL the significant z bits when domains
    are unequal (e.g. event_id 0..1M vs user_id 0..10k: every top bit
    is an event bit, so files never bound user_id and one of the two
    columns prunes nothing — measured in test_pruning_observed.py)."""
    from pyspark.sql import functions as F

    def _scaled(col_name: str, lo, hi):
        # monotone per-column map onto [0, 2^bits): long arithmetic,
        # no floats (v−min ≤ span, ×scale fits long for spans < 2^47).
        # `div` (integer division) has no Column operator, so the one
        # expression stays SQL text — with the identifier backtick-
        # escaped, since column names may need quoting.
        if lo is None or hi is None:  # empty input / all-null column
            return F.col(col_name).cast("long")
        scale = (1 << bits) - 1
        span = max(1, int(hi) - int(lo))
        q = "`" + col_name.replace("`", "``") + "`"
        return F.expr(f"(({q} - {int(lo)}L) * {scale}L) div {span}L")

    if normalize:
        b = df.agg(
            F.min(F.col(x_col).cast("long")).alias("xmin"),
            F.max(F.col(x_col).cast("long")).alias("xmax"),
            F.min(F.col(y_col).cast("long")).alias("ymin"),
            F.max(F.col(y_col).cast("long")).alias("ymax"),
        ).collect()[0]
        x = _scaled(x_col, b.xmin, b.xmax)
        y = _scaled(y_col, b.ymin, b.ymax)
    else:
        x, y = F.col(x_col).cast("long"), F.col(y_col).cast("long")
    with_z = df.withColumn("_z", zorder_value(x, y, bits))
    return (
        with_z.repartitionByRange(n_partitions, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def events_zorder_stats(spark, sf_dir: str):
    """Gate: Z-order layout math end-to-end — interleave (user_id,
    event_id) low bits, bucket the Z-space into 4096 cells, and report
    per-cell row counts and the min/max span of BOTH source columns.
    The span columns are what row-group pruning would see: Z-cells
    bound user_id AND event_id simultaneously, which is the entire
    point of the layout (`zorder_cluster` writes files in this order).
    """
    from pyspark.sql import functions as F

    from ..sources.catalog import load_table

    events = load_table(spark, "events", sf_dir)
    x = F.col("user_id")
    y = F.col("event_id")
    z = zorder_value(x, y, bits=16)
    return (
        events.select(
            F.shiftright(z, 20).alias("z_cell"),
            "user_id",
            "event_id",
        )
        .groupBy("z_cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("user_id").alias("uid_min"),
            F.max("user_id").alias("uid_max"),
            F.min("event_id").alias("eid_min"),
            F.max("event_id").alias("eid_max"),
        )
        .orderBy("z_cell")
    )


def _zorder_sql(bits: int = 16) -> str:
    mask = (1 << bits) - 1
    terms = []
    for i in range(bits):
        terms.append(f"((((user_id & {mask}) >> {i}) & 1) << {2 * i})")
        terms.append(f"((((event_id & {mask}) >> {i}) & 1) << {2 * i + 1})")
    z = " | ".join(terms)
    return f"""
WITH zed AS (
  SELECT ({z}) AS z, user_id, event_id FROM events
)
SELECT (z >> 20) AS z_cell,
       COUNT(*) AS n,
       MIN(user_id) AS uid_min,
       MAX(user_id) AS uid_max,
       MIN(event_id) AS eid_min,
       MAX(event_id) AS eid_max
FROM zed
GROUP BY 1
ORDER BY z_cell
"""


EVENTS_ZORDER_STATS_SQL = _zorder_sql()


# ───────────── parquet row-group pruning audit (r7) ─────────────


def parquet_rowgroup_stats(spark, files: list[str], column: str):
    """Distributed parquet-footer audit: per (file, row_group) the row
    count and the footer min/max statistics of ``column`` — the table
    a layout decision is graded on (are the per-row-group ranges tight
    enough that a range predicate prunes?). The FILE LIST is the
    driver-side input (at warehouse scale it comes from the table
    manifest/catalog, which is already driver-visible); the footer
    READS are distributed — one pyarrow metadata fetch per file inside
    mapInPandas, no row data touched (footers are KBs regardless of
    file size)."""
    import os

    import pandas as pd

    def read_footers(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for path in pdf["path"]:
                md = pq.ParquetFile(path).metadata
                names = md.schema.names
                ci = names.index(column)
                for rg in range(md.num_row_groups):
                    col = md.row_group(rg).column(ci)
                    st = col.statistics
                    if st is None or st.min is None or st.max is None:
                        raise ValueError(
                            f"parquet footer has no min/max statistics for "
                            f"column {column!r} in {os.path.basename(path)} "
                            f"row-group {rg} — write with statistics enabled "
                            f"or audit a different column"
                        )
                    rows.append(
                        {
                            "fname": os.path.basename(path),
                            "row_group": rg,
                            "n_rows": md.row_group(rg).num_rows,
                            "min_v": int(st.min),
                            "max_v": int(st.max),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["fname", "row_group", "n_rows", "min_v", "max_v"]
            )

    fdf = spark.createDataFrame([(f,) for f in files], "path string").repartition(
        max(1, min(len(files), 32))
    )
    return fdf.mapInPandas(
        read_footers,
        "fname string, row_group int, n_rows long, min_v long, max_v long",
    )


def events_parquet_pruning_audit(spark, sf_dir: str):
    """Gate: write a deterministically range-SLICED copy of `events`
    (slice = event_id div step, step = ceil((max_id+1)/8) — one file
    per slice, any number of row groups), read every row group's FOOTER
    statistics back with distributed pyarrow, aggregate them to a
    per-slice envelope, and flag which slices a ~2%-selectivity
    `event_id BETWEEN lo AND hi` predicate prunes entirely.

    The oracle never touches the files: it derives the SAME numbers
    relationally from the events table (per-slice count/min/max and
    the prune flag), so the gate is a footer-vs-data INTEGRITY
    contract — the audit passes only if the physical footers say
    exactly what the data says. That is the number a 100 TB layout is
    judged on: a scan that reads all row groups for a 2% range
    predicate has the wrong layout, whatever the query plan claims.
    Fixture materialized once per sf_dir (marker file); slices are
    integer arithmetic, so the layout is bit-reproducible (unlike
    repartitionByRange, whose sampled boundaries are not a contract).
    """
    import os

    from pyspark.sql import functions as F

    from ..sources.catalog import load_table
    from ..sources.gate import _tmp_dir

    out = _tmp_dir(sf_dir, "pruning_audit") / "events_sliced"
    marker = _tmp_dir(sf_dir, "pruning_audit") / "_DONE"
    ev = load_table(spark, "events", sf_dir).select("event_id")
    max_id = ev.agg(F.max("event_id")).collect()[0][0]
    step = (int(max_id) + 1 + 7) // 8
    if not marker.exists():
        sliced = load_table(spark, "events", sf_dir).select(
            "event_id", "user_id", "value", (F.expr(f"event_id div {step}")).alias("slice")
        )
        (
            sliced.repartition(8, "slice")
            .sortWithinPartitions("slice", "event_id")
            .write.mode("overwrite")
            .partitionBy("slice")
            .parquet(str(out))
        )
        marker.touch()
    files = sorted(
        os.path.join(root, f)
        for root, _, fs in os.walk(out)
        for f in fs
        if f.endswith(".parquet")
    )
    stats = parquet_rowgroup_stats(spark, files, "event_id")
    n_total = int(max_id) + 1
    lo, hi = n_total // 2, n_total // 2 + max(n_total // 50, 1)  # ~2% range
    # Footer stats are aggregated PER SLICE before comparing: the writer
    # splits a slice's file into multiple row groups once it crosses
    # parquet.block.size (~128 MB), so one-row-per-row-group would drift
    # from the oracle's one-row-per-slice contract exactly when the data
    # gets big — the 100 TB case the audit exists for. The per-slice
    # envelope (sum of rows, min of mins, max of maxes) is
    # row-group-count-invariant, and the prune flag on the envelope equals
    # the all-row-groups-pruned flag because slices are contiguous ranges.
    return (
        stats.groupBy(F.expr(f"min_v div {step}").cast("int").alias("slice"))
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
        .select(
            "slice",
            "n_rows",
            "min_v",
            "max_v",
            ((F.col("max_v") < F.lit(lo)) | (F.col("min_v") > F.lit(hi))).alias(
                "pruned"
            ),
        )
        .orderBy("slice")
    )


EVENTS_PARQUET_PRUNING_AUDIT_SQL = """
WITH n AS (SELECT MAX(event_id) + 1 AS total FROM events),
step AS (SELECT (total + 7) // 8 AS s FROM n),
rg AS (
  SELECT event_id // (SELECT s FROM step) AS slice,
         COUNT(*) AS n_rows,
         MIN(event_id) AS min_v,
         MAX(event_id) AS max_v
  FROM events GROUP BY 1
)
SELECT CAST(slice AS INTEGER) AS slice,
       CAST(n_rows AS BIGINT) AS n_rows, min_v, max_v,
       (max_v < (SELECT total // 2 FROM n)
        OR min_v > (SELECT total // 2 + GREATEST(total // 50, 1) FROM n)) AS pruned
FROM rg
ORDER BY slice
"""
