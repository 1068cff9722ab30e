"""Grouped-map transforms (``applyInPandas``).

``group_zscore`` is the canonical grouped-map shape for feature
pipelines: per-group normalization where the whole group must be seen
together. One shuffle on the group key; Arrow moves each group as a
pandas frame.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd

from pyspark.sql import DataFrame, functions as F


def group_zscore(
    df: DataFrame, group_cols: Sequence[str], value_col: str, out_col: str = "zscore"
) -> DataFrame:
    """Per-group z-score of `value_col` via applyInPandas (population
    std; groups with zero variance get 0.0)."""
    out_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema = f"{out_fields}, {out_col} double"

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[value_col].astype(float)
        std = vals.std(ddof=0)
        pdf[out_col] = 0.0 if (std == 0 or pd.isna(std)) else (vals - vals.mean()) / std
        return pdf

    return df.groupBy(*group_cols).applyInPandas(normalize, schema)


def group_zscore_grid(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    out_col: str = "zscore_micro",
) -> DataFrame:
    """Per-group z-score on a 1e-6 integer grid — the fully
    oracle-checkable variant of :func:`group_zscore`.

    Contract (identical in any engine with 128-bit integers):
      vq         = floor(value*100 + 0.5)            (centi-units)
      n, s, ss   = count, Σvq, Σvq²                  (exact integers)
      mean_micro = (s * 10^4) trunc-div n
      std_micro  = isqrt((n*ss − s*s) * 10^8) trunc-div n
      z_micro    = ((vq*10^4 − mean_micro) * 10^6) trunc-div std_micro
                   (0 when std_micro = 0)
    All arithmetic is exact integer (Python bigint here, HUGEINT in
    the oracle); trunc-div rounds toward zero in both engines. The
    grouped-map runs via applyInPandas (one shuffle on the group key,
    Arrow-batched); use higher-cardinality group keys at scale so no
    single pandas group exceeds executor memory.
    """
    import math

    out_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema = f"{out_fields}, {out_col} long"

    def tdiv(a: int, b: int) -> int:
        return -((-a) // b) if a < 0 else a // b

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        vq = [int(math.floor(float(x) * 100 + 0.5)) for x in pdf[value_col]]
        n = len(vq)
        s = sum(vq)
        ss = sum(v * v for v in vq)
        mean_micro = (s * 10**4) // n
        std_micro = math.isqrt((n * ss - s * s) * 10**8) // n
        if std_micro == 0:
            z = [0] * n
        else:
            z = [tdiv((v * 10**4 - mean_micro) * 10**6, std_micro) for v in vq]
        pdf[out_col] = pd.array(z, dtype="int64")
        return pdf

    return df.groupBy(*group_cols).applyInPandas(normalize, schema)


# DuckDB replay of group_zscore_grid on lineitem grouped by
# l_returnflag. HUGEINT keeps every intermediate exact; the floor-sqrt
# of a DOUBLE cast is corrected by ±1 to the true integer sqrt (the
# cast error is ≪ 1 ulp of the root for these magnitudes), and `//`
# is truncating division in DuckDB, matching the Spark-side contract.
GROUP_ZSCORE_GRID_SQL = """
WITH base AS (
  SELECT l_orderkey, l_returnflag, l_quantity,
         CAST(FLOOR(l_quantity * 100 + 0.5) AS HUGEINT) AS vq
  FROM lineitem
),
g AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(vq) AS HUGEINT) AS s,
         CAST(SUM(vq * vq) AS HUGEINT) AS ss
  FROM base GROUP BY l_returnflag
),
gn AS (
  SELECT l_returnflag, n,
         (s * 10000) // n AS mean_micro,
         (n * ss - s * s) * 100000000 AS num8
  FROM g
),
gsqrt AS (
  SELECT l_returnflag, mean_micro, n, num8,
         CAST(FLOOR(SQRT(CAST(num8 AS DOUBLE))) AS HUGEINT) AS s0
  FROM gn
),
gstd AS (
  SELECT l_returnflag, mean_micro,
         (CASE WHEN (s0 + 1) * (s0 + 1) <= num8 THEN s0 + 1
               WHEN s0 * s0 > num8 THEN s0 - 1
               ELSE s0 END) // n AS std_micro
  FROM gsqrt
)
SELECT b.l_orderkey, b.l_returnflag, b.l_quantity,
       CAST(CASE WHEN st.std_micro = 0 THEN 0
                 ELSE ((b.vq * 10000 - st.mean_micro) * 1000000) // st.std_micro
            END AS BIGINT) AS zscore_micro
FROM base b JOIN gstd st ON b.l_returnflag = st.l_returnflag
ORDER BY b.l_orderkey, b.l_returnflag, b.l_quantity
"""
