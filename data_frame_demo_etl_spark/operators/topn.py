"""Per-key top-n as a rank window plus a rank filter.

The textbook `row_number().over(partitionBy(key).orderBy(...))` plan
would shuffle EVERY row to its key's reducer before discarding all but
n. Spark (3.5+) recognizes the `rank <= n` filter over that window and
plans a partial `WindowGroupLimit` BELOW the exchange: each map task
keeps only its per-key top n, so the shuffle is bounded at
partitions × keys × n rows, and the final window runs on that residue
(the same trick as TakeOrdered for global `orderBy().limit()`).

Ties must be broken by the order columns into a total order for the
result to be deterministic.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def pruned_topn(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[tuple[str, bool]],
    n: int,
) -> DataFrame:
    """Exact top-n rows per `keys`, ordered by `order_by`
    [(column, ascending), ...]. Adds a `rank` column (1-based)."""
    order_cols = [F.col(c).asc() if a else F.col(c).desc() for c, a in order_by]
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= n)
    )
