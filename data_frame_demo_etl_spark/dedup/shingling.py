"""Word n-gram shingling as pure Column expressions.

Performance note: referencing an *expression* (like the split/filter
word array) inside a higher-order-function lambda re-evaluates it per
element — quadratic in document length. The DataFrame-level helpers
below therefore materialize the word array as a real column first and
only then index into it; use them in hot paths.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def word_array(text: Column) -> Column:
    return F.filter(F.split(text, r"\s+"), lambda w: w != "")


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a document (array<string>).

    Built with transform+slice over the token array — the row explosion
    (if any) is deferred to the caller's explode, keeping this reusable
    for both set-based (jaccard) and sketch-based (minhash) paths.
    """
    ws = word_array(text)
    # sequence(1, 0) counts DOWN to [1, 0] and slice(ws, 0, n) throws:
    # short documents need an explicit empty-index guard.
    idx = F.when(
        F.size(ws) >= n, F.sequence(F.lit(1), F.size(ws) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(ws, i, n)))
    return F.array_distinct(grams)


def shingle_hash_table(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(doc, h): one row per distinct shingle hash per document.

    Two-step projection so the word array is computed once per row
    (see module docstring); this is the hot-path entry point for
    jaccard/minhash.
    """
    ws_df = df.select(
        F.col(id_col).alias("doc"), word_array(F.col(text_col)).alias("__ws")
    )
    ws = F.col("__ws")
    hs = F.transform(
        ws, lambda w, i: F.xxhash64(w, *[F.get(ws, i + off) for off in range(1, n)])
    )
    valid = F.array_distinct(
        F.slice(hs, 1, F.greatest(F.size(ws) - (n - 1), F.lit(0)))
    )
    return ws_df.select("doc", F.explode(valid).alias("h"))
