"""MinHash + banded LSH near-duplicate detection.

Formulation chosen for scale: each shingle is hashed ONCE with a
strong 64-bit hash (``xxhash64``); the K permutations are salted
re-hashes of that fixed-width long. Signatures are then K ``min``
aggregates over the exploded (doc, shingle-hash) table — a single scan
with map-side partial mins, one shuffle keyed by doc. This beats
per-permutation string hashing by ~K× (long input vs variable-length
string) and keeps everything in whole-stage codegen.

Bands: the K-long signature array is sliced into B bands of R values;
each band slice is hashed to a bucket key. Docs sharing any
(band, bucket) become candidate pairs; verification estimates Jaccard
as the fraction of matching signature components.

Scale notes: the band-bucket self-join is the only pair-producing
shuffle and buckets bound its size; signatures (K longs) travel, never
document text. Degenerate hot buckets (e.g. boilerplate docs) are
capped with ``max_bucket_size``: a bucket shared by m docs yields
m(m-1)/2 candidates, so one boilerplate bucket at corpus scale is
quadratic — buckets over the cap are dropped before the self-join
(their members still pair through their other, more selective bands).

Two hash families:

- ``hash_fn="xxhash64"`` (default): salted re-hashes of a one-time
  64-bit shingle hash — the 100 TB fast path (long-width min-aggs,
  whole-stage codegen).
- ``hash_fn="md5"``: permutation k is the lexicographic MIN of
  ``md5('k|' || shingle)`` hex strings. Every engine with md5 (DuckDB,
  Trino, BigQuery) reproduces the EXACT same signatures, buckets, and
  candidate pairs — this is what lets the external DuckDB oracle
  verify the full LSH pipeline bit-for-bit, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .shingling import shingle_hash_table, shingles


def tune_bands(num_perm: int, threshold: float, target_recall: float = 0.95) -> tuple[int, int]:
    """Pick (bands, rows) for banded LSH from first principles: a pair
    with Jaccard s becomes a candidate with probability
    1 - (1 - s^rows)^bands. Among factorizations bands*rows = num_perm,
    choose the LARGEST rows (fewest, most selective bands — fewest
    spurious candidates) whose recall at s = threshold still meets
    `target_recall`. Falls back to rows=1 (bands=num_perm, maximum
    recall) when nothing meets the target.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(f"target_recall must be in (0, 1), got {target_recall}")
    choices = [r for r in range(1, num_perm + 1) if num_perm % r == 0]
    for rows in sorted(choices, reverse=True):
        bands = num_perm // rows
        recall = 1.0 - (1.0 - threshold**rows) ** bands
        if recall >= target_recall:
            return bands, rows
    return num_perm, 1


def candidate_probability(s: float, bands: int, rows: int) -> float:
    """P(pair with Jaccard s shares at least one band bucket)."""
    return 1.0 - (1.0 - s**rows) ** bands


def signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(doc, sig: array<long>[num_perm]) via explode + K min-aggregates."""
    exploded = shingle_hash_table(df, id_col, text_col, n)
    # Permutation k = xxhash64 of the (one-time) shingle hash salted
    # with k: hashing a fixed-width long is far cheaper than re-hashing
    # the string K times, and avoids ANSI-mode overflow that an affine
    # (a*h+b) permutation would hit.
    mins = [
        F.min(F.xxhash64(F.lit(seed + k), F.col("h"))).alias(f"m{k}")
        for k in range(num_perm)
    ]
    agg = exploded.groupBy("doc").agg(*mins)
    return agg.select("doc", F.array(*[f"m{k}" for k in range(num_perm)]).alias("sig"))


def portable_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    n: int = 3,
) -> DataFrame:
    """(doc, sig: array<string>[num_perm]) — engine-portable variant:
    component k = MIN(md5('k|' || shingle)) over the document's
    distinct word n-gram shingles (hex-string order is uniform, so a
    string min is a valid min-hash)."""
    sh = df.select(
        F.col(id_col).alias("doc"),
        F.explode(shingles(F.col(text_col), n)).alias("shingle"),
    )
    mins = [
        F.min(F.md5(F.concat(F.lit(f"{k}|"), F.col("shingle")))).alias(f"m{k}")
        for k in range(num_perm)
    ]
    agg = sh.groupBy("doc").agg(*mins)
    return agg.select("doc", F.array(*[f"m{k}" for k in range(num_perm)]).alias("sig"))


def band_buckets(sig_df: DataFrame, bands: int = 8, rows: int = 4, portable: bool = False) -> DataFrame:
    """(doc, band, bucket): one pass — all band hashes in a single
    projection, then posexplode. Portable mode buckets on
    md5(concat(band slice)) so any engine derives identical buckets."""
    if portable:
        band_hashes = F.array(
            *[F.md5(F.concat_ws("", F.slice("sig", b * rows + 1, rows))) for b in range(bands)]
        )
    else:
        band_hashes = F.array(
            *[F.hash(F.slice("sig", b * rows + 1, rows)) for b in range(bands)]
        )
    return sig_df.select("doc", F.posexplode(band_hashes).alias("band", "bucket"))


def cap_hot_buckets(bb: DataFrame, max_bucket_size: int) -> DataFrame:
    """Drop (band, bucket) groups with more than `max_bucket_size`
    members before the pair-producing self-join. A boilerplate bucket
    of m docs costs m²/2 candidates — at corpus scale a single
    degenerate bucket dominates the whole job. Near-dups dropped here
    still meet through their other bands unless they collide in EVERY
    hot bucket (boilerplate-only docs, which exact-dedup upstream
    already collapses).

    The cap groupBy-counts the bucket sizes (map-side partial
    aggregation — a hot bucket's count reduces to one row per map
    task, its posting list is NEVER gathered), filters to the over-cap
    keys (≤ total_postings / cap rows by construction) and left-anti
    joins them. No task ever buffers a hot posting list. The join
    strategy is deliberately LEFT TO AQE: the over-cap key set is
    bounded by postings/cap, not by a constant, and a
    boilerplate-heavy 100 TB corpus can push it past any broadcast
    limit — AQE broadcasts the anti side when its runtime size allows
    (the common case, keeping the postings unshuffled) and degrades to
    a shuffled anti-join when it does not, instead of blowing the
    driver on a forced hint. (A count window over (band, bucket)
    gives the same result but buffers each bucket's entire posting
    list in one task — SCALING.md round-8.)"""
    hot = (
        bb.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_bucket_size)
        .select("band", "bucket")
    )
    return bb.join(hot, ["band", "bucket"], "left_anti")


def estimated_jaccard(sig_a: Column, sig_b: Column) -> Column:
    matches = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return matches.cast("double") / F.size(sig_a)


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int | None = 8,
    rows: int | None = 4,
    n: int = 3,
    threshold: float = 0.8,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = 200,
    target_recall: float | None = None,
) -> DataFrame:
    """(id_a, id_b, est_jaccard) for candidate pairs whose estimated
    Jaccard >= threshold.

    Pass ``target_recall`` (with bands=rows=None) to auto-tune the
    banding from LSH theory instead of fixing 8×4."""
    if target_recall is not None:
        bands, rows = tune_bands(num_perm, threshold, target_recall)
    assert bands * rows == num_perm, "bands*rows must equal num_perm"
    if hash_fn == "md5":
        sig = portable_signatures(df, id_col, text_col, num_perm, n).persist()
    else:
        sig = signatures(df, id_col, text_col, num_perm, n, seed).persist()
    bb = band_buckets(sig, bands, rows, portable=(hash_fn == "md5"))

    # Bucket members are gathered with ONE groupBy shuffle and pairs
    # expanded inside the array (vs. count-window + self-join: three
    # shuffles for the same result). The hot-bucket cap bounds the
    # quadratic expansion: a bucket of m docs yields m(m-1)/2 pairs,
    # so buckets over the cap are dropped whole (their members still
    # pair through their other, more selective bands). The drop runs
    # BEFORE collect_list, so its aggregation buffer is ≤ cap.
    if max_bucket_size is not None:
        bb = cap_hot_buckets(bb, max_bucket_size)
    buckets = bb.groupBy("band", "bucket").agg(F.collect_list("doc").alias("ms"))
    buckets = buckets.filter(F.size("ms") >= 2)
    # Materialize the sorted array as a real column BEFORE the lambda
    # (an expression referenced inside a HOF re-evaluates per element).
    buckets = buckets.select(F.sort_array("ms").alias("ms"))
    ms = F.col("ms")
    combos = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + 2, F.size(ms)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    candidates = (
        buckets.select(F.explode(combos).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    sa = sig.select(F.col("doc").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc").alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(estimated_jaccard(F.col("sig_a"), F.col("sig_b")), 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
