"""Approximate-nearest-neighbor search over an embedding column.

- ``brute_force_topk``: exact cosine top-k — the correctness baseline.
  The (small) query set is broadcast, so the big side streams through
  one scan; top-k per query is a window over the per-query partitions.
- ``lsh_assign`` / ``lsh_topk``: the scale path — random-hyperplane
  LSH buckets bound the candidate set, then exact rerank inside the
  bucket. Hyperplanes are generated from a fixed seed so results are
  reproducible run-to-run and cluster-to-cluster.

At 100 TB the brute-force path is O(Q·N) per query batch but involves
no shuffle of the corpus (broadcast join + partial top-k via the
window); the LSH path turns it into a bucket-equi-join.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from ..functions.vectors import cosine, dot, norm


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    `queries` must have (query_id_col, vec_col); it is broadcast.
    Self-matches (query_id == corpus id) are excluded.
    """
    # Precompute each side's norm ONCE (per corpus row / per query row)
    # so the per-pair work is a single dot-product fold, not three.
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        norm(F.col(vec_col)).alias("__qnorm"),
    )
    c = corpus.select(
        F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("__cnorm")
    )
    denom = F.col("__qnorm") * F.col("__cnorm")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                F.when(denom > 0, dot(F.col("__qvec"), F.col(vec_col)) / denom).otherwise(
                    F.lit(0.0)
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", F.col(id_col).alias("neighbor_id"), "cosine")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (fixed seed → reproducible)."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).astype(float).tolist()


def lsh_assign(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Add a `bucket` column: sign-bit signature under fixed random
    hyperplanes, bit-packed into one long."""
    planes = hyperplanes(dim, n_planes, seed)
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        plane_arr = F.array(*[F.lit(v) for v in plane])
        products = F.zip_with(
            F.col(vec_col), plane_arr, lambda x, y: x.cast("double") * y
        )
        d = F.aggregate(products, F.lit(0.0), lambda acc, x: acc + x)
        bucket = bucket + F.when(d > 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
    return df.withColumn("bucket", bucket)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: only candidates sharing the query's LSH
    bucket are scored. Equi-join on bucket replaces the cross join."""
    c = lsh_assign(corpus, dim, n_planes, seed, vec_col)
    q = lsh_assign(
        queries.select(F.col(query_id_col), F.col(vec_col)), dim, n_planes, seed, vec_col
    ).select(query_id_col, F.col(vec_col).alias("__qvec"), "bucket")
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(cosine(F.col("__qvec"), F.col(vec_col)), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", F.col(id_col).alias("neighbor_id"), "cosine")
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine: LSH bucket self-join
    bounds candidates, exact cosine verifies. Returns (id_a, id_b,
    cosine) with id_a < id_b."""
    b = lsh_assign(corpus, dim, n_planes, seed, vec_col).select(
        F.col(id_col), F.col(vec_col), "bucket"
    )
    left = b.select(
        F.col("bucket"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
    )
    right = b.select(
        F.col("bucket"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
    )
    return (
        left.join(right, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("__va"), F.col("__vb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for contrastive-retrieval training: for
    each query, the top-k most-similar corpus vectors with a
    DIFFERENT label — the "hard" negatives (similar embedding, wrong
    class) that make dense retrievers learn (the in-batch-random
    negative is easy; the near-miss is the training signal — the
    BM25/ANCE mining step re-expressed over the labeled corpus).

    ``queries`` must carry (query_id_col, vec_col, query_label); the
    label-mismatch predicate filters BEFORE the per-query top-k
    window, so negatives-only ranks are exact. Same scale shape as
    ``brute_force_topk``: broadcast query panel, one corpus scan, no
    corpus shuffle; the rank window partitions by query id (bounded
    by the query panel size, never corpus-sized)."""
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        F.col("query_label"),
        norm(F.col(vec_col)).alias("__qnorm"),
    )
    c = corpus.select(
        F.col(id_col),
        F.col(label_col),
        F.col(vec_col),
        norm(F.col(vec_col)).alias("__cnorm"),
    )
    denom = F.col("__qnorm") * F.col("__cnorm")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(label_col) != F.col("query_label"))
        .select(
            query_id_col,
            id_col,
            F.col(label_col),
            F.round(
                F.when(denom > 0, dot(F.col("__qvec"), F.col(vec_col)) / denom).otherwise(
                    F.lit(0.0)
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            "rank",
            F.col(id_col).alias("negative_id"),
            F.col(label_col).alias("negative_label"),
            "cosine",
        )
    )
