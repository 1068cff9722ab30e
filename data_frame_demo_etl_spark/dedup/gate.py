"""Correctness-gate wrappers for near-duplicate detection on the
`documents` table. Every gate here has a full DuckDB oracle: exact
n-gram Jaccard directly, and the sketch ops (MinHash/SimHash) through
their md5-portable hash families, whose signatures/buckets/pairs any
engine with md5 reproduces bit-for-bit. The xxhash64 families remain
the throughput path, cross-validated against exact Jaccard in pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.catalog import load_table
from .jaccard import jaccard_pairs
from .minhash import minhash_near_dup_pairs
from .simhash import simhash_near_dup_pairs

THRESHOLD = 0.8


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via prefix-filtered AllPairs join (no all-pairs blowup)."""
    docs = load_table(spark, "documents", sf_dir)
    return jaccard_pairs(docs, threshold=THRESHOLD).orderBy("id_a", "id_b")


DEDUP_NGRAM_JACCARD_SQL = r"""
WITH words AS (
  SELECT doc_id, LIST_FILTER(STRING_SPLIT_REGEX(text, '\s+'), w -> w != '') AS ws FROM documents
),
sh AS (
  SELECT DISTINCT doc_id AS doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM words, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 2, 0))) AS i)
),
sizes AS (SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS id_a, b.doc AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc = id_a
JOIN sizes sb ON sb.doc = id_b
WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.8
ORDER BY id_a, id_b
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components → (doc_id, cluster).
    Oracle: recursive-CTE transitive closure over the same pairs."""
    from .clusters import connected_components

    docs = load_table(spark, "documents", sf_dir)
    pairs = jaccard_pairs(docs, threshold=THRESHOLD)
    comps = connected_components(pairs)
    return comps.select(F.col("id").alias("doc_id"), F.col("component").alias("cluster")).orderBy(
        "doc_id"
    )


# Recursive transitive closure over the jaccard pairs (the pair graph
# is tiny relative to the corpus, so the CTE oracle is tractable).
DEDUP_CLUSTERS_SQL = r"""
WITH RECURSIVE words AS (
  SELECT doc_id, LIST_FILTER(STRING_SPLIT_REGEX(text, '\s+'), w -> w != '') AS ws FROM documents
),
sh AS (
  SELECT DISTINCT doc_id AS doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM words, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 2, 0))) AS i)
),
sizes AS (SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS id_a, b.doc AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc = id_a
  JOIN sizes sb ON sb.doc = id_b
  WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.8
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
)
SELECT u AS doc_id, MIN(r) AS cluster
FROM reach
GROUP BY u
ORDER BY doc_id
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH with the md5 portable hash family, so the DuckDB
    oracle reproduces the ENTIRE pipeline — signatures, band buckets,
    hot-bucket cap, candidate pairs, similarity estimates — exactly.
    (The xxhash64 family is the 100 TB fast path; pytest cross-
    validates its recall against exact Jaccard.)"""
    docs = load_table(spark, "documents", sf_dir)
    return minhash_near_dup_pairs(
        docs, threshold=THRESHOLD, hash_fn="md5", max_bucket_size=200
    ).orderBy("id_a", "id_b")


def dedup_clusters_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB cluster path: sketch pairs (MinHash+LSH, portable
    md5 family) → connected components → (doc_id, cluster).

    `dedup_clusters` above clusters EXACT-Jaccard pairs, so its
    scaling inherits the exact pair join's ~3.6× ratio at 10× docs
    (SCALING.md); this variant feeds the components step from the
    flat-scaling sketch pairs instead — the composition a cluster
    would actually run — while staying fully DuckDB-oracle-backed
    (sketch pipeline + recursive transitive closure)."""
    from .clusters import connected_components

    docs = load_table(spark, "documents", sf_dir)
    pairs = minhash_near_dup_pairs(
        docs, threshold=THRESHOLD, hash_fn="md5", max_bucket_size=200
    )
    comps = connected_components(pairs)
    return comps.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster")
    ).orderBy("doc_id")


# The shared sketch-pair pipeline (identical to DEDUP_MINHASH_LSH_SQL
# up to `est`), composed with the same recursive closure as
# DEDUP_CLUSTERS_SQL.
_MINHASH_PAIR_CTES = r"""
words AS (
  SELECT doc_id, LIST_FILTER(STRING_SPLIT_REGEX(text, '\s+'), w -> w != '') AS ws FROM documents
),
sh AS (
  SELECT DISTINCT doc_id AS doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM words, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 2, 0))) AS i)
),
perms AS (
  SELECT doc, k, MIN(MD5(CAST(k AS VARCHAR) || '|' || shingle)) AS m
  FROM sh CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 31)) AS k)
  GROUP BY doc, k
),
sig AS (SELECT doc, LIST(m ORDER BY k) AS sig FROM perms GROUP BY doc),
bands AS (
  SELECT doc, b AS band, MD5(ARRAY_TO_STRING(sig[b*4+1:b*4+4], '')) AS bucket
  FROM sig CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 7)) AS b)
),
ok_buckets AS (
  SELECT band, bucket FROM bands GROUP BY band, bucket HAVING COUNT(*) <= 200
),
capped AS (
  SELECT bands.* FROM bands JOIN ok_buckets USING (band, bucket)
),
cand AS (
  SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
  FROM capped a JOIN capped b ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
),
est AS (
  SELECT id_a, id_b,
         ROUND(CAST(LEN(LIST_FILTER(GENERATE_SERIES(1, 32), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 32, 6) AS est_jaccard
  FROM cand JOIN sig sa ON sa.doc = id_a JOIN sig sb ON sb.doc = id_b
)
"""

DEDUP_CLUSTERS_MINHASH_SQL = (
    "WITH RECURSIVE "
    + _MINHASH_PAIR_CTES.strip().rstrip()
    + r""",
pairs AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.8),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
)
SELECT u AS doc_id, MIN(r) AS cluster
FROM reach
GROUP BY u
ORDER BY doc_id
"""
)

DEDUP_MINHASH_LSH_SQL = r"""
WITH words AS (
  SELECT doc_id, LIST_FILTER(STRING_SPLIT_REGEX(text, '\s+'), w -> w != '') AS ws FROM documents
),
sh AS (
  SELECT DISTINCT doc_id AS doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM words, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 2, 0))) AS i)
),
perms AS (
  SELECT doc, k, MIN(MD5(CAST(k AS VARCHAR) || '|' || shingle)) AS m
  FROM sh CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 31)) AS k)
  GROUP BY doc, k
),
sig AS (SELECT doc, LIST(m ORDER BY k) AS sig FROM perms GROUP BY doc),
bands AS (
  SELECT doc, b AS band, MD5(ARRAY_TO_STRING(sig[b*4+1:b*4+4], '')) AS bucket
  FROM sig CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 7)) AS b)
),
ok_buckets AS (
  SELECT band, bucket FROM bands GROUP BY band, bucket HAVING COUNT(*) <= 200
),
capped AS (
  SELECT bands.* FROM bands JOIN ok_buckets USING (band, bucket)
),
cand AS (
  SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
  FROM capped a JOIN capped b ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
),
est AS (
  SELECT id_a, id_b,
         ROUND(CAST(LEN(LIST_FILTER(GENERATE_SERIES(1, 32), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 32, 6) AS est_jaccard
  FROM cand JOIN sig sa ON sa.doc = id_a JOIN sig sb ON sb.doc = id_b
)
SELECT * FROM est WHERE est_jaccard >= 0.8 ORDER BY id_a, id_b
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the md5-digit portable bit family,
    fully replicated by the DuckDB oracle below (the xxhash64/int64
    variant is the scale path — long XOR + bit_count — and is
    cross-validated in pytest)."""
    from .simhash import portable_simhash_near_dup_pairs

    docs = load_table(spark, "documents", sf_dir)
    return portable_simhash_near_dup_pairs(docs, max_hamming=3).orderBy("id_a", "id_b")


def _simhash_oracle_sql() -> str:
    """Generate the 64-bit-sum SimHash pipeline in DuckDB SQL: bit j
    of md5(token) is bit (3 - j%4) of hex digit j//4; fingerprint is a
    64-char '0'/'1' string; bands are 4 × 16-char slices; hamming is
    the count of differing positions."""
    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN ((STRPOS('0123456789abcdef', SUBSTR(h, {j // 4 + 1}, 1)) - 1)"
        f" >> {3 - j % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(64)
    )
    fp_concat = " || ".join(
        f"CASE WHEN b{j} > 0 THEN '1' ELSE '0' END" for j in range(64)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id AS doc,
         UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'), w -> w != '')) AS tok
  FROM documents
),
hashed AS (SELECT doc, MD5(tok) AS h FROM toks),
sums AS (
  SELECT doc,
         {bit_sums}
  FROM hashed GROUP BY doc
),
fps0 AS (SELECT doc, {fp_concat} AS fp FROM sums),
fps AS (
  SELECT d.doc_id AS doc, COALESCE(f.fp, REPEAT('0', 64)) AS fp
  FROM documents d LEFT JOIN fps0 f ON f.doc = d.doc_id
),
banded AS (
  SELECT doc, fp, b AS band, SUBSTR(fp, b * 16 + 1, 16) AS bucket
  FROM fps CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS b)
),
cand AS (
  SELECT DISTINCT a.doc AS id_a, b.doc AS id_b, a.fp AS fp_a, b.fp AS fp_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
),
ham AS (
  SELECT id_a, id_b,
         LEN(LIST_FILTER(GENERATE_SERIES(1, 64), i -> SUBSTR(fp_a, i, 1) != SUBSTR(fp_b, i, 1))) AS hamming
  FROM cand
)
SELECT DISTINCT id_a, id_b, hamming FROM ham WHERE hamming <= 3 ORDER BY id_a, id_b
"""


DEDUP_SIMHASH_SQL = _simhash_oracle_sql()


def dedup_clusters_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware duplicate-winner selection (the Dolma/CCNet rule):
    near-dup clusters keep their BEST-quality member, not the lowest
    doc_id. Composes the 100 TB sketch-pair cluster path
    (`dedup_clusters_minhash`) with the document quality heuristic
    (functions/text.py:quality_score) — one extra broadcast-free join
    on doc_id plus one per-cluster window.

    Determinism across engines: the winner comparison runs on the
    quality score snapped to a 1e-6 INTEGER grid (the score is already
    rounded to 6 decimals, so the grid is exact), with doc_id ASC as
    the tie-break — a 1-ulp double difference between Spark and the
    oracle can never flip the ranking.

    Scale note: the window partitions by cluster, whose size is
    bounded by the near-dup semantics (a cluster is a set of mutual
    ~80%-similar docs, not a power-law key), so no salting is needed.
    """
    from ..functions.text import quality_score
    from .clusters import connected_components

    docs = load_table(spark, "documents", sf_dir)
    pairs = minhash_near_dup_pairs(
        docs, threshold=THRESHOLD, hash_fn="md5", max_bucket_size=200
    )
    comps = connected_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster")
    )
    scored = comps.join(
        docs.select("doc_id", quality_score(F.col("text")).alias("quality")), "doc_id"
    ).withColumn(
        "qi", F.round(F.col("quality") * 1_000_000).cast("long")
    )
    # Winner per cluster as a partial-aggregable max(struct(qi, −doc))
    # instead of row_number over Window.partitionBy(cluster): the
    # window form SORTS each cluster's members inside one task — at
    # boilerplate scale one near-dup cluster holds a corpus-sized
    # member list and that task is the job (the r8 hot-value-cap
    # lesson, dedup/minhash.py). The struct max is lexicographic
    # (highest qi, then smallest doc_id — identical winner), combines
    # map-side, and the join back is a plain equi-join AQE can
    # skew-split.
    winners = (
        scored.groupBy("cluster")
        .agg(F.max(F.struct(F.col("qi"), (-F.col("doc_id")).alias("nd"))).alias("w"))
        .select("cluster", (-F.col("w.nd")).alias("win_doc"))
    )
    return (
        scored.join(winners, "cluster")
        .withColumn("is_kept", F.col("doc_id") == F.col("win_doc"))
        .select("doc_id", "cluster", "quality", "is_kept")
        .orderBy("doc_id")
    )


def _keep_best_oracle_sql() -> str:
    from ..functions.text import STOPWORDS

    sw = "', '".join(STOPWORDS)
    return (
        "WITH RECURSIVE "
        + _MINHASH_PAIR_CTES.strip()
        + rf""",
pairs AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.8),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
),
clusters AS (SELECT u AS doc_id, MIN(r) AS cluster FROM reach GROUP BY u),
qf AS (
  SELECT
    doc_id,
    CAST(LENGTH(text) AS DOUBLE) AS n,
    CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\s+'), w -> w != '')) AS DOUBLE) AS wc,
    CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'), w -> w IN ('{sw}'))) AS DOUBLE) AS sw,
    CAST(LEN(REGEXP_EXTRACT_ALL(text, '[^\w\s]')) AS DOUBLE) AS punct
  FROM documents
),
q AS (
  SELECT doc_id,
    ROUND(
      0.5 * LEAST(n / 500.0, 1.0)
      + 0.5 * LEAST((CASE WHEN wc > 0 THEN sw / wc ELSE 0.0 END) * 5, 1.0)
      - 0.25 * LEAST((CASE WHEN n > 0 THEN punct / n ELSE 0.0 END) * 4, 1.0),
    6) AS quality
  FROM qf
),
scored AS (
  SELECT c.doc_id, c.cluster, q.quality,
         CAST(ROUND(q.quality * 1000000) AS BIGINT) AS qi
  FROM clusters c JOIN q USING (doc_id)
)
SELECT doc_id, cluster, quality,
       (ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY qi DESC, doc_id ASC) = 1) AS is_kept
FROM scored
ORDER BY doc_id
"""
    )


DEDUP_CLUSTERS_KEEP_BEST_SQL = _keep_best_oracle_sql()


def split_leakage_check_doclevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level train/val/test contamination audit — the ORIGINAL
    (round-5) form of `split_leakage_check`, kept as a small-corpus
    cross-check only (pytest compares it against the registered
    signature-collapsed gate on corpora where no bucket cap triggers).

    NOT the production plan: it materializes every near-dup pair
    before counting, so a corpus with d exact copies of each document
    pays C(d, 2) candidate rows per band bucket (measured 8.8× wall
    for 10× data on the 10×-copied scaling corpus, SCALING.md round 6)
    — and past the hot-bucket cap it silently DROPS pair mass that
    the collapsed form counts exactly. The registered
    `split_leakage_check` (below) replaced it in round 7."""
    docs = load_table(spark, "documents", sf_dir)
    split = F.when(
        F.md5(F.col("doc_id").cast("string")).substr(1, 8) < "cccccccc", "train"
    ).when(
        F.md5(F.col("doc_id").cast("string")).substr(1, 8) < "e6666666", "val"
    ).otherwise("test")
    labels = docs.select(F.col("doc_id"), split.alias("split"))
    pairs = minhash_near_dup_pairs(
        docs, threshold=THRESHOLD, hash_fn="md5", max_bucket_size=200
    )
    la = labels.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
    lb = labels.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
    return (
        pairs.join(la, "id_a")
        .join(lb, "id_b")
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
            (F.col("sa") != F.col("sb")).alias("is_leak"),
        )
        .groupBy("split_a", "split_b", "is_leak")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("split_a", "split_b", "is_leak")
    )


def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-collapsed train/val/test contamination audit: assign
    a deterministic 80/10/10 split (engine-portable md5-prefix key,
    same family as `sample_documents`), find near-duplicate document
    pairs with the md5 MinHash+LSH family, and count the pairs whose
    endpoints land in DIFFERENT splits. Any `n_pairs` on an
    off-diagonal row is leakage: an eval document with a near-copy in
    train.

    This is the round-7 redefinition of the gate (previously
    registered as `split_leakage_check_fast`; the round-5 doc-level
    form survives as `split_leakage_check_doclevel`, a pytest-only
    small-corpus cross-check). The doc-level audit enumerated every
    near-dup pair before counting, so a corpus with d exact copies of
    each document paid C(d, 2) candidate rows per band bucket
    (measured: 8.8× wall for 10× data on the 10×-copied scaling
    corpus, SCALING.md round 6). This gate never materializes doc
    pairs:

    1. group docs by their FULL MinHash signature (md5-portable
       family) — exact duplicates collapse to one node with per-split
       counts (n_train, n_val, n_test);
    2. WITHIN a signature group, pair counts are closed-form:
       C(n_s, 2) per split and n_a·n_b across splits — arithmetic on
       the counts, no pairs;
    3. ACROSS signature groups, the banded LSH join runs over
       DISTINCT signatures (collapses with duplication; the hot-bucket
       cap applies at the signature level), est-Jaccard-verified, and
       each qualifying signature pair contributes n1_x·n2_y per split
       combination — again arithmetic.

    Same split rule and threshold as the doc-level gate; own oracle
    (the SQL mirrors the signature-level formulation, including the
    signature-level bucket cap). On a corpus with no exact duplicates
    it degenerates to the doc-level plan; with duplication it is
    asymptotically smaller. est = matches/32 is exact in binary
    (32 = 2^5) and 0.8 sits strictly between 25/32 and 26/32, so the
    threshold has no cross-engine knife edge."""
    from .minhash import (
        band_buckets,
        cap_hot_buckets,
        estimated_jaccard,
        portable_signatures,
    )

    docs = load_table(spark, "documents", sf_dir)
    split = F.when(
        F.md5(F.col("doc").cast("string")).substr(1, 8) < "cccccccc", "train"
    ).when(
        F.md5(F.col("doc").cast("string")).substr(1, 8) < "e6666666", "val"
    ).otherwise("test")
    # Everything downstream keys on k = md5(signature) — a 128-bit
    # scalar — instead of the 32-element string array: array group
    # keys and array join keys cost ~4× on the same data (measured
    # 7.9s → 2.1s at sf0.1). The oracle keys on the same md5, so both
    # engines share identical grouping by construction.
    # Persist (not checkpoint) the signature table: it feeds BOTH the
    # split-count aggregation and the distinct-signature node build —
    # left lazy, the second consumer re-runs the whole shingle×32-perm
    # pipeline (measured: 2× the gate's dominant term). persist() is
    # the same convention as minhash_near_dup_pairs: Spark's cache
    # manager matches canonicalized plans, so repeated runs in one
    # session (and the sibling doc-level gate, whose signature subplan
    # is identical) share the materialization; the SESSION owner
    # releases caches between logical queries (see
    # session.release_all_caches).
    # Persist the BARE signature node (doc, sig) and derive the
    # projection after: the sweep gate persists the identical bare
    # plan, so Spark's canonicalized-plan cache matching shares ONE
    # signature materialization across both gates in a session
    # (projected persists differ per gate and never match — measured
    # ~2.4s duplicated build per gate before this).
    raw_sig = portable_signatures(docs).persist()
    sig = raw_sig.select(
        "doc",
        "sig",
        F.md5(F.concat_ws("", "sig")).alias("k"),
        split.alias("split"),
    )
    groups = (
        sig.groupBy("k", "split")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)  # feeds 5 downstream references
    )
    # distinct signature nodes (k → sig), for the banded pair join.
    # Eager checkpoint: the anti-plan cap adds a hot-count branch, so
    # snodes now feeds FOUR consumers (bucket count, both band-join
    # sides, the est-Jaccard verify joins) — left lazy, each re-runs
    # the dropDuplicates shuffle (lazy persist materializes nothing
    # before the action; same treatment as `groups` above).
    snodes = sig.select(F.col("k").alias("doc"), "sig").dropDuplicates(
        ["doc"]
    ).localCheckpoint(eager=True)

    # within-signature contributions: closed-form on counts
    same_split = groups.select(
        F.col("split").alias("split_a"),
        F.col("split").alias("split_b"),
        F.lit(False).alias("is_leak"),
        (F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("c"),
    )
    ga = groups.select("k", F.col("split").alias("sa"), F.col("n").alias("na"))
    gb = groups.select("k", F.col("split").alias("sb"), F.col("n").alias("nb"))
    cross_split_within = (
        ga.join(gb, "k")
        .filter(F.col("sa") < F.col("sb"))
        .select(
            F.col("sa").alias("split_a"),
            F.col("sb").alias("split_b"),
            F.lit(True).alias("is_leak"),
            (F.col("na") * F.col("nb")).cast("long").alias("c"),
        )
    )

    # cross-signature: banded LSH over distinct signatures
    bb = band_buckets(snodes, portable=True)
    bb = cap_hot_buckets(bb, 200)
    left = bb.select(F.col("doc").alias("ka"), "band", "bucket")
    right = bb.select(F.col("doc").alias("kb"), "band", "bucket")
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("ka") < F.col("kb"))
        .select("ka", "kb")
        .distinct()
    )
    sa_ = snodes.select(F.col("doc").alias("ka"), F.col("sig").alias("sig_a"))
    sb_ = snodes.select(F.col("doc").alias("kb"), F.col("sig").alias("sig_b"))
    qual = (
        cand.join(sa_, "ka")
        .join(sb_, "kb")
        .filter(estimated_jaccard(F.col("sig_a"), F.col("sig_b")) >= F.lit(THRESHOLD))
        .select("ka", "kb")
    )
    g1 = groups.select(
        F.col("k").alias("ka"), F.col("split").alias("s1"), F.col("n").alias("n1")
    )
    g2 = groups.select(
        F.col("k").alias("kb"), F.col("split").alias("s2"), F.col("n").alias("n2")
    )
    cross_sig = (
        qual.join(g1, "ka")
        .join(g2, "kb")
        .select(
            F.least("s1", "s2").alias("split_a"),
            F.greatest("s1", "s2").alias("split_b"),
            (F.col("s1") != F.col("s2")).alias("is_leak"),
            (F.col("n1") * F.col("n2")).cast("long").alias("c"),
        )
    )

    return (
        same_split.unionByName(cross_split_within)
        .unionByName(cross_sig)
        .groupBy("split_a", "split_b", "is_leak")
        .agg(F.sum("c").alias("n_pairs"))
        .filter(F.col("n_pairs") > 0)
        .orderBy("split_a", "split_b", "is_leak")
    )


SPLIT_LEAKAGE_CHECK_SQL = r"""
WITH words AS (
  SELECT doc_id, LIST_FILTER(STRING_SPLIT_REGEX(text, '\s+'), w -> w != '') AS ws FROM documents
),
sh AS (
  SELECT DISTINCT doc_id AS doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM words, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 2, 0))) AS i)
),
perms AS (
  SELECT doc, k, MIN(MD5(CAST(k AS VARCHAR) || '|' || shingle)) AS m
  FROM sh CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 31)) AS k)
  GROUP BY doc, k
),
sig AS (SELECT doc, LIST(m ORDER BY k) AS sig FROM perms GROUP BY doc),
labeled AS (
  SELECT doc, sig, MD5(ARRAY_TO_STRING(sig, '')) AS k,
         CASE WHEN SUBSTR(MD5(CAST(doc AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
              WHEN SUBSTR(MD5(CAST(doc AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
              ELSE 'test' END AS split
  FROM sig
),
groups AS (
  SELECT k, split, COUNT(*) AS n FROM labeled GROUP BY k, split
),
snodes AS (
  SELECT k, FIRST(sig) AS sig FROM labeled GROUP BY k
),
bands AS (
  SELECT k, b AS band, MD5(ARRAY_TO_STRING(sig[b*4+1:b*4+4], '')) AS bucket
  FROM snodes CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 7)) AS b)
),
ok_buckets AS (
  SELECT band, bucket FROM bands GROUP BY band, bucket HAVING COUNT(*) <= 200
),
capped AS (
  SELECT bands.* FROM bands JOIN ok_buckets USING (band, bucket)
),
cand AS (
  SELECT DISTINCT a.k AS ka, b.k AS kb
  FROM capped a JOIN capped b ON a.band = b.band AND a.bucket = b.bucket AND a.k < b.k
),
qual AS (
  SELECT ka, kb
  FROM cand JOIN snodes na ON na.k = ka JOIN snodes nb ON nb.k = kb
  WHERE CAST(LEN(LIST_FILTER(GENERATE_SERIES(1, 32), i -> na.sig[i] = nb.sig[i])) AS DOUBLE) / 32 >= 0.8
),
contrib AS (
  SELECT split AS split_a, split AS split_b, FALSE AS is_leak,
         CAST(n * (n - 1) // 2 AS BIGINT) AS c
  FROM groups
  UNION ALL
  SELECT a.split, b.split, TRUE, CAST(a.n * b.n AS BIGINT)
  FROM groups a JOIN groups b ON a.k = b.k AND a.split < b.split
  UNION ALL
  SELECT LEAST(g1.split, g2.split), GREATEST(g1.split, g2.split),
         g1.split != g2.split, CAST(g1.n * g2.n AS BIGINT)
  FROM qual
  JOIN groups g1 ON g1.k = qual.ka
  JOIN groups g2 ON g2.k = qual.kb
)
SELECT split_a, split_b, is_leak, CAST(SUM(c) AS BIGINT) AS n_pairs
FROM contrib
GROUP BY 1, 2, 3
HAVING SUM(c) > 0
ORDER BY split_a, split_b, is_leak
"""


def dedup_lsh_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning diagnostic: the distribution of estimated
    Jaccard over LSH candidate pairs (md5 family), as (matches,
    n_pairs, cum_pairs) with matches = #agreeing signature components
    (est = matches/32). The cumulative column reads directly as
    "pairs you'd keep at threshold m/32" — the sweep every dedup
    rollout runs before committing to a threshold, in ONE pass.

    Signature-collapsed (the split_leakage_check construction):
    identical signatures pair at matches=32 with closed-form C(n,2)
    counts — no enumeration — and only DISTINCT signatures enter the
    banded candidate join (hot-bucket cap at the signature level), so
    a duplicated corpus collapses before any join (doc-level form:
    7.1× wall for 10× data on the 10×-copied corpus). Exact integers
    end-to-end; the oracle mirrors the signature-level formulation."""
    from pyspark.sql import Window

    from .minhash import band_buckets, cap_hot_buckets, portable_signatures

    docs = load_table(spark, "documents", sf_dir)
    # bare-node persist: shares one signature materialization with
    # split_leakage_check in the same session (see that gate's note)
    raw_sig = portable_signatures(docs).persist()
    sig = raw_sig.select("doc", "sig", F.md5(F.concat_ws("", "sig")).alias("k"))
    groups = sig.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    # eager checkpoint: same multi-consumer rationale as the leakage
    # gate (hot-count branch + both band-join sides + verify joins)
    snodes = sig.select(F.col("k").alias("doc"), "sig").dropDuplicates(
        ["doc"]
    ).localCheckpoint(eager=True)

    # identical signatures: all 32 components agree, C(n, 2) pairs
    within = groups.select(
        F.lit(32).alias("matches"),
        (F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("c"),
    )

    bb = cap_hot_buckets(band_buckets(snodes, portable=True), 200)
    left = bb.select(F.col("doc").alias("ka"), "band", "bucket")
    right = bb.select(F.col("doc").alias("kb"), "band", "bucket")
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("ka") < F.col("kb"))
        .select("ka", "kb")
        .distinct()
    )
    sa = snodes.select(F.col("doc").alias("ka"), F.col("sig").alias("sig_a"))
    sb = snodes.select(F.col("doc").alias("kb"), F.col("sig").alias("sig_b"))
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    g1 = groups.select(F.col("k").alias("ka"), F.col("n").alias("n1"))
    g2 = groups.select(F.col("k").alias("kb"), F.col("n").alias("n2"))
    cross = (
        cand.join(sa, "ka")
        .join(sb, "kb")
        .select("ka", "kb", matches.alias("matches"))
        .join(g1, "ka")
        .join(g2, "kb")
        .select("matches", (F.col("n1") * F.col("n2")).cast("long").alias("c"))
    )
    hist = (
        within.unionByName(cross)
        .groupBy("matches")
        .agg(F.sum("c").alias("n_pairs"))
        .filter(F.col("n_pairs") > 0)
    )
    w = Window.orderBy(F.col("matches").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # ≤ 33 rows: the global window is bounded by the signature width,
    # not the corpus — single-partition is correct here.
    return (
        hist.withColumn("cum_pairs", F.sum("n_pairs").over(w))
        .select(
            F.col("matches").cast("long").alias("matches"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("cum_pairs").cast("long").alias("cum_pairs"),
        )
        .orderBy("matches")
    )


DEDUP_LSH_THRESHOLD_SWEEP_SQL = r"""
WITH words AS (
  SELECT doc_id, LIST_FILTER(STRING_SPLIT_REGEX(text, '\s+'), w -> w != '') AS ws FROM documents
),
sh AS (
  SELECT DISTINCT doc_id AS doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM words, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 2, 0))) AS i)
),
perms AS (
  SELECT doc, k, MIN(MD5(CAST(k AS VARCHAR) || '|' || shingle)) AS m
  FROM sh CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 31)) AS k)
  GROUP BY doc, k
),
sig AS (SELECT doc, LIST(m ORDER BY k) AS sig FROM perms GROUP BY doc),
keyed AS (SELECT doc, sig, MD5(ARRAY_TO_STRING(sig, '')) AS k FROM sig),
groups AS (SELECT k, COUNT(*) AS n FROM keyed GROUP BY k),
snodes AS (SELECT k, FIRST(sig) AS sig FROM keyed GROUP BY k),
bands AS (
  SELECT k, b AS band, MD5(ARRAY_TO_STRING(sig[b*4+1:b*4+4], '')) AS bucket
  FROM snodes CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 7)) AS b)
),
ok_buckets AS (
  SELECT band, bucket FROM bands GROUP BY band, bucket HAVING COUNT(*) <= 200
),
capped AS (
  SELECT bands.* FROM bands JOIN ok_buckets USING (band, bucket)
),
cand AS (
  SELECT DISTINCT a.k AS ka, b.k AS kb
  FROM capped a JOIN capped b ON a.band = b.band AND a.bucket = b.bucket AND a.k < b.k
),
cross_pairs AS (
  SELECT CAST(LEN(LIST_FILTER(GENERATE_SERIES(1, 32), i -> na.sig[i] = nb.sig[i])) AS BIGINT) AS matches,
         CAST(g1.n * g2.n AS BIGINT) AS c
  FROM cand
  JOIN snodes na ON na.k = ka JOIN snodes nb ON nb.k = kb
  JOIN groups g1 ON g1.k = ka JOIN groups g2 ON g2.k = kb
),
contrib AS (
  SELECT CAST(32 AS BIGINT) AS matches, CAST(n * (n - 1) // 2 AS BIGINT) AS c FROM groups
  UNION ALL
  SELECT matches, c FROM cross_pairs
),
hist AS (
  SELECT matches, SUM(c) AS n_pairs FROM contrib GROUP BY matches HAVING SUM(c) > 0
)
SELECT CAST(matches AS BIGINT) AS matches,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(SUM(n_pairs) OVER (ORDER BY matches DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pairs
FROM hist
ORDER BY matches
"""


def dedup_sketch_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality evaluation: MinHash+LSH pairs (D2, md5 family,
    capped buckets) scored against EXACT n-gram Jaccard pairs (D4) —
    one row: pair counts, overlap, and precision/recall in integer
    ppm. This is the number that justifies trusting the sketch at
    corpus scale, measured ON THE CORPUS instead of quoted from LSH
    theory; run it on a sample before every dedup rollout.

    Composition of two fully-oracled pipelines; the comparison is an
    exact full-outer join on the (id_a, id_b) pair keys.

    Defined over DISTINCT texts (min doc_id as the representative,
    both engines): exact duplicates carry ZERO information about
    sketch quality — identical texts have identical signatures and
    Jaccard 1, so every copy-pair lands in n_both by construction and
    only inflates all three counts by the same quadratic C(copies, 2)
    mass (measured before the collapse: 11.3× wall for the 10× step
    to the 100×-duplicated sf10 — the pair-join was materializing two
    quadratic doc-pair lists to count them). Collapsed, the metric is
    the same precision/recall signal on any mostly-distinct corpus
    and the evaluation stays pair-OUTPUT-free at every duplication
    factor (sf10 step ratio 11.3 → linear-in-distinct-texts)."""
    docs = load_table(spark, "documents", sf_dir)
    # repartition after the collapse: AQE coalesces the small
    # post-groupBy shuffle to ~1 partition by byte size, which would
    # serialize the downstream per-row shingle/signature compute
    # (the docs_winnowing_matches lesson — see that gate's note)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    reps = (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "text")
        .repartition(n_parts, "doc_id")
    )
    exact = jaccard_pairs(reps, threshold=THRESHOLD).select(
        "id_a", "id_b", F.lit(1).alias("in_exact")
    )
    sketch = minhash_near_dup_pairs(
        reps, threshold=THRESHOLD, hash_fn="md5", max_bucket_size=200
    ).select("id_a", "id_b", F.lit(1).alias("in_sketch"))
    joined = exact.join(sketch, ["id_a", "id_b"], "full_outer")
    return joined.agg(
        F.sum(F.coalesce(F.col("in_exact"), F.lit(0))).cast("long").alias("n_exact"),
        F.sum(F.coalesce(F.col("in_sketch"), F.lit(0))).cast("long").alias("n_sketch"),
        F.sum(
            F.when(
                F.col("in_exact").isNotNull() & F.col("in_sketch").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_both"),
    ).select(
        "n_exact",
        "n_sketch",
        "n_both",
        F.expr("n_both * 1000000 div greatest(n_sketch, 1)").alias("precision_ppm"),
        F.expr("n_both * 1000000 div greatest(n_exact, 1)").alias("recall_ppm"),
    )


DEDUP_SKETCH_EVAL_SQL = (
    "WITH "
    # text-collapsed corpus: the evaluation is defined over distinct
    # texts (min doc_id as representative) on BOTH engines
    + _MINHASH_PAIR_CTES.strip().replace(
        "FROM documents",
        "FROM (SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text)",
        1,
    )
    + r""",
sketch AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.8),
jsizes AS (SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc),
jinter AS (
  SELECT a.doc AS id_a, b.doc AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
),
exact AS (
  SELECT id_a, id_b
  FROM jinter
  JOIN jsizes sa ON sa.doc = id_a
  JOIN jsizes sb ON sb.doc = id_b
  WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.8
),
joined AS (
  SELECT COALESCE(e.id_a, s.id_a) AS id_a,
         COALESCE(e.id_b, s.id_b) AS id_b,
         e.id_a IS NOT NULL AS in_exact,
         s.id_a IS NOT NULL AS in_sketch
  FROM exact e FULL OUTER JOIN sketch s ON e.id_a = s.id_a AND e.id_b = s.id_b
)
SELECT CAST(SUM(CASE WHEN in_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN in_sketch THEN 1 ELSE 0 END) AS BIGINT) AS n_sketch,
       CAST(SUM(CASE WHEN in_exact AND in_sketch THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       CAST(SUM(CASE WHEN in_exact AND in_sketch THEN 1 ELSE 0 END) * 1000000
            // GREATEST(SUM(CASE WHEN in_sketch THEN 1 ELSE 0 END), 1) AS BIGINT) AS precision_ppm,
       CAST(SUM(CASE WHEN in_exact AND in_sketch THEN 1 ELSE 0 END) * 1000000
            // GREATEST(SUM(CASE WHEN in_exact THEN 1 ELSE 0 END), 1) AS BIGINT) AS recall_ppm
FROM joined
"""
)


# ─────────────── D20: containment near-dup pairs ───────────────


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: directed Broder-containment pairs C(A,B) ≥ 0.9 over the
    documents corpus — the subset/quote-duplication screen D4's
    symmetric Jaccard cannot see (dedup/jaccard.py containment_pairs:
    always-collapse + one-sided prefix filter + exact verify)."""
    from .jaccard import containment_pairs

    docs = load_table(spark, "documents", sf_dir)
    return containment_pairs(docs, threshold=0.9).orderBy("id_a", "id_b")


DEDUP_CONTAINMENT_SQL = r"""
WITH words AS (
  SELECT doc_id, LIST_FILTER(STRING_SPLIT_REGEX(text, '\s+'), w -> w != '') AS ws FROM documents
),
sh AS (
  SELECT DISTINCT doc_id AS doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM words, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 2, 0))) AS i)
),
sizes AS (SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS id_a, b.doc AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc != b.doc
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(c AS DOUBLE) / sa.sz, 6) AS containment
FROM inter
JOIN sizes sa ON sa.doc = id_a
WHERE c * 1000000 >= sa.sz * 900000
ORDER BY id_a, id_b
"""


# ─────────────── D21: containment sketch eval ───────────────


def dedup_containment_sketch_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: bottom-32 min-wise containment estimates vs D20 exact on
    every directed pair ≥ 0.5 — the measured sketch-vs-exact trade of
    the containment scale path (jaccard.containment_sketch_eval)."""
    from .jaccard import containment_sketch_eval

    docs = load_table(spark, "documents", sf_dir)
    return containment_sketch_eval(docs, threshold=0.5)


DEDUP_CONTAINMENT_SKETCH_EVAL_SQL = r"""
WITH words AS (
  SELECT doc_id, LIST_FILTER(STRING_SPLIT_REGEX(text, '\s+'), w -> w != '') AS ws FROM documents
),
sh AS (
  SELECT DISTINCT doc_id AS doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM words, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 2, 0))) AS i)
),
sizes AS (SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS id_a, b.doc AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc != b.doc
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b,
         CAST(FLOOR(ROUND(CAST(c AS DOUBLE) / sa.sz, 6) * 1000000 + 0.5) AS BIGINT) AS exact_ppm
  FROM inter JOIN sizes sa ON sa.doc = id_a
  WHERE c * 1000000 >= sa.sz * 500000
),
sampled AS (
  SELECT doc AS id_a, shingle FROM (
    SELECT doc, shingle,
           ROW_NUMBER() OVER (
             PARTITION BY doc
             ORDER BY CAST(CONCAT('0x', SUBSTR(MD5(shingle), 1, 8)) AS BIGINT) ASC, shingle ASC
           ) AS rn
    FROM sh
  ) WHERE rn <= 32
),
ks AS (SELECT id_a, COUNT(*) AS ks FROM sampled GROUP BY id_a),
hits AS (
  SELECT p.id_a, p.id_b, COUNT(*) AS hits
  FROM pairs p
  JOIN sampled s ON s.id_a = p.id_a
  WHERE EXISTS (SELECT 1 FROM sh b WHERE b.doc = p.id_b AND b.shingle = s.shingle)
  GROUP BY p.id_a, p.id_b
)
SELECT p.id_a, p.id_b, p.exact_ppm,
       CAST(CAST(COALESCE(h.hits, 0) AS HUGEINT) * 1000000 // k.ks AS BIGINT) AS est_ppm,
       CAST(ABS(p.exact_ppm - CAST(COALESCE(h.hits, 0) AS HUGEINT) * 1000000 // k.ks) AS BIGINT) AS abs_err_ppm
FROM pairs p
LEFT JOIN hits h ON h.id_a = p.id_a AND h.id_b = p.id_b
JOIN ks k ON k.id_a = p.id_a
ORDER BY p.id_a, p.id_b
"""
