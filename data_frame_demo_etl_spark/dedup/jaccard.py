"""Exact n-gram Jaccard near-duplicate pairs.

Default algorithm: **prefix-filtered set-similarity join** (the
AllPairs/PPJoin principle). For a Jaccard threshold t, two sets can
only reach t if their prefixes — the first ``⌊(1−t)·|x|⌋+1`` elements
under one global total order (rarest shingle first) — intersect. So:

1. explode distinct shingles, hash to 64-bit (long equi-joins, small
   shuffle payloads),
2. rank each doc's shingles by global frequency (rare-first),
3. self-join ONLY the prefixes → candidate pairs (plus a length
   filter: |x|/|y| ≥ t is necessary),
4. verify candidates exactly with a sorted-array intersection.

Versus the naive shingle self-join this cuts pair generation by orders
of magnitude on low-entropy corpora — the difference between a join
that fits in memory and one that spills at 100 TB. The naive path is
kept for cross-validation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .shingling import shingle_hash_table, shingles


def shingle_table(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc"), F.explode(shingles(F.col(text_col), n)).alias("shingle")
    )


def _hashed_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    # Hash word tuples directly — no shingle strings are ever built.
    # (xxhash64 collisions are ~1e-19 at realistic shingle counts.)
    return shingle_hash_table(df, id_col, text_col, n)


def _collapse_exact_texts(keyed: DataFrame) -> DataFrame:
    """(__tk, __rep, __text, __ids) — one row per DISTINCT text of the
    (__id, __text) input: representative = min id, __ids = the sorted
    member-id list. r12: this replaces the md5-keyed WINDOW the
    collapse paths used — the window shuffled every row's full TEXT
    payload and sorted it, just to stamp a per-group min id; the
    groupBy ships map-side PARTIAL aggregates instead (ids + one text
    copy per distinct text per map task — §2.3 shuffle metadata, not
    payloads). Same degenerate bound as the window: a text duplicated
    d times puts d ids in one aggregation buffer exactly as the window
    put d rows in one partition — but ids are 8 bytes, not documents.
    Persisted; the CALLER releases (session cache policy)."""
    # Two steps so TEXT never rides the aggregation buffers (measured
    # at sf1: min_by(text) in the agg held one text per group per map
    # task and cost ~17% on the containment gate): the groupBy carries
    # ids only, then ONE equi-join on the unique rep id fetches the
    # representative's text — text crosses the wire once, exactly as
    # the old window shuffle did, without the window's sort.
    g = keyed.groupBy(F.md5("__text").alias("__tk")).agg(
        F.min("__id").alias("__rep"),
        F.sort_array(F.collect_list("__id")).alias("__ids"),
    )
    return g.join(
        keyed.select(F.col("__id").alias("__rep"), "__text"), "__rep"
    ).persist()


def _inrow_pairs(ids: Column, directed: bool) -> Column:
    """All member pairs of one duplicate group, expanded IN-ROW from
    the sorted id array (the minhash combos pattern) — no members
    self-join. Undirected: (ids[i], ids[j]) for i < j, by VALUE
    (y != x guards the degenerate duplicated-id input, where pairing
    array POSITIONS alone would emit an (x, x) self-pair the former
    members self-join's __da < __db filter excluded); directed: both
    orders, x != y."""
    if directed:
        return F.flatten(
            F.transform(
                ids,
                lambda x: F.transform(
                    F.filter(ids, lambda y: y != x),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.filter(F.slice(ids, i + 2, F.size(ids)), lambda y: y != x),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """(id_a, id_b, jaccard) for all pairs with Jaccard >= threshold —
    exact result.

    Identical texts are collapsed to one REPRESENTATIVE before the
    prefix-filtered join and expanded back afterwards: a corpus with d
    exact copies per document otherwise defeats the prefix filter
    (identical prefixes always collide → C(d,2) candidates per doc;
    measured 36× wall for 10× data on a 10×-duplicated corpus, vs 3.4×
    after the collapse). Within a text group every pair is Jaccard 1.0
    by construction; cross-group pairs take their representatives'
    exact score. Output is row-for-row what the uncollapsed join
    produces (shingle-less docs — texts shorter than n words — never
    pair in either formulation and are filtered up front).

    When duplication is negligible the collapse buys nothing and
    costs one md5-keyed shuffle plus two expansion joins, so it is
    SKIPPED after one cheap count/count-distinct agg. The skip bound
    is a conservative heuristic, not a worst case: with
    dup = n_rows − n_distinct_texts excess copies, C(dup+1, 2) counts
    the copy-copy candidate pairs even if every copy concentrates on
    ONE text, but d copies of a text ALSO multiply that text's
    candidates against each of its prefix-neighbors (d × neighbors
    extra verify rows, unbounded by C(dup+1, 2) when the duplicated
    text is prefix-dense). When C(dup+1, 2) ≤ n_rows the copy-copy
    term is bounded by the corpus scan we are already paying and —
    because dup ≤ O(√n_rows) then caps the neighbor multiplier at
    √n_rows — the direct path is safe for the mostly-distinct corpora
    it targets. Heavier duplication takes the collapsed path that
    keeps the 10×-duplicated corpus linear. Results are identical on
    both paths; the bound affects performance only."""
    # ≥1 shingle ⟺ ≥ n words: the word-count test avoids building
    # the shingle strings just to count them.
    from .shingling import word_array

    keyed = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
    ).filter(F.size(word_array(F.col(text_col))) >= n)
    card = keyed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.md5("__text")).alias("n_texts"),
    ).collect()[0]
    dup = int(card["n_rows"]) - int(card["n_texts"])
    if dup * (dup + 1) // 2 <= int(card["n_rows"]):
        return _jaccard_pairs_uncollapsed(
            keyed.select(
                F.col("__id").alias(id_col), F.col("__text").alias(text_col)
            ),
            id_col,
            text_col,
            n,
            threshold,
        )
    groups = _collapse_exact_texts(keyed)
    reps = groups.select(
        F.col("__rep").alias(id_col), F.col("__text").alias(text_col)
    )
    rep_pairs = _jaccard_pairs_uncollapsed(reps, id_col, text_col, n, threshold)

    # Within-group pairs expand IN-ROW from the sorted member-id array
    # (every pair is Jaccard 1.0 by construction) — the former members
    # self-join shuffled the member table twice for the same set.
    within = groups.select(
        F.explode(_inrow_pairs(F.col("__ids"), directed=False)).alias("p")
    ).select(
        F.col("p.id_a").alias("id_a"),
        F.col("p.id_b").alias("id_b"),
        F.round(F.lit(1.0), 6).alias("jaccard"),
    )
    members = groups.select("__rep", F.explode("__ids").alias("__id"))
    ma = members.select(F.col("__rep").alias("id_a"), F.col("__id").alias("__da"))
    mb = members.select(F.col("__rep").alias("id_b"), F.col("__id").alias("__db"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("__da", "__db").alias("id_a"),
            F.greatest("__da", "__db").alias("id_b"),
            "jaccard",
        )
    )
    return within.unionByName(cross)


def _jaccard_pairs_uncollapsed(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """(id_a, id_b, jaccard), prefix-filtered candidate generation —
    assumes distinct texts (jaccard_pairs collapses first)."""
    # Persist: five downstream branches (freq, ranking, sizes, prefix,
    # docsets) would otherwise each re-run the shingling expressions —
    # the dominant cost of the whole operator.
    sh = _hashed_shingles(df, id_col, text_col, n).persist()

    # Global rare-first total order on shingles. The per-doc window
    # that assigns rank also carries the doc's shingle count (same
    # partition key → same single shuffle), so there is no separate
    # sizes aggregation, no sizes join, and no question of
    # broadcasting a table that grows with the corpus.
    freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("freq"))
    wdoc = Window.partitionBy("doc")
    ranked = (
        sh.join(freq, "h")
        .withColumn(
            "rn",
            F.row_number().over(wdoc.orderBy(F.col("freq").asc(), F.col("h").asc())),
        )
        .withColumn("sz", F.count(F.lit(1)).over(wdoc))
    )
    with_sz = ranked
    # Prefix length sz − ⌈t·sz⌉ + 1, in EXACT integer arithmetic.
    # Naive float floor((1−t)·sz)+1 silently shrinks the prefix when
    # (1−t)·sz lands just under an integer (e.g. 0.2·10 →
    # 1.9999999999999996), which breaks the AllPairs guarantee and
    # drops true pairs sitting exactly at the threshold.
    scale = 1_000_000
    t_num = int(round(threshold * scale))
    ceil_t_sz = F.floor((F.col("sz") * t_num + (scale - 1)) / scale)
    prefix = with_sz.filter(
        F.col("rn") <= F.col("sz") - ceil_t_sz + 1
    ).select("doc", "h", "sz")

    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), F.col("a.h") == F.col("b.h"))
        .filter(F.col("a.doc") < F.col("b.doc"))
        # Length filter: J >= t ⇒ min/max sizes ratio >= t (exact
        # integer comparison for the same reason as above).
        .filter(F.least("a.sz", "b.sz") * scale >= F.greatest("a.sz", "b.sz") * t_num)
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )

    docsets = sh.groupBy("doc").agg(F.sort_array(F.collect_list("h")).alias("hs"))
    da = docsets.select(F.col("doc").alias("id_a"), F.col("hs").alias("hs_a"))
    db = docsets.select(F.col("doc").alias("id_b"), F.col("hs").alias("hs_b"))
    verified = (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("hs_a", "hs_b")).alias("inter"),
            F.size("hs_a").alias("sz_a"),
            F.size("hs_b").alias("sz_b"),
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified


def jaccard_pairs_naive(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Reference implementation: full shingle self-join. Used to
    cross-validate the prefix-filtered path; ``max_shingle_freq``
    optionally drops ubiquitous shingles before pair generation."""
    sh = _hashed_shingles(df, id_col, text_col, n)
    if max_shingle_freq is not None:
        # join strategy left to AQE — the over-cap key set is not
        # constant-bounded (see minhash.cap_hot_buckets).
        hot = sh.groupBy("h").count().filter(F.col("count") > max_shingle_freq)
        sh = sh.join(hot.select("h"), "h", "left_anti")
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))

    a = sh.select(F.col("doc").alias("id_a"), "h")
    b = sh.select(F.col("doc").alias("id_b"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # NB: `sizes` grows with the corpus — no broadcast hint here (a
    # force-broadcast OOMs the driver at scale; AQE may still choose a
    # broadcast join when the table is actually small).
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
    prefix_df_cap: int | None = None,
) -> DataFrame:
    """(id_a, id_b, containment) for all DIRECTED pairs with
    Broder containment C(A,B) = |A∩B| / |A| ≥ threshold — the
    ASYMMETRIC near-dup criterion Jaccard misses: a quote, excerpt or
    boilerplate block fully embedded in a much larger document has
    C(quote, host) ≈ 1 while Jaccard ≈ |quote|/|host| ≈ 0. This is
    the subset-duplication screen (the relation JOSIE/LSH-Ensemble
    index at web scale); D4 answers "same document?", D20 "is one
    inside the other?".

    Construction: identical texts ALWAYS collapse to a representative
    first (unlike D4's conditional skip — containment's candidate join
    is one-sided, so exact copies would multiply full posting lists,
    not just prefixes); within a text group every directed pair is
    containment 1.0, cross-group pairs take their representatives'
    exact score (valid because C(A,B) depends only on the two texts —
    direction survives expansion). Rep-level candidates use the
    one-sided prefix filter: with prefix = the first
    |A| − ⌈t·|A|⌉ + 1 shingles of A in the global rare-first order,
    C(A,B) ≥ t requires a prefix shingle of A to appear ANYWHERE in B
    (if all prefix shingles miss, the remaining ⌈t|A|⌉ − 1 shingles
    cannot reach t|A|) — so the join is A-prefix against the FULL
    shingle table, then exact sorted-array verification with the
    threshold compared in integers (inter·10⁶ ≥ |A|·t·10⁶ — no float
    knife-edge). ⌈t·|A|⌉ uses the same exact integer ceiling as D4.

    Scale note (MEASURED bound, SCALING.md round-8 boilerplate
    harness, hostile corpus): the one-sided join's output is
    Σ_h prefix_df(h)·df(h). Rare-first ordering keeps prefix_df small
    on natural corpora, but a corpus whose docs are DISTINCT texts
    built entirely from a tiny hot vocabulary (every shingle
    corpus-ubiquitous — the all-boilerplate worst case the distinct-
    text collapse cannot shield) makes the candidate join Θ(n²/k³):
    measured step ratios ≈ (size ratio)², SCALING.md. That blowup is
    inherent to EXACT prefix-filter containment (any pair sharing a
    prefix token must be verified); the 100 TB treatment is
    ``prefix_df_cap`` — the K8 hot-block discipline: a rep whose
    prefix contains ANY shingle with document frequency above the cap
    is DIVERTED (its candidates are unprunable), reported with
    containment = NULL as a (id, NULL, NULL) quarantine row, never
    silently dropped; all other pairs stay exact. A pipeline handling
    quarantined docs removes their boilerplate first (D18) and
    re-runs. Default None = exact everywhere (the oracle-backed gate
    shape)."""
    from .shingling import word_array

    keyed = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
    ).filter(F.size(word_array(F.col(text_col))) >= n)
    groups = _collapse_exact_texts(keyed)
    reps = groups.select(
        F.col("__rep").alias(id_col), F.col("__text").alias(text_col)
    )

    sh = _hashed_shingles(reps, id_col, text_col, n).persist()
    freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("freq"))
    wdoc = Window.partitionBy("doc")
    ranked = (
        sh.join(freq, "h")
        .withColumn(
            "rn",
            F.row_number().over(wdoc.orderBy(F.col("freq").asc(), F.col("h").asc())),
        )
        .withColumn("sz", F.count(F.lit(1)).over(wdoc))
    )
    scale = 1_000_000
    t_num = int(round(threshold * scale))
    ceil_t_sz = F.floor((F.col("sz") * t_num + (scale - 1)) / scale)
    prefix_full = ranked.filter(F.col("rn") <= F.col("sz") - ceil_t_sz + 1).select(
        F.col("doc").alias("__a"), "h", "freq"
    )
    quarantined = None
    if prefix_df_cap is not None:
        # K8 hot-block treatment: a rep with ANY over-cap prefix
        # shingle cannot be pruned (its candidate list is Θ(df) ≥ cap
        # per hot token) — divert it, account for it, keep the rest
        # exact. The diverted rep still serves as id_b for others.
        quarantined = (
            prefix_full.filter(F.col("freq") > prefix_df_cap)
            .select(F.col("__a"))
            .distinct()
        )
        prefix_full = prefix_full.join(quarantined, "__a", "left_anti")
    prefix = prefix_full.select("__a", "h")
    cand = (
        prefix.join(sh.select(F.col("doc").alias("__b"), "h"), "h")
        .filter(F.col("__a") != F.col("__b"))
        .select(F.col("__a").alias("id_a"), F.col("__b").alias("id_b"))
        .distinct()
    )
    docsets = sh.groupBy("doc").agg(F.sort_array(F.collect_list("h")).alias("hs"))
    da = docsets.select(F.col("doc").alias("id_a"), F.col("hs").alias("hs_a"))
    db = docsets.select(F.col("doc").alias("id_b"), F.col("hs").alias("hs_b"))
    rep_pairs = (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("hs_a", "hs_b")).alias("inter"),
            F.size("hs_a").alias("sz_a"),
        )
        .filter(F.col("inter") * scale >= F.col("sz_a") * t_num)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("inter").cast("double") / F.col("sz_a"), 6).alias(
                "containment"
            ),
        )
    )

    members = groups.select("__rep", F.explode("__ids").alias("__id"))
    # Directed within-group pairs (both orders) expand IN-ROW from the
    # member-id array — no members self-join.
    within = groups.select(
        F.explode(_inrow_pairs(F.col("__ids"), directed=True)).alias("p")
    ).select(
        F.col("p.id_a").alias("id_a"),
        F.col("p.id_b").alias("id_b"),
        F.round(F.lit(1.0), 6).alias("containment"),
    )
    ma = members.select(F.col("__rep").alias("id_a"), F.col("__id").alias("__da"))
    mb = members.select(F.col("__rep").alias("id_b"), F.col("__id").alias("__db"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.col("__da").alias("id_a"),
            F.col("__db").alias("id_b"),
            "containment",
        )
    )
    out = within.unionByName(cross)
    if quarantined is not None:
        id_b_type = dict(out.dtypes)["id_b"]
        quar_rows = quarantined.join(
            members.select(F.col("__rep").alias("__a"), "__id"), "__a"
        ).select(
            F.col("__id").alias("id_a"),
            F.lit(None).cast(id_b_type).alias("id_b"),
            F.lit(None).cast("double").alias("containment"),
        )
        out = out.unionByName(quar_rows)
    return out


#: Bottom-k sample size for the containment sketch (D21).
CONTAINMENT_SKETCH_K = 32


def containment_sketch_eval(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = CONTAINMENT_SKETCH_K,
    threshold: float = 0.5,
) -> DataFrame:
    """Sketch-vs-exact evaluation of CONTAINMENT estimation — D20's
    scale path, measured (the D15 convention): at 100 TB you don't
    verify every candidate with a full sorted-array intersection; you
    sample each document's k smallest-hash shingles (Broder's min-wise
    sample) and probe them against the other side's shingle SET —
    Ĉ(A,B) = hits/k is an unbiased estimate of |A∩B|/|A| because the
    bottom-k by a uniform hash is a uniform sample of A's shingles.

    Layering: the EXACT side is the D20 operator itself
    (containment_pairs at the eval threshold — prefix-filtered, no
    pair scan); the estimate probes each pair's sampled A-shingles
    against B's shingle set, bounded by pairs·k rows. Sample hashes
    ride the engine-portable md5 grid with a (hash, shingle) total
    tie-break, so both engines draw the identical sample; estimates
    are exact integers (hits·10⁶ div k, with ks = min(k, |A|)).

    Scale shape: D20's plan for the pairs, one shingle explode over
    the pair-participating docs (semi-join bounded), a per-DOC
    bottom-k row_number window (documents are plentiful — the
    high-cardinality case where the per-key window parallelizes),
    one (doc, shingle) equi-join probe. No cross joins anywhere."""
    pairs = containment_pairs(df, id_col, text_col, n, threshold).select(
        "id_a", "id_b", F.floor(F.col("containment") * 1_000_000 + F.lit(0.5)).cast("long").alias("exact_ppm")
    )
    ids = (
        pairs.select(F.col("id_a").alias("d"))
        .unionByName(pairs.select(F.col("id_b").alias("d")))
        .distinct()
    )
    eligible = df.join(ids, df[id_col] == ids.d, "left_semi")
    sh = shingle_table(eligible, id_col, text_col, n).persist()
    hashed = sh.withColumn(
        "h",
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("long"),
    )
    wdoc = Window.partitionBy("doc").orderBy(F.col("h").asc(), F.col("shingle").asc())
    sampled = (
        hashed.withColumn("rn", F.row_number().over(wdoc))
        .filter(F.col("rn") <= k)
        .select(F.col("doc").alias("id_a"), "shingle")
    )
    probe = pairs.select("id_a", "id_b").join(sampled, "id_a")
    b_side = sh.select(F.col("doc").alias("id_b"), "shingle")
    hits = (
        probe.join(b_side, ["id_b", "shingle"], "left_semi")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    n_sampled = sampled.groupBy("id_a").agg(F.count(F.lit(1)).alias("ks"))
    return (
        pairs.join(hits, ["id_a", "id_b"], "left")
        .join(n_sampled, "id_a")
        .select(
            "id_a",
            "id_b",
            "exact_ppm",
            F.expr(
                "cast(coalesce(hits, 0) as decimal(38,0)) * 1000000 div ks"
            )
            .cast("long")
            .alias("est_ppm"),
        )
        .withColumn("abs_err_ppm", F.abs(F.col("exact_ppm") - F.col("est_ppm")))
        .orderBy("id_a", "id_b")
    )
