from __future__ import annotations

from pyspark.sql import functions as F

from data_frame_demo_etl_spark.similarity.ann import brute_force_topk, lsh_topk
from data_frame_demo_etl_spark.sources.catalog import load_table


def test_brute_force_self_similarity_excluded(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    res = brute_force_topk(emb, q, k=4).collect()
    assert all(r.neighbor_id != r.query_id for r in res)
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        assert [r.rank for r in sorted(rows, key=lambda x: x.rank)] == [1, 2, 3, 4]
        cosines = [r.cosine for r in sorted(rows, key=lambda x: x.rank)]
        assert cosines == sorted(cosines, reverse=True)


def test_lsh_topk_subset_of_bruteforce_candidates(spark, sf_dir):
    """LSH neighbors must be genuine corpus vectors with correct
    cosine values (spot check against brute force scores)."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in brute_force_topk(emb, q, k=1000).collect()
    }
    approx = lsh_topk(emb, q, dim=64, k=5).collect()
    for r in approx:
        assert (r.query_id, r.neighbor_id) in exact
        assert abs(exact[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-9


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    from data_frame_demo_etl_spark.similarity.ivf import fit_ivf, ivf_topk

    emb = load_table(spark, "embeddings", sf_dir)
    assigned, centroids = fit_ivf(emb, k=8)
    q_pd = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).toPandas()
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(assigned, centroids, q_pd, k=5, nprobe=4).collect()
    }
    q = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(emb, q, k=5).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_embedding_near_dup_recall(spark, sf_dir):
    """LSH-bucketed embedding near-dup pairs vs exhaustive cosine:
    every emitted pair must be correct; recall over true pairs ≥ 0.5
    (single 8-plane table; production would OR multiple tables)."""
    from data_frame_demo_etl_spark.similarity.ann import embedding_near_dup_pairs
    from data_frame_demo_etl_spark.functions.vectors import cosine as cos_expr

    emb = load_table(spark, "embeddings", sf_dir)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    exact = {
        (r.id_a, r.id_b)
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos_expr(F.col("va"), F.col("vb")).alias("c"))
        .filter(F.col("c") >= 0.9)
        .collect()
    }
    approx = {(r.id_a, r.id_b) for r in embedding_near_dup_pairs(emb, dim=64, threshold=0.9).collect()}
    assert approx <= exact or not exact
    if exact:
        assert len(approx & exact) / len(exact) >= 0.5


def test_tfidf_retrieval_finds_planted_twin(spark, sf_oracle_dir):
    """Near-duplicate documents (exact jaccard >= 0.9 pairs) must
    retrieve each other at rank 1 via TF-IDF cosine."""
    from data_frame_demo_etl_spark.dedup.jaccard import jaccard_pairs
    from data_frame_demo_etl_spark.similarity.text_retrieval import retrieval_topk

    # Long docs only: the synthetic corpus has a ~30-word vocabulary,
    # so short documents carry no lexical signal; IDF is likewise
    # degenerate here (ubiquitous terms → ~zero weights), hence
    # use_idf=False (binary set-cosine).
    docs = load_table(spark, "documents", sf_oracle_dir).filter(F.col("n_chars") >= 300)
    pairs = jaccard_pairs(docs, threshold=0.9).collect()
    assert pairs, "expected planted near-dups in testdata"
    partners: dict[int, set[int]] = {}
    for p in pairs:
        partners.setdefault(int(p.id_a), set()).add(int(p.id_b))
        partners.setdefault(int(p.id_b), set()).add(int(p.id_a))
    query_ids = sorted(partners)[:6]
    res = retrieval_topk(docs, query_ids, k=5, use_idf=False).collect()
    top5: dict[int, set[int]] = {}
    for r in res:
        top5.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(1 for q in query_ids if partners[q] & top5.get(q, set()))
    assert hits >= len(query_ids) - 2, (top5, {q: partners[q] for q in query_ids})

    # The md5-bucket portable vectorizer (the oracle-backed gate path)
    # must find the planted twins too.
    from data_frame_demo_etl_spark.similarity.text_retrieval import portable_retrieval_topk

    pres = portable_retrieval_topk(docs, query_ids, k=5).collect()
    ptop5: dict[int, set[int]] = {}
    for r in pres:
        ptop5.setdefault(r.query_id, set()).add(r.neighbor_id)
    phits = sum(1 for q in query_ids if partners[q] & ptop5.get(q, set()))
    assert phits >= len(query_ids) - 2, (ptop5, {q: partners[q] for q in query_ids})


def test_covariance_paths_agree(spark, sf_oracle_dir):
    """mapInPandas sufficient-stats path == portable quantized gate
    path == numpy, within quantization tolerance."""
    import numpy as np

    from data_frame_demo_etl_spark.similarity.stats import (
        covariance_entries,
        covariance_matrix,
    )
    from data_frame_demo_etl_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_oracle_dir)
    X = np.stack(emb.toPandas().sort_values("vec_id")["embedding"].to_numpy()).astype(np.float64)
    ref = np.cov(X, rowvar=False)

    _, cov, n = covariance_matrix(emb)
    assert n == X.shape[0]
    assert np.abs(cov - ref).max() < 1e-12

    port = {(r.i, r.j): r.cov for r in covariance_entries(emb).collect()}
    assert max(abs(port[(i, j)] - ref[i, j]) for i in range(64) for j in range(i, 64)) < 1e-6


def test_pca_project_properties(spark, sf_oracle_dir):
    """Explained variance is descending and matches the variance of
    the projected coordinates; projection matches numpy."""
    import numpy as np

    from data_frame_demo_etl_spark.similarity.stats import pca_components, pca_project
    from data_frame_demo_etl_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_oracle_dir)
    mean, comps, ev = pca_components(emb, r=4)
    assert (np.diff(ev) <= 1e-12).all() and (ev > 0).all()

    proj = (
        pca_project(emb, mean, comps)
        .select("vec_id", "pc0", "pc1", "pc2", "pc3")
        .toPandas()
        .sort_values("vec_id")
    )
    X = np.stack(emb.toPandas().sort_values("vec_id")["embedding"].to_numpy()).astype(np.float64)
    ref = (X - mean) @ comps.T
    assert np.abs(proj[["pc0", "pc1", "pc2", "pc3"]].to_numpy() - ref).max() < 1e-9
    # variance along each axis equals the eigenvalue
    assert np.abs(ref.var(axis=0, ddof=1) - ev).max() < 1e-9


def test_pq_exact_on_codebook_vectors(spark):
    """Vectors that ARE subspace-centroid concatenations reconstruct
    losslessly, so ADC cosine equals true cosine."""
    import numpy as np

    from data_frame_demo_etl_spark.similarity.pq import fit_pq, pq_adc_topk, pq_encode

    rng = np.random.default_rng(3)
    m, dsub = 4, 4
    base = rng.normal(size=(8, m, dsub))  # 8 "words" per subspace
    vecs = [
        np.concatenate([base[rng.integers(8), i] for i in range(m)]) for _ in range(80)
    ]
    pdf = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
    cb = fit_pq(df, m=m, nbits=3, sample_n=80)
    enc = pq_encode(df, cb)
    queries = df.filter(df.vec_id < 3).toPandas().rename(columns={"vec_id": "query_id"})
    got = pq_adc_topk(enc, cb, queries, k=5).toPandas()

    X = np.stack(vecs)
    for qid in range(3):
        q = X[qid]
        cos = X @ q / (np.linalg.norm(X, axis=1) * np.linalg.norm(q))
        cos[qid] = -np.inf
        expect = set(np.argsort(-cos)[:5])
        mine = set(got[got.query_id == qid].neighbor_id)
        # codebook-exact data: ADC ranking == exact ranking
        assert len(mine & expect) >= 4


def test_pq_recall_vs_brute_force(spark, sf_oracle_dir):
    """On the real (near-orthogonal) embeddings, ADC with m=8/nbits=6
    keeps useful recall of the true top-10."""
    from data_frame_demo_etl_spark.similarity.ann import brute_force_topk
    from data_frame_demo_etl_spark.similarity.pq import fit_pq, pq_adc_topk, pq_encode
    from data_frame_demo_etl_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "embeddings", sf_oracle_dir)
    queries = (
        emb.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    exact = brute_force_topk(emb, queries, k=10).toPandas()
    cb = fit_pq(emb, m=8, nbits=6)
    enc = pq_encode(emb, cb).persist()
    approx = pq_adc_topk(enc, cb, queries.toPandas(), k=10).toPandas()
    hits = total = 0
    for qid in range(10):
        e = set(exact[exact.query_id == qid].neighbor_id)
        a = set(approx[approx.query_id == qid].neighbor_id)
        hits += len(e & a)
        total += len(e)
    recall = hits / total
    assert recall >= 0.3, f"PQ recall collapsed: {recall}"


def test_ivfpq_fullprobe_recall_at_least_pq(spark, sf_oracle_dir):
    """Residual quantization (IVF-PQ at full probe) should recover at
    least as much of the true top-10 as plain PQ at the same m/nbits —
    residuals concentrate codebook resolution. Also checks the exact
    stored norm: full-probe candidate set is the whole corpus, so any
    recall loss is purely the residual quantizer."""
    from data_frame_demo_etl_spark.similarity.ann import brute_force_topk
    from data_frame_demo_etl_spark.similarity.ivfpq import fit_ivfpq, ivfpq_topk
    from data_frame_demo_etl_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "embeddings", sf_oracle_dir)
    queries = (
        emb.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    exact = brute_force_topk(emb, queries, k=10).toPandas()
    enc, cents, cbs = fit_ivfpq(emb, k_coarse=16, m=8, nbits=6)
    enc = enc.persist()
    approx = ivfpq_topk(enc, cents, cbs, queries.toPandas(), k=10, nprobe=16).toPandas()
    hits = total = 0
    for qid in range(10):
        e = set(exact[exact.query_id == qid].neighbor_id)
        a = set(approx[approx.query_id == qid].neighbor_id)
        hits += len(e & a)
        total += len(e)
    recall = hits / total
    assert recall >= 0.3, f"IVF-PQ full-probe recall collapsed: {recall}"
    enc.unpersist()


def test_ivfpq_probe_restricts_candidates(spark, sf_oracle_dir):
    """At nprobe=4 every returned neighbor must come from one of the
    query's 4 nearest posting lists, and per-query results are k-deep
    whenever the probed lists hold at least k vectors."""
    import numpy as np

    from data_frame_demo_etl_spark.similarity.ivf import _nearest_centroids
    from data_frame_demo_etl_spark.similarity.ivfpq import fit_ivfpq, ivfpq_topk
    from data_frame_demo_etl_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "embeddings", sf_oracle_dir)
    queries_pd = (
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .toPandas()
    )
    enc, cents, cbs = fit_ivfpq(emb, k_coarse=16, m=8, nbits=4)
    enc = enc.persist()
    got = ivfpq_topk(enc, cents, cbs, queries_pd, k=5, nprobe=4).toPandas()
    cluster_of = {r["vec_id"]: r["cluster"] for r in enc.select("vec_id", "cluster").collect()}
    for _, qrow in queries_pd.iterrows():
        qv = np.asarray(qrow["embedding"], dtype=np.float64)
        allowed = set(_nearest_centroids(qv, cents, 4))
        mine = got[got.query_id == qrow["query_id"]]
        assert len(mine) == 5
        for nid in mine.neighbor_id:
            assert cluster_of[nid] in allowed
    enc.unpersist()


def test_semdedup_adaptive_catches_planted_duplicates(spark):
    """Planted near-identical vectors land in the same adaptive
    cluster and are caught at a high threshold; orthogonal fillers
    produce no pairs."""
    import numpy as np

    from data_frame_demo_etl_spark.similarity.semdedup import semantic_dedup_adaptive

    rng = np.random.default_rng(11)
    base = rng.normal(size=(40, 16))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    # plant 5 near-duplicates of vector 0 (tiny perturbation)
    for j in range(5):
        dup = base[0] + rng.normal(scale=1e-3, size=16)
        rows.append((100 + j, [float(x) for x in dup]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = semantic_dedup_adaptive(df, k=4, threshold=0.99).toPandas()
    dup_ids = {0, 100, 101, 102, 103, 104}
    got_pairs = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    # all 15 planted pairs found, nothing else at this threshold
    assert got_pairs == {(a, b) for a in dup_ids for b in dup_ids if a < b}


def test_semdedup_decisions_keep_lowest_id(spark):
    """Keep/drop rule: within a duplicate group only the lowest id
    survives, everything else is dropped."""
    import numpy as np

    from data_frame_demo_etl_spark.similarity.semdedup import (
        anchor_centroids,
        assign_clusters,
        semantic_dedup_decisions,
    )

    rng = np.random.default_rng(5)
    v = rng.normal(size=16)
    rows = [(i, [float(x) for x in (v + rng.normal(scale=1e-4, size=16))]) for i in range(6)]
    filler = [(10 + i, [float(x) for x in rng.normal(size=16)]) for i in range(10)]
    df = spark.createDataFrame(rows + filler, "vec_id long, embedding array<double>")
    assigned = assign_clusters(df, anchor_centroids(dim=16, k=4, seed=3))
    dec = semantic_dedup_decisions(assigned, threshold=0.99).toPandas()
    dropped = set(dec[dec.is_dropped].vec_id)
    assert dropped == {1, 2, 3, 4, 5}  # 0 survives as group representative


def test_semdedup_max_cluster_size_bounds_pairs(spark):
    """Hot-cluster cap: an oversized cluster is excluded from the
    pair join (the minhash max_bucket_size policy)."""
    import numpy as np

    from data_frame_demo_etl_spark.similarity.semdedup import (
        anchor_centroids,
        assign_clusters,
        semantic_dup_pairs,
    )

    rng = np.random.default_rng(9)
    v = rng.normal(size=16)
    rows = [(i, [float(x) for x in (v + rng.normal(scale=1e-4, size=16))]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned = assign_clusters(df, anchor_centroids(dim=16, k=4, seed=3))
    capped = semantic_dup_pairs(assigned, threshold=0.9, max_cluster_size=10)
    assert capped.count() == 0


def test_bm25_planted_twin_and_saturation(spark):
    """A near-duplicate of the query doc ranks first; a doc that just
    repeats one shared query term 50 times does NOT outrank it
    (tf saturation via k1), though pure tf-counting would."""
    from data_frame_demo_etl_spark.similarity.bm25 import bm25_topk

    query = "quantum flux harmonics resonate beneath the copper lattice tonight"
    twin = query.replace("tonight", "today")
    spam = ("quantum " * 50).strip()
    rows = [(0, query), (1, twin), (2, spam)] + [
        (10 + i, f"unrelated filler text number {i} with plain everyday words") for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = bm25_topk(docs, query_ids=[0], k=3).toPandas()
    assert list(got.neighbor_id)[0] == 1
    first, = got[got["rank"] == 1].bm25.tolist()
    spam_score = got[got.neighbor_id == 2].bm25.tolist()
    assert not spam_score or spam_score[0] < first


def test_ivfpq_recall_monotone_in_nprobe(spark, sf_oracle_dir):
    """Probing more posting lists can only widen the candidate set:
    recall@10 at nprobe=16 (full) must be >= nprobe=2 >= ... with the
    deterministic seeds this is an exact, stable ordering check."""
    from data_frame_demo_etl_spark.similarity.ann import brute_force_topk
    from data_frame_demo_etl_spark.similarity.ivfpq import fit_ivfpq, ivfpq_topk
    from data_frame_demo_etl_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "embeddings", sf_oracle_dir)
    queries = (
        emb.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    exact = brute_force_topk(emb, queries, k=10).toPandas()
    truth = {q: set(g["neighbor_id"]) for q, g in exact.groupby("query_id")}
    enc, cents, cbs = fit_ivfpq(emb, k_coarse=16, m=8, nbits=6)
    enc = enc.persist()

    def recall(nprobe):
        got = ivfpq_topk(enc, cents, cbs, queries.toPandas(), k=10, nprobe=nprobe).toPandas()
        hits = sum(len(set(g["neighbor_id"]) & truth[q]) for q, g in got.groupby("query_id"))
        return hits / (len(truth) * 10)

    r2, r8, r16 = recall(2), recall(8), recall(16)
    enc.unpersist()
    assert r2 <= r8 + 1e-9 and r8 <= r16 + 1e-9, (r2, r8, r16)
    assert r16 >= 0.3, f"full-probe recall collapsed: {r16}"


# ──────────────── X14: recall-vs-nprobe sweep ────────────────


def test_nprobe_sweep_monotone_and_exact_at_full_probe(spark, sf_dir):
    from data_frame_demo_etl_spark.similarity.ivf import ann_ivf_nprobe_sweep

    rows = ann_ivf_nprobe_sweep(spark, sf_dir).collect()
    assert [r.nprobe for r in rows] == [1, 2, 4, 8]
    recalls = [r.recall_ppm for r in rows]
    # recall is monotone in nprobe (probing more lists never loses a hit)
    assert recalls == sorted(recalls)
    # full probe (= all 8 lists) IS exact by construction
    assert recalls[-1] == 1_000_000
    assert all(r.n_queries == 10 for r in rows)
    assert all(0 <= r.hits <= 50 for r in rows)


def test_nprobe_sweep_partial_probe_loses_something_on_spread_data(spark, sf_dir):
    """On near-orthogonal synthetic embeddings the true top-5 is spread
    across posting lists, so nprobe=1 should not be perfect — the dial
    must actually move (guards against a degenerate assignment where
    every vector lands in one cluster and the sweep is flat)."""
    from data_frame_demo_etl_spark.similarity.ivf import ann_ivf_nprobe_sweep

    rows = {r.nprobe: r.recall_ppm for r in ann_ivf_nprobe_sweep(spark, sf_dir).collect()}
    assert rows[1] < 1_000_000


def test_pq_anchor_vhat_lossless_on_codeword_vectors(spark):
    """A vector that IS a concatenation of anchor codewords
    reconstructs bit-exactly (argmin distance 0 at the true code), so
    the gate's decode-then-cosine path returns cosine 1.0 against an
    identical query."""
    import numpy as np

    from pyspark.sql import functions as F

    from data_frame_demo_etl_spark.similarity.pq import anchor_codebooks, pq_anchor_vhat

    cb = anchor_codebooks()
    rng = np.random.default_rng(5)
    vecs = []
    for _ in range(6):
        codes = rng.integers(0, 16, size=8)
        vecs.append([v for s in range(8) for v in cb[s][codes[s]]])
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    out = df.select(
        "vec_id", "embedding", pq_anchor_vhat(F.col("embedding"), cb).alias("vh")
    ).collect()
    for r in out:
        assert r.vh == r.embedding  # exact literal round-trip


def test_pq_anchor_vhat_picks_nearest_codeword(spark):
    """Hand-planted argmin: a subvector exactly between two codewords
    plus a nudge toward one of them must pick the nudged one; the
    exact midpoint resolves to the LOWER code (tie-break)."""
    from pyspark.sql import functions as F

    from data_frame_demo_etl_spark.similarity.pq import pq_anchor_vhat

    # 1 subspace of dim 2, 2 codewords — hand-checkable
    cb = [[[0.0, 0.0], [2.0, 0.0]]]
    df = spark.createDataFrame(
        [
            (0, [0.9, 0.0]),  # nearer code 0
            (1, [1.1, 0.0]),  # nearer code 1
            (2, [1.0, 5.0]),  # equidistant -> tie-break to code 0
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: r.vh
        for r in df.select(
            "vec_id", pq_anchor_vhat(F.col("embedding"), cb).alias("vh")
        ).collect()
    }
    assert got[0] == [0.0, 0.0]
    assert got[1] == [2.0, 0.0]
    assert got[2] == [0.0, 0.0]


def test_pq_adc_gate_matches_exact_topk_on_reconstructible_corpus(spark, sf_oracle_dir):
    """Gate sanity on real data: every (query, rank) row carries a
    cosine no greater than the brute-force X1 cosine at the same rank
    (quantization can only lose similarity mass in expectation), and
    recall@5 of the true top-5 stays useful."""
    from data_frame_demo_etl_spark.similarity.ann import brute_force_topk
    from data_frame_demo_etl_spark.similarity.gate import _queries
    from data_frame_demo_etl_spark.similarity.pq import pq_adc_topk_gate
    from data_frame_demo_etl_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_oracle_dir)
    exact = brute_force_topk(emb, _queries(emb), k=5).toPandas()
    approx = pq_adc_topk_gate(spark, sf_oracle_dir).toPandas()
    assert len(approx) == 50 and approx["rank"].max() == 5
    hits = sum(
        len(
            set(exact[exact.query_id == q].neighbor_id)
            & set(approx[approx.query_id == q].neighbor_id)
        )
        for q in range(10)
    )
    # Data-independent anchor codebooks on near-orthogonal random
    # embeddings keep modest recall — the bar is "clearly above the
    # chance line" (5/N ≈ 0.01 at sf0.01), not trained-codebook recall
    # (that path is test_pq_recall_vs_brute_force above). Measured
    # 0.16 at sf0.01.
    assert hits / 50 >= 0.1, f"anchor-PQ recall collapsed: {hits / 50}"


def test_ivfpq_adc_gate_candidates_respect_probe(spark, sf_oracle_dir):
    """Every neighbor the IVFADC gate returns must live in one of its
    query's nprobe=2 probed clusters — the prune is real, not
    decorative."""
    from pyspark.sql import Window, functions as F

    from data_frame_demo_etl_spark.similarity.ivfpq import GATE_NPROBE, ivfpq_adc_topk_gate
    from data_frame_demo_etl_spark.similarity.semdedup import anchor_centroids, assign_clusters
    from data_frame_demo_etl_spark.functions.vectors import l2_distance
    from data_frame_demo_etl_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_oracle_dir)
    cents = anchor_centroids(k=8, seed=7)
    assigned = {
        r.vec_id: r.cluster for r in assign_clusters(emb, cents).select("vec_id", "cluster").collect()
    }
    cent_lit = F.array(*[F.array(*[F.lit(float(v)) for v in c]) for c in cents])
    qexp = (
        emb.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .select("query_id", "embedding", F.posexplode(cent_lit).alias("cluster", "cv"))
        .select(
            "query_id",
            "cluster",
            l2_distance(F.col("embedding").cast("array<double>"), F.col("cv")).alias("d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d").asc(), F.col("cluster").asc())
    probed: dict[int, set[int]] = {}
    for r in (
        qexp.withColumn("pr", F.row_number().over(w)).filter(F.col("pr") <= GATE_NPROBE).collect()
    ):
        probed.setdefault(r.query_id, set()).add(r.cluster)

    got = ivfpq_adc_topk_gate(spark, sf_oracle_dir).collect()
    assert len(got) == 50
    for r in got:
        assert assigned[r.neighbor_id] in probed[r.query_id], (
            f"neighbor {r.neighbor_id} outside query {r.query_id}'s probed lists"
        )


def test_ann_filtered_topk_respects_label(spark, sf_oracle_dir):
    """Every returned neighbor must share its query's label, and the
    top-5 must equal brute force restricted to that label."""
    from pyspark.sql import functions as F

    from data_frame_demo_etl_spark.similarity.ann import brute_force_topk
    from data_frame_demo_etl_spark.similarity.gate import ann_filtered_topk
    from data_frame_demo_etl_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_oracle_dir)
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    got = ann_filtered_topk(spark, sf_oracle_dir).collect()
    assert len(got) == 50
    for r in got:
        assert labels[r.neighbor_id] == labels[r.query_id]
    # cross-check one query against label-restricted brute force
    q0_label = labels[0]
    restricted = brute_force_topk(
        emb.filter(F.col("label") == q0_label),
        emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        k=5,
    ).collect()
    mine = [r.neighbor_id for r in got if r.query_id == 0]
    assert mine == [r.neighbor_id for r in restricted]


def test_pq_recall_eval_consistent_with_components(spark, sf_oracle_dir):
    """X19's recall numbers must equal a direct comparison of its two
    component gates, and sit strictly above the chance line."""
    from data_frame_demo_etl_spark.similarity.ann import brute_force_topk
    from data_frame_demo_etl_spark.similarity.gate import _queries
    from data_frame_demo_etl_spark.similarity.pq import pq_adc_topk_gate, pq_recall_eval_gate
    from data_frame_demo_etl_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_oracle_dir)
    exact = brute_force_topk(emb, _queries(emb), k=5).toPandas()
    approx = pq_adc_topk_gate(spark, sf_oracle_dir).toPandas()
    got = {r.query_id: r.hits for r in pq_recall_eval_gate(spark, sf_oracle_dir).collect()}
    for q in range(10):
        want = len(
            set(exact[exact.query_id == q].neighbor_id)
            & set(approx[approx.query_id == q].neighbor_id)
        )
        assert got[q] == want
    assert sum(got.values()) >= 4  # measured 8/50 at sf0.01; chance ≈ 0.5
