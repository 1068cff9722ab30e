"""k-core peeling on planted graphs: known cores, cascade removal,
fixpoint idempotence, empty input."""

from __future__ import annotations

from data_frame_demo_etl_spark.analytics.kcore import kcore, supplier_kcore


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


def test_kcore_triangle_plus_tail(spark):
    # Triangle 1-2-3 (the 2-core) with a tail 3-4-5 that peels away.
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)])
    got = {r.node: r.deg for r in kcore(e, 2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_cascade(spark):
    # Path 1-2-3-4: removing the endpoints cascades until nothing is left.
    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    assert kcore(e, 2).count() == 0


def test_kcore_k3_keeps_k4_clique_only(spark):
    # K4 clique (3-core) plus a triangle hanging off node 1 — the
    # triangle nodes have degree 2 and peel out of the 3-core.
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    tri = [(1, 10), (1, 11), (10, 11)]
    got = {r.node: r.deg for r in kcore(_edges(spark, k4 + tri), 3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_fixed_rounds_are_idempotent_on_fixture(spark, sf_dir):
    from data_frame_demo_etl_spark.analytics.triangles import copurchase_edges

    edges = copurchase_edges(spark, sf_dir)
    r_default = sorted(map(tuple, kcore(edges, 3).collect()))
    r_more = sorted(map(tuple, kcore(edges, 3, rounds=8).collect()))
    assert r_default == r_more, "fixture did not converge inside DEFAULT_ROUNDS"


def test_release_all_caches_frees_the_copurchase_pairs(spark, sf_dir):
    """The co-purchase pair table behind every graph gate is an
    ordinary session cache entry: one release_all_caches call frees
    every block the edge build left persisted."""
    from data_frame_demo_etl_spark.analytics.triangles import copurchase_edges
    from data_frame_demo_etl_spark.session import release_all_caches

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    release_all_caches(spark)
    before = persisted()
    copurchase_edges(spark, sf_dir).count()
    built = persisted() - before
    assert built
    release_all_caches(spark)
    assert not persisted() & built


def test_supplier_kcore_gate_schema(spark, sf_dir):
    out = supplier_kcore(spark, sf_dir)
    assert out.columns == ["node", "deg"]
    rows = out.collect()
    assert all(r.deg >= 3 for r in rows)


def test_kcore_empty_edges(spark):
    e = _edges(spark, []) if False else spark.createDataFrame([], "u long, v long")
    assert kcore(e, 2).count() == 0


def test_triangle_strategies_agree(spark, monkeypatch):
    """The broadcast adjacency-intersection count and the wedge-join
    fallback must return identical censuses on the same graph."""
    import data_frame_demo_etl_spark.analytics.triangles as tri

    # K4 + pendant + a C5 sharing node 0 with the clique.
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    extra = [(3, 9), (0, 10), (10, 11), (11, 12), (12, 13), (0, 13)]
    df = spark.createDataFrame(k4 + extra, ["u", "v"])
    monkeypatch.setattr(tri, "_ADJ_BROADCAST_MIN_EDGES", 0)
    adjacency = tuple(tri.count_triangles(df).collect()[0])
    monkeypatch.setattr(tri, "_ADJ_BROADCAST_MAX_EDGES", 0)
    wedge = tuple(tri.count_triangles(df).collect()[0])
    assert adjacency == wedge == (9, 12, 4)


def test_kcore_converges_past_any_fixed_bound(spark):
    # A 20-node path at k=2 cascades one endpoint pair per round —
    # far deeper than DEFAULT_ROUNDS. The library default
    # (rounds=None) must peel to convergence: the true 2-core is empty.
    e = _edges(spark, [(i, i + 1) for i in range(1, 20)])
    assert kcore(e, 2).count() == 0


def test_kcore_round_cap_warns_when_not_converged(spark):
    import warnings

    e = _edges(spark, [(i, i + 1) for i in range(1, 20)])
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = kcore(e, 2, rounds=2).count()
    assert got > 0  # superset of the (empty) true core
    assert any("round cap" in str(x.message) for x in w)
