"""Triangle counting via degree-ordered edge orientation — the third
graph primitive (after connected components and PageRank), and the
canonical example of taming a quadratic wedge join at scale.

Algorithm (Suri & Vassilvitskii's MapReduce formulation): orient each
undirected edge from its lower-(degree, id) endpoint to the higher
one. The oriented graph is a DAG where every node's OUT-degree is
O(√E), so the wedge self-join (u→v, u→w) — the step that explodes if
joined on raw adjacency, where one celebrity node yields deg² wedge
rows — is bounded by Σ outdeg² = O(E^1.5) total. A final semi-join of
wedges against oriented edges closes the triangles; each triangle is
counted exactly once (from its minimum-ordered vertex).

Graph here: supplier co-purchase — two suppliers are adjacent if some
order contains lineitems from both. Built with a per-order self-join
(suppliers-per-order is bounded by lines-per-order, so the pair
explosion is capped by construction).

No reference analog (`/root/reference` has no graph ops);
brief-mandated beyond-reference analytics alongside pagerank.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.catalog import load_table


# Shared edge contract: the strong co-purchase edge table is the input
# of every graph gate (triangles, k-core, BFS, communities, ...). The
# pair table behind it is PERSISTED (it feeds both the driver-side
# threshold histogram and the edge filter), so a later gate in the
# same session rebuilds the identical plan and reads the pairs from
# Spark's cache. Like every operator intermediate, it lives until the
# session owner calls session.release_all_caches; edges are
# node-pair-sized (47k rows at sf0.1, 477k at sf1), a bounded artifact
# by construction.


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strong supplier co-purchase pairs (u < v); see
    `copurchase_edges_with_count`."""
    return copurchase_edges_with_count(spark, sf_dir)[0].select("u", "v")


def copurchase_edges_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v, c) strong co-purchase pairs WITH the shared-order count
    that qualified them — the tie-strength weight link_prediction's
    k-strongest-neighbor sparsification ranks by (unweighted consumers
    project it away for free)."""
    return copurchase_edges_with_count(spark, sf_dir)[0]


def copurchase_edges_with_count(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int]:
    """Strong supplier co-purchase pairs (u < v): the top decile of
    pairs by shared-order count (co-occurrence ≥ the exact p90 order
    statistic), so the graph keeps real structure at ANY scale factor
    (a fixed absolute threshold is complete at small SF and empty at
    large SF — measured both ways before choosing this).

    The exact p90 comes from the co-occurrence HISTOGRAM — a
    #distinct-count-values-sized table (dozens of rows at any scale),
    cumulated on the driver — never a global row_number over the full
    pair table (the single-partition window this replaced cost 3× the
    rest of the query combined). Value-identical to the oracle's
    ROW_NUMBER formulation: the order statistic at position
    ceil(0.9·n) lies inside the block of equal counts the cumulative
    histogram identifies.

    Returns (edges, n_edges) — the edge count read off the histogram
    (Σ bucket sizes at counts ≥ threshold), so consumers never pay an
    edges.count() job. The pair table stays persisted (see the
    shared-edge contract above)."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_suppkey")
    # Pair generation: collect the per-order supplier SET (one shuffle,
    # map-side partial), then expand the C(k,2) pairs IN-ROW with two
    # explodes. This replaces the former per-order self-join — which
    # shuffled the lineitem table twice and needed count_distinct to
    # collapse duplicate (order, supplier) lines — with one shuffle and
    # a plain count: the set makes each (order, u, v) unique by
    # construction. Pair explosion stays capped by lines-per-order
    # exactly as before (sets are no larger than line lists). Measured
    # at sf1: 2.9s vs 6.6s for the join formulation, same output.
    per_order = li.groupBy("l_orderkey").agg(F.collect_set("l_suppkey").alias("ss"))
    pairs = (
        per_order.select(F.explode("ss").alias("u"), "ss")
        .select("u", F.explode("ss").alias("v"))
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    hist = sorted(
        (r["c"], r["n"]) for r in pairs.groupBy("c").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    n = sum(cnt for _, cnt in hist)
    if n == 0:
        return pairs.select("u", "v", "c"), 0
    pos = max(1, -(-90 * n // 100))
    cum, thresh = 0, hist[-1][0]
    for c_val, cnt in hist:
        cum += cnt
        if cum >= pos:
            thresh = c_val
            break
    n_edges = sum(cnt for c_val, cnt in hist if c_val >= thresh)
    return pairs.filter(F.col("c") >= thresh).select("u", "v", "c"), n_edges


# Below: broadcast-build job latency > shuffle saved. Re-measured in
# round 6 after `oriented` became an eager checkpoint (which removed
# the adjacency path's repeated orientation recompute): at sf0.1/47k
# edges adjacency now beats the wedge join by ~1.5s, so the switch
# point sits well below it; tiny unit-test graphs stay on the wedge.
_ADJ_BROADCAST_MIN_EDGES = 20_000
_ADJ_BROADCAST_MAX_EDGES = 20_000_000  # above: ~160 MB of ids won't broadcast


def count_triangles(edges: DataFrame, n_edges: int | None = None) -> DataFrame:
    """One row: (n_nodes, n_edges, n_triangles) for undirected distinct
    edges (u < v). Pass ``n_edges`` when the caller already knows it
    (the co-purchase build reads it off its threshold histogram) to
    skip the counting job; n_nodes and n_triangles are computed in ONE
    action (two one-row aggregates joined), so the whole census costs
    a single job beyond the strategy pick.

    Cost-based strategy over the same degree-oriented DAG:

    - **adjacency intersection** (mid-size graphs, the shuffle-bound
      regime): fold the out-neighbor lists (each O(√E) by orientation,
      ΣE ids total ≈ 8·E bytes), BROADCAST them, and count each
      oriented edge's |N⁺(s) ∩ N⁺(d)| map-side — the count runs
      without shuffling a single wedge. Measured at sf1 (477k edges):
      3.3s vs 6.3s for the wedge join.
    - **wedge join** (both tails): the Suri–Vassilvitskii self-join on
      the oriented DAG. Below ~150k edges the E^1.5 wedge shuffle is
      trivial and the adjacency path's two extra broadcast-build jobs
      dominate (measured at sf0.1/47k edges: wedge wins by ~0.5s);
      above the broadcast budget the adjacency no longer fits and the
      all-shuffle form is the one that survives — same reasoning as
      a broadcast-vs-sort-merge join pick.
    """
    nodes = (
        edges.select(F.col("u").alias("n"))
        .unionByName(edges.select(F.col("v").alias("n")))
    )
    deg = nodes.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    # orient by (deg, id): lower endpoint keeps the out-edge
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))
    withdeg = edges.join(du, "u").join(dv, "v")
    # EAGER checkpoint, not lazy persist: the census action references
    # `oriented` three times (both wedge sides + the closing edges, or
    # the adjacency fold twice + the probe side), and a lazy persist
    # materializes nothing until that action — so the orientation
    # subplan (degree agg + two joins) would execute 3× inside the one
    # job. Same fix as kcore's peel loop; bounded at E rows.
    oriented = (
        withdeg.select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("d")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("d")))
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.d").alias("d"))
        .localCheckpoint(eager=True)
    )

    if n_edges is None:
        n_edges = edges.count()
    if _ADJ_BROADCAST_MIN_EDGES <= n_edges <= _ADJ_BROADCAST_MAX_EDGES:
        # Eager checkpoint: the fold feeds TWO broadcast exchanges
        # (source side and destination side), which would otherwise
        # each recompute the groupBy from scratch.
        adj = (
            oriented.groupBy("s")
            .agg(F.collect_list("d").alias("nbrs"))
            .localCheckpoint(eager=True)
        )
        adj_d = adj.select(F.col("s").alias("d"), F.col("nbrs").alias("nbrs_d"))
        tri_agg = (
            oriented.join(F.broadcast(adj), "s")
            .join(F.broadcast(adj_d), "d")
            .select(F.size(F.array_intersect("nbrs", "nbrs_d")).alias("t"))
            .agg(F.coalesce(F.sum("t"), F.lit(0)).alias("tri"))
        )
    else:
        w1 = oriented.select(F.col("s"), F.col("d").alias("x"))
        w2 = oriented.select(F.col("s"), F.col("d").alias("y"))
        wedges = (
            w1.join(w2, "s")
            .filter(F.col("x") < F.col("y"))
            .select(F.col("x"), F.col("y"))
        )
        # a wedge (x, y) closes iff the oriented edge x→y or y→x
        # exists; with a total order both directions are possible (the
        # closing edge's orientation depends on degrees), so join
        # against the canonical undirected form.
        closing = oriented.select(
            F.least("s", "d").alias("x"), F.greatest("s", "d").alias("y")
        )
        tri_agg = wedges.join(closing, ["x", "y"]).agg(
            F.count(F.lit(1)).alias("tri")
        )
    # ONE action for both remaining census numbers: two one-row
    # aggregates joined (broadcast of a single row — the q11/q22
    # scalar-aggregate shape), instead of separate deg.count() and
    # triangle-count jobs (the r5 sf0.1 regression: extra driver
    # actions dominated the small-SF path).
    # n_nodes straight off the materialized orientation: every node
    # appears as source or destination, so distinct endpoints of
    # `oriented` == distinct endpoints of `edges` — no recompute of
    # the degree aggregation.
    onodes = (
        oriented.select(F.col("s").alias("n"))
        .unionByName(oriented.select(F.col("d").alias("n")))
        .agg(F.count_distinct("n").alias("n_nodes"))
    )
    row = onodes.crossJoin(tri_agg).collect()[0]
    n_nodes, tri = int(row["n_nodes"]), int(row["tri"] or 0)
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(int(n_nodes), int(n_edges), int(tri))],
        "n_nodes long, n_edges long, n_triangles long",
    )


def supplier_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: triangle census of the supplier co-purchase graph.
    Consumes the SHARED edge build (k-core reads the same
    cached pairs), with n_edges carried from the histogram — the census itself
    is one combined action."""
    edges, n_edges = copurchase_edges_with_count(spark, sf_dir)
    return count_triangles(edges.select("u", "v"), n_edges=n_edges)


SUPPLIER_TRIANGLES_SQL = """
WITH pairs AS (
  SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(DISTINCT a.l_orderkey) AS c
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c ASC, u ASC, v ASC) AS rn FROM pairs
),
thresh AS (
  SELECT c AS t FROM ranked
  WHERE rn = GREATEST(1, CAST(CEIL(90 * (SELECT MAX(rn) FROM ranked) / 100.0) AS BIGINT))
),
edges AS (
  SELECT u, v FROM pairs WHERE c >= (SELECT t FROM thresh)
),
nodes AS (SELECT u AS n FROM edges UNION ALL SELECT v FROM edges),
stats AS (
  SELECT (SELECT COUNT(DISTINCT n) FROM nodes) AS n_nodes,
         (SELECT COUNT(*) FROM edges) AS n_edges
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v
)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_edges AS BIGINT) AS n_edges,
       CAST(n_triangles AS BIGINT) AS n_triangles
FROM stats CROSS JOIN tri
"""


LP_TOP_K = 20
#: k-strongest-neighbor sparsification cap. Every center contributes
#: at most C(32,2) = 496 wedge rows, so total wedge mass is ≤ 496 ·
#: n_nodes at ANY scale and ANY degree distribution — the bound a
#: celebrity hub cannot break (an uncapped center of degree d emits
#: d²/2 rows from one key). 32 ≈ the p25 degree of the strong graph
#: at sf0.1+ (bell-shaped around 95, max 147 — measured r12), so the
#: kept ties are each supplier's strongest co-purchase relationships,
#: the standard KNN-graph construction for link prediction.
LP_KNN_CAP = 32


def link_prediction(
    edges: DataFrame, k: int = LP_TOP_K, knn_cap: int = LP_KNN_CAP
) -> DataFrame:
    """G9: common-neighbor / Jaccard link prediction (Liben-Nowell &
    Kleinberg 2003) on the k-strongest-neighbor sparsification of a
    weighted undirected (u < v, weight c) edge table — "which
    non-adjacent pairs look most like future edges": each node keeps
    its `knn_cap` strongest ties (rank by c DESC, neighbor id ASC — a
    total order), 2-hop pairs of the sparsified graph are scored by
    |Γₖ(u)∩Γₖ(v)| (exact integer) with the truncated-Jaccard
    |∩|·10⁶ div (degₖ(u)+degₖ(v)−|∩|) ppm tie-breaker, pairs already
    adjacent in the FULL graph are dropped, and the global top-k
    survives under (cn DESC, jaccard DESC, u, v). Edges without a
    weight column get c=1 (ranking then falls back to id order).

    Scale: common-neighbor counting cannot be orientation-split the
    way the G3 triangle wedge can (every wedge through a center must
    be counted, so an uncapped self-join pays Σ deg(w)² — measured
    5.8×/decade at sf10 before this cap, the naive form the r11
    verdict flagged). The KNN cap bounds the per-center fan-out at
    C(knn_cap, 2) BEFORE the self-join, making total wedge mass
    ≤ 496·n_nodes — linear in nodes with a constant no hub can
    inflate. The per-center rank is a bounded partitioned window
    (partitions ≤ max degree), the top-k a distributed TakeOrdered."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if "c" not in edges.columns:
        edges = edges.withColumn("c", F.lit(1).cast("long"))
    und = edges.select(
        F.col("u").alias("w"), F.col("v").alias("n"), "c"
    ).unionByName(edges.select(F.col("v").alias("w"), F.col("u").alias("n"), "c"))
    rk = Window.partitionBy("w").orderBy(F.col("c").desc(), F.col("n").asc())
    knn = (
        und.withColumn("r", F.row_number().over(rk))
        .filter(F.col("r") <= knn_cap)
        .select("w", "n")
    )
    deg = knn.groupBy("w").agg(F.count(F.lit(1)).alias("deg"))
    wedges = (
        knn.select(F.col("w"), F.col("n").alias("x"))
        .join(knn.select("w", F.col("n").alias("y")), "w")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    cand = wedges.join(
        edges, (wedges.x == edges.u) & (wedges.y == edges.v), "left_anti"
    )
    scored = (
        cand.join(deg.withColumnRenamed("w", "x").withColumnRenamed("deg", "dx"), "x")
        .join(deg.withColumnRenamed("w", "y").withColumnRenamed("deg", "dy"), "y")
        .select(
            F.col("x").alias("u"),
            F.col("y").alias("v"),
            F.col("cn").cast("long").alias("common_neighbors"),
            F.expr("cn * 1000000 div (dx + dy - cn)").cast("long").alias("jaccard_ppm"),
        )
    )
    return scored.orderBy(
        F.col("common_neighbors").desc(),
        F.col("jaccard_ppm").desc(),
        F.col("u").asc(),
        F.col("v").asc(),
    ).limit(k)


def supplier_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate (G9): top-20 predicted missing edges of the strong
    supplier co-purchase graph by common-neighbor count over the
    32-strongest-tie sparsification, truncated-Jaccard tie-broken —
    the recommendation read ('these two suppliers serve the same
    orders-neighborhood but never co-appear') beside G2/G7/G8
    centralities."""
    edges = copurchase_edges_weighted(spark, sf_dir)
    return link_prediction(edges)


SUPPLIER_LINK_PREDICTION_SQL = """
WITH pairs AS (
  SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(DISTINCT a.l_orderkey) AS c
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c ASC, u ASC, v ASC) AS rn FROM pairs
),
thresh AS (
  SELECT c AS t FROM ranked
  WHERE rn = GREATEST(1, CAST(CEIL(90 * (SELECT MAX(rn) FROM ranked) / 100.0) AS BIGINT))
),
edges AS (
  SELECT u, v, c FROM pairs WHERE c >= (SELECT t FROM thresh)
),
und AS (
  SELECT u AS w, v AS n, c FROM edges
  UNION ALL
  SELECT v AS w, u AS n, c FROM edges
),
knn AS (
  SELECT w, n FROM (
    SELECT w, n, ROW_NUMBER() OVER (
      PARTITION BY w ORDER BY c DESC, n ASC
    ) AS r FROM und
  ) WHERE r <= 32
),
deg AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS deg FROM knn GROUP BY w),
wedges AS (
  SELECT a.n AS x, b.n AS y, CAST(COUNT(*) AS BIGINT) AS cn
  FROM knn a JOIN knn b ON a.w = b.w AND a.n < b.n
  GROUP BY 1, 2
),
cand AS (
  SELECT wg.x, wg.y, wg.cn
  FROM wedges wg
  LEFT JOIN edges e ON e.u = wg.x AND e.v = wg.y
  WHERE e.u IS NULL
),
scored AS (
  SELECT c.x AS u, c.y AS v, c.cn AS common_neighbors,
         CAST(c.cn * 1000000 // (dx.deg + dy.deg - c.cn) AS BIGINT) AS jaccard_ppm
  FROM cand c
  JOIN deg dx ON dx.w = c.x
  JOIN deg dy ON dy.w = c.y
)
SELECT u, v, common_neighbors, jaccard_ppm
FROM scored
ORDER BY common_neighbors DESC, jaccard_ppm DESC, u ASC, v ASC
LIMIT 20
"""


# ─────────────── G10: local clustering coefficient ───────────────

CLUSTERING_TOP_K = 20


def local_clustering(edges: DataFrame, k: int = CLUSTERING_TOP_K) -> DataFrame:
    """G10: per-node local clustering coefficient (Watts–Strogatz) —
    "how much of each supplier's neighborhood trades among itself":
    C(v) = 2·T(v) / (deg(v)·(deg(v)−1)) with T(v) = triangles through
    v, reported for the top-k nodes (coef DESC, node ASC) among nodes
    with deg ≥ 2. Exact integers: coef_ppm = 2·T·10⁶ div (deg·(deg−1)).

    Scale: the SAME degree-oriented wedge join as the census above —
    every triangle is found exactly once from its minimum-ordered
    vertex (Σ outdeg² = O(E^1.5) by orientation), then credited to all
    THREE corners with one explode (3·T rows, answer-sized) and a
    node-keyed count. No undirected Σdeg² join anywhere; the top-k is
    a distributed TakeOrdered."""
    nodes = edges.select(F.col("u").alias("n")).unionByName(
        edges.select(F.col("v").alias("n"))
    )
    deg = nodes.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))
    withdeg = edges.join(du, "u").join(dv, "v")
    # Eager checkpoint for the same 3-consumer reason as the census
    # (both wedge sides + the closing probe read it inside one job).
    oriented = (
        withdeg.select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("d")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("d")))
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.d").alias("d"))
        .localCheckpoint(eager=True)
    )
    w1 = oriented.select(F.col("s"), F.col("d").alias("x"))
    w2 = oriented.select(F.col("s"), F.col("d").alias("y"))
    wedges = w1.join(w2, "s").filter(F.col("x") < F.col("y"))
    closing = oriented.select(
        F.least("s", "d").alias("x"), F.greatest("s", "d").alias("y")
    )
    tris = wedges.join(closing, ["x", "y"]).select("s", "x", "y")
    credits = tris.select(F.explode(F.array("s", "x", "y")).alias("n"))
    tcount = credits.groupBy("n").agg(F.count(F.lit(1)).alias("triangles"))
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tcount, "n", "left")
        .select(
            F.col("n").alias("node"),
            F.col("deg").cast("long").alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
            F.expr(
                "2 * cast(coalesce(triangles, 0) as decimal(38,0)) * 1000000"
                " div (cast(deg as decimal(38,0)) * cast(deg - 1 as decimal(38,0)))"
            )
            .cast("long")
            .alias("coef_ppm"),
        )
        .orderBy(F.col("coef_ppm").desc(), F.col("node").asc())
        .limit(k)
    )


def supplier_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate (G10): top-20 most-clustered suppliers of the strong
    co-purchase graph — the node-local companion of the G3 census
    (same shared edge build)."""
    return local_clustering(copurchase_edges(spark, sf_dir))


SUPPLIER_CLUSTERING_SQL = """
WITH pairs AS (
  SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(DISTINCT a.l_orderkey) AS c
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c ASC, u ASC, v ASC) AS rn FROM pairs
),
thresh AS (
  SELECT c AS t FROM ranked
  WHERE rn = GREATEST(1, CAST(CEIL(90 * (SELECT MAX(rn) FROM ranked) / 100.0) AS BIGINT))
),
edges AS (
  SELECT u, v FROM pairs WHERE c >= (SELECT t FROM thresh)
),
und AS (
  SELECT u AS w FROM edges UNION ALL SELECT v AS w FROM edges
),
deg AS (SELECT w AS n, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY w),
tris AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v
),
credits AS (
  SELECT a AS n FROM tris UNION ALL SELECT b FROM tris UNION ALL SELECT c FROM tris
),
tcount AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS triangles FROM credits GROUP BY n)
SELECT d.n AS node,
       d.deg AS degree,
       COALESCE(t.triangles, 0) AS triangles,
       CAST(2 * CAST(COALESCE(t.triangles, 0) AS HUGEINT) * 1000000
            // (CAST(d.deg AS HUGEINT) * (d.deg - 1)) AS BIGINT) AS coef_ppm
FROM deg d LEFT JOIN tcount t ON t.n = d.n
WHERE d.deg >= 2
ORDER BY coef_ppm DESC, node ASC
LIMIT 20
"""


# ─────────────── G11: degree assortativity ───────────────


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """G11: degree assortativity (Newman 2002) — the degree–degree
    Pearson correlation over edge endpoints: do well-connected
    suppliers trade with well-connected ones (r > 0, assortative) or
    with the periphery (r < 0, disassortative)? Each undirected edge
    contributes BOTH ordered pairs (du,dv),(dv,du), which makes the
    marginals symmetric (Σx = Σy, Σx² = Σy²) and the Pearson ratio
    RATIONAL — r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²), no sqrt at all,
    so the ppm result is exact integer arithmetic end to end (a
    stronger guarantee than the K40 one-final-double convention).

    Scale: two broadcast-sized joins of the edge table against the
    node-degree aggregate and ONE one-row global sum — no self-join,
    no window."""
    nodes = edges.select(F.col("u").alias("n")).unionByName(
        edges.select(F.col("v").alias("n"))
    )
    deg = nodes.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))
    both = edges.join(du, "u").join(dv, "v")
    dec = "decimal(38,0)"
    g = both.agg(
        (F.count(F.lit(1)) * 2).cast(dec).alias("n"),
        (F.sum(F.col("du") + F.col("dv"))).cast(dec).alias("sx"),
        (F.sum(F.col("du") * F.col("du") + F.col("dv") * F.col("dv"))).cast(dec).alias("sxx"),
        (F.sum(F.col("du") * F.col("dv")) * 2).cast(dec).alias("sxy"),
    )
    return g.select(
        F.expr("cast(n div 2 as bigint)").alias("n_edges"),
        F.when(
            F.expr("n * sxx - sx * sx") > 0,
            F.expr("(n * sxy - sx * sx) * 1000000 div (n * sxx - sx * sx)"),
        )
        .cast("long")
        .alias("assortativity_ppm"),
    )


def supplier_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate (G11): one-row degree assortativity of the strong
    co-purchase graph."""
    return degree_assortativity(copurchase_edges(spark, sf_dir))


SUPPLIER_ASSORTATIVITY_SQL = """
WITH pairs AS (
  SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(DISTINCT a.l_orderkey) AS c
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c ASC, u ASC, v ASC) AS rn FROM pairs
),
thresh AS (
  SELECT c AS t FROM ranked
  WHERE rn = GREATEST(1, CAST(CEIL(90 * (SELECT MAX(rn) FROM ranked) / 100.0) AS BIGINT))
),
edges AS (
  SELECT u, v FROM pairs WHERE c >= (SELECT t FROM thresh)
),
und AS (
  SELECT u AS w FROM edges UNION ALL SELECT v AS w FROM edges
),
deg AS (SELECT w AS n, CAST(COUNT(*) AS HUGEINT) AS deg FROM und GROUP BY w),
g AS (
  SELECT CAST(2 * COUNT(*) AS HUGEINT) AS n,
         SUM(x.deg + y.deg) AS sx,
         SUM(x.deg * x.deg + y.deg * y.deg) AS sxx,
         2 * SUM(x.deg * y.deg) AS sxy
  FROM edges e JOIN deg x ON x.n = e.u JOIN deg y ON y.n = e.v
)
SELECT CAST(n // 2 AS BIGINT) AS n_edges,
       CASE WHEN n * sxx - sx * sx > 0
            THEN CAST((n * sxy - sx * sx) * 1000000 // (n * sxx - sx * sx) AS BIGINT)
       END AS assortativity_ppm
FROM g
"""
