"""Multi-source BFS hop distance — the reachability-with-DISTANCE
member of the graph family (connected components answer "same
component?", k-core "dense enough?", LPA "which block?"; BFS labels
HOW FAR, the primitive behind influence radii, blast-radius audits
and graph-feature generation).

Frontier BFS, the textbook distributed formulation: round h joins the
CURRENT FRONTIER (nodes first reached at h−1) against the edge list,
anti-joins everything already labeled, and labels the remainder h.
Each round touches frontier-sized input, not the full distance table;
rounds are fixed (MAX_HOPS) so the plan is static and the oracle can
express the same computation as a bounded WITH RECURSIVE. Distances
are unique minima, so the result is deterministic regardless of join
order or partitioning.

Scale shape (100 TB): per round one shuffle join frontier⋈edges (AQE
free to broadcast a small frontier), one distinct (map-side
combined), one anti-join against the labeled set; the frontier is
localCheckpoint'ed per round to bound lineage (pagerank.py
precedent). No per-node windows, no driver loops over rows.

Oracle: DuckDB ``WITH RECURSIVE`` over the same strong-edge CTE —
(node, hops) tuples dedup under UNION recursion (each node appears at
most MAX_HOPS+1 times), MIN(hops) per node at the end (the dedup_clusters transitive-closure
oracle set the recursive-CTE precedent; this one recurses a LABELED
fixpoint): the Spark side is iterative DataFrame joins, the oracle is
the declarative fixpoint — two structurally different programs,
bit-identical answers.

No reference analog (/root/reference has no graph module);
beyond-reference graph surface.

Iterative-persist memory contract: see pagerank.py's module docstring
— the per-hop persists are lazily chained, peak cached state is
O(MAX_HOPS) frontier tables (each ≤ node-sized), the session owner
releases them, and persist does not truncate RDD lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .triangles import copurchase_edges

MAX_HOPS = 3

#: Seed nation for the gate (nationkey 0 = ALGERIA in TPC-H builds).
SEED_NATION = 0


def bfs_hops(edges: DataFrame, seeds: DataFrame, max_hops: int = MAX_HOPS) -> DataFrame:
    """(node, hops) for every node within ``max_hops`` of ``seeds``
    over the undirected edge set ``edges`` (columns u, v; both
    directions derived here). Seeds are labeled 0; unreached nodes are
    absent. ``seeds`` must have a ``node`` column."""
    sym = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    dist = seeds.select("node").distinct().withColumn("hops", F.lit(0))
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier.node == sym.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(h))
        )
        # Lazy persist, not localCheckpoint (r12, the graph_hits
        # finding): under AQE localCheckpoint(eager=False) executes
        # eagerly; the rounds are a sequential chain, so persist
        # truncates lineage without blocking construction.
        nxt = nxt.persist()
        dist = dist.unionByName(nxt)
        frontier = nxt.select("node")
    return dist


def supplier_reach_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: hop distance from the seed nation's suppliers across the
    strong co-purchase graph (the shared edge build) — the
    supply-chain blast-radius audit: if nation-0 suppliers are
    disrupted, who is 1, 2, 3 co-purchase hops away."""
    from ..sources.catalog import load_table

    edges = copurchase_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    supplier = load_table(spark, "supplier", sf_dir)
    seeds = nodes.join(
        supplier.filter(F.col("s_nationkey") == SEED_NATION).select(
            F.col("s_suppkey").alias("node")
        ),
        "node",
    )
    return (
        bfs_hops(edges, seeds, MAX_HOPS)
        .select(F.col("node").cast("long").alias("supplier"), F.col("hops").cast("long").alias("hops"))
        .orderBy("supplier")
    )


SUPPLIER_REACH_HOPS_SQL = f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(DISTINCT a.l_orderkey) AS c
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
),
thresh AS (
  SELECT c FROM (
    SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn, COUNT(*) OVER () AS n
    FROM pairs
  ) WHERE rn = GREATEST(1, CAST(CEIL(90 * n / 100.0) AS BIGINT))
),
e0 AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM pairs WHERE c >= (SELECT c FROM thresh)
  UNION ALL
  SELECT v AS src, u AS dst FROM pairs WHERE c >= (SELECT c FROM thresh)
),
seeds AS MATERIALIZED (
  SELECT DISTINCT e.src AS node
  FROM e0 e JOIN supplier s ON s.s_suppkey = e.src
  WHERE s.s_nationkey = {SEED_NATION}
),
bfs(node, hops) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT e.dst, b.hops + 1
  FROM bfs b JOIN e0 e ON e.src = b.node
  WHERE b.hops < {MAX_HOPS}
)
SELECT CAST(node AS BIGINT) AS supplier, CAST(MIN(hops) AS BIGINT) AS hops
FROM bfs
GROUP BY node
ORDER BY supplier
"""
