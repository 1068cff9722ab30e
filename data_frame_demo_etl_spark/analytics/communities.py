"""Community detection by synchronous label propagation (LPA).

Completes the graph family (connected components dedup/clusters.py,
PageRank analytics/pagerank.py, triangles, k-core): CC answers "what
is reachable", k-core "what is dense enough to survive peeling" —
LPA answers "which dense block does each node belong to", the
community-mining step proper (Raghavan et al. 2007, "Near linear
time algorithm to detect community structures in large-scale
networks"). Reference scope check: the reference engine has no graph
module at all; this family is part of the beyond-reference training-
data-pipeline surface (supplier/brand co-occurrence graphs are the
standard blocking structure for entity resolution at corpus scale).

Determinism: classic LPA is order-dependent (asynchronous updates,
random tie-breaks). This implementation is the SYNCHRONOUS fixed-
round variant with a total tie-break order — every engine computes
bit-identical labels:

- init: label(v) = v
- round: label'(v) = the neighbor label with the highest vote count,
  ties broken toward the SMALLEST label (count DESC, label ASC)
- exactly N_ROUNDS rounds (no convergence test: synchronous LPA can
  2-cycle on bipartite structure, so a fixed round count is the only
  deterministic stopping rule; the oracle unrolls the same rounds
  CTE-for-CTE).

Scale notes (the 100 TB plan): each round is one shuffle join of the
node-sized label table against the reused edge table plus two
partial-aggregable groupBys. The argmax is max(struct(cnt, -label))
— the keep-best construction (dedup/gate.py D12 precedent), never
row_number over a per-node window partition. Labels re-checkpoint
per round to bound lineage (pagerank.py precedent). No step buffers
a posting list; AQE is free to pick join strategies per round.

Iterative-persist memory contract: see pagerank.py's module docstring
— the per-round persists are lazily chained (in-function unpersist
would drop them before the caller's action fills them), peak cached
state is O(N_ROUNDS) node-sized label tables, the session owner
releases them, and persist does not truncate RDD lineage (a
long-rounds variant should checkpoint every K rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .triangles import copurchase_edges

N_ROUNDS = 3


def label_propagation(edges: DataFrame, n_rounds: int = N_ROUNDS) -> DataFrame:
    """(node, label) after ``n_rounds`` synchronous min-tie-break LPA
    rounds over the undirected edge set ``edges`` (columns u, v with
    u < v; both directions are derived here)."""
    sym = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    labels = (
        sym.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.col("src").alias("label"))
    )
    for _ in range(n_rounds):
        votes = (
            sym.join(labels.select(F.col("node").alias("dst"), "label"), "dst")
            .groupBy("src", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax (cnt DESC, label ASC) as a partial-aggregable
        # max(struct) — the D12 keep-best construction; a row_number
        # window here would single-task every hot node's vote list.
        labels = (
            votes.groupBy("src")
            .agg(
                F.max(
                    F.struct(F.col("cnt").alias("c"), (-F.col("label")).alias("nl"))
                ).alias("m")
            )
            .select(F.col("src").alias("node"), (-F.col("m.nl")).alias("label"))
        )
        # Lazy persist, not localCheckpoint (r12, the graph_hits
        # finding): under AQE even localCheckpoint(eager=False)
        # executes every stage eagerly, serializing construction into
        # blocking per-round jobs. The rounds are a SEQUENTIAL chain
        # (round t+1's join is the only consumer of round t), so a
        # lazy persist truncates lineage the same way and the caller's
        # single action materializes all rounds in one cascade.
        labels = labels.persist()
    return labels


def supplier_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: LPA communities of the strong supplier co-purchase graph
    (the shared edge build, triangles.copurchase_edges) —
    (supplier, community, n_members) after 3 synchronous rounds,
    ordered by supplier. Community ids are the winning node ids
    (stable across engines by the tie-break order)."""
    edges = copurchase_edges(spark, sf_dir)
    labs = label_propagation(edges)
    sizes = labs.groupBy("label").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        labs.join(sizes, "label")
        .select(
            F.col("node").cast("long").alias("supplier"),
            F.col("label").cast("long").alias("community"),
            F.col("n_members").cast("long").alias("n_members"),
        )
        .orderBy("supplier")
    )


def _lpa_sql(rounds: int = N_ROUNDS) -> str:
    """Unrolled oracle: the kcore/triangles strong-edge CTE (exact-p90
    threshold, oracle-side window cumulation) then per round a vote
    CTE and a QUALIFY row_number pick — (cnt DESC, label ASC) is
    value-identical to the Spark max(struct(cnt, -label))."""
    head = """
WITH pairs AS MATERIALIZED (
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
l0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, src AS label FROM e0
)"""
    parts = [head]
    prev = "l0"
    for i in range(1, rounds + 1):
        parts.append(
            f""",
v{i} AS (
  SELECT e.src AS node, l.label, COUNT(*) AS cnt
  FROM e0 e JOIN {prev} l ON l.node = e.dst
  GROUP BY 1, 2
),
l{i} AS MATERIALIZED (
  SELECT node, label FROM v{i}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) = 1
)"""
        )
        prev = f"l{i}"
    parts.append(
        f"""
SELECT l.node AS supplier, l.label AS community,
       CAST(s.n_members AS BIGINT) AS n_members
FROM {prev} l
JOIN (SELECT label, COUNT(*) AS n_members FROM {prev} GROUP BY label) s
  USING (label)
ORDER BY supplier
"""
    )
    return "".join(parts)


SUPPLIER_COMMUNITIES_SQL = _lpa_sql()
