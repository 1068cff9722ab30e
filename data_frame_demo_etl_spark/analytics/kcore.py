"""k-core decomposition — the fourth graph primitive (after connected
components, PageRank, and triangle counting): the maximal subgraph in
which every node keeps degree ≥ k, computed by iterative peeling
(drop nodes below k, re-count, repeat).

Scale shape: each peel round is one degree aggregation plus two
semi-joins on the (already key-partitioned) edge list — no global
sort, no driver-side graph. The round count is FIXED (not
data-adaptive): peeling is idempotent at the fixpoint, so running
extra rounds is a no-op, and a fixed unrolling is exactly what the
portable SQL oracle mirrors CTE-for-CTE. A 100 TB edge list peels in
`rounds` bounded shuffles; pytest pins that the fixture converges
well inside the default.

Graph: the same strong supplier co-purchase edges as triangle
counting (analytics/triangles.py — top-decile pair co-occurrence), so
the two gates share the edge contract.

No reference analog (`/root/reference` has no graph ops);
brief-mandated beyond-reference analytics.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession, functions as F

from .triangles import copurchase_edges

DEFAULT_ROUNDS = 6


def kcore(edges: DataFrame, k: int, rounds: int | None = None) -> DataFrame:
    """Peel ``edges`` (undirected, one row per u<v pair, columns u/v)
    down to the k-core; returns (node, deg) with each survivor's
    degree inside the core.

    ``rounds=None`` (the library default) peels to convergence — the
    per-round edge count is already materialized, so detecting the
    fixpoint is free and termination is guaranteed (the count strictly
    decreases until it stabilizes). A finite ``rounds`` bounds the
    iterations to mirror a fixed SQL unrolling (the gate/oracle
    contract); deep-cascade graphs (e.g. a long path at k=2) can need
    more rounds than any fixed bound, so hitting the cap before the
    fixpoint warns — the result is then a SUPERSET of the true k-core
    (exactly the partially-peeled state the same-depth unrolled oracle
    computes)."""
    sym = edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # Materialize the (possibly expensive) upstream edge build ONCE
    # before peeling: round 1's plan references `sym` three times
    # (degree agg + two semi-joins), so without this the edge
    # construction re-executes inside the first checkpoint — measured
    # at sf1: 7.6s → 4.6s for the whole gate. The count doubles as
    # the loop's fixpoint baseline (a first round that removes
    # nothing exits immediately — already the fixpoint).
    sym = sym.localCheckpoint(eager=True)
    prev_n = sym.count()
    done = 0
    converged = False
    while rounds is None or done < rounds:
        done += 1
        alive = (
            sym.groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("u")
        )
        sym = sym.join(alive, "u", "left_semi").join(
            alive.select(F.col("u").alias("v")), "v", "left_semi"
        )
        # Each round references `sym` three times (degree agg + two
        # semi-joins): without truncation the logical plan grows 3^r
        # and the optimizer, not the data, becomes the bottleneck.
        # EAGER localCheckpoint: the lazy form hangs here — chaining a
        # lazy checkpoint whose plan contains the previous round's
        # still-unmaterialized lazy checkpoint deadlocks job
        # submission under AQE (measured; eager runs the same graph
        # in seconds). One bounded action per round is the price.
        sym = sym.localCheckpoint(eager=True)
        # Early fixpoint exit, result-identical to running all rounds:
        # peeling only REMOVES edges, so an unchanged count means an
        # unchanged set means every remaining round is a no-op (which
        # is also why the oracle's full unrolling matches). The count
        # is a cheap scan of the just-materialized checkpoint; at sf1
        # this cuts the 6 fixed rounds to the 2-3 the data needs.
        n = sym.count()
        if n == prev_n:
            converged = True
            break
        prev_n = n
    if not converged and rounds is not None:
        warnings.warn(
            f"kcore: round cap {rounds} hit before the fixpoint — the "
            "result is a superset of the true k-core (matches a "
            f"{rounds}-round unrolled oracle, not full peeling); "
            "pass rounds=None to peel to convergence",
            stacklevel=2,
        )
    return (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(F.col("u").alias("node"), "deg")
    )


def supplier_kcore(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Gate: the 3-core of the strong supplier co-purchase graph —
    suppliers that keep ≥3 strong co-purchase partners after
    everyone weaker is iteratively removed (the standard dense-
    community extraction step upstream of community mining).

    Fixed unrolling (DEFAULT_ROUNDS), matching the oracle CTE-for-CTE;
    the early fixpoint exit makes extra rounds free and pytest pins
    that the fixture converges well inside the bound."""
    edges = copurchase_edges(spark, sf_dir)
    return kcore(edges, k, rounds=DEFAULT_ROUNDS).orderBy("node")


def _kcore_sql(k: int = 3, rounds: int = DEFAULT_ROUNDS) -> str:
    """Unrolled peel: e0 = symmetrized strong edges, then per round
    n{i} = nodes with deg ≥ k in e{i-1}, e{i} = e{i-1} semi-joined to
    n{i} on both endpoints. Mirrors the Spark loop CTE-for-CTE; the
    strong-edge CTE reproduces triangles' exact-p90 threshold with a
    window cumulation (same order statistic, oracle-side formulation).
    """
    head = """
WITH pairs AS MATERIALIZED (
  SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(DISTINCT a.l_orderkey) AS c
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
),
thresh AS (
  -- 90*n/100.0, not 0.9*n: the former is exact at integer multiples
  -- (0.9 has no finite binary form), matching the driver-side
  -- ceil(90*n/100) in triangles.copurchase_edges_with_count.
  SELECT c FROM (
    SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn, COUNT(*) OVER () AS n
    FROM pairs
  ) WHERE rn = GREATEST(1, CAST(CEIL(90 * n / 100.0) AS BIGINT))
),
e0 AS MATERIALIZED (
  SELECT u, v FROM pairs WHERE c >= (SELECT c FROM thresh)
  UNION ALL
  SELECT v AS u, u AS v FROM pairs WHERE c >= (SELECT c FROM thresh)
)"""
    parts = [head]
    prev = "e0"
    for i in range(1, rounds + 1):
        parts.append(
            f""",
n{i} AS MATERIALIZED (
  SELECT u FROM {prev} GROUP BY u HAVING COUNT(*) >= {k}
),
e{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM {prev} e
  WHERE e.u IN (SELECT u FROM n{i}) AND e.v IN (SELECT u FROM n{i})
)"""
        )
        prev = f"e{i}"
    parts.append(
        f"""
SELECT u AS node, COUNT(*) AS deg FROM {prev} GROUP BY u ORDER BY node
"""
    )
    return "".join(parts)


SUPPLIER_KCORE_SQL = _kcore_sql()
