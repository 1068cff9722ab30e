"""Schema-contract validation — parity with the reference's pandera
contract (reference src/schema.py, src/api/v1/engine.py:18-80):
levels off / coerce / contract, required-field checks, typed coercion
with per-field failure counts.

Validation is one Spark action per plan at every level: a single
aggregate row carries the input row count and one coercion-failure
count per typed field, never a collect-and-inspect loop or a second
count.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F

_TYPE_ALIASES = {
    "date": "timestamp",
    "datetime": "timestamp",
    "int": "bigint",
    "integer": "bigint",
    "float": "double",
    "number": "double",
    "numeric": "double",
    "str": "string",
    "string": "string",
    "text": "string",
}


class SchemaContractError(ValueError):
    """Raised at level='contract' when the contract is violated;
    ``row_count`` is the input row count from the same aggregate."""

    def __init__(self, failures: list[dict], row_count: int):
        self.failures = failures
        self.row_count = row_count
        super().__init__(f"schema contract violated: {failures}")


@dataclass
class ValidationResult:
    is_valid: bool
    errors: list[dict] = field(default_factory=list)
    row_count: int = 0
    coerced: DataFrame | None = None


def _coerce(
    df: DataFrame, type_map: Mapping[str, str]
) -> tuple[DataFrame, list[tuple[str, Column]]]:
    """Coerce columns to declared types; returns (coerced_df,
    [(field, failure_count_aggregate)]) for every non-string typed
    field. Failure == non-null input that nulls out under try_cast
    (engine.py:18-52 parity)."""
    out = df
    checks = []
    for col, spec in type_map.items():
        target = _TYPE_ALIASES.get(str(spec).lower())
        if col not in df.columns or target is None:
            continue
        src = F.col(col).cast("string")
        if target == "string":
            out = out.withColumn(col, src)
            continue
        converted = (
            F.try_to_timestamp(src) if target == "timestamp" else src.try_cast(target)
        )
        out = out.withColumn(col, converted)
        checks.append((col, F.count_if(src.isNotNull() & converted.isNull())))
    return out, checks


def _failure_aggregate(df: DataFrame, checks: list[tuple[str, Column]]) -> DataFrame:
    """One row: __fail_<i> per check, then the input row count."""
    return df.agg(
        *[fail.alias(f"__fail_{i}") for i, (_, fail) in enumerate(checks)],
        F.count(F.lit(1)).alias("rows"),
    )


def coerce_field_types(df: DataFrame, type_map: Mapping[str, str]) -> tuple[DataFrame, DataFrame]:
    """Coerce columns to declared types; returns (coerced_df,
    failure_counts_df). failure_counts_df has one row per coerced
    field: (field, failures, rows)."""
    out, checks = _coerce(df, type_map)
    per_field = F.array(
        *[
            F.struct(F.lit(c).alias("field"), F.col(f"__fail_{i}").alias("failures"))
            for i, (c, _) in enumerate(checks)
        ]
    ).cast("array<struct<field:string,failures:bigint>>")
    return out, _failure_aggregate(df, checks).select(F.inline(per_field), "rows")


def validate_contract(
    df: DataFrame,
    required_fields: Sequence[str] = (),
    field_types: Mapping[str, str] | None = None,
    level: str = "coerce",
) -> ValidationResult:
    """Validate against the contract (engine.validate parity).

    - 'off': pass-through.
    - 'coerce': coerce declared types, report failures, stay valid.
    - 'contract': missing required fields or any coercion failure →
      SchemaContractError.

    Runs ``df`` exactly once (one aggregate row), at every level.
    """
    level = (level or "coerce").lower()
    missing = [] if level == "off" else [f for f in required_fields if f not in df.columns]
    missing_errors = [{"column": c, "failure": "missing required column"} for c in missing]

    coerced, checks = (df, []) if level == "off" else _coerce(df, field_types or {})
    row = _failure_aggregate(df, checks).first()
    failures = [
        {"field": c, "failures": row[i], "rows": row["rows"]}
        for i, (c, _) in enumerate(checks)
        if row[i]
    ]
    if (missing or failures) and level == "contract":
        raise SchemaContractError(missing_errors or failures, row["rows"])

    errors = missing_errors + [
        {"column": f["field"], "failure": f"{f['failures']} coercion failures"}
        for f in failures
    ]
    return ValidationResult(
        is_valid=not missing, errors=errors, row_count=row["rows"], coerced=coerced
    )


def k_anonymity(
    df: DataFrame,
    quasi_identifiers: Sequence[str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit (Sweeney 2002): every combination of
    quasi-identifier values must be shared by ≥ k rows, or those rows
    are re-identifiable and must be suppressed/generalized before the
    dataset ships — the standard privacy gate a training-data release
    runs over demographic-ish columns.

    One aggregation: (QI..., n, meets_k). The equivalence-class table
    is bounded by the QI domain product, not the row count, so the
    audit output stays broadcastable no matter how large the input —
    and the single groupBy partial-aggregates map-side at any scale.
    Null QI values form their own equivalence class (they are still a
    linkable signature).
    """
    from pyspark.sql import functions as F

    qi = [F.col(c) for c in quasi_identifiers]
    return (
        df.groupBy(*qi)
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("meets_k", F.col("n") >= k)
    )


def l_diversity(
    df: DataFrame,
    quasi_identifiers: Sequence[str],
    sensitive_col,
    l: int = 3,
):
    """l-diversity audit (Machanavalli et al. 2007): beyond k-anonymity,
    every quasi-identifier equivalence class must contain at least
    ``l`` DISTINCT values of the sensitive attribute — a class of 50
    rows that all share one salary band is k-anonymous yet leaks the
    sensitive value outright (the homogeneity attack k-anonymity
    misses).

    One aggregation: (QI..., n, n_sensitive, meets_l). The exact
    per-class distinct count is the point of the audit (an approximate
    count cannot certify a privacy floor); the distinct expansion is
    bounded by the QI-domain × sensitive-domain product, not the row
    count, and partial-aggregates map-side like V5.
    """
    from pyspark.sql import functions as F

    qi = [F.col(c) for c in quasi_identifiers]
    return (
        df.groupBy(*qi)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(sensitive_col).alias("n_sensitive"),
        )
        .withColumn("meets_l", F.col("n_sensitive") >= l)
    )


def customer_k_anonymity(spark, sf_dir: str) -> DataFrame:
    """Gate: k=5 anonymity audit of customers over the
    (market segment, nation) quasi-identifier pair, with each
    equivalence class's size and pass flag."""
    from pyspark.sql import functions as F

    from ..sources.catalog import load_table

    cust = load_table(spark, "customer", sf_dir)
    return k_anonymity(cust, ["c_mktsegment", "c_nationkey"], k=5).orderBy(
        "c_mktsegment", "c_nationkey"
    )


CUSTOMER_K_ANONYMITY_SQL = """
SELECT c_mktsegment, c_nationkey, COUNT(*) AS n, COUNT(*) >= 5 AS meets_k
FROM customer
GROUP BY c_mktsegment, c_nationkey
ORDER BY c_mktsegment, c_nationkey
"""


def customer_l_diversity(spark, sf_dir: str) -> DataFrame:
    """Gate: l=3 diversity audit of customers over the
    (market segment, nation) quasi-identifier pair, with account
    balance banded to $1000 as the sensitive attribute — the
    homogeneity-attack check V5's size-only audit cannot express.
    The band rides the exact cent grid (decimal × 100 → integer DIV),
    so both engines see identical sensitive values."""
    from pyspark.sql import functions as F

    from ..sources.catalog import load_table

    # +$1M offset keeps the dividend non-negative: Spark DIV truncates
    # toward zero while DuckDB // floors, and TPC-H balances go to
    # −999.99 — on non-negatives the two agree exactly (the repo's
    # integral-division convention).
    cust = load_table(spark, "customer", sf_dir).withColumn(
        "__band", F.expr("(CAST(c_acctbal * 100 AS BIGINT) + 100000000) DIV 100000")
    )
    return (
        l_diversity(cust, ["c_mktsegment", "c_nationkey"], "__band", l=3)
        .select(
            "c_mktsegment",
            "c_nationkey",
            F.col("n").cast("long").alias("n"),
            F.col("n_sensitive").cast("long").alias("n_sensitive"),
            "meets_l",
        )
        .orderBy("c_mktsegment", "c_nationkey")
    )


CUSTOMER_L_DIVERSITY_SQL = """
SELECT c_mktsegment, c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT (CAST(c_acctbal * 100 AS BIGINT) + 100000000) // 100000) AS BIGINT) AS n_sensitive,
       COUNT(DISTINCT (CAST(c_acctbal * 100 AS BIGINT) + 100000000) // 100000) >= 3 AS meets_l
FROM customer
GROUP BY c_mktsegment, c_nationkey
ORDER BY c_mktsegment, c_nationkey
"""


def star_integrity_audit(spark, sf_dir: str) -> DataFrame:
    """Schema-wide data-contract audit: primary-key uniqueness and
    foreign-key orphan checks for the star schema, one row per
    constraint — (check_name, n_rows, n_violations, violation_ppm).
    The referential sweep every warehouse load gate runs; a non-zero
    orphan row means a fact arrived before (or outlived) its
    dimension.

    Scale shape: each PK check is one map-side-combined aggregation
    (duplicates = Σ(count−1) over keys); FK checks are single-pass
    LEFT joins against the de-duplicated dimension keys with the
    orphan count read off `count_if(miss)` — r12: the former
    total-scan + anti-join-scan pair cost TWO fact passes per
    constraint, and the three lineitem constraints now share ONE
    lineitem scan (6 scans of the biggest table → 1; a left join
    against a unique-keyed dim neither multiplies nor drops rows, and
    a NULL/absent fact key misses the join exactly as it missed the
    anti-join). All checks union into a constant-size report in one
    action."""
    from pyspark.sql import functions as F

    from ..sources.catalog import load_table

    def pk(df, key, name):
        return (
            df.groupBy(key)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.lit(name).alias("check_name"),
                F.sum("c").cast("long").alias("n_rows"),
                F.sum(F.col("c") - 1).cast("long").alias("n_violations"),
            )
        )

    def fk_report(fact, constraints):
        """One scan of ``fact`` for EVERY (fact_key, dim, dim_key,
        name) constraint: left-join each distinct dim key set, count
        misses per constraint in one aggregation, explode to the
        per-constraint report rows."""
        j = fact.select(
            *[F.col(k).alias(f"__k{i}") for i, (k, _, _, _) in enumerate(constraints)]
        )
        for i, (_, dim, dk, _) in enumerate(constraints):
            j = j.join(
                dim.select(F.col(dk).alias(f"__k{i}"))
                .distinct()
                .withColumn(f"__h{i}", F.lit(1)),
                f"__k{i}",
                "left",
            )
        agg = j.agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.count_if(F.col(f"__h{i}").isNull()).alias(f"v{i}")
                for i in range(len(constraints))
            ],
        )
        return agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(name).alias("check_name"),
                            F.col("n").cast("long").alias("n_rows"),
                            F.col(f"v{i}").cast("long").alias("n_violations"),
                        )
                        for i, (_, _, _, name) in enumerate(constraints)
                    ]
                )
            ).alias("r")
        ).select("r.*")

    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    part = load_table(spark, "part", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)

    checks = [
        pk(orders, "o_orderkey", "pk_orders"),
        pk(customer, "c_custkey", "pk_customer"),
        pk(part, "p_partkey", "pk_part"),
        pk(supplier, "s_suppkey", "pk_supplier"),
        fk_report(
            li,
            [
                ("l_orderkey", orders, "o_orderkey", "fk_lineitem_orders"),
                ("l_partkey", part, "p_partkey", "fk_lineitem_part"),
                ("l_suppkey", supplier, "s_suppkey", "fk_lineitem_supplier"),
            ],
        ),
        fk_report(orders, [("o_custkey", customer, "c_custkey", "fk_orders_customer")]),
        fk_report(nation, [("n_regionkey", region, "r_regionkey", "fk_nation_region")]),
    ]
    report = checks[0]
    for c in checks[1:]:
        report = report.unionByName(c)
    return report.select(
        "check_name",
        "n_rows",
        "n_violations",
        F.expr("n_violations * 1000000 div greatest(n_rows, 1)").alias(
            "violation_ppm"
        ),
    ).orderBy("check_name")


STAR_INTEGRITY_AUDIT_SQL = """
WITH pk AS (
  SELECT 'pk_orders' AS check_name, CAST(SUM(c) AS BIGINT) AS n_rows,
         CAST(SUM(c - 1) AS BIGINT) AS n_violations
  FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
  UNION ALL
  SELECT 'pk_customer', CAST(SUM(c) AS BIGINT), CAST(SUM(c - 1) AS BIGINT)
  FROM (SELECT COUNT(*) AS c FROM customer GROUP BY c_custkey)
  UNION ALL
  SELECT 'pk_part', CAST(SUM(c) AS BIGINT), CAST(SUM(c - 1) AS BIGINT)
  FROM (SELECT COUNT(*) AS c FROM part GROUP BY p_partkey)
  UNION ALL
  SELECT 'pk_supplier', CAST(SUM(c) AS BIGINT), CAST(SUM(c - 1) AS BIGINT)
  FROM (SELECT COUNT(*) AS c FROM supplier GROUP BY s_suppkey)
),
fk AS (
  SELECT 'fk_lineitem_orders' AS check_name,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_rows,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
          WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_violations
  UNION ALL
  SELECT 'fk_lineitem_part',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem
          WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
  UNION ALL
  SELECT 'fk_lineitem_supplier',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem
          WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
  UNION ALL
  SELECT 'fk_orders_customer',
         (SELECT COUNT(*) FROM orders),
         (SELECT COUNT(*) FROM orders
          WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
  UNION ALL
  SELECT 'fk_nation_region',
         (SELECT COUNT(*) FROM nation),
         (SELECT COUNT(*) FROM nation
          WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region))
)
SELECT check_name, n_rows, n_violations,
       CAST(n_violations * 1000000 // GREATEST(n_rows, 1) AS BIGINT) AS violation_ppm
FROM (SELECT * FROM pk UNION ALL SELECT * FROM fk)
ORDER BY check_name
"""


# ─────────────── V8: functional-dependency audit (g3) ───────────────


def fd_audit(df: DataFrame, candidates: Sequence[tuple[str, str]]) -> DataFrame:
    """Approximate-functional-dependency profiling: for each candidate
    FD ``lhs → rhs``, the classic g3 error (Kivinen & Mannila 1995, the
    measure TANE/Metanome report) — the minimum fraction of rows that
    must be removed for the dependency to hold exactly:

        g3 = (n − Σ_groups max single-rhs count) / n

    ``violations == 0`` certifies the FD holds on this corpus; the ppm
    rendering rides the exact integral-division grid (both engines
    floor on non-negatives). NULL on either side excludes the row (SQL
    FD semantics are defined over non-null pairs; the excluded count is
    visible as n_rows differences across candidates).

    Scale shape, per candidate: groupBy(lhs, rhs) count (map-side
    combined) → groupBy(lhs) sum/max (partial-aggregable) → one
    global agg; candidates run as a UNION of independent ≤3-stage
    pipelines — no self-joins, no windows, no driver loops. This is
    the profiling primitive a warehouse runs before declaring
    constraints or choosing clustering keys.

    No reference analog (/root/reference profiles types, not
    dependencies); beyond-reference data-quality surface.
    """
    outs = []
    for lhs, rhs in candidates:
        pair = (
            df.filter(F.col(lhs).isNotNull() & F.col(rhs).isNotNull())
            .groupBy(F.col(lhs).alias("l"), F.col(rhs).alias("r"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        grp = pair.groupBy("l").agg(F.sum("c").alias("tot"), F.max("c").alias("mx"))
        outs.append(
            grp.agg(
                F.count(F.lit(1)).alias("n_groups"),
                F.coalesce(F.sum("tot"), F.lit(0)).alias("n_rows"),
                F.coalesce(F.sum("tot") - F.sum("mx"), F.lit(0)).alias("violations"),
            ).select(
                F.lit(lhs).alias("lhs"),
                F.lit(rhs).alias("rhs"),
                F.col("n_groups").cast("long").alias("n_groups"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col("violations").cast("long").alias("violations"),
                F.when(
                    F.col("n_rows") > 0,
                    F.expr("violations * 1000000 div n_rows"),
                ).alias("g3_ppm"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("lhs", "rhs")


#: The gate's candidate set: a key-implied FD that must hold
#: (o_orderkey is the primary key), and two realistic non-FDs whose
#: g3 error the audit quantifies.
_FD_CANDIDATES: tuple[tuple[str, str], ...] = (
    ("o_orderkey", "o_orderstatus"),
    ("o_custkey", "o_orderpriority"),
    ("o_orderstatus", "o_orderpriority"),
)


def orders_fd_audit(spark, sf_dir: str) -> DataFrame:
    """Gate: g3 functional-dependency audit over the orders fact —
    the PK-implied FD comes back violations=0, the behavioral
    candidates report their exact repair distance."""
    from ..sources.catalog import load_table

    orders = load_table(spark, "orders", sf_dir)
    return fd_audit(orders, _FD_CANDIDATES)


def _fd_leg(lhs: str, rhs: str) -> str:
    return f"""
  SELECT '{lhs}' AS lhs, '{rhs}' AS rhs,
         CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(COALESCE(SUM(tot), 0) AS BIGINT) AS n_rows,
         CAST(COALESCE(SUM(tot) - SUM(mx), 0) AS BIGINT) AS violations,
         CASE WHEN COALESCE(SUM(tot), 0) > 0
              THEN CAST((SUM(tot) - SUM(mx)) * 1000000 // SUM(tot) AS BIGINT)
         END AS g3_ppm
  FROM (
    SELECT l, SUM(c) AS tot, MAX(c) AS mx
    FROM (
      SELECT {lhs} AS l, {rhs} AS r, COUNT(*) AS c
      FROM orders
      WHERE {lhs} IS NOT NULL AND {rhs} IS NOT NULL
      GROUP BY 1, 2
    )
    GROUP BY l
  )"""


ORDERS_FD_AUDIT_SQL = (
    "SELECT * FROM (\n"
    + "\n  UNION ALL\n".join(_fd_leg(l, r) for l, r in _FD_CANDIDATES)
    + "\n) ORDER BY lhs, rhs"
)


# ─────────────── V9: calibrated noisy-count release ───────────────

DP_EPSILON_MICRO = 1_000_000  # ε = 1.0


def noisy_count_release(
    df: DataFrame, group_col: str, epsilon_micro: int = DP_EPSILON_MICRO
) -> DataFrame:
    """Laplace-mechanism noisy count release per group — the
    aggregate-publication mechanism (Dwork et al. 2006): counts have
    sensitivity 1, so adding Laplace(1/ε) noise gives an
    ε-differentially-private release.

    HONESTY NOTE (load-bearing): the noise here is SEEDED from the
    group key's md5 grid point so both engines — and every rerun —
    release the identical value. Seeded noise is NOT differential
    privacy (an adversary who knows the seed subtracts the noise);
    what this operator verifies end-to-end is the RELEASE MECHANISM —
    inverse-CDF transform, scale calibration 1/ε, sign symmetry —
    bit-for-bit across engines. A production deployment swaps the
    md5 draw for fresh randomness and keeps every other line.

    Inverse CDF: with u ∈ (0,1),
        lap = −(1/ε)·sgn(u − ½)·ln(1 − 2·|u − ½|)
    computed in one fixed IEEE order from the exact integer grid
    point (u = (h + ½)/2³², exact in doubles), quantized ONCE onto
    the micro grid (the lm.py trick — the single ln's libm ulp sits
    far under the grid). Released value = n·10⁶ + noise_micro.

    Scale shape: one map-side-combined count per group, then pure
    per-row arithmetic on the group-domain-sized table."""
    eps = epsilon_micro / 1_000_000.0
    counts = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).alias("n")
    )
    h = F.conv(F.substring(F.md5(F.col("g").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    u = (h.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    centered = u - F.lit(0.5)
    mag = F.abs(centered)
    lap = (
        F.lit(-1.0 / eps)
        * F.signum(centered)
        * F.log(F.lit(1.0) - F.lit(2.0) * mag)
    )
    noise_micro = F.floor(lap * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
    return counts.select(
        F.col("g").alias(group_col),
        (F.col("n") * F.lit(1_000_000) + noise_micro).cast("long").alias(
            "released_count_micro"
        ),
        F.lit(int(epsilon_micro)).cast("long").alias("epsilon_micro"),
    ).orderBy(group_col)


def docs_dp_release(spark, sf_dir: str) -> DataFrame:
    """Gate: ε=1 Laplace noisy per-source document counts — the
    publication mechanism, seeded for cross-engine verification (see
    noisy_count_release's honesty note)."""
    from ..sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    return noisy_count_release(docs, "source")


DOCS_DP_RELEASE_SQL = """
WITH counts AS (
  SELECT source AS g, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY source
),
noise AS (
  SELECT g, n,
         (CAST(CAST(CONCAT('0x', SUBSTR(MD5(CAST(g AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS u
  FROM counts
)
SELECT g AS source,
       CAST(n * 1000000
            + FLOOR((-1.0) * SIGN(u - 0.5) * LN(1.0 - 2.0 * ABS(u - 0.5)) * 1000000.0 + 0.5)
         AS BIGINT) AS released_count_micro,
       CAST(1000000 AS BIGINT) AS epsilon_micro
FROM noise
ORDER BY source
"""


def t_closeness(
    df: DataFrame,
    quasi_identifiers: Sequence[str],
    sensitive_col,
    t_ppm: int = 200_000,
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    third rung of the release-privacy ladder after V5 k-anonymity
    (class size) and V7 l-diversity (distinct sensitive values): a
    class can be large AND diverse yet still leak ("every salary in
    this class is in the top two bands"), so t-closeness bounds the
    DISTANCE between each class's sensitive distribution and the
    global one. For an ORDERED attribute the distance is the earth
    mover's distance EMD = (1/(m−1))·Σ_{i<m} |Σ_{j≤i}(p_j − q_j)|
    over the m ordered value bins.

    Exact integers end to end: on the common denominator n_c·N the
    cumulative difference S_i = Σ_{j≤i}(c_cj·N − n_c·g_j) is an exact
    integer (S_m = 0 identically, so summing |S_i| over ALL bins
    equals the i<m sum), and emd_ppm = Σ|S_i|·10⁶ div ((m−1)·n_c·N)
    — both engines floor on non-negatives. Largest intermediate
    ~bins·n_c·N·10⁶ ≤ 10³¹ at 10¹² rows: inside DECIMAL(38,0).

    Scale shape: one (QI, band) aggregation + one (band) aggregation
    (both map-side combined, both bounded by domain products, never
    by rows); the dense class×band spine is a bounded crossJoin of
    two domain tables plus a 1-ROW (N, m) scalar broadcast; the
    cumulative window partitions by class over ≤m rows each."""
    from pyspark.sql import Window, functions as F

    qi = list(quasi_identifiers)
    base = df.select(*qi, sensitive_col.alias("__band"))
    g = base.groupBy("__band").agg(F.count(F.lit(1)).alias("__gb"))
    totals = g.agg(
        F.sum("__gb").alias("__N"), F.count(F.lit(1)).alias("__m")
    )
    classes = base.groupBy(*qi).agg(F.count(F.lit(1)).alias("n"))
    class_band = base.groupBy(*qi, "__band").agg(F.count(F.lit(1)).alias("__c"))
    spine = (
        classes.crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(totals))
        .join(class_band, [*qi, "__band"], "left")
        .withColumn("__c", F.coalesce(F.col("__c"), F.lit(0)))
    )
    w = (
        Window.partitionBy(*qi)
        .orderBy("__band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s_i = F.sum(
        F.expr(
            "cast(__c as decimal(38,0)) * cast(__N as decimal(38,0))"
            " - cast(n as decimal(38,0)) * cast(__gb as decimal(38,0))"
        )
    ).over(w)
    return (
        spine.withColumn("__s", s_i)
        .groupBy(*qi)
        .agg(
            F.first("n").alias("n"),
            F.first("__N").alias("__N"),
            F.first("__m").alias("__m"),
            F.sum(F.abs(F.col("__s"))).alias("__sabs"),
        )
        .select(
            *qi,
            F.col("n").cast("long").alias("n"),
            F.when(
                F.col("__m") > 1,
                F.expr(
                    "__sabs * 1000000 div"
                    " (cast(__m - 1 as decimal(38,0))"
                    " * cast(n as decimal(38,0)) * cast(__N as decimal(38,0)))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("emd_ppm"),
        )
        .withColumn("meets_t", F.col("emd_ppm") <= t_ppm)
    )


def customer_t_closeness(spark, sf_dir: str) -> DataFrame:
    """Gate: t=0.2 closeness audit of customers over the
    (market segment, nation) quasi-identifier pair with the V7 $1000
    account-balance band as the ordered sensitive attribute — the
    skewed-distribution leak neither V5's size nor V7's distinct
    count can see."""
    from pyspark.sql import functions as F

    from ..sources.catalog import load_table

    cust = load_table(spark, "customer", sf_dir).withColumn(
        "__band", F.expr("(CAST(c_acctbal * 100 AS BIGINT) + 100000000) DIV 100000")
    )
    return (
        t_closeness(cust, ["c_mktsegment", "c_nationkey"], F.col("__band"))
        .orderBy("c_mktsegment", "c_nationkey")
    )


# NOTE: the global total is `tot`, NOT `N` — DuckDB identifiers are
# case-insensitive, so `N` would silently resolve to the class-size
# column `n` (caught by the sf0.01 hash gate on landing).
CUSTOMER_T_CLOSENESS_SQL = """
WITH base AS (
  SELECT c_mktsegment, c_nationkey,
         (CAST(c_acctbal * 100 AS BIGINT) + 100000000) // 100000 AS band
  FROM customer
),
g AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS gb FROM base GROUP BY band),
totals AS (SELECT CAST(SUM(gb) AS BIGINT) AS tot, CAST(COUNT(*) AS BIGINT) AS m FROM g),
classes AS (
  SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS n
  FROM base GROUP BY c_mktsegment, c_nationkey
),
cb AS (
  SELECT c_mktsegment, c_nationkey, band, CAST(COUNT(*) AS BIGINT) AS c
  FROM base GROUP BY c_mktsegment, c_nationkey, band
),
spine AS (
  SELECT cl.c_mktsegment, cl.c_nationkey, cl.n, g.band, g.gb, t.tot, t.m,
         COALESCE(cb.c, 0) AS c
  FROM classes cl CROSS JOIN g CROSS JOIN totals t
  LEFT JOIN cb ON cb.c_mktsegment = cl.c_mktsegment
              AND cb.c_nationkey = cl.c_nationkey
              AND cb.band = g.band
),
cum AS (
  SELECT c_mktsegment, c_nationkey, n, tot, m,
         SUM(CAST(c AS HUGEINT) * tot - CAST(n AS HUGEINT) * gb) OVER (
           PARTITION BY c_mktsegment, c_nationkey ORDER BY band
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS s
  FROM spine
)
SELECT c_mktsegment, c_nationkey, n,
       CASE WHEN m > 1
            THEN CAST(SUM(ABS(s)) * 1000000
                      // (CAST(m - 1 AS HUGEINT) * CAST(n AS HUGEINT) * CAST(tot AS HUGEINT))
                 AS BIGINT)
            ELSE 0 END AS emd_ppm,
       CASE WHEN m > 1
            THEN CAST(SUM(ABS(s)) * 1000000
                      // (CAST(m - 1 AS HUGEINT) * CAST(n AS HUGEINT) * CAST(tot AS HUGEINT))
                 AS BIGINT)
            ELSE 0 END <= 200000 AS meets_t
FROM cum
GROUP BY c_mktsegment, c_nationkey, n, tot, m
ORDER BY c_mktsegment, c_nationkey
"""
