from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_frame_demo_etl_spark.operators.transform import (
    add_provider_id,
    coerce_date,
    coerce_numeric,
    combine_on_aggregate,
    drop_empty_rows,
    drop_null_columns,
    null_fractions,
    strip_thousands,
    trim_strings,
    unpivot,
)


def test_drop_empty_rows(spark):
    df = spark.createDataFrame(
        [(1, "a"), (None, None), (2, None)], "x int, y string"
    )
    assert drop_empty_rows(df).count() == 2


def test_null_fractions_and_drop_null_columns(spark):
    df = spark.createDataFrame(
        [(1, None, "a"), (2, None, None), (3, None, "c"), (4, 1.0, "d")],
        "x int, mostly_null double, y string",
    )
    fracs = null_fractions(df)
    assert fracs["x"] == 0.0 and fracs["mostly_null"] == 0.75
    kept = drop_null_columns(df, threshold=0.5)
    assert set(kept.columns) == {"x", "y"}
    # threshold 0.2 keeps the 25%-non-null column too
    assert set(drop_null_columns(df, threshold=0.25).columns) == {"x", "mostly_null", "y"}


def test_trim_and_strip_thousands(spark):
    df = spark.createDataFrame([("  a b  ", "1,234 567")], "s string, amt string")
    out = strip_thousands(trim_strings(df, ["s"]), ["amt"]).collect()[0]
    assert out.s == "a b"
    assert out.amt == "1234567"


def test_coerce_date_and_numeric(spark):
    df = spark.createDataFrame(
        [("2024-01-05", "10.5"), ("garbage", "xx")], "d string, v string"
    )
    dates = coerce_date(df, "d", drop_unparseable=True)
    assert dates.count() == 1
    nums = coerce_numeric(df, "v", fill=0.0).collect()
    assert sorted(r.v for r in nums) == [0.0, 10.5]
    kept_null = coerce_numeric(df, "v", fill=None).collect()
    assert None in [r.v for r in kept_null]


def test_unpivot_and_provider(spark):
    df = spark.createDataFrame([(1, 10, 2.5)], "id int, a int, b double")
    melted = add_provider_id(
        unpivot(df, ["id"], ["a", "b"], var_name="m", value_name="v"), "prov"
    ).collect()
    assert {(r.m, r.v, r.provider_id) for r in melted} == {("a", 10.0, "prov"), ("b", 2.5, "prov")}


def test_combine_on_aggregate_null_groups(spark):
    df = spark.createDataFrame(
        [("k1", 1.0), ("k1", 2.0), ("k2", None)], "k string, v double"
    )
    out = {r.k: r.v for r in combine_on_aggregate(df, ["k"]).collect()}
    assert out["k1"] == 3.0
    assert out["k2"] is None  # all-null group → null (pandas min_count=1 parity)


def test_top_k_exact_matches_full_count_both_paths(spark):
    """Pruned path on a skewed corpus and fallback path on a flat one
    both equal the exact groupBy top-k."""
    from pyspark.sql import functions as F

    from data_frame_demo_etl_spark.operators.heavy import top_k_exact

    # skewed: item i appears ~1000/(i+1) times → clear heavy hitters
    skewed = [(f"w{i}",) for i in range(50) for _ in range(1000 // (i + 1))]
    # flat: every item exactly twice → guarantee fails, fallback fires
    flat = [(f"f{i}",) for i in range(200) for _ in range(2)]
    for rows, m in [(skewed, 8), (flat, 4)]:
        df = spark.createDataFrame(rows, ["item"]).repartition(8)
        got = [(r.item, r.cnt) for r in top_k_exact(df, "item", k=10, m=m).collect()]
        exact = [
            (r.item, r.cnt)
            for r in df.groupBy("item")
            .agg(F.count("*").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("item").asc())
            .limit(10)
            .collect()
        ]
        assert got == exact


def test_pruned_topn_equals_plain_window(spark):
    """Partition-pruned top-n == plain window top-n, including with
    many partitions and duplicate order values."""
    import random

    from pyspark.sql import Window, functions as F

    from data_frame_demo_etl_spark.operators.topn import pruned_topn

    rng = random.Random(11)
    rows = [(rng.randrange(7), i, rng.randrange(50) * 1.0) for i in range(2000)]
    df = spark.createDataFrame(rows, ["k", "id", "v"]).repartition(16)
    got = {
        (r.k, r.id, r.rank)
        for r in pruned_topn(df, ["k"], [("v", False), ("id", True)], n=5).collect()
    }
    w = Window.partitionBy("k").orderBy(F.col("v").desc(), F.col("id").asc())
    ref = {
        (r.k, r.id, r.rank)
        for r in df.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .collect()
    }
    assert got == ref and len(ref) == 35


def test_pruned_topn_prunes_below_the_exchange(spark):
    """Spark plans the per-partition prune itself: a Partial
    WindowGroupLimit sits below the key exchange, and no Python
    operator (mapInPandas or a Python UDF) runs in the plan."""
    from data_frame_demo_etl_spark.operators.topn import pruned_topn

    rows = [(i % 7, i, float(i % 50)) for i in range(200)]
    df = spark.createDataFrame(rows, ["k", "id", "v"]).repartition(4)
    top = pruned_topn(df, ["k"], [("v", False), ("id", True)], n=5)
    plan = top._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    exchange = next(i for i, ln in enumerate(lines) if "Exchange hashpartitioning" in ln)
    partial = [
        i for i, ln in enumerate(lines)
        if "WindowGroupLimit" in ln and ln.rstrip().endswith("Partial")
    ]
    assert partial and partial[0] > exchange, plan
    assert "MapInPandas" not in plan and "PythonUDF" not in plan, plan


def test_key_skew_profile_detects_hot_key(spark):
    """A planted hot key dominates max_count and top_share; a uniform
    key distribution reports max ~= p50."""
    from data_frame_demo_etl_spark.operators.skew import key_skew_profile

    uniform = [(i % 50, i) for i in range(500)]
    hot = [(999, 10_000 + i) for i in range(500)]
    df = spark.createDataFrame(uniform + hot, "k long, payload long")
    prof = key_skew_profile(df, "k").collect()[0]
    assert prof["n_rows"] == 1000 and prof["n_keys"] == 51
    assert prof["max_count"] == 500 and prof["p50_count"] == 10
    assert prof["top_share"] >= 0.5  # hot key holds half the table

    uni_prof = key_skew_profile(
        spark.createDataFrame(uniform, "k long, payload long"), "k"
    ).collect()[0]
    assert uni_prof["max_count"] == uni_prof["p50_count"] == 10
