"""Unit tests for the reference-parity surfaces: templates, readers,
normalize helpers, validation levels, combine semantics, exporter
manifest, engagement summaries, query-builder SQL."""

from __future__ import annotations

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_frame_demo_etl_spark.analytics.engagement import (
    add_engagement_metrics,
    build_summaries,
)
from data_frame_demo_etl_spark.exporter import export_dataset
from data_frame_demo_etl_spark.operators.combine import concat_frames, merge_frames
from data_frame_demo_etl_spark.operators.normalize import (
    auto_map_columns,
    build_schema_candidates,
    guess_header_row,
    schema_diff,
    snake_case,
)
from data_frame_demo_etl_spark.operators.query_builder import Filter, OrGroup, QuerySpec
from data_frame_demo_etl_spark.operators.validate import (
    SchemaContractError,
    validate_contract,
)
from data_frame_demo_etl_spark.template_config import (
    TemplateConfig,
    load_template,
    parse_skiprows,
    save_template,
)


def test_template_roundtrip(tmp_path):
    tpl = TemplateConfig(
        source_type="csv",
        header_row=2,
        skiprows=[0, 1],
        delimiter=";",
        columns=["a", "b"],
        column_mappings={"a": "alpha"},
        unpivot=True,
        combine_on=["alpha"],
        required_fields=["alpha"],
        field_types={"b": "float"},
    )
    p = tmp_path / "x.df-template.json"
    save_template(tpl, p)
    back = load_template(p)
    assert back == tpl

    yml = tmp_path / "x.df-template.yaml"
    save_template(tpl, yml)
    assert load_template(yml) == tpl


def test_template_legacy_aliases():
    tpl = TemplateConfig.from_dict(
        {"sheet_name": "S1", "header": 3, "selected_headers": ["x"], "dedupe_on": "a, b"}
    )
    assert tpl.sheet == "S1" and tpl.header_row == 3
    assert tpl.columns == ["x"] and tpl.dedupe_on == ["a", "b"]
    assert tpl.sheets == ["S1"]


def test_parse_skiprows():
    assert parse_skiprows("0, 2,x,5") == [0, 2, 5]
    assert parse_skiprows(None) == []


def test_snake_case_and_automap():
    assert snake_case("Total Sales (EUR)") == "total_sales_eur"
    mapping = auto_map_columns(["Vendor Name", "Net Amount", "Weird Col"])
    assert mapping["Vendor Name"] == "provider_id"
    assert mapping["Net Amount"] == "sales_amount"
    assert mapping["Weird Col"] == "weird_col"


def test_learned_synonyms_roundtrip(tmp_path):
    """Learning persists to the sibling .user file, never the base;
    reload merges base + learned; re-learning dedups case-insensitively
    and the learned synonym then drives auto_map_columns."""
    from data_frame_demo_etl_spark.operators.normalize import (
        learn_synonyms,
        load_synonyms,
        user_override_path,
    )

    cfg = tmp_path / "schema.json"
    cfg.write_text('{"synonyms": {"sales_qty": ["cartons"]}}', encoding="utf-8")

    merged = learn_synonyms({"provider_id": ["Lieferant"]}, cfg)
    assert "Lieferant" in merged["provider_id"]
    assert "cartons" in merged["sales_qty"]  # base survives
    assert cfg.read_text(encoding="utf-8") == '{"synonyms": {"sales_qty": ["cartons"]}}'
    assert user_override_path(cfg).name == "schema.user.json"
    assert user_override_path(cfg).exists()

    # dedup on re-learn with different casing
    merged2 = learn_synonyms({"provider_id": ["lieferant", "Anbieter"]}, cfg)
    assert merged2["provider_id"].count("Lieferant") == 1
    assert "lieferant" not in merged2["provider_id"]
    assert "Anbieter" in merged2["provider_id"]

    # a fresh load sees the learned mapping, and auto-map uses it
    mapping = auto_map_columns(["Lieferant"], load_synonyms(cfg))
    assert mapping["Lieferant"] == "provider_id"


def test_guess_header_row():
    prev = pd.DataFrame(
        [
            [None, None, None],
            ["Report", None, None],
            ["sku", "date", "amount"],
            ["A1", "2024-01-01", 5],
        ]
    )
    assert guess_header_row(prev) == 2


def test_schema_diff():
    missing, extra = schema_diff(["a", "b"], ["b", "c"])
    assert missing == ["c"] and extra == ["a"]


def test_schema_candidates(spark):
    df = spark.createDataFrame(
        [("widget alpha long description", 1.0, 2.0, 1999)] * 20,
        ["desc", "m1", "m2", "year"],
    )
    cands = build_schema_candidates(df, target_fields=["desc", "m1"])
    assert cands[0]["score"] >= cands[-1]["score"]
    labels = {c["label"] for c in cands}
    assert "As detected" in labels


def test_validate_levels(spark):
    df = spark.createDataFrame([("1", "x"), ("2", "3")], ["num", "mixed"])
    res = validate_contract(df, field_types={"num": "int", "mixed": "int"}, level="coerce")
    assert res.is_valid
    assert any("coercion" in e["failure"] for e in res.errors)
    assert res.row_count == 2

    with pytest.raises(SchemaContractError):
        validate_contract(df, field_types={"mixed": "int"}, level="contract")
    with pytest.raises(SchemaContractError):
        validate_contract(df, required_fields=["absent"], level="contract")
    assert validate_contract(df, field_types={"num": "int"}, level="contract").row_count == 2
    off = validate_contract(df, required_fields=["absent"], level="off")
    assert off.is_valid and off.row_count == 2


@pytest.mark.parametrize(
    "level,field_types",
    [
        ("off", None),
        ("coerce", None),
        ("coerce", {"num": "int", "when": "date"}),
        ("contract", {"num": "int", "when": "date"}),
    ],
)
def test_validate_runs_its_input_once(spark, level, field_types):
    """One Spark action per call: every input row passes the UDF
    filter exactly once, whatever the level — also when the contract
    fails and DataEngine.validate_data reports the failure."""
    seen = spark.sparkContext.accumulator(0)

    @F.udf("boolean")
    def keep(_):
        seen.add(1)
        return True

    df = spark.createDataFrame(
        [("1", "2024-01-01"), ("x", "2024-01-02"), ("3", "bad")], ["num", "when"]
    ).filter(keep("num"))
    if level == "contract":
        from data_frame_demo_etl_spark.engine import DataEngine

        tpl = TemplateConfig(field_types=field_types)
        res = DataEngine(spark).validate_data(df, tpl, level=level)
        assert not res.is_valid
        assert [e["field"] for e in res.errors] == ["num", "when"]
    else:
        res = validate_contract(df, field_types=field_types, level=level)
    assert res.row_count == 3
    assert seen.value == 3


def test_concat_strict_schema_mismatch(spark):
    a = spark.createDataFrame([(1,)], ["x"])
    b = spark.createDataFrame([(2, 3)], ["x", "y"])
    with pytest.raises(ValueError, match="Schema mismatch"):
        concat_frames([a, b], strict_schema=True)
    loose = concat_frames([a, b])
    assert set(loose.columns) == {"x", "y"}
    assert loose.count() == 2


def test_merge_missing_keys(spark):
    a = spark.createDataFrame([(1, "a")], ["k", "v"])
    b = spark.createDataFrame([(1, "b")], ["other", "v"])
    with pytest.raises(ValueError, match="Missing merge keys"):
        merge_frames([a, b], keys=["k"])


def test_exporter_manifest(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, None), (2, None)], ["id", "val"])
    written = export_dataset(df, tmp_path / "out", formats=("parquet", "jsonl", "csv"))
    manifest = json.loads((tmp_path / "out" / "manifest.json").read_text())
    assert manifest["metrics"]["rows"] == 3
    assert manifest["metrics"]["duplicates"] == 1
    assert manifest["metrics"]["null_pct"]["val"] == pytest.approx(66.67)
    back = spark.read.parquet(str(written["parquet"]))
    assert back.count() == 3


def test_exporter_manifest_output_mode(spark, tmp_path):
    """metrics_mode='output': full metrics aggregated over the written
    parquet — the input plan runs exactly once (the write); values
    identical to scan mode. (Observation-based metrics are banned:
    see the ObservationManager note in operators/profile.py.)"""
    df = spark.createDataFrame([(1, "a"), (2, None), (2, None)], ["id", "val"])
    export_dataset(df, tmp_path / "obs", formats=("parquet",), metrics_mode="output")
    manifest = json.loads((tmp_path / "obs" / "manifest.json").read_text())
    m = manifest["metrics"]
    assert m["rows"] == 3 and m["duplicates"] == 1
    assert m["null_pct"]["val"] == pytest.approx(66.67)
    assert m["null_pct"]["id"] == 0.0
    assert m["dtypes"]["id"] == "bigint"
    assert m["source"] == "parquet output"

    # no columnar format -> falls back to the input-scan pass
    export_dataset(df, tmp_path / "obs2", formats=("jsonl",), metrics_mode="output")
    m2 = json.loads((tmp_path / "obs2" / "manifest.json").read_text())["metrics"]
    assert m2["rows"] == 3 and m2["duplicates"] == 1 and "source" not in m2


def test_engagement_metrics_zero_safe(spark):
    df = spark.createDataFrame(
        [("v1", 10, 2, 100), ("v2", 5, 1, 0)],
        ["video_id", "like_count", "comment_count", "view_count"],
    )
    out = {r.video_id: r for r in add_engagement_metrics(df).collect()}
    assert out["v1"].engagement_rate == pytest.approx(0.12)
    assert out["v2"].engagement_rate == 0.0


def test_build_summaries(spark):
    rows = [
        ("v1", "chA", "2023-05-01T00:00:00Z", 100, 10, 1),
        ("v2", "chA", "2024-05-01T00:00:00Z", 300, 30, 3),
        ("v3", "chB", "2024-06-01T00:00:00Z", 200, 20, 2),
    ]
    df = spark.createDataFrame(
        rows, ["video_id", "channel_title", "published_at", "view_count", "like_count", "comment_count"]
    )
    s = build_summaries(df, top_n=2)
    top = [r.video_id for r in s["top_videos"].collect()]
    assert top == ["v2", "v3"]
    per_channel = {r.channel_title: r for r in s["per_channel"].collect()}
    assert per_channel["chA"].video_count == 2 and per_channel["chA"].views == 400
    per_year = {r.year: r.video_count for r in s["per_year"].collect()}
    assert per_year == {2023: 1, 2024: 2}


def test_query_builder_sql_text():
    spec = QuerySpec(
        columns=("a", "b"),
        filters=(Filter("a", ">", 5), Filter("b", "contains", "x")),
        order_by=("a",),
        limit=3,
    )
    assert (
        spec.to_sql("t")
        == "SELECT a, b FROM t WHERE a > 5 AND b LIKE '%x%' ORDER BY a LIMIT 3"
    )


def test_query_builder_in_between_or_sql_text():
    spec = QuerySpec(
        columns=("a", "b"),
        filters=(
            Filter("a", "between", (2, 9)),
            Filter("b", "in", ("x", "it's")),
            OrGroup((Filter("a", "=", 3), Filter("b", "!=", "z"))),
        ),
    )
    assert spec.to_sql("t") == (
        "SELECT a, b FROM t WHERE a BETWEEN 2 AND 9"
        " AND b IN ('x', 'it''s')"
        " AND (a = 3 OR b != 'z')"
    )


def test_query_builder_in_between_or_apply(spark):
    """The DataFrame compilation and the generated SQL agree row-for-
    row (the two render paths share one spec)."""
    df = spark.createDataFrame(
        [(1, "x"), (3, "y"), (4, "z"), (8, "x"), (12, "x")], ["a", "b"]
    )
    spec = QuerySpec(
        filters=(
            Filter("a", "between", (2, 9)),
            Filter("b", "in", ("x", "y", "z")),
            OrGroup((Filter("a", "=", 3), Filter("b", "!=", "z"))),
        ),
        order_by=("a",),
    )
    df.createOrReplaceTempView("qb_t")
    via_df = [tuple(r) for r in spec.apply(df).collect()]
    via_sql = [tuple(r) for r in spark.sql(spec.to_sql("qb_t")).collect()]
    assert via_df == via_sql == [(3, "y"), (8, "x")]


@pytest.mark.parametrize(
    "op,value",
    [
        pytest.param("contains", "O'Brien", id="O'Brien"),
        pytest.param("contains", "50%", id="50%"),
        pytest.param("contains", "a_b", id="a_b"),
        pytest.param("contains", "a\\b", id="contains-backslash"),
        pytest.param("contains", "a\\%b", id="contains-backslash-percent"),
        pytest.param("contains", "n\\n", id="contains-backslash-n"),
        pytest.param("=", "a\\b", id="eq-backslash"),
        pytest.param("=", "a\\\\b", id="eq-double-backslash"),
        pytest.param("in", ("n\\n", "a\\%b", "O'Brien"), id="in-backslash"),
    ],
)
def test_query_builder_contains_is_literal(spark, op, value):
    """String values are literal on every render path: quotes, `%`,
    `_` and backslashes are not SQL syntax, wildcards or escapes, so
    apply(), Spark on to_sql() and DuckDB on to_sql() agree."""
    import duckdb

    rows = [(1, "O'Brien"), (2, "OBrien"), (3, "50%"), (4, "500"),
            (5, "a_b"), (6, "axb"), (7, "x!y"), (8, "a\\b"), (9, "a\\\\b"),
            (10, "a\\%b"), (11, "n\\n"), (12, "n\n")]
    df = spark.createDataFrame(rows, "id long, s string")
    df.createOrReplaceTempView("qb_contains")
    spec = QuerySpec(filters=(Filter("s", op, value),), order_by=("id",))
    sql = spec.to_sql("qb_contains")
    con = duckdb.connect()
    con.register("qb_contains", pd.DataFrame(rows, columns=["id", "s"]))
    via_df = [tuple(r) for r in spec.apply(df).collect()]
    via_spark = [tuple(r) for r in spark.sql(sql).collect()]
    via_duckdb = [tuple(r) for r in con.execute(sql).fetchall()]
    match = {"contains": lambda s: value in s, "=": lambda s: s == value,
             "in": lambda s: s in value}[op]
    assert via_df == via_spark == via_duckdb == [r for r in rows if match(r[1])]


def test_group_zscore(spark):
    from data_frame_demo_etl_spark.operators.grouped import group_zscore

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 5.0)], ["g", "v"]
    )
    rows = group_zscore(df, ["g"], "v").collect()
    by_g = {}
    for r in rows:
        by_g.setdefault(r.g, []).append(r)
    zs = sorted(r.zscore for r in by_g["a"])
    import math
    expected = [-1.2247448713915892, 0.0, 1.2247448713915892]
    assert all(math.isclose(a, b, rel_tol=1e-9) for a, b in zip(zs, expected))
    assert by_g["b"][0].zscore == 0.0  # zero-variance group


def test_approx_stats_accuracy(spark, sf_oracle_dir):
    from data_frame_demo_etl_spark.analytics.sketches import approx_stats
    from data_frame_demo_etl_spark.sources.catalog import load_table

    events = load_table(spark, "events", sf_oracle_dir)
    approx = {r.event_type: r for r in approx_stats(events).collect()}
    exact = {
        r.event_type: r
        for r in events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("p50"),
        )
        .collect()
    }
    for et, ex in exact.items():
        ap = approx[et]
        assert abs(ap.approx_users - ex.users) / ex.users < 0.05
        assert abs(ap.value_pcts[0] - ex.p50) <= abs(ex.p50) * 0.05 + 1.0


def test_orc_roundtrip_with_compression(spark, tmp_path):
    from data_frame_demo_etl_spark.sources.readers import read_with_template
    from data_frame_demo_etl_spark.template_config import TemplateConfig

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"])
    written = export_dataset(
        df, tmp_path / "orc_out", formats=("orc",), compression="zstd"
    )
    back = read_with_template(
        spark, str(written["orc"]), TemplateConfig(source_type="orc")
    )
    assert {(r.id, r.val) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_best_target_and_type_inference():
    from data_frame_demo_etl_spark.operators.normalize import (
        TARGET_SCHEMA,
        best_target,
        infer_simple_type,
        normalize_header_text,
    )

    assert normalize_header_text("Net-Amount (EUR)!") == "net amount eur"
    assert best_target("Vendor", TARGET_SCHEMA) == "provider_id"
    assert best_target("Quantity Sold", TARGET_SCHEMA) == "sales_qty"
    assert best_target("zzqx", TARGET_SCHEMA) is None
    assert infer_simple_type("timestamp") == "Date"
    assert infer_simple_type("decimal(12,2)") == "Number"
    assert infer_simple_type("boolean") == "Boolean"
    assert infer_simple_type("string") == "Text"


def test_data_engine_facade(spark, tmp_path):
    from data_frame_demo_etl_spark.engine import DataEngine, run_engine

    eng = DataEngine(spark)
    src = tmp_path / "in.csv"
    src.write_text("sku,amount\nA1,5\nA2,7\n")
    tpl = TemplateConfig(
        source_type="csv",
        columns=["sku", "amount"],
        column_mappings={"sku": "article_sku", "amount": "sales_amount"},
        provider_name="acme",
        field_types={"sales_amount": "float"},
    )
    df = eng.read_source(src, tpl)
    transformed, metrics, validation = run_engine(spark, df, tpl)
    assert validation.is_valid
    rows = {r.article_sku: r.sales_amount for r in transformed.collect()}
    assert rows == {"A1": 5.0, "A2": 7.0}
    assert set(transformed.columns) >= {"article_sku", "sales_amount", "provider_id"}

    result = eng.run_full_process(src, tpl, tmp_path / "out.parquet")
    assert result.success
    combined = eng.run_combine(tmp_path, pattern="out.parquet")
    assert combined.count() == 2

    with pytest.raises(ValueError):
        eng.ingest("not a frame", tpl)


def test_salted_key_bounds_hot_partition(spark):
    """The skew proof in miniature: a key holding ~half the rows owns
    one whole reducer when partitioned by key; partitioned by
    (key, salt8) no reducer holds more than a salt-share of it."""
    from pyspark.sql import functions as F

    n = 20_000
    df = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )

    def max_partition(d, *cols):
        pid = d.repartition(16, *[F.col(c) for c in cols]).withColumn(
            "__pid", F.spark_partition_id()
        )
        return max(r["count"] for r in pid.groupBy("__pid").count().collect())

    plain_max = max_partition(df, "k")
    salted = df.withColumn("__salt", F.pmod(F.xxhash64("k", "payload"), F.lit(8)))
    salted_max = max_partition(salted, "k", "__salt")
    assert plain_max >= n // 2  # hot key monopolizes a reducer
    # Worst salted reducer carries ≈ hot/8 + tail; 3× headroom on the
    # deterministic layout keeps this stable across hash changes.
    assert salted_max <= plain_max // 3, (plain_max, salted_max)


def test_csv_quarantine_captures_malformed(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text(
        "id,qty\n"
        "1,10\n"
        "2,notanumber\n"   # type failure -> quarantine
        "3,30\n"
    )
    from data_frame_demo_etl_spark.sources.readers import read_csv_with_quarantine

    good, quar = read_csv_with_quarantine(spark, str(p), "id long, qty long")
    assert {(r.id, r.qty) for r in good.collect()} == {(1, 10), (3, 30)}
    bad = quar.collect()
    assert len(bad) == 1 and "notanumber" in bad[0]._raw


def test_jsonl_quarantine_captures_malformed(spark, tmp_path):
    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "qty": 10}\n'
        "{broken json\n"
        '{"id": 3, "qty": 30}\n'
    )
    from data_frame_demo_etl_spark.sources.readers import read_jsonl_with_quarantine

    good, quar = read_jsonl_with_quarantine(spark, str(p), "id long, qty long")
    assert {(r.id, r.qty) for r in good.collect()} == {(1, 10), (3, 30)}
    bad = quar.collect()
    assert len(bad) == 1 and "broken" in bad[0]._raw


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """Files written under an evolving schema read back as one table
    with mergeSchema: old files null-fill the new column."""
    d = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id long, a string").write.parquet(d + "/v=1")
    spark.createDataFrame([(2, "b", 9.5)], "id long, a string, score double").write.parquet(
        d + "/v=2"
    )
    df = spark.read.option("mergeSchema", "true").parquet(d + "/v=1", d + "/v=2")
    rows = {r.id: (r.a, r.score) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}
    assert set(df.columns) == {"id", "a", "score"}


# ──────────────── Avro source (availability-gated) ────────────────


def test_avro_gate_named_error_when_module_absent(spark, tmp_path):
    """spark-avro is an external module this container does not deploy;
    the gate must (a) detect that without I/O and (b) turn Spark's
    opaque 'Failed to find data source' into a named, actionable error
    carrying the --packages coordinate. If a future image ships the
    jar, the same test proves the round-trip instead."""
    from data_frame_demo_etl_spark.sources.readers import (
        AVRO_PACKAGE,
        avro_available,
        read_avro,
        write_avro,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    if avro_available(spark):
        p = str(tmp_path / "avro_rt")
        write_avro(df, p)
        back = read_avro(spark, p)
        assert sorted((r.id, r.s) for r in back.collect()) == [(1, "a"), (2, "b")]
    else:
        import pytest as _pytest

        with _pytest.raises(ModuleNotFoundError, match="spark-avro"):
            read_avro(spark, str(tmp_path / "nope"))
        with _pytest.raises(ModuleNotFoundError, match="--packages"):
            write_avro(df, str(tmp_path / "nope"))


def test_avro_template_routes_through_gate(spark, tmp_path):
    from data_frame_demo_etl_spark.sources.readers import avro_available, read_with_template
    from data_frame_demo_etl_spark.template_config import TemplateConfig

    import pytest as _pytest

    tpl = TemplateConfig(source_type="avro")
    if not avro_available(spark):
        with _pytest.raises(ModuleNotFoundError, match="spark-avro"):
            read_with_template(spark, str(tmp_path / "x.avro"), tpl)


def test_t_closeness_hand_computed(spark):
    """Two mirror classes over two bands (global 3/3, N=6, m=2):
    class A holds (2,1) → S₁ = 2·6−3·3 = 3, S₂ = 0, EMD = 3/(1·3·6)
    → 166666 ppm; class B is the mirror image → identical EMD."""
    from pyspark.sql import functions as F

    from data_frame_demo_etl_spark.operators.validate import t_closeness

    rows = [("A", 1), ("A", 1), ("A", 2), ("B", 1), ("B", 2), ("B", 2)]
    df = spark.createDataFrame(rows, "cls string, band long")
    out = {r.cls: r for r in t_closeness(df, ["cls"], F.col("band")).collect()}
    assert out["A"].n == 3 and out["B"].n == 3
    assert out["A"].emd_ppm == out["B"].emd_ppm == 166_666
    assert out["A"].meets_t and out["B"].meets_t


def test_t_closeness_identical_distribution_is_zero(spark):
    """Classes whose band distribution equals the global one have
    EMD exactly 0 (every cumulative difference vanishes)."""
    from pyspark.sql import functions as F

    from data_frame_demo_etl_spark.operators.validate import t_closeness

    rows = [(c, b) for c in ("A", "B") for b in (1, 2, 3)]
    df = spark.createDataFrame(rows, "cls string, band long")
    out = t_closeness(df, ["cls"], F.col("band")).collect()
    assert all(r.emd_ppm == 0 and r.meets_t for r in out)


def test_t_closeness_flags_concentrated_class(spark):
    """A class concentrated in the top band of a wide spread must
    fail t=0.2: global bands 1..5 uniform (2 each from 'spread' +
    skew), the hot class entirely in band 5."""
    from pyspark.sql import functions as F

    from data_frame_demo_etl_spark.operators.validate import t_closeness

    rows = [("bg", b) for b in (1, 1, 2, 2, 3, 3, 4, 4) ] + [("hot", 5), ("hot", 5)]
    df = spark.createDataFrame(rows, "cls string, band long")
    out = {r.cls: r for r in t_closeness(df, ["cls"], F.col("band")).collect()}
    assert not out["hot"].meets_t
    assert out["hot"].emd_ppm > out["bg"].emd_ppm
