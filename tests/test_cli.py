"""CLI integration: template-driven batch run → combine → profile,
driven through the argparse entrypoints."""

from __future__ import annotations

import json

import pytest

from data_frame_demo_etl_spark.cli import main
from data_frame_demo_etl_spark.template_config import TemplateConfig, save_template


@pytest.fixture()
def input_dir(tmp_path, spark):
    d = tmp_path / "input"
    d.mkdir()
    for stem, rows in {
        "jan": [("A1", "2024-01-01", "100"), ("A2", "2024-01-02", "200")],
        "feb": [("A1", "2024-02-01", "300"), ("A3", "2024-02-02", "x")],
    }.items():
        lines = ["sku,date,amount"] + [",".join(r) for r in rows]
        (d / f"{stem}.csv").write_text("\n".join(lines) + "\n")
    tpl = TemplateConfig(
        source_type="csv",
        columns=["sku", "date", "amount"],
        column_mappings={"sku": "article_sku", "date": "report_date", "amount": "sales_amount"},
        provider_name="acme",
        field_types={"sales_amount": "float"},
    )
    save_template(tpl, d / "provider.df-template.json")
    return d


def test_cli_run_combine_profile(spark, input_dir, tmp_path, capsys):
    out_dir = tmp_path / "out"
    rc = main(
        [
            "run",
            "--target-dir",
            str(input_dir),
            "--output-dir",
            str(out_dir),
            "--validation-level",
            "coerce",
        ]
    )
    assert rc == 0
    run_lines = [json.loads(line) for line in capsys.readouterr().out.strip().splitlines()]
    assert all(r["success"] for r in run_lines)
    assert {r["source"] for r in run_lines} == {"jan.csv", "feb.csv"}

    combined = tmp_path / "combined.parquet"
    rc = main(
        [
            "combine",
            "--input-dir",
            str(out_dir),
            "--pattern",
            "*_clean.parquet",
            "--mode",
            "concat",
            "--output",
            str(combined),
        ]
    )
    assert rc == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["rows"] == 4

    rc = main(["profile", "--path", str(combined)])
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out)
    assert metrics["rows"] == 4
    assert "provider_id" in metrics["null_pct"]

    df = spark.read.parquet(str(combined))
    vals = {r.article_sku: r.sales_amount for r in df.collect() if r.article_sku == "A3"}
    assert vals["A3"] == 0.0  # unparseable amount coerced+filled


def test_pipeline_quarantine_on_contract_failure(spark, tmp_path):
    from data_frame_demo_etl_spark.pipeline import run_pipeline
    from data_frame_demo_etl_spark.template_config import TemplateConfig

    src = tmp_path / "bad.csv"
    src.write_text("sku,amount\nA1,xx\nA2,yy\n")
    tpl = TemplateConfig(
        source_type="csv",
        columns=["sku", "amount"],
        field_types={"amount": "float"},
        provider_name="p",
    )
    qdir = tmp_path / "quarantine"
    result = run_pipeline(
        spark,
        str(src),
        tpl,
        str(tmp_path / "out.parquet"),
        quarantine_dir=str(qdir),
        validation_level="contract",
    )
    assert not result.success
    assert (qdir / "bad.error.log").exists()
    assert (qdir / "bad.parquet").exists()
    # coerce level on the same input succeeds with nulls→0 handling upstream
    ok = run_pipeline(
        spark, str(src), tpl, str(tmp_path / "out2.parquet"), validation_level="coerce"
    )
    assert ok.success


def test_save_quarantine_logs_write_failure(spark, tmp_path):
    from pyspark.sql import functions as F

    from data_frame_demo_etl_spark.pipeline import save_quarantine

    @F.udf("long")
    def boom(_):
        raise ValueError("quarantine write boom")

    df = spark.range(2).withColumn("x", boom("id"))
    save_quarantine(df, "bad.csv", tmp_path, "contract violated")
    log = (tmp_path / "bad.error.log").read_text()
    assert "contract violated" in log
    assert "Quarantine parquet write failed" in log
    assert "quarantine write boom" in log


def test_pipeline_missing_source_is_quarantined(spark, tmp_path):
    from data_frame_demo_etl_spark.pipeline import run_pipeline

    tpl = TemplateConfig(source_type="csv", columns=["sku", "amount"], provider_name="p")
    qdir = tmp_path / "quarantine"
    result = run_pipeline(
        spark,
        str(tmp_path / "missing.csv"),
        tpl,
        str(tmp_path / "out.parquet"),
        quarantine_dir=str(qdir),
    )
    assert not result.success
    log = (qdir / "missing.error.log").read_text()
    assert "Traceback" in log and "missing.csv" in log


def test_cli_youtube_with_fake_transport(spark, tmp_path, monkeypatch, capsys):
    import data_frame_demo_etl_spark.sources.youtube_api as yt
    from tests.test_youtube_api import fake_transport

    monkeypatch.setattr(yt, "requests_transport", lambda key: fake_transport)
    monkeypatch.setenv("YOUTUBE_API_KEY", "test-key")
    rc = main(
        [
            "youtube",
            "--playlist-id",
            "UPL1",
            "--max-results",
            "5",
            "--output-dir",
            str(tmp_path / "yt"),
            "--summary",
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 3
    detail = spark.read.parquet(str(tmp_path / "yt" / "data.parquet"))
    assert "engagement_rate" in detail.columns
    assert (tmp_path / "yt" / "summary" / "per_year").exists()


def test_cli_plan_audit(spark, capsys):
    rc = main(["plan-audit", "q1_pricing_summary"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert out["query"] == "q1_pricing_summary"
    assert out["scans"] == 1 and out["nested_loop_joins"] == 0
    assert any("l_shipdate" in f for f in out["pushed_filters"])

    rc = main(["plan-audit", "no_such_query"])
    assert rc == 1
