"""Advanced streaming coverage: watermarked stream dedup,
stream-static enrichment joins, and foreachBatch CDC upserts."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

T0 = dt.datetime(2024, 1, 1)
SCHEMA = "event_id long, ts timestamp, user_id long, event_type string"


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: replayed events (same event_id)
    inside the watermark window are emitted once."""
    rows = [
        (1, T0, 10, "view"),
        (1, T0, 10, "view"),          # exact replay
        (2, T0 + dt.timedelta(minutes=1), 10, "click"),
        (1, T0 + dt.timedelta(minutes=2), 10, "view"),  # late replay of id 1
        (3, T0 + dt.timedelta(minutes=3), 20, "view"),
    ]
    src = str(tmp_path / "dups")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(SCHEMA)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.event_id for r in spark.sql("SELECT * FROM dedup_stream").collect())
    assert got == [1, 2, 3]


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join: a streaming fact enriched by a static dim
    (broadcast per micro-batch, no state needed)."""
    rows = [(1, T0, 10, "view"), (2, T0, 20, "click"), (3, T0, 99, "view")]
    src = str(tmp_path / "facts")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(src)
    users = spark.createDataFrame([(10, "gold"), (20, "silver")], "user_id long, tier string")

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    enriched = stream.join(F.broadcast(users), "user_id", "left")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.event_id: r.tier for r in spark.sql("SELECT * FROM enriched_stream").collect()}
    assert got == {1: "gold", 2: "silver", 3: None}


def test_foreachbatch_cdc_upsert(spark, tmp_path):
    """Streaming upsert: each micro-batch of changes folds into a
    parquet snapshot via cdc.apply_changes inside foreachBatch."""
    from data_frame_demo_etl_spark.operators.cdc import apply_changes

    snap_path = str(tmp_path / "snapshot")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, name string, val double"
    )
    base.write.parquet(snap_path)

    changes_schema = "k long, seq long, op string, name string, val double"
    changes = [
        (1, 1, "update", "a", 11.0),
        (2, 1, "delete", None, None),
        (3, 1, "insert", "c", 30.0),
    ]
    src = str(tmp_path / "changes")
    spark.createDataFrame(changes, changes_schema).coalesce(1).write.parquet(src)

    def upsert(batch_df, batch_id):
        snapshot = spark.read.parquet(snap_path)
        updated = apply_changes(snapshot, batch_df, key=["k"], seq_col="seq")
        updated.write.mode("overwrite").parquet(str(tmp_path / f"snap_{batch_id}"))

    stream = spark.readStream.schema(changes_schema).parquet(src)
    q = stream.writeStream.foreachBatch(upsert).trigger(availableNow=True).start()
    q.awaitTermination(120)

    final = spark.read.parquet(str(tmp_path / "snap_0"))
    got = {(r.k, r.name, r.val) for r in final.collect()}
    assert got == {(1, "a", 11.0), (3, "c", 30.0)}
