"""Streaming pipeline tests: watermark behavior across checkpointed
availableNow runs, and stream-static / stream-stream joins checked
against their batch equivalents."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import (
    load_table,
    normalize_events_ts,
)
from aws_glue_pyspark_incrementality_and_parallelism_spark.streaming import incremental as si

from .conftest import SF_SMALL


def _split_events(spark, tmp):
    """Events as two append batches split on event time. Normalize ``ts``
    first so the split works for both generator variants (int64 nanos and
    timestamp micros); the stream source derives its schema from the
    written files."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = normalize_events_ts(
        spark.read.parquet(os.path.join(SF_SMALL, "events.parquet"))
    )
    cut = events.agg(F.expr("percentile(cast(ts as long), 0.5)")).collect()[0][0]
    src = os.path.join(tmp, "stream_src")
    events.filter(F.col("ts").cast("long") <= cut).write.parquet(src)
    later = events.filter(F.col("ts").cast("long") > cut)
    return src, later


def test_stream_static_enrichment_join(spark, tmp_path):
    tmp = str(tmp_path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src, _ = _split_events(spark, tmp)
    out = os.path.join(tmp, "out")
    enriched = si.enriched_events_stream(spark, src, SF_SMALL)

    q = (
        enriched.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .foreachBatch(lambda df, _id: df.write.mode("append").parquet(out))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.read.parquet(out)
    # batch equivalent: events (slice 1) inner-joined to customers
    from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import load_table

    from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import (
        normalize_events_ts,
    )

    events_b = normalize_events_ts(spark.read.parquet(src))
    customers = load_table(spark, SF_SMALL, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    expected = events_b.join(customers, "user_id", "inner")
    assert got.count() == expected.count() > 0
    sample = got.limit(5).collect()
    assert all(r.c_name.startswith("Customer#") for r in sample)


def test_watermark_drops_late_events(spark, tmp_path):
    """Events older than (max event time − watermark) must be dropped,
    not aggregated — the documented late-data policy."""
    import datetime

    tmp = str(tmp_path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = os.path.join(tmp, "src")
    ckpt = os.path.join(tmp, "ckpt")
    out = os.path.join(tmp, "out")

    def _mk_events(rows):
        return spark.createDataFrame(
            [
                (i, int(ts.timestamp() * 1e9), 1, "click", 1.0, "{}")
                for i, ts in rows
            ],
            "event_id long, ts long, user_id long, event_type string, value double, props string",
        )

    def _run():
        # One availableNow run: every file not yet in the checkpoint,
        # rolled up per hour, each micro-batch's update appended to out.
        rollup = si.hourly_rollup_stream(si.read_events_stream(spark, src), "2 hours")
        (
            rollup.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(lambda df, _id: df.write.mode("append").parquet(out))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    t0 = datetime.datetime(2024, 6, 1, 12, 0, 0)
    recent = [(1, t0), (2, t0 + datetime.timedelta(minutes=30))]
    _mk_events(recent).write.parquet(src)
    _run()

    # run 2: one event 10 hours BEFORE the watermark, one new event after t0
    late = (3, t0 - datetime.timedelta(hours=10))
    fresh = (4, t0 + datetime.timedelta(hours=1))
    _mk_events([late, fresh]).write.mode("append").parquet(src)
    _run()

    got = spark.read.parquet(out)
    late_window = t0 - datetime.timedelta(hours=10)
    assert (
        got.filter(F.col("window_start") <= late_window).count() == 0
    ), "event below the watermark must be dropped"
    assert got.filter(F.col("window_start") == t0 + datetime.timedelta(hours=1)).count() == 1


def test_stream_stream_interval_join(spark, tmp_path):
    """Purchases join same-user clicks within the preceding hour; the
    streaming result must equal the batch interval join."""
    tmp = str(tmp_path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src, _ = _split_events(spark, tmp)
    out = os.path.join(tmp, "out")
    joined = si.click_to_purchase_stream(spark, src)
    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .foreachBatch(lambda df, _id: df.write.mode("append").parquet(out))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out).select("purchase_id", "click_id")

    from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import (
        normalize_events_ts,
    )

    ev = normalize_events_ts(spark.read.parquet(src))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    expected = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_id", "click_id")
    assert got.count() == expected.count() > 0
    assert expected.exceptAll(got).count() == 0


def test_sliding_complete_mode_drops_its_memory_view(spark):
    """``stream_sliding_complete_mode`` pins its result and drops the
    memory sink's temp view: two calls leave no ``sgq_sliding_complete_*``
    table in the catalog, and each result still matches the oracle."""
    from .oracle import assert_parity

    for _ in range(2):
        assert_parity(spark, "stream_sliding_complete_mode", SF_SMALL)
    left = [t.name for t in spark.catalog.listTables() if t.name.startswith("sgq_sliding_complete_")]
    assert left == []
