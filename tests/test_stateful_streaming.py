"""Custom stateful operator test: per-key HWM dedup across two
checkpointed incremental runs (state survives restart; re-delivered
events are dropped)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from aws_glue_pyspark_incrementality_and_parallelism_spark.streaming import incremental as si
from aws_glue_pyspark_incrementality_and_parallelism_spark.streaming import stateful

from .conftest import SF_SMALL


def _run(spark, src, ckpt, out):
    events = si.read_events_stream(spark, src)
    deduped = stateful.hwm_dedup_stream(events)

    def _write(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = (
        deduped.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(_write)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_keyed_hwm_dedup_across_runs(spark, tmp_path):
    tmp = str(tmp_path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(os.path.join(SF_SMALL, "events.parquet"))
    cut = raw.agg(F.expr("percentile(event_id, 0.5)")).collect()[0][0]
    src = os.path.join(tmp, "src")
    ckpt = os.path.join(tmp, "ckpt")
    out = os.path.join(tmp, "out")

    batch1 = raw.filter(F.col("event_id") <= cut)
    batch1.write.parquet(src)
    _run(spark, src, ckpt, out)
    n1 = spark.read.parquet(out).count()
    assert n1 == batch1.count()

    # second delivery: re-sends some already-seen events + new ones
    resend = raw.filter(
        (F.col("event_id") > cut * 0.8) & (F.col("event_id") <= cut)
    )
    fresh = raw.filter(F.col("event_id") > cut)
    resend.unionByName(fresh).write.mode("append").parquet(src)
    _run(spark, src, ckpt, out)

    final = spark.read.parquet(out)
    # every event exactly once, despite the redelivery
    assert final.count() == raw.count()
    dup = final.groupBy("user_id", "event_id").count().filter(F.col("count") > 1).count()
    assert dup == 0


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """Append-mode session_window stream: every emitted session matches
    the batch session_window aggregation exactly (closed sessions only)."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import (
        normalize_events_ts,
    )
    from aws_glue_pyspark_incrementality_and_parallelism_spark.streaming import (
        incremental as si,
    )

    tmp = str(tmp_path)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = normalize_events_ts(
        spark.read.parquet(os.path.join(SF_SMALL, "events.parquet"))
    )
    src = os.path.join(tmp, "src")
    out = os.path.join(tmp, "out")
    raw.write.parquet(src)

    events = si.read_events_stream(spark, src)
    sessions = si.session_rollup_stream(events, gap="30 minutes", watermark="1 minute")
    q = (
        sessions.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .foreachBatch(lambda df, _id: df.write.mode("append").parquet(out))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.read.parquet(out).select(
        "session_start", "session_end", "user_id", "n_events",
        F.round("total_value", 4).alias("total_value"),
    )
    expected_all = (
        raw.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id", "n_events", "total_value",
        )
    )
    assert got.count() > 0
    # every emitted session is exactly a batch session (no partials, no dups)
    assert got.exceptAll(expected_all).count() == 0
    # and emission covers everything closed well before the final watermark
    final_wm = raw.agg(F.max("ts")).collect()[0][0]
    import datetime

    closed = expected_all.filter(
        F.col("session_end") < F.lit(final_wm - datetime.timedelta(minutes=2))
    )
    assert got.count() >= closed.count()
