"""Sink tests: partitioned writes and dynamic partition overwrite (the
idempotent at-scale sink pattern — rewriting one day's partition never
touches the others)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import load_table, write_parquet

from .conftest import SF_SMALL


def test_partitioned_write_layout(spark, tmp_path):
    out = str(tmp_path / "events_by_type")
    events = load_table(spark, SF_SMALL, "events")
    write_parquet(events, out, partition_by=["event_type"])
    dirs = {d for d in os.listdir(out) if d.startswith("event_type=")}
    assert dirs == {
        f"event_type={t}"
        for t in ("click", "view", "purchase", "signup", "error")
    }
    # partition pruning: reading one partition scans only that directory
    one = spark.read.parquet(out).filter(F.col("event_type") == "click")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = one._jdf.queryExecution().explainString(mode)
    assert "PartitionFilters: [isnotnull(event_type" in plan


def test_dynamic_partition_overwrite_is_idempotent(spark, tmp_path):
    out = str(tmp_path / "dyn")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        events = load_table(spark, SF_SMALL, "events")
        write_parquet(events, out, partition_by=["event_type"])
        total = spark.read.parquet(out).count()

        # rewrite ONLY the 'click' partition (e.g. a late-data restatement)
        clicks = events.filter(F.col("event_type") == "click")
        write_parquet(clicks, out, mode="overwrite", partition_by=["event_type"])

        after = spark.read.parquet(out)
        assert after.count() == total, "other partitions must be untouched"
        assert after.filter(F.col("event_type") == "click").count() == clicks.count()
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
