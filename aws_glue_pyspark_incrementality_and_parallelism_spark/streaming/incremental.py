"""Structured Streaming incremental pipeline — the Spark-native twin of
Glue job bookmarks.

The reference's bookmarks (glue_rds_to_redshift.py:31,35,40) track
"which source rows have I already processed" in a service-side store.
Spark's first-class answer is a checkpointed streaming file source: the
checkpoint directory IS the bookmark (which files were committed), the
``availableNow`` trigger gives run-to-completion batch-incremental jobs,
and watermarks bound state for late event-time data.

Both layers exist in this engine on purpose:

* ``sources.incremental`` — explicit HWM on a key column (works on any
  monotonic key, exactly the Glue semantic, queryable via DuckDB).
* this module — file-granularity exactly-once with event-time windows,
  for append-only directories (logs/CDC drops) at any scale; state and
  checkpoints live on the executors' fault-tolerant store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Physical schema of events parquet when ``ts`` is INT64 nanos (older
#: generator) — see sources.io.load_table for the batch-path handling.
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """Streaming scan of an append-only parquet directory.

    ``maxFilesPerTrigger`` bounds micro-batch size so a backlog of files
    never produces one giant batch (the streaming twin of
    ``files.maxPartitionBytes``). Streaming sources need an explicit
    schema; we take it from the existing files' footer (metadata-only
    batch read) so the int64-nanos and timestamp-micros generator
    variants both work, then normalize ``ts`` exactly as the batch path.
    """
    from ..sources.io import (
        events_measure_gate,
        events_ts_domain_prefilter,
        normalize_events_ts,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        schema = spark.read.parquet(source_dir).schema
    except Exception:
        # Empty or not-yet-created source dir (normal at stream start):
        # fall back to the canonical raw schema instead of failing the
        # 'unable to infer schema' batch probe.
        schema = EVENTS_RAW_SCHEMA
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )
    # Same ingest validity gate as the batch path (sources/io.py), same
    # composition: the raw-typed temporal prefilter pushes into the file
    # scan, then normalize, then the measure gate. A stream must
    # quarantine out-of-domain rows per micro-batch — one far-future
    # event time would otherwise poison the watermark — not crash.
    return events_measure_gate(
        normalize_events_ts(events_ts_domain_prefilter(raw))
    )


def hourly_rollup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregation.

    The watermark bounds state: windows older than (max event time −
    watermark) are finalized and dropped from the state store, so state
    size is O(active windows), not O(history) — the property that keeps
    this runnable forever on a real cluster. Events later than the
    watermark are dropped (documented late-data policy).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def enriched_events_stream(spark: SparkSession, source_dir: str, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the streaming events feed joined to
    the static customer dimension (user_id → c_custkey).

    Spark re-plans the static side per micro-batch, so dimension updates
    between batches are picked up automatically; the small static side
    broadcasts, so the stream never shuffles — the standard streaming
    enrichment topology."""
    from ..sources.io import load_table

    events = read_events_stream(spark, source_dir)
    customers = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    return events.join(customers, "user_id", "inner").select(
        "event_id", "ts", "user_id", "event_type", "value", "c_name", "c_mktsegment"
    )


def click_to_purchase_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's clicks in the preceding hour.

    Both sides carry watermarks and the join condition bounds the
    event-time gap, so Spark can expire buffered state deterministically:
    a click older than (purchase watermark − 1 hour) can never match
    again and is evicted. Without BOTH the watermarks and the interval
    bound the state store would grow forever — this is the canonical
    funnel-attribution topology at stream scale."""
    events = read_events_stream(spark, source_dir)
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select(
        "purchase_id", "purchase_ts", "purchase_value",
        F.col("p_user").alias("user_id"), "click_id", "click_ts",
    )


def session_rollup_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 minute"
) -> DataFrame:
    """Streaming sessionization with the native ``session_window``
    grouping: per (user, session) event count, total value, and session
    bounds. Dynamic-gap session windows merge as events arrive; the
    watermark finalizes a session once no event can extend it, so state
    is O(open sessions). The same expression runs identically in batch —
    the append-mode stream emits exactly the batch result for every
    session already closed by the final watermark.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )
