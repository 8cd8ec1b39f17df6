"""Driver-oracled Structured Streaming + CDC queries.

Round 3 gap: the streaming machinery (``streaming/incremental.py``,
``streaming/stateful.py``, ``operators/upsert.py``) was pytest-only —
no entry on the driver-verified surface. These queries run REAL
streaming jobs to completion (``availableNow`` trigger + checkpoint)
against the sf_dir events parquet and return the final materialized
result, so the driver's DuckDB comparator adjudicates streaming
semantics against the equivalent batch SQL.

Determinism contract (what makes a streaming job oracle-able):

* The source is finite and the trigger is ``availableNow`` — the job
  processes everything and stops.
* Watermarks are set far beyond the data's time span ("365 days"), so
  no row is ever late-dropped regardless of how the file source splits
  micro-batches. State stays O(data) at test SF; production jobs use
  the tight watermarks exercised in tests/test_streaming.py, trading
  replay-exactness for bounded state.
* Sinks are either keyed MERGEs (idempotent last-writer-wins — final
  table is batch-equivalent no matter the batch split) or append sinks
  whose rows are emitted exactly once for inner joins / first-seen
  dedup.

Each run goes through ``_run_stream``, which gives it a fresh
``session.scratch_dir`` checkpoint (and output dir), so repeated driver
invocations reprocess from scratch instead of replaying a foreign
checkpoint.

Reference anchor: the bookmarked incremental scan in
glue_rds_to_redshift.py:31,35,40 — these are its streaming twins with
the update/delete gap (SURVEY §7) closed by the CDC apply step.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..session import pin, scratch_dir
from ..sources.io import load_table, swap_parquet


def _run_stream(
    stream: DataFrame, mode: str, sink=None, checkpoint: str | None = None
) -> str | None:
    """Run a streaming frame to completion (``availableNow`` trigger) in
    output ``mode``, from ``checkpoint`` or else a fresh scratch one.

    With a ``foreachBatch`` function ``sink``, every micro-batch goes
    through it and None is returned. Without one, the rows go to a
    parquet file sink in a fresh scratch dir, whose path is returned.
    """
    writer = stream.writeStream.outputMode(mode).option(
        "checkpointLocation", checkpoint or scratch_dir("sgq_stream_ckpt_")
    )
    out = None
    if sink is None:
        out = scratch_dir("sgq_stream_out_")
        writer = writer.format("parquet").option("path", out)
    else:
        writer = writer.foreachBatch(sink)
    writer.trigger(availableNow=True).start().awaitTermination()
    return out


def _arrival_stream(spark: SparkSession, schema: str, batches: list) -> DataFrame:
    """A file stream that reads ``batches`` as one micro-batch each, in
    list order: each frame is staged as one parquet file in a fresh
    scratch dir, with file ``i``'s mtime ordered by ``i``, and the
    stream takes one file per trigger (``maxFilesPerTrigger=1``).
    """
    src = scratch_dir("sgq_arrivals_")
    for i, batch in enumerate(batches):
        part_dir = os.path.join(src, f"_stage_{i}")
        batch.coalesce(1).write.parquet(part_dir)
        part = next(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
        dst = os.path.join(src, f"arrival_{i}.parquet")
        shutil.move(os.path.join(part_dir, part), dst)
        shutil.rmtree(part_dir)
        os.utime(dst, (1_700_000_000 + i * 100,) * 2)
    return (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )


def _stage_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Copy the events parquet into a fresh scratch dir.

    The streaming file source tracks *directories*; staging gives each
    run an isolated append-only source dir (and mirrors how log/CDC
    drops arrive in production: files landing in a watched prefix).
    """
    src = os.path.join(sf_dir, "events.parquet")
    d = scratch_dir("sgq_stream_src_")
    if os.path.isdir(src):
        for f in os.listdir(src):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(src, f), os.path.join(d, f))
    else:
        shutil.copy(src, os.path.join(d, "events.parquet"))
    return d


@query(
    "stream_hourly_rollup_merge",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_hourly_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed availableNow stream → watermarked 1h tumbling window
    → foreachBatch keyed MERGE into a standing parquet report.

    The sink-side MERGE (``operators.upsert.upsert_parquet``) makes the
    pipeline batch-equivalent by construction: update-mode re-emits a
    (window, event_type) row with its *current cumulative* aggregate
    whenever a micro-batch touches it, and last-writer-wins per key
    folds those re-emissions into exactly the batch GROUP BY — however
    the file source happened to split batches, and idempotently under
    crash-replay. This is the production shape for incremental report
    maintenance; the driver adjudicates its final state against plain
    batch SQL.

    Scale: state is O(active windows) once the watermark is tightened;
    the MERGE rewrites only partitions containing touched keys when the
    target is partitioned (upsert.py docstring).
    """
    from ..streaming.incremental import hourly_rollup_stream, read_events_stream
    from .upsert import upsert_parquet

    src = _stage_events_dir(spark, sf_dir)
    report = os.path.join(scratch_dir("sgq_stream_out_"), "report")

    events = read_events_stream(spark, src)
    rollup = hourly_rollup_stream(events, watermark="365 days")

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        upsert_parquet(spark, report, batch_df, keys=["window_start", "event_type"])

    _run_stream(rollup, "update", _merge)
    return spark.read.parquet(report).select(
        "window_start", "event_type", "n_events", "total_value"
    )


@query(
    "stream_dedup_first_seen",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def stream_dedup_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` on
    (user_id, event_type), append sink, then aggregate the deduped feed.

    Append mode emits each key's FIRST arrival immediately; the
    watermark bounds how long the "seen" state is retained (here longer
    than the data span, so the dedup is exact and the final feed equals
    batch DISTINCT). Production tightens the watermark to the maximum
    duplicate lag — state becomes O(keys per watermark window), the
    documented trade against ``streaming.stateful.hwm_dedup_stream``'s
    O(keys)-forever state.

    Only the key columns are projected into the sink: first-arrival
    payloads depend on micro-batch order, keys do not — that projection
    is what makes the streaming result deterministic and oracle-able.
    """
    from ..streaming.incremental import read_events_stream

    src = _stage_events_dir(spark, sf_dir)
    events = read_events_stream(spark, src)
    deduped = (
        events.select("user_id", "event_type", "ts")
        .withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    out = _run_stream(deduped, "append")
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.count("user_id").alias("n_users"))
    )


@query(
    "stream_click_attribution_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id AS user_id,
           CAST(CAST(p.value AS DECIMAL(18,4)) AS DOUBLE) AS purchase_value
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND p.event_type = 'purchase'
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 1 HOUR
    """,
)
def stream_click_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join run to completion: purchases matched
    to the same user's clicks in the preceding hour
    (streaming/incremental.py:click_to_purchase_stream).

    Inner stream-stream joins emit a match in the micro-batch where both
    sides are buffered — no watermark wait — so the append sink receives
    each qualifying (purchase, click) pair exactly once and the final
    feed equals the batch interval join. The watermarks + event-time
    bound exist to let Spark EVICT buffered state (a click older than
    watermark − 1h can never match again); at test SF they are wider
    than the data so eviction never fires, and correctness is unchanged
    either way for the inner join.
    """
    from ..streaming.incremental import click_to_purchase_stream

    src = _stage_events_dir(spark, sf_dir)
    joined = click_to_purchase_stream(spark, src).select(
        "purchase_id",
        "click_id",
        "user_id",
        F.col("purchase_value").cast("decimal(18,4)").cast("double").alias("purchase_value"),
    )
    out = _run_stream(joined, "append")
    return spark.read.parquet(out).select(
        "purchase_id", "click_id", "user_id", "purchase_value"
    )


@query(
    "cdc_apply_changelog",
    oracle="""
    WITH log AS (
        SELECT user_id, event_id, ts, event_type,
               CAST(CAST(value AS DECIMAL(18,4)) AS DOUBLE) AS value,
               CASE WHEN event_type = 'signup' THEN 'I'
                    WHEN event_type = 'error' THEN 'D'
                    ELSE 'U' END AS op
        FROM events
    ), last_per_key AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        FROM log
    )
    SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           event_type AS last_event_type, value AS last_value
    FROM last_per_key
    WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC lifecycle against a parquet target: derive an
    insert/update/delete changelog from events (signup→I, error→D,
    else U; event_id is the binlog sequence), split it into two
    sequential batches, apply each with
    ``operators.upsert.apply_cdc_parquet``, and return the final table.

    Applying in two batches exercises the property that makes changelog
    application composable: last-change-per-key within a batch, then
    keyed replace across batches, equals one global last-change-per-key
    — the algebra CDC pipelines rely on to replay a day of binlog in
    bounded passes. The DuckDB oracle computes the global form directly.

    Scale: per batch one key-partitioned window over the (small) change
    batch + one anti join against the target — the target is never
    shuffled (upsert.py:56 docstring); deletes are first-class, closing
    the update/delete gap bookmark-style incrementality leaves open
    (SURVEY §7, reference glue_rds_to_redshift.py:31).
    """
    from .upsert import apply_cdc_parquet

    target = os.path.join(scratch_dir("sgq_cdc_tgt_"), "users")

    log = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").cast("decimal(18,4)").cast("double").alias("last_value"),
            F.when(F.col("event_type") == "signup", F.lit("I"))
            .when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
        )
        # apply_cdc_parquet consumes (and drops) the sequence column;
        # duplicate it so last_event_id survives as payload.
        .withColumn("__seq", F.col("last_event_id"))
    )
    mid = log.agg(
        F.percentile_approx("last_event_id", 0.5, 10000).alias("m")
    ).collect()[0]["m"]  # control-plane scalar: one split point, not data
    for part in (
        log.filter(F.col("last_event_id") <= F.lit(mid)),
        log.filter(F.col("last_event_id") > F.lit(mid)),
    ):
        apply_cdc_parquet(spark, target, part, keys=["user_id"], seq_col="__seq")
    return spark.read.parquet(target).select(
        "user_id", "last_event_id", "last_ts", "last_event_type", "last_value"
    )


@query(
    "stream_session_windows_final",
    oracle="""
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS us, value FROM events
    ), marked AS (
        SELECT user_id, us, value,
               CASE WHEN LAG(us) OVER w IS NULL
                         OR us - LAG(us) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS brk
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ), sess AS (
        SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    ), agg AS (
        SELECT user_id, sid,
               MIN(us) AS s_us,
               MAX(us) + 1800000000 AS e_us,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM sess GROUP BY 1, 2
    ), wm AS (
        -- Spark tracks watermarks in MILLISECONDS: truncate max event
        -- time to ms before subtracting the delay (probed empirically;
        -- a session ending inside the truncated sub-ms slice is NOT
        -- emitted)
        SELECT (MAX(us) // 1000) * 1000 - 3600000000 AS w FROM e
    )
    SELECT make_timestamp(s_us) AS session_start,
           make_timestamp(e_us) AS session_end,
           user_id, n_events, total_value
    FROM agg, wm
    WHERE e_us <= w
    """,
)
def stream_session_windows_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization run to completion: native
    ``session_window`` grouping (30 min gap), 1 h watermark, APPEND
    mode — only sessions the final watermark has CLOSED are emitted,
    exactly Spark's production late-data contract.

    This is the one streaming query whose oracle must reproduce the
    engine's finalization rule, pinned here from boundary probes:
    events exactly ``gap`` apart MERGE (session end = last ts + gap,
    merge while inter-event gap ≤ gap); a session is emitted iff
    ``session_end <= watermark`` with ``watermark = ms_trunc(max ts) −
    delay`` (Spark tracks event-time watermarks in milliseconds). The
    DuckDB oracle computes the identical gaps-and-islands + watermark
    cutoff in exact integer microseconds. Sessions still open at the
    final watermark (the last hour of the feed) are deliberately
    absent from BOTH sides — replaying tomorrow's run emits them once
    their sessions close, the exactly-once property append mode
    exists for.

    Scale: state is O(open sessions) (the watermark evicts closed
    ones); the same expression runs in batch (events_sessionization).
    """
    from ..streaming.incremental import read_events_stream, session_rollup_stream

    src = _stage_events_dir(spark, sf_dir)
    events = read_events_stream(spark, src)
    sess = session_rollup_stream(events, gap="30 minutes", watermark="1 hour")
    out = _run_stream(
        sess.select(
            "session_start",
            "session_end",
            "user_id",
            "n_events",
            F.col("total_value").cast("decimal(18,4)").cast("double").alias("total_value"),
        ),
        "append",
    )
    return spark.read.parquet(out).select(
        "session_start", "session_end", "user_id", "n_events", "total_value"
    )


@query(
    "stream_static_enrichment",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type,
           c.c_name, c.c_mktsegment
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    """,
)
def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join run to completion: the streaming
    events feed joined to the static customer dimension
    (streaming/incremental.py:enriched_events_stream).

    The static side is re-planned per micro-batch (dimension updates
    between batches are picked up automatically) and BROADCAST, so the
    stream side never shuffles — the standard streaming enrichment
    topology. Stateless inner join ⇒ each event emits exactly once in
    its arrival batch, so the completed feed equals the batch join;
    only stable columns are projected into the sink (event payload
    joins are order-free by construction).
    """
    from ..streaming.incremental import enriched_events_stream

    src = _stage_events_dir(spark, sf_dir)
    enriched = enriched_events_stream(spark, src, sf_dir).select(
        "event_id", "user_id", "event_type", "c_name", "c_mktsegment"
    )
    out = _run_stream(enriched, "append")
    return spark.read.parquet(out).select(
        "event_id", "user_id", "event_type", "c_name", "c_mktsegment"
    )


@query(
    "stream_bot_burst_merge",
    oracle="""
    WITH buckets AS (
        SELECT user_id,
               epoch_us(ts) // 300000000 AS bucket5m,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT user_id, CAST(MAX(n) AS BIGINT) AS peak_5min,
           MAX(n) >= 8 AS flagged_bot
    FROM buckets GROUP BY user_id
    ORDER BY user_id
    """,
)
def stream_bot_burst_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_bot_burst_detect``: watermarked
    5-minute tumbling counts per user, folded into a standing per-user
    PEAK via a foreachBatch keyed max-merge.

    Batch-equivalence argument (the module's determinism contract):
    update-mode re-emissions of a window only ever raise its count
    toward the batch value, and max() is monotone and order-free, so
    the final merged peak equals the batch peak under ANY micro-batch
    split — the same commutative-fold argument as the rollup MERGE,
    with max instead of keyed replace. The flag derives from the merged
    state, never from a transient emission. Scale: streaming state is
    O(active user-windows) under the watermark; the standing table is
    O(users).
    """
    from ..streaming.incremental import read_events_stream

    src = _stage_events_dir(spark, sf_dir)
    state = os.path.join(scratch_dir("sgq_burst_out_"), "peaks")

    events = read_events_stream(spark, src)
    counts = (
        events.withWatermark("ts", "365 days")
        .groupBy("user_id", F.window("ts", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("w.start").alias("w_start"), "n")
    )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        # fold the batch to one candidate peak per user, then keyed
        # max-merge into the standing table; first batch detected by
        # PATH EXISTENCE — a transient read failure on a later batch
        # must propagate, never silently reset accumulated peaks
        cand = batch_df.groupBy("user_id").agg(F.max("n").alias("peak_5min"))
        if os.path.exists(state):
            old = spark.read.parquet(state)
            merged = (
                old.unionByName(cand.select("user_id", "peak_5min"))
                .groupBy("user_id")
                .agg(F.max("peak_5min").alias("peak_5min"))
            )
        else:
            merged = cand
        # merged already folds the old state, so a keyed upsert's
        # anti-join would be provably empty work: swap it in directly
        # (``swap_parquet``, the commit ``upsert_parquet`` ends with)
        swap_parquet(merged, state)

    _run_stream(counts, "update", _merge)
    return (
        spark.read.parquet(state)
        .select(
            "user_id",
            F.col("peak_5min").cast("bigint").alias("peak_5min"),
            (F.col("peak_5min") >= 8).alias("flagged_bot"),
        )
        .orderBy("user_id")
    )


@query(
    "stream_watermark_late_drop",
    oracle="""
    WITH b AS (
      SELECT min(ts) AS mn, max(ts) AS mx FROM events
    ), e AS (
      SELECT ts,
             (epoch_us(ts) - (SELECT epoch_us(mn) FROM b)) // 604800000000 AS wk
      FROM events
    ), kept AS (
      SELECT ts FROM e WHERE wk >= 2
    ), win AS (
      SELECT date_trunc('hour', ts) AS window_start, COUNT(*) AS n_events
      FROM kept GROUP BY 1
    )
    SELECT w.window_start, w.n_events,
           (SELECT COUNT(*) FROM e WHERE wk < 2) AS n_dropped_late
    FROM win w, b
    WHERE w.window_start + INTERVAL 1 HOUR <= b.mx - INTERVAL 7 DAY
    """,
)
def stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA DROPPING, adjudicated — the one streaming
    semantic the other stream queries deliberately avoid (their
    watermarks exceed the data span so nothing is ever late). Here the
    events arrive OUT OF ORDER by construction: the 30-day corpus is
    split into calendar weeks staged as one file per micro-batch
    (``maxFilesPerTrigger=1``) in arrival order [wk2, wk3, wk0, wk1],
    under a 7-day watermark on an hourly tumbling count in APPEND mode.
    After the first two batches the watermark stands ~7 days into the
    data, so the two old weeks arrive > 7 days late and are dropped
    row-for-row; windows are finalized only once the watermark passes
    their end.

    The drop/emit boundary semantics this encodes were pinned
    empirically (tests/test_lifecycle_ops.py session-window pins use
    the same method): a row is dropped iff its WINDOW END is below the
    batch's filter watermark (a row with ts below the watermark whose
    window straddles it survives), the filter watermark trails the
    eviction watermark by one batch, and a window is emitted when
    ``end <= final watermark`` (equality emits). The file arrival
    order leaves ≥ 7-day margins around every such boundary, so the
    oracle's closed form — kept ⇔ week index ≥ 2, emitted ⇔ window end
    ≤ max(ts) − 7d — is exact under either the lagged or unlagged
    filter model, and the total dropped-row count rides along as an
    O(1) audit scalar.

    At 100 TB this is the semantics that bounds state: without the
    drop, the hourly state grows with the full reorder horizon of the
    source; with it, state is (watermark horizon × key cardinality)."""
    ev = load_table(spark, sf_dir, "events")
    mn = ev.agg(F.min("ts")).collect()[0][0]  # O(1) bookmark-style scalar
    if mn is None:  # empty relation (no-new-rows incremental run): any
        mn_us = 0  # anchor works — every stage below is then empty too
    else:
        mn_us = int(
            mn.replace(tzinfo=__import__("datetime").timezone.utc).timestamp()
            * 1_000_000
        )
    wk = ((F.unix_micros(F.col("ts")) - F.lit(mn_us)) / F.lit(604_800_000_000)).cast(
        "bigint"
    )
    tagged = ev.withColumn("wk", F.least(wk, F.lit(3)))

    arrivals = [tagged.filter(F.col("wk") == week) for week in (2, 3, 0, 1)]
    stream = _arrival_stream(
        spark,
        "event_id bigint, ts timestamp",
        [batch.select("event_id", "ts") for batch in arrivals],
    )
    out = _run_stream(
        stream.withWatermark("ts", "7 days")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n_events")),
        "append",
    )
    dropped = tagged.filter(F.col("wk") < 2).agg(
        F.count("*").alias("n_dropped_late")
    )
    # explicit schema on the read-back: a sink that saw zero windows has
    # no data files to infer from — the schema is known, state it
    return (
        spark.read.schema(
            "window struct<start:timestamp,end:timestamp>, n_events bigint"
        )
        .parquet(out)
        .select(F.col("window.start").alias("window_start"), "n_events")
        .crossJoin(F.broadcast(dropped))
    )


@query(
    "stream_stateful_hwm_dedup",
    oracle="""
    WITH f0 AS (
      SELECT user_id, event_id, value FROM events WHERE event_id % 3 <> 0
    ), hwm AS (
      SELECT user_id, MAX(event_id) AS h FROM f0 GROUP BY user_id
    ), emitted AS (
      SELECT user_id, event_id, value FROM f0
      UNION ALL
      SELECT e.user_id, e.event_id, e.value
      FROM events e JOIN hwm ON e.user_id = hwm.user_id
      WHERE e.event_id > hwm.h
    )
    SELECT user_id,
           COUNT(*) AS n_emitted,
           CAST(SUM(event_id) AS BIGINT) AS emitted_id_sum,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM emitted
    GROUP BY user_id
    """,
)
def stream_stateful_hwm_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom per-key stateful streaming via ``applyInPandasWithState``
    (the GroupState API, the engine's one custom stateful-streaming
    operator),
    adjudicated end-to-end: a per-user HIGH-WATER-MARK dedup processor
    (emit only event_ids above the user's checkpointed HWM — the
    reference's global bookmark made per-key and streaming) runs over
    an AT-LEAST-ONCE delivery simulation: micro-batch 1 delivers a
    partial feed (event_id % 3 <> 0), micro-batch 2 REDELIVERS the
    whole feed. The state suppresses every replayed row; only each
    user's genuinely-new tail (ids above their batch-1 max) emits.

    The oracle states the closed form of that two-batch execution —
    batch1 ∪ (full feed above per-user batch1-max) — which is exactly
    once: a replayed id equals the HWM at best and the filter is
    strictly greater. Deterministic because the file source processes
    the two staged files in mtime order (same machinery as
    `stream_watermark_late_drop`).

    At 100 TB: state is ONE int64 per user (O(keys), never O(events)),
    Arrow-batched per key — this is the pattern that makes exactly-once
    ingestion from an at-least-once bus cheap."""
    from ..streaming.stateful import hwm_dedup_stream

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value"
    )
    stream = _arrival_stream(
        spark,
        "user_id bigint, event_id bigint, event_type string, value double",
        [
            ev.filter(F.col("event_id") % 3 != 0),  # partial first delivery
            ev,  # full redelivery
        ],
    )
    out = _run_stream(hwm_dedup_stream(stream), "append")
    return (
        spark.read.parquet(out)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_emitted"),
            F.sum("event_id").alias("emitted_id_sum"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")).alias(
                "value_cents"
            ),
        )
    )


@query(
    "stream_sliding_complete_mode",
    oracle="""
    WITH ks AS (SELECT 0 AS k UNION ALL SELECT 1),
    ex AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) - k * INTERVAL 1 HOUR
               AS window_start,
             value
      FROM events, ks
    )
    SELECT window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM ex GROUP BY 1
    """,
)
def stream_sliding_complete_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING streaming window (2h span, 1h slide) in COMPLETE output
    mode to a memory sink — the two streaming surfaces the registry
    lacked: overlapping windows (each event lands in exactly two) and
    the output mode whose every emission is the full result table.

    Complete mode is the one mode that is batch-equivalent WITHOUT a
    merge sink: the final emission after the last availableNow
    micro-batch is the whole aggregate by definition, so the memory
    sink's table needs no keyed upsert — contrast with
    [[stream_hourly_rollup_merge]], where update mode makes the sink do
    that folding. The batch oracle materializes the slide explicitly:
    every event contributes to window starts trunc_hour(ts) and
    trunc_hour(ts) - 1h.

    Scale stance: complete mode re-emits ALL state every trigger, so it
    is only for domain-bounded aggregates (dashboards over bounded key
    sets — here O(hours) windows); unbounded-key rollups belong in
    update mode + merge sink. State doubles vs the tumbling twin
    (2 windows per event), still O(active windows) with a production
    watermark.
    """
    src = _stage_events_dir(spark, sf_dir)
    qname = f"sgq_sliding_complete_{uuid.uuid4().hex}"

    schema = load_table(spark, sf_dir, "events").schema
    from ..sources.io import events_validity_gate

    # src is a RAW file copy of the events parquet, so the ingest gate
    # (sources/io.py) must be re-applied on the stream side.
    events = events_validity_gate(spark.readStream.schema(schema).parquet(src))
    rollup = (
        events.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    (
        rollup.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", scratch_dir("sgq_stream_ckpt_"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    # The memory sink's table lives as long as its temp view: pin the
    # result, then drop the view so no call leaves a table behind.
    result = pin(
        spark.table(qname).select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )
    spark.catalog.dropTempView(qname)
    return result


@query(
    "stream_restart_resume_counts",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_restart_resume_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint RESTART adjudicated end-to-end: the same streaming
    job runs TWICE against a growing source directory — wave A (even
    event_ids) lands, the job runs to completion and stops; wave B
    (odd event_ids) lands, the job restarts from the SAME checkpoint.

    The second run must (a) skip wave A's files (the file source's
    processed-file log), (b) restore the aggregate state store, so keys
    touched by both waves re-emit their CUMULATIVE count, not wave B's
    alone. Either failure changes the final merged table, so the batch
    oracle over all events adjudicates exactly-once resume itself —
    the mechanism behind every production incremental pipeline
    (reference anchor: the job-bookmark contract of
    glue_rds_to_redshift.py:31,40, lifted to streaming state).

    The even/odd id split is time-interleaved by construction, so wave
    B touches virtually every (day, event_type) key wave A created —
    a restart bug cannot hide in disjoint keys.

    Scale: state is O(days x event types); the merge sink rewrites only
    touched keys. The checkpoint is the ONLY coordination between runs.
    """
    from .upsert import upsert_parquet

    src = scratch_dir("sgq_resume_src_")
    ckpt = scratch_dir("sgq_resume_ckpt_")  # shared by both runs
    report = os.path.join(scratch_dir("sgq_resume_out_"), "report")

    ev = load_table(spark, sf_dir, "events")
    schema = ev.schema

    def run_once() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(src)
        )
        rollup = (
            stream.withColumn("day", F.col("ts").cast("date"))
            .groupBy("day", "event_type")
            .agg(F.count("*").alias("n_events"))
        )

        def _merge(batch_df: DataFrame, batch_id: int) -> None:
            upsert_parquet(spark, report, batch_df, keys=["day", "event_type"])

        _run_stream(rollup, "update", _merge, checkpoint=ckpt)

    ev.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(src)
    run_once()
    ev.filter(F.col("event_id") % 2 != 0).write.mode("append").parquet(src)
    run_once()

    return spark.read.parquet(report).select("day", "event_type", "n_events")


@query(
    "incremental_agg_retraction",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS k, o_custkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ), cur AS (
      SELECT c.c_nationkey,
             CASE WHEN k % 8 = 0 THEN cents + k % 1000 + 1 ELSE cents END
               AS cents
      FROM o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE k % 8 <> 4
    )
    SELECT c_nationkey,
           COUNT(*) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM cur GROUP BY 1 ORDER BY 1
    """,
)
def q_incremental_agg_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance WITH RETRACTIONS: the
    insert-only HWM protocol ([[incremental_agg_merge]]) cannot absorb
    updates or deletes — real incremental view maintenance folds a
    signed delta stream into the standing aggregate: an INSERT
    contributes (+1, +cents), a DELETE (-1, -old_cents), an UPDATE
    (0, new-old) — never touching the already-aggregated base rows.

    The changelog is planted deterministically: base = orderkey%4 != 3,
    inserts = the %4 == 3 rows, updates reprice the %8 == 0 rows by
    +(key%1000+1) cents, deletes remove the %8 == 4 rows (both subsets
    of the base, disjoint from inserts). The returned MAINTAINED
    aggregate is adjudicated against the oracle's FROM-SCRATCH
    recompute of the post-changelog table — so the parity check itself
    is the IVM correctness proof (maintained ≡ recomputed), the same
    proof shape as [[incremental_join_merge]] for the join algebra.

    Scale: the base aggregate is the standing state (O(nations)); each
    maintenance cycle shuffles only the delta batch, grouped on the
    same key — the algebra behind Spark's own update-mode streaming
    aggregates and every warehouse MERGE-based rollup refresh.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    # rows feeds the base aggregate + three delta lanes — four branches
    # with non-pushable % filters; checkpointed so the fact scans once.
    rows = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("k", "c_nationkey", "cents")
        .transform(pin)
    )

    base = rows.filter(F.col("k") % 4 != 3)
    base_agg = base.groupBy("c_nationkey").agg(
        F.count("*").alias("n"), F.sum("cents").alias("cents")
    )

    inserts = rows.filter(F.col("k") % 4 == 3).select(
        "c_nationkey", F.lit(1).alias("dn"), F.col("cents").alias("dc")
    )
    updates = base.filter(F.col("k") % 8 == 0).select(
        "c_nationkey",
        F.lit(0).alias("dn"),
        (F.col("k") % 1000 + 1).alias("dc"),
    )
    deletes = base.filter(F.col("k") % 8 == 4).select(
        "c_nationkey", F.lit(-1).alias("dn"), (-F.col("cents")).alias("dc")
    )
    delta_agg = (
        inserts.unionByName(updates)
        .unionByName(deletes)
        .groupBy("c_nationkey")
        .agg(F.sum("dn").alias("dn"), F.sum("dc").alias("dc"))
    )

    merged = base_agg.join(delta_agg, "c_nationkey", "full_outer").select(
        "c_nationkey",
        (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0)))
        .cast("bigint")
        .alias("n_orders"),
        (F.coalesce(F.col("cents"), F.lit(0)) + F.coalesce(F.col("dc"), F.lit(0)))
        .cast("bigint")
        .alias("revenue_cents"),
    )
    return merged.filter(F.col("n_orders") > 0).orderBy("c_nationkey")


@query(
    "incremental_sliding_refresh",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-04-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-04-01 00:00:00'
    GROUP BY 1 ORDER BY 1
    """,
)
def q_incremental_sliding_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window aggregate REFRESH by slide, the third incremental
    maintenance shape: [[incremental_agg_merge]] absorbs inserts,
    [[incremental_agg_retraction]] absorbs updates/deletes — a trailing
    "last 365 days" dashboard instead EVICTS BY TIME as the window
    advances. Sliding from window-end 1998-01-01 to 1998-04-01, the
    refresh touches only the two 90-day EDGE slices — ADD [1998-01-01,
    1998-04-01) and EVICT [1997-01-01, 1997-04-01) — never the ~9
    months of interior the naive recompute re-reads.

    The maintained state (old standing aggregate + add - evict) is
    returned and adjudicated against the oracle's from-scratch
    recompute of the new window — maintained ≡ recomputed, the same
    proof shape as the other two. With date-partitioned layout the
    edge slices are partition-pruned scans, so the refresh cost is
    O(slide), not O(window) — the whole point of trailing-window IVM
    at 100 TB.

    Scale: three partition-prunable filtered aggregates to O(groups)
    rows each, merged with coalesce arithmetic on the tiny relation.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )

    def window_agg(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"), F.sum("cents").alias("cents")
        )

    ts = lambda s: F.lit(s).cast("timestamp")  # noqa: E731
    standing = window_agg(
        o.filter((F.col("o_orderdate") >= ts("1997-01-01 00:00:00"))
                 & (F.col("o_orderdate") < ts("1998-01-01 00:00:00")))
    )
    add = window_agg(
        o.filter((F.col("o_orderdate") >= ts("1998-01-01 00:00:00"))
                 & (F.col("o_orderdate") < ts("1998-04-01 00:00:00")))
    )
    evict = window_agg(
        o.filter((F.col("o_orderdate") >= ts("1997-01-01 00:00:00"))
                 & (F.col("o_orderdate") < ts("1997-04-01 00:00:00")))
    )
    merged = (
        standing.select("o_orderpriority", "n", "cents")
        .join(
            add.select(
                "o_orderpriority",
                F.col("n").alias("n_add"),
                F.col("cents").alias("c_add"),
            ),
            "o_orderpriority",
            "full_outer",
        )
        .join(
            evict.select(
                "o_orderpriority",
                F.col("n").alias("n_evict"),
                F.col("cents").alias("c_evict"),
            ),
            "o_orderpriority",
            "full_outer",
        )
        .select(
            "o_orderpriority",
            (
                F.coalesce(F.col("n"), F.lit(0))
                + F.coalesce(F.col("n_add"), F.lit(0))
                - F.coalesce(F.col("n_evict"), F.lit(0))
            )
            .cast("bigint")
            .alias("n_orders"),
            (
                F.coalesce(F.col("cents"), F.lit(0))
                + F.coalesce(F.col("c_add"), F.lit(0))
                - F.coalesce(F.col("c_evict"), F.lit(0))
            )
            .cast("bigint")
            .alias("revenue_cents"),
        )
    )
    return merged.filter(F.col("n_orders") > 0).orderBy("o_orderpriority")


@query(
    "stream_sink_batchid_idempotence",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           TRUE AS replay_was_noop
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
)
def stream_sink_batchid_idempotence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink-side EXACTLY-ONCE via the batch-id transaction log — the
    retry half of the contract: Spark guarantees ``foreachBatch`` sees
    each micro-batch with a stable ``batch_id``, but a crash AFTER the
    sink write and BEFORE the checkpoint commit makes the engine replay
    that batch — so an APPEND sink must keep its own committed-batch-id
    log and turn replays into no-ops (the documented idempotence recipe
    for non-transactional sinks).

    The run executes the stream to completion, then REPLAYS every
    (batch_df, batch_id) pair by hand — simulating the worst case where
    every batch is retried — and the guard must reject all of them:
    ``replay_was_noop`` is computed by comparing the sink's real row
    count before/after the replay, and the day-level aggregate over the
    sink is adjudicated against plain batch SQL (double-appends would
    double counts). Contrast with [[stream_restart_resume_counts]],
    which adjudicates SOURCE-side resume (file log + state store); this
    is the SINK-side log. Scale: the txn log is O(batches) tiny; the
    guard is one membership check per commit.
    """
    import json

    src = _stage_events_dir(spark, sf_dir)
    out_root = scratch_dir("sgq_idem_out_")
    sink = os.path.join(out_root, "sink")
    txlog = os.path.join(out_root, "committed.json")

    replay_log: list = []

    def committed() -> set:
        if os.path.exists(txlog):
            with open(txlog) as f:
                return set(json.load(f))
        return set()

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        done = committed()
        if batch_id in done:
            return  # replay: the sink already holds this batch
        batch_df.write.mode("append").parquet(sink)
        with open(txlog, "w") as f:
            json.dump(sorted(done | {batch_id}), f)

    def capture(batch_df: DataFrame, batch_id: int) -> None:
        replay_log.append(batch_id)
        write_batch(batch_df, batch_id)

    from ..sources.io import events_validity_gate

    schema = load_table(spark, sf_dir, "events").schema
    _run_stream(
        # src is a RAW file copy — re-apply the ingest gate stream-side
        # (sources/io.py) so the sink matches the oracle's gated view.
        events_validity_gate(
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(src)
        ),
        "append",
        capture,
    )

    n_before = spark.read.parquet(sink).count()
    # simulate worst-case full retry: every batch id re-delivered (the
    # guard must reject on the id alone, never re-reading batch data)
    poison = spark.range(1).selectExpr("CAST(NULL AS BIGINT) AS poison")
    for batch_id in replay_log:
        write_batch(poison, batch_id)
    n_after = spark.read.parquet(sink).count()
    noop = n_before == n_after

    return (
        spark.read.parquet(sink)
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .withColumn("replay_was_noop", F.lit(noop))
        .orderBy("day")
    )
