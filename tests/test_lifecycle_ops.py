"""Behavior pins for the lifecycle/governance operator batch:
session_window boundary semantics, GDPR erasure cascade closure,
collation-merge evidence, partition-backfill gap algebra, and the AES
round-trip boolean's honesty.

Parity vs DuckDB is covered by the registry sweep; these tests pin the
semantic claims the docstrings make, on hand-built fixtures where the
claim is about a boundary the synthetic corpus never hits.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from aws_glue_pyspark_incrementality_and_parallelism_spark.plans import catalog  # noqa: F401  (populates REGISTRY)
from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.registry import REGISTRY
from tests.conftest import SF_SMALL

T0 = datetime.datetime(2024, 1, 1, 0, 0, 0)


def _m(minutes=0, seconds=0, micros=0):
    return T0 + datetime.timedelta(minutes=minutes, seconds=seconds, microseconds=micros)


def test_session_window_exact_gap_boundary_merges(spark):
    """An event landing EXACTLY `gap` after its predecessor merges into
    the same session (Spark merges windows whose start == previous
    end), and the session end is last_ts + gap — the two semantics the
    oracle's `diff > gap` break condition and `MAX(ts) + gap` encode."""
    rows = [
        (1, _m(0)),
        (1, _m(30)),           # exactly 30 min later: MUST merge
        (1, _m(60, 0, 1)),     # 30 min + 1 us after prev: MUST break
        (2, _m(0)),
        (2, _m(29, 59, 999999)),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.col("session_window.start").alias("s"),
            F.col("session_window.end").alias("e"),
            "n",
        )
        .orderBy("user_id", "s")
        .collect()
    )
    sessions = [(r.user_id, r.s, r.e, r.n) for r in out]
    assert sessions == [
        (1, _m(0), _m(60), 2),
        (1, _m(60, 0, 1), _m(90, 0, 1), 1),
        (2, _m(0), _m(59, 59, 999999), 2),
    ]


def test_session_window_builtin_matches_manual_sessionization(spark):
    """Both session_window surfaces report the same (user, session_start)
    boundary set at sf0.001 — a consistency pin that would catch either
    query drifting to a different gap or grain. Both sides are collected
    FULL-ROW (see the pruning-hazard test below for why)."""
    builtin = REGISTRY["events_session_window_builtin"].fn(spark, SF_SMALL)
    b = {(r.user_id, r.session_start) for r in builtin.collect()}
    manual = REGISTRY["events_sessionization"].fn(spark, SF_SMALL).collect()
    m = {(r.user_id, r.session_start) for r in manual}
    assert b == m


def test_session_window_pruned_aggregate_hazard(spark):
    """DOCUMENTED SPARK HAZARD: selecting only grouping columns off a
    ``session_window`` groupBy and applying ``distinct()`` lets Catalyst
    prune the aggregate functions and collapse the session-window
    aggregate into a plain per-row window projection — SESSION MERGING
    SILENTLY DOES NOT HAPPEN (each event keeps its raw [ts, ts+gap)
    window). Every registered query returns the full aggregate row so
    the driver protocol never hits this, but downstream consumers that
    re-project must not add distinct() over pruned session keys.

    This test pins the hazard's existence: if a Spark upgrade fixes the
    collapse, the equality flips and we can drop the warning."""
    df = REGISTRY["events_sessionization"].fn(spark, SF_SMALL)
    merged = df.count()
    pruned = df.select("user_id", "session_start").distinct().count()
    n_events = spark.read.parquet(f"{SF_SMALL}/events.parquet").count()
    assert merged < n_events  # merging really happened on the full query
    # The pruned-distinct rewrite loses the merge: one window per event.
    assert pruned == n_events


def test_erasure_cascade_is_closed(spark):
    """After removing the erased keys, re-running the cascade finds
    nothing: every erased order belongs to an erased customer and every
    erased lineitem to an erased order (referential closure), and the
    per-nation counts reconcile with direct joins."""
    out = REGISTRY["privacy_erasure_propagation"].fn(spark, SF_SMALL)
    rows = out.collect()
    assert sum(r.n_requests for r in rows) > 0, "erasure lane never fired"
    assert all(r.n_remaining_customers + r.n_requests == r.n_customers for r in rows)

    from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import load_table
    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators.governance import (
        ERASE_MAX,
    )

    cust = load_table(spark, SF_SMALL, "customer")
    orders = load_table(spark, SF_SMALL, "orders")
    li = load_table(spark, SF_SMALL, "lineitem")
    lane = F.conv(
        F.substring(
            F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit(":erasure"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    erased = cust.filter(lane < ERASE_MAX).select("c_custkey")
    n_orders_direct = orders.join(
        erased, orders.o_custkey == erased.c_custkey, "left_semi"
    ).count()
    assert n_orders_direct == sum(r.n_erased_orders for r in rows)
    erased_orders = orders.join(
        erased, orders.o_custkey == erased.c_custkey, "left_semi"
    ).select("o_orderkey")
    n_li_direct = li.join(
        erased_orders, li.l_orderkey == erased_orders.o_orderkey, "left_semi"
    ).count()
    assert n_li_direct == sum(r.n_erased_lineitems for r in rows)


def test_collation_group_merges_spellings(spark):
    """The collated groupBy actually collapses multiple raw spellings:
    every canonical event type reports n_spellings >= 2 (the corpus has
    >= 2 case variants of each), and the canonical names are lowercase."""
    rows = REGISTRY["fn_collation_group"].fn(spark, SF_SMALL).collect()
    assert rows, "no groups"
    for r in rows:
        assert r.event_type_ci == r.event_type_ci.lower()
        assert r.n_spellings >= 2, (r.event_type_ci, r.n_spellings)


def test_partition_backfill_fires_and_closes(spark):
    """The gap lane selects a non-empty strict subset of days, and the
    post-union residual audit is zero on every row."""
    rows = REGISTRY["incremental_partition_backfill"].fn(spark, SF_SMALL).collect()
    assert rows, "backfill lane never fired"
    assert all(r.residual_gaps == 0 for r in rows)

    from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import load_table

    n_days = (
        load_table(spark, SF_SMALL, "orders")
        .select(F.col("o_orderdate").cast("date"))
        .distinct()
        .count()
    )
    assert 0 < len(rows) < n_days


def test_aes_roundtrip_boolean_is_computed(spark):
    """roundtrip_ok comes from a real decrypt-and-compare: corrupting
    the decrypt key flips it to False (i.e. the query's TRUE is not a
    literal)."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(5)
    bad = docs.select(
        F.expr(
            "cast(try_aes_decrypt(aes_encrypt(text, '0123456789abcdef', 'ECB'),"
            " 'fedcba9876543210', 'ECB') as string)"
        ).alias("dec"),
        "text",
    ).collect()
    assert all(r.dec is None or r.dec != r.text for r in bad)
    good = REGISTRY["fn_aes_roundtrip"].fn(spark, SF_SMALL).collect()
    assert all(r.roundtrip_ok for r in good)


def test_json_quarantine_retains_and_routes(spark):
    """Quarantine lane size equals the planted corruption count, and no
    raw bytes are lost across lanes (retention, not dropping)."""
    rows = {r.lane: r for r in REGISTRY["source_json_corrupt_quarantine"].fn(spark, SF_SMALL).collect()}
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    n = ev.count()
    n_corrupt = ev.filter("event_id % 37 = 0").count()
    assert rows["quarantine"].n_rows == n_corrupt
    assert rows["good"].n_rows == n - n_corrupt
    assert rows["good"].k_sum > 0
    assert rows["quarantine"].k_sum == 0


def test_observe_metrics_match_direct_aggregate(spark):
    """The observe()-accumulated metrics equal a direct aggregate over
    the same table (no retry double-count, no missed partition)."""
    out = REGISTRY["pipeline_observe_metrics"].fn(spark, SF_SMALL).collect()[0]
    direct = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents"),
        )
        .collect()[0]
    )
    assert out.n_orders == direct.n
    assert out.revenue_cents == direct.cents


def test_sorted_layout_disjointness_audit_is_real(spark, tmp_path):
    """Negative control for layout_sorted_files: the same audit run over
    a HASH-partitioned (unsorted, interleaved) write reports overlap —
    i.e. ranges_disjoint TRUE is a property of the range layout, not an
    artifact of the audit loop."""
    import os

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    out = str(tmp_path / "orders")
    orders.repartition(8, "o_orderkey").write.mode("overwrite").parquet(out)
    files = [os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")]
    stats = []
    for f in files:
        r = (
            spark.read.parquet(f)
            .agg(F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi"))
            .collect()[0]
        )
        stats.append((r.lo, r.hi))
    stats.sort()
    disjoint = all(stats[i][1] < stats[i + 1][0] for i in range(len(stats) - 1))
    assert not disjoint


def test_watermark_late_drop_fires_and_bounds(spark):
    """Late dropping really happened (n_dropped_late > 0 and ~half the
    corpus), no window is duplicated by late-row state resurrection,
    and no emitted window ends inside the final 7-day horizon."""
    import datetime as dt

    rows = REGISTRY["stream_watermark_late_drop"].fn(spark, SF_SMALL).collect()
    assert rows
    starts = [r.window_start for r in rows]
    assert len(starts) == len(set(starts)), "duplicate emitted window"
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    n = ev.count()
    mx = ev.agg(F.max("ts")).collect()[0][0]
    dropped = rows[0].n_dropped_late
    assert 0 < dropped < n
    assert abs(dropped / n - 0.5) < 0.1  # two of four weeks dropped
    horizon = mx - dt.timedelta(days=7)
    assert all(r.window_start + dt.timedelta(hours=1) <= horizon for r in rows)
    # emitted + dropped + unflushed tail == corpus
    emitted = sum(r.n_events for r in rows)
    assert emitted + dropped < n  # strict: the tail beyond the horizon is unflushed


def test_balanced_classes_equalizes(spark):
    """Every class is cut to exactly the minority size."""
    rows = REGISTRY["sample_balanced_classes"].fn(spark, SF_SMALL).collect()
    assert len(rows) >= 2
    target = min(r.n_before for r in rows)
    assert all(r.n_kept == target for r in rows)
    assert any(r.n_before > target for r in rows)  # something was downsampled


def test_tokenization_changes_keys_and_is_stable(spark):
    """Pseudonyms are not the raw keys, and two independent runs derive
    the identical token for the same key (the consistency property)."""
    df = spark.read.parquet(f"{SF_SMALL}/customer.parquet").limit(10)
    t1 = df.select(
        "c_custkey",
        F.substring(
            F.md5(F.concat(F.lit("tok:"), F.col("c_custkey").cast("string"))), 1, 16
        ).alias("tok"),
    ).collect()
    assert all(r.tok != str(r.c_custkey) for r in t1)
    t2 = {
        r.c_custkey: r.tok
        for r in df.select(
            "c_custkey",
            F.substring(
                F.md5(F.concat(F.lit("tok:"), F.col("c_custkey").cast("string"))), 1, 16
            ).alias("tok"),
        ).collect()
    }
    assert all(t2[r.c_custkey] == r.tok for r in t1)
    out = REGISTRY["privacy_tokenize_consistent"].fn(spark, SF_SMALL).collect()
    assert all(r.tokens_consistent for r in out)
    assert all(r.n_tokens == r.n_customers for r in out)


def test_codec_matrix_actually_varies_codec(spark, tmp_path):
    """The codec option really reaches the writer: part filenames carry
    the codec suffix, and sizes differ between uncompressed and gzip."""
    import os

    df = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    sizes = {}
    for codec, suffix in [("gzip", ".gz.parquet"), ("uncompressed", ".parquet"), ("zstd", ".zstd.parquet")]:
        p = str(tmp_path / codec)
        df.coalesce(1).write.option("compression", codec).parquet(p)
        parts = [f for f in os.listdir(p) if f.startswith("part-")]
        assert parts and all(f.endswith(suffix) for f in parts), (codec, parts)
        sizes[codec] = sum(os.path.getsize(os.path.join(p, f)) for f in parts)
    assert sizes["gzip"] < sizes["uncompressed"]
    assert sizes["zstd"] < sizes["uncompressed"]


def test_late_dim_phases_fire_and_cover(spark):
    """Both enrichment phases carry rows, nothing stays unmatched, and
    phase totals reconcile with the full join."""
    rows = REGISTRY["incremental_late_arriving_dimension"].fn(spark, SF_SMALL).collect()
    assert sum(r.n_matched_batch1 for r in rows) > 0
    assert sum(r.n_matched_batch2 for r in rows) > 0
    assert all(r.n_unmatched_final == 0 for r in rows)
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    supp = spark.read.parquet(f"{SF_SMALL}/supplier.parquet")
    total = li.join(supp, li.l_suppkey == supp.s_suppkey).count()
    assert total == sum(r.n_matched_batch1 + r.n_matched_batch2 for r in rows)


def test_incremental_dedup_lanes_all_fire(spark):
    """All three classification lanes carry rows at the smallest SF, and
    the batch decomposes exactly into the three lanes."""
    rows = REGISTRY["dedup_incremental_new_docs"].fn(spark, SF_SMALL).collect()
    tot = lambda f: sum(getattr(r, f) for r in rows)  # noqa: E731
    assert tot("n_dup_of_history") > 0
    assert tot("n_dup_within_delta") > 0
    assert tot("n_new_unique") > 0
    assert tot("n_delta") == (
        tot("n_dup_of_history") + tot("n_dup_within_delta") + tot("n_new_unique")
    )


def test_vacuum_counts_and_content(spark):
    """Vacuum removes exactly the dead+orphan files and the live
    snapshot is unchanged (checksum boolean computed, counts exact)."""
    r = REGISTRY["maintenance_vacuum_orphans"].fn(spark, SF_SMALL).collect()[0]
    assert (r.n_files_before, r.n_files_after, r.n_vacuumed) == (7, 2, 5)
    assert r.snapshot_unchanged


def test_volume_anomaly_flags_the_incident_day(spark):
    """The planted incident day (2024-01-12, selected by the day-lane
    cut) is flagged at every SF, and every flagged row satisfies the
    exact-integer 3-sigma inequality."""
    import datetime as dt

    rows = REGISTRY["quality_volume_anomaly_days"].fn(spark, SF_SMALL).collect()
    assert dt.date(2024, 1, 12) in {r.day for r in rows}
    assert all(r.z2_num > 9 * r.z2_den for r in rows)


def test_decay_score_exact_weights(spark):
    """Hand-check: a user's score equals the sum of cents << (4 - age_wk)
    recomputed driver-side for a sample user."""
    import math

    out = {r.user_id: r for r in REGISTRY["events_decay_weighted_score"].fn(spark, SF_SMALL).collect()}
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    mx = ev.agg(F.max("ts")).collect()[0][0]
    uid = ev.select("user_id").first().user_id
    rows = ev.filter(F.col("user_id") == uid).collect()
    expect = 0
    for r in rows:
        cents = math.floor(r.value * 100 + 0.5)
        age_wk = int((mx - r.ts).total_seconds() * 1_000_000) // 604_800_000_000
        expect += cents << (4 - min(age_wk, 4))
    assert out[uid].score_sixteenths == expect
    assert out[uid].n_events == len(rows)
