"""Table-maintenance operators: small-file compaction and zone-map
partition pruning.

The two jobs every 100 TB parquet lake runs nightly:

* **Compaction** — streaming/CDC ingest (queries_streaming.py,
  upsert.py) lands many small files; small files destroy scan
  throughput (per-file open/footer cost, tiny row groups defeat
  vectorized reads) and bloat the driver's file index. Compaction
  bin-packs them back to target-size files. Plain parquet gets the
  copy-on-write staging-swap used by upsert.py; table formats (Delta
  OPTIMIZE, Iceberg rewrite_data_files) add snapshot isolation on top.

* **Zone maps** — per-partition (or per-file) min/max statistics let
  the planner skip data that cannot match a predicate. Hive-style
  ``dt=`` partitioning is the coarse form Spark prunes natively
  (PartitionFilters); the index DF built here is the engine-level form
  (what Delta/Iceberg keep in their manifests) and shows exactly which
  fraction of the lake a time-range query touches.

The reference job rewrites its whole output every run
(glue_rds_to_redshift.py:66-74 — full-table overwrite to S3); these
operators are what replace that pattern once outputs become
incremental appends.
"""

from __future__ import annotations

import json
import math
import os
import uuid
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.registry import query
from ..session import pin, scratch_dir
from ..sources.io import load_table, swap_parquet


def parquet_files(target_dir: str) -> list[str]:
    """Data files under a parquet output dir (recursive — partitioned
    layouts nest files under key=value dirs)."""
    out = []
    for root, _dirs, files in os.walk(target_dir):
        out.extend(
            os.path.join(root, f) for f in files if f.endswith(".parquet")
        )
    return out


def compact_parquet(
    spark: SparkSession,
    target_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Bin-pack the files under ``target_dir`` into ~``target_file_bytes``
    outputs. Copy-on-write through ``sources.io.swap_parquet``, the
    commit ``upsert_parquet`` uses.

    File count is computed from on-disk bytes, not row counts, so the
    result respects the scan-side ``files.maxPartitionBytes`` sizing
    regardless of row width. ``repartition`` (round-robin) distributes
    rows evenly across output files — no shuffle key needed because
    compaction preserves content, not order. At 100 TB this runs
    per-partition (compact only partitions whose small-file count
    crossed a threshold), never whole-table.

    Returns driver-side stats {files_before, files_after, bytes_total}.
    """
    files = parquet_files(target_dir)
    bytes_total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(bytes_total / target_file_bytes))
    swap_parquet(spark.read.parquet(target_dir).repartition(n_out), target_dir)
    return {
        "files_before": len(files),
        "files_after": len(parquet_files(target_dir)),
        "bytes_total": bytes_total,
    }


def _cents() -> Column:
    """``o_totalprice`` in exact cents, rounded half up: the checksum
    column the orders-based maintenance oracles recompute in DuckDB as
    ``CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)``."""
    return F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")


def _three_commit_orders(
    spark: SparkSession, sf_dir: str, prefix: str
) -> tuple[str, str, DataFrame, DataFrame]:
    """The commit-log fixture shared by the replay, time-travel and
    vacuum queries: ``orders`` written as three logged commits under a
    fresh temp root.

    (0) the low-price half (o_totalprice <= 300000) as 4 files;
    (1) the high-price half as 1 file;
    (2) a compaction that REMOVES the 4 version-0 files and adds 1
        rewritten file with the same content. The removed files stay on
        disk, so listing the directory naively would double-count.

    Each commit is one ``_log/{v:05d}.json`` file of JSON lines
    ``{"action": "add"|"remove", "path": ..., "v": v}``. Returns
    ``(data_dir, log_dir, orders, low)``."""
    root = scratch_dir(prefix)
    data, logdir = os.path.join(root, "data"), os.path.join(root, "_log")
    os.makedirs(data), os.makedirs(logdir)
    orders = load_table(spark, sf_dir, "orders")

    def _files(subdir: str) -> list[str]:
        return sorted(parquet_files(os.path.join(data, subdir)))

    def _commit(version: int, adds: list[str], removes: list[str]) -> None:
        with open(os.path.join(logdir, f"{version:05d}.json"), "w") as fh:
            for action, paths in (("add", adds), ("remove", removes)):
                for p in paths:
                    fh.write(json.dumps({"action": action, "path": p, "v": version}) + "\n")

    low = orders.filter(F.col("o_totalprice") <= 300000)
    high = orders.filter(F.col("o_totalprice") > 300000)
    low.repartition(4).write.mode("overwrite").parquet(os.path.join(data, "v0"))
    _commit(0, _files("v0"), [])
    high.coalesce(1).write.mode("overwrite").parquet(os.path.join(data, "v1"))
    _commit(1, _files("v1"), [])
    spark.read.parquet(os.path.join(data, "v0")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(data, "v2"))
    _commit(2, _files("v2"), _files("v0"))
    return data, logdir, orders, low


def _live_files(log: DataFrame, as_of: int | None = None) -> list[str]:
    """Replay a commit log (``_three_commit_orders``' format): the paths
    whose last action at a version <= ``as_of`` (default: all) is an
    add. One last-action-per-path window; at equal versions a remove
    wins over an add."""
    if as_of is not None:
        log = log.filter(F.col("v") <= as_of)
    last = log.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("path").orderBy(F.desc("v"), F.desc("action"))
        ),
    ).filter((F.col("rn") == 1) & (F.col("action") == "add"))
    return [r["path"] for r in last.select("path").collect()]


@query(
    "maintenance_compact_small_files",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           TRUE AS files_reduced,
           TRUE AS files_at_most_target
    FROM lineitem
    """,
)
def maintenance_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragment lineitem into 64 small files (simulating streaming
    ingest), compact back to byte-sized outputs, and verify the
    compaction is content-preserving.

    Oracle pattern for operators whose effect lives in the FILESYSTEM,
    not the rows (same trick as the approx-aggregate oracles): emit the
    content invariants (row count, exact-decimal checksum aggregate,
    key cardinality) for DuckDB to recompute from the source table,
    plus the file-count assertions as pinned-TRUE booleans computed
    from the real before/after listings.
    """
    frag_dir = os.path.join(scratch_dir("sgq_compact_"), "lineitem")
    (
        load_table(spark, sf_dir, "lineitem")
        .repartition(64)
        .write.mode("overwrite")
        .parquet(frag_dir)
    )
    before = len(parquet_files(frag_dir))
    # target sized so the compacted table lands in a handful of files
    bytes_total = sum(os.path.getsize(f) for f in parquet_files(frag_dir))
    target = max(1, bytes_total // 4)
    stats = compact_parquet(spark, frag_dir, target_file_bytes=target)
    expected_out = max(1, math.ceil(bytes_total / target))

    return (
        spark.read.parquet(frag_dir)
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
        .withColumn("files_reduced", F.lit(stats["files_after"] < before))
        .withColumn(
            "files_at_most_target", F.lit(stats["files_after"] <= expected_out)
        )
    )


@query(
    "maintenance_zone_map_prune",
    oracle="""
    WITH e AS (
        SELECT epoch_us(ts) AS us FROM events
    ), zones AS (
        SELECT us // 86400000000 AS zone_day,
               MIN(us) AS us_min, MAX(us) AS us_max, COUNT(*) AS n_rows
        FROM e
        GROUP BY 1
    ), probe AS (
        -- central 20% of the timespan; exact integer arithmetic so both
        -- engines compute the identical boundary microsecond
        SELECT MIN(us) + ((MAX(us) - MIN(us)) * 2) // 5 AS lo,
               MIN(us) + ((MAX(us) - MIN(us)) * 3) // 5 AS hi
        FROM e
    )
    SELECT (SELECT COUNT(*) FROM zones) AS n_zones,
           (SELECT COUNT(*) FROM zones, probe
             WHERE us_max >= lo AND us_min <= hi) AS n_zones_scanned,
           (SELECT CAST(SUM(n_rows) AS BIGINT) FROM zones, probe
             WHERE us_max >= lo AND us_min <= hi) AS rows_in_scanned_zones,
           (SELECT COUNT(*) FROM e, probe
             WHERE us >= lo AND us <= hi) AS rows_matching,
           TRUE AS pruning_effective
    """,
)
def maintenance_zone_map_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a day-granularity zone map (min/max ts + row count per
    zone) over events and measure how much a centered 20%-of-timespan
    range probe prunes.

    This is the manifest-level data-skipping structure of
    Delta/Iceberg: the zone map is a tiny aggregate DF (one row per
    day — O(partitions), not O(data)); a range predicate consults it to
    decide which zones to scan at all. The emitted counts quantify the
    win: ``n_zones_scanned``/``n_zones`` is the fraction of the lake
    touched, and ``rows_matching``/``rows_in_scanned_zones`` the
    residual filter selectivity inside scanned zones. Hive-style
    ``dt=`` partition pruning (PartitionFilters) is the same mechanism
    enforced by directory layout — pinned at plan level in
    tests/test_plans.py.
    """
    events = load_table(spark, sf_dir, "events").select(
        F.unix_micros(F.col("ts")).alias("us")
    )
    # ONE fact scan builds the zone map; the probe boundaries and every
    # zone-level statistic derive from the zone map itself (global
    # min/max = min/max over zone bounds), so the only other fact scan
    # is the residual row count — which IS the pruned scan this
    # operator exists to size. Exact integer arithmetic throughout.
    zones = (
        events.groupBy(F.expr("us div 86400000000").alias("zone_day"))
        .agg(
            F.min("us").alias("us_min"),
            F.max("us").alias("us_max"),
            F.count("*").alias("n_rows"),
        )
        # the zone map IS materialized state in a real lake (manifest
        # files); persisting it here keeps the fact table at exactly
        # two scans — map build + the residual pruned scan — instead
        # of re-deriving the map for each consumer
        .persist()
    )
    probe = zones.agg(
        F.expr("min(us_min) + (max(us_max) - min(us_min)) * 2 div 5").alias("lo"),
        F.expr("min(us_min) + (max(us_max) - min(us_min)) * 3 div 5").alias("hi"),
    )
    hit = (F.col("us_max") >= F.col("lo")) & (F.col("us_min") <= F.col("hi"))
    zone_stats = zones.crossJoin(F.broadcast(probe)).agg(
        F.count("*").alias("n_zones"),
        F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias("n_zones_scanned"),
        F.sum(F.when(hit, F.col("n_rows")).otherwise(0)).cast("bigint").alias(
            "rows_in_scanned_zones"
        ),
    )
    matching = events.crossJoin(F.broadcast(probe)).filter(
        (F.col("us") >= F.col("lo")) & (F.col("us") <= F.col("hi"))
    )
    stats = zone_stats.crossJoin(matching.agg(F.count("*").alias("rows_matching")))
    return stats.select(
        "n_zones",
        "n_zones_scanned",
        "rows_in_scanned_zones",
        "rows_matching",
        (F.col("n_zones_scanned") < F.col("n_zones")).alias("pruning_effective"),
    )


@query(
    "maintenance_snapshot_diff",
    oracle="""
    WITH a AS (
        SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS v
        FROM orders
    ), b AS (
        -- deterministic mutation of snapshot A: %97 keys deleted,
        -- %89==1 keys repriced, %83==2 keys re-inserted shifted past
        -- the key domain (new keys)
        SELECT k, CASE WHEN k % 89 = 1 THEN v + 1 ELSE v END AS v
        FROM a WHERE k % 97 <> 0
        UNION ALL
        SELECT k + (SELECT MAX(o_orderkey) FROM orders) + 1 AS k, v
        FROM a WHERE k % 83 = 2
    ), d AS (
        SELECT COALESCE(a.k, b.k) AS k,
               CASE WHEN a.k IS NULL THEN 'added'
                    WHEN b.k IS NULL THEN 'removed'
                    WHEN a.v <> b.v THEN 'changed'
                    ELSE 'unchanged' END AS cls
        FROM a FULL OUTER JOIN b ON a.k = b.k
    )
    SELECT cls, COUNT(*) AS n_keys, CAST(SUM(k) AS BIGINT) AS key_sum
    FROM d GROUP BY cls
    """,
)
def maintenance_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (table diff): classify every key across
    two table versions as added / removed / changed / unchanged and
    emit per-class counts + key checksums.

    The anti-entropy job every replicated lake runs: one full outer
    join hash-partitioned on the key (both sides shuffle once, no
    broadcast — snapshots are the same size by construction), equality
    on the compared column set, and a tiny per-class aggregate.
    Snapshot B is derived from A with deterministic arithmetic rules so
    the DuckDB oracle constructs the identical pair — the diff logic
    itself is what's under test. At 100 TB both snapshots would be
    bucketed on the key so the join is shuffle-free, and the compare
    column set would be a row hash computed at write time.
    """
    orders = load_table(spark, sf_dir, "orders")
    a = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
    )
    max_k = orders.agg(F.max("o_orderkey")).collect()[0][0]  # control-plane scalar
    b = (
        a.filter(F.col("k") % 97 != 0)
        .select(
            "k",
            F.when(F.col("k") % 89 == 1, F.col("v") + 1).otherwise(F.col("v")).alias("v"),
        )
        .unionByName(
            a.filter(F.col("k") % 83 == 2).select(
                (F.col("k") + F.lit(max_k) + 1).alias("k"), "v"
            )
        )
    )
    d = (
        a.select(F.col("k").alias("ak"), F.col("v").alias("av"))
        .join(
            b.select(F.col("k").alias("bk"), F.col("v").alias("bv")),
            F.col("ak") == F.col("bk"),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("ak"), F.col("bk")).alias("k"),
            F.when(F.col("ak").isNull(), F.lit("added"))
            .when(F.col("bk").isNull(), F.lit("removed"))
            .when(F.col("av") != F.col("bv"), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("cls"),
        )
    )
    return d.groupBy("cls").agg(
        F.count("*").alias("n_keys"),
        F.sum("k").cast("bigint").alias("key_sum"),
    )


@query(
    "maintenance_cbo_stats",
    oracle="""
    SELECT (SELECT COUNT(*) FROM orders) AS n_rows,
           (SELECT COUNT(DISTINCT o_orderstatus) FROM orders) AS ndv_status,
           (SELECT CAST(MIN(o_orderkey) AS BIGINT) FROM orders) AS min_orderkey,
           (SELECT CAST(MAX(o_orderkey) AS BIGINT) FROM orders) AS max_orderkey,
           TRUE AS table_stats_present,
           TRUE AS column_stats_present
    """,
)
def maintenance_cbo_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE for the cost-based optimizer: register orders as a
    catalog table, compute table + column statistics, and read them
    back out of the catalog.

    CBO join reordering and broadcast decisions are only as good as
    catalog statistics; at 100 TB the nightly ANALYZE (or its
    incremental per-partition variant) is standing maintenance exactly
    like compaction. The emitted row count and orderkey min/max come
    FROM THE CATALOG STATS (``DESCRIBE EXTENDED ... col``), so the
    oracle adjudicates that ANALYZE recorded the truth — not merely
    that the table still scans; the presence booleans pin that both
    stats layers materialized.
    """
    run = uuid.uuid4().hex[:8]
    base = os.path.join(scratch_dir("sgq_cbo_"), "orders")
    table = f"sgq_cbo_orders_{run}"
    from ..sources.io import load_table as _lt

    (
        _lt(spark, sf_dir, "orders")
        .write.mode("overwrite")
        .option("path", base)
        .format("parquet")
        .saveAsTable(table)
    )
    spark.sql(
        f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS o_orderkey, o_orderstatus"
    )

    # table-level stats surface as the "Statistics" line ("X bytes, Y rows")
    stats_rows = None
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
        if r[0] == "Statistics":
            parts = r[1].split(",")
            for p in parts:
                p = p.strip()
                if p.endswith("rows"):
                    stats_rows = int(p.split()[0])
    col = {
        r[0]: r[1]
        for r in spark.sql(f"DESCRIBE EXTENDED {table} o_orderkey").collect()
    }
    col_status = {
        r[0]: r[1]
        for r in spark.sql(f"DESCRIBE EXTENDED {table} o_orderstatus").collect()
    }
    table_stats_present = stats_rows is not None
    column_stats_present = (
        col.get("min") not in (None, "NULL")
        and col.get("max") not in (None, "NULL")
        and col_status.get("distinct_count") not in (None, "NULL")
    )
    def _int_or(v: str | None, default: int) -> int:
        # DESCRIBE reports missing stats as the literal string "NULL":
        # surface the designed sentinel instead of crashing on int()
        try:
            return int(v)
        except (TypeError, ValueError):
            return default

    ndv = _int_or(col_status.get("distinct_count"), -1)
    return spark.createDataFrame(
        [
            (
                stats_rows if stats_rows is not None else -1,
                ndv,
                _int_or(col.get("min"), -1),
                _int_or(col.get("max"), -1),
                bool(table_stats_present),
                bool(column_stats_present),
            )
        ],
        "n_rows bigint, ndv_status bigint, min_orderkey bigint, max_orderkey bigint,"
        " table_stats_present boolean, column_stats_present boolean",
    )


@query(
    "maintenance_commit_log_replay",
    oracle="""
    SELECT 3 AS n_commits,
           (SELECT COUNT(*) FROM orders) AS n_rows,
           (SELECT CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
            FROM orders) AS sum_totalprice_cents,
           TRUE AS snapshot_consistent,
           TRUE AS removed_files_invisible
    """,
)
def maintenance_commit_log_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse transaction log in miniature — the Delta/Iceberg commit
    mechanism: a table is DEFINED by an ordered JSON action log
    (add-file / remove-file), not by directory listing; readers replay
    the log to resolve the live file set, which is what makes commits
    atomic and time travel possible.

    The three commits of ``_three_commit_orders`` are written; the
    third is a compaction whose removed files stay on disk, so listing
    the directory naively would double-count. The reader replays the
    log with one last-action-per-path window (``_live_files``), scans
    ONLY live files, and the oracle adjudicates that the snapshot equals the full source table exactly
    (row count + exact cents checksum, plus a both-direction anti-join
    equality check). ``removed_files_invisible`` pins that dead files
    exist on disk yet contribute no rows.

    At 100 TB this is the metadata pattern that replaces listing: the
    log is O(actions), resolves in one tiny window, and file-level
    add/remove is what partition overwrite, compaction, and DELETE all
    compile to.
    """
    data, logdir, orders, _low = _three_commit_orders(spark, sf_dir, "sgq_txlog_")
    live_files = _live_files(spark.read.json(os.path.join(logdir, "*.json")))
    n_commits = len(os.listdir(logdir))

    snapshot = spark.read.parquet(*live_files)

    # Null-safe equality for the both-direction anti-join audit: a
    # column-list anti join uses plain `=`, under which a row with ANY
    # NULL column never matches its own twin (NULL != NULL), so a table
    # with NULL keys would read "inconsistent" while counts and sums
    # match exactly (found by the round-8 null-key robustness corpus).
    # eqNullSafe (SQL `IS NOT DISTINCT FROM`) keeps the audit a hash
    # join and makes NULLs compare equal, which is the row-identity
    # semantics a snapshot-equality check needs.
    def _anti_count(left, right) -> int:
        l, r = left.alias("l"), right.alias("r")
        cond = reduce(
            lambda a, c: a & F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}")),
            left.columns[1:],
            F.col(f"l.{left.columns[0]}").eqNullSafe(F.col(f"r.{left.columns[0]}")),
        )
        return l.join(r, cond, "left_anti").count()

    diff = _anti_count(snapshot, orders) + _anti_count(orders, snapshot)
    dead_on_disk = set(parquet_files(data)) - set(live_files)
    return snapshot.agg(
        F.count("*").alias("n_rows"),
        F.sum(_cents()).cast("bigint").alias("sum_totalprice_cents"),
    ).select(
        F.lit(n_commits).alias("n_commits"),
        "n_rows",
        "sum_totalprice_cents",
        F.lit(diff == 0).alias("snapshot_consistent"),
        F.lit(len(dead_on_disk) > 0).alias("removed_files_invisible"),
    )


@query(
    "maintenance_time_travel_read",
    oracle="""
    SELECT 0 AS version,
           (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 300000) AS n_rows,
           (SELECT CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
            FROM orders WHERE o_totalprice <= 300000) AS sum_totalprice_cents
    UNION ALL
    SELECT 1, (SELECT COUNT(*) FROM orders),
           (SELECT CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
            FROM orders)
    UNION ALL
    SELECT 2, (SELECT COUNT(*) FROM orders),
           (SELECT CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
            FROM orders)
    ORDER BY version
    """,
)
def maintenance_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the commit log — the read-side dividend of
    ``maintenance_commit_log_replay``'s mechanism: a snapshot AS OF
    version v is the log replayed with actions ``v' <= v`` only.  The
    same three commits are written (``_three_commit_orders``); each
    historical snapshot is then resolved and scanned, and the oracle
    pins version 0 == the low-price half, version 1 == the full table,
    and version 2 == the full table still (compaction rewrote layout,
    not content — exact cents checksum proves it).

    At 100 TB: time travel costs O(actions <= v) metadata resolution,
    zero data copies — old files are simply *retained* until vacuum;
    this is how reproducible training runs pin the exact corpus
    snapshot a model saw, independent of later ingest/compaction.
    """
    _data, logdir, _orders, _low = _three_commit_orders(spark, sf_dir, "sgq_timetravel_")
    log = spark.read.json(os.path.join(logdir, "*.json"))
    out = None
    for version in (0, 1, 2):
        snap = spark.read.parquet(*_live_files(log, as_of=version)).agg(
            F.count("*").alias("n_rows"),
            F.sum(_cents()).cast("bigint").alias("sum_totalprice_cents"),
        ).select(F.lit(version).alias("version"), "*")
        out = snap if out is None else out.unionByName(snap)
    return out.orderBy("version")


@query(
    "maintenance_vacuum_orphans",
    oracle="""
    SELECT CAST(7 AS BIGINT) AS n_files_before,
           CAST(2 AS BIGINT) AS n_files_after,
           CAST(5 AS BIGINT) AS n_vacuumed,
           (SELECT COUNT(*) FROM orders) AS n_rows,
           (SELECT CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
            FROM orders) AS sum_totalprice_cents,
           TRUE AS snapshot_unchanged
    """,
)
def maintenance_vacuum_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM — the commit log's garbage-collection dividend and the
    third leg of the replay/time-travel mechanism: files on disk that
    the log's live set no longer references (compacted-away originals
    AND crash debris that was written but never committed) are deleted,
    and the live snapshot provably does not change. The file census is
    fully determined by the protocol (4 initial files + 1 append + 1
    compaction output + 1 uncommitted orphan = 7; live = 2; vacuumed =
    5), so the oracle pins the exact counts, not just booleans — plus
    the content checksum before == after.

    Deleting by LOG DIFFERENCE rather than by age is what makes vacuum
    safe under concurrent readers pinned to old versions: the protocol
    here vacuums everything dead because no reader holds a version,
    mirroring `VACUUM ... RETAIN 0 HOURS`. At 100 TB the dead set is
    resolved from O(actions) metadata — the only filesystem work is
    the deletes themselves."""
    data, logdir, _orders, low = _three_commit_orders(spark, sf_dir, "sgq_vacuum_")
    # Crash debris: written, never committed.
    low.limit(10).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(data, "orphan")
    )
    live = sorted(_live_files(spark.read.json(os.path.join(logdir, "*.json"))))

    before_cs = spark.read.parquet(*live).agg(
        F.count("*").alias("n"),
        F.sum(_cents()).cast("bigint").alias("cents"),
    ).collect()[0]

    all_before = sorted(parquet_files(data))
    dead = [p for p in all_before if p not in set(live)]
    for p in dead:
        os.remove(p)
    all_after = sorted(parquet_files(data))

    after = spark.read.parquet(*live).agg(
        F.count("*").alias("n_rows"),
        F.sum(_cents()).cast("bigint").alias("sum_totalprice_cents"),
    )
    return after.select(
        F.lit(len(all_before)).cast("bigint").alias("n_files_before"),
        F.lit(len(all_after)).cast("bigint").alias("n_files_after"),
        F.lit(len(dead)).cast("bigint").alias("n_vacuumed"),
        "n_rows",
        "sum_totalprice_cents",
        (
            (F.col("n_rows") == F.lit(before_cs["n"]))
            & (F.col("sum_totalprice_cents") == F.lit(before_cs["cents"]))
        ).alias("snapshot_unchanged"),
    )


@query(
    "maintenance_two_table_atomic_publish",
    oracle="""
    WITH snap AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
    a AS (
      SELECT 'by_priority' AS report, o_orderpriority AS k,
             COUNT(*) AS n,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM snap GROUP BY 2
    ), b AS (
      SELECT 'by_status' AS report, o_orderstatus AS k,
             COUNT(*) AS n,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM snap GROUP BY 2
    )
    SELECT report, k, n, cents,
           CAST(1 AS BIGINT) AS orphan_versions,
           TRUE AS snapshot_consistent
    FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
    ORDER BY report, k
    """,
)
def q_maintenance_two_table_atomic_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-TABLE atomic publish: two derived reports must move between
    snapshot versions TOGETHER or not at all — the multi-table
    extension of the single-table commit log
    ([[maintenance_commit_log_replay]]), and the consistency contract
    the reference silently lacks (its two Redshift reports commit
    independently, so a crash between them leaves the warehouse mixing
    report generations — SURVEY's bug ledger, B10).

    Protocol: data versions are immutable dirs (tables/a/v1, ...); a
    MANIFEST file lists one version per table; CURRENT is a one-line
    pointer swapped by atomic rename. The simulated incident writes
    v2 of table A, then CRASHES before v2 of table B — so manifest-2
    is never written and CURRENT still names manifest-1. The reader
    resolves CURRENT -> manifest -> paths and must see BOTH reports at
    v1 (the even-orderkey snapshot), with exactly one orphaned version
    dir on disk (audited from a real listing, invisible to reads).
    The oracle recomputes both reports from the v1 snapshot predicate.

    Scale: readers never list data dirs (the manifest IS the listing —
    the object-store pattern where LIST is slow and eventually
    consistent); the commit point is one rename regardless of how many
    tables or petabytes a snapshot spans.
    """
    root = scratch_dir("sgq_atomicpub_")
    tables = {"a": os.path.join(root, "tables", "a"), "b": os.path.join(root, "tables", "b")}
    manifests = os.path.join(root, "manifests")
    os.makedirs(manifests, exist_ok=True)

    orders = load_table(spark, sf_dir, "orders")
    snap_v1 = orders.filter(F.col("o_orderkey") % 2 == 0)

    def report_a(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("o_orderpriority").alias("k")).agg(
            F.count("*").alias("n"),
            F.sum(_cents()).cast("bigint").alias("cents"),
        )

    def report_b(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("o_orderstatus").alias("k")).agg(
            F.count("*").alias("n"),
            F.sum(_cents()).cast("bigint").alias("cents"),
        )

    # committed snapshot v1: both tables written, manifest-1 + CURRENT
    report_a(snap_v1).write.parquet(os.path.join(tables["a"], "v1"))
    report_b(snap_v1).write.parquet(os.path.join(tables["b"], "v1"))
    m1 = os.path.join(manifests, "manifest-1.json")
    with open(m1, "w") as f:
        json.dump({"a": "v1", "b": "v1"}, f)
    tmp_ptr = os.path.join(root, ".CURRENT.tmp")
    with open(tmp_ptr, "w") as f:
        f.write("manifest-1.json")
    os.rename(tmp_ptr, os.path.join(root, "CURRENT"))  # the atomic commit

    # incident: v2 of A lands, crash before B's v2 and before manifest-2
    report_a(orders).write.parquet(os.path.join(tables["a"], "v2"))

    # reader protocol: CURRENT -> manifest -> per-table version paths
    with open(os.path.join(root, "CURRENT")) as f:
        current = json.load(open(os.path.join(manifests, f.read().strip())))
    seen = {
        t: spark.read.parquet(os.path.join(tables[t], v)) for t, v in current.items()
    }
    listed = {
        (t, v)
        for t, d in tables.items()
        for v in os.listdir(d)
        if os.path.isdir(os.path.join(d, v))
    }
    orphans = len(listed - set(current.items()))
    consistent = set(current.values()) == {"v1"}

    out = seen["a"].select(F.lit("by_priority").alias("report"), "k", "n", "cents").unionByName(
        seen["b"].select(F.lit("by_status").alias("report"), "k", "n", "cents")
    )
    return out.select(
        "report",
        "k",
        "n",
        "cents",
        F.lit(orphans).cast("bigint").alias("orphan_versions"),
        F.lit(consistent).alias("snapshot_consistent"),
    ).orderBy("report", "k")


@query(
    "maintenance_merge_on_read",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS k, o_orderpriority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ), cur AS (
      SELECT o_orderpriority,
             CASE WHEN k % 8 = 0 THEN cents + k % 1000 + 1 ELSE cents END AS cents
      FROM o WHERE k % 8 <> 4 AND k % 16 <> 8
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents,
           TRUE AS read_paths_agree
    FROM cur GROUP BY 1 ORDER BY 1
    """,
)
def q_maintenance_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ vs READ-OPTIMIZED: the two lakehouse read paths
    for a base file plus a delta log (Hudi's MoR/RO split, Iceberg's
    merge-on-read deletes). The WRITE side appends deltas cheaply —
    upsert batch then tombstone batch — and the READ side either
    reconstructs at query time (base ANTI-JOIN all delta keys, UNION
    surviving upserts — delta precedence by log order) or reads the
    compacted rewrite. Both paths must return identical content, and
    the oracle recomputes that content from the planted predicates
    (reprice k%8=0, insert k%4=3, delete k%8=4 and k%16=8). Precedence
    is exercised by construction: the k%16=8 keys are REPRICED in
    delta 1 and TOMBSTONED in delta 2, so a reader that resolves
    first-write-wins (or ignores seq) keeps rows the log deleted —
    pinned as a negative control in pytest.

    ``read_paths_agree`` is computed from a REAL anti-join between the
    two materialized reads (count of differing rows == 0), not assumed.
    Scale: MoR reads shuffle only the delta (the base is anti-joined by
    key — broadcast when the delta is small); compaction amortizes that
    read cost once write traffic quiets — exactly the trade the two
    paths exist for.
    """
    root = scratch_dir("sgq_mor_")
    # o feeds three independent write actions — checkpointed so the
    # fact scan + projection runs once.
    o = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("k"),
            "o_orderpriority",
            _cents().alias("cents"),
        )
        .transform(pin)
    )
    base = o.filter(F.col("k") % 4 != 3)
    base_path = os.path.join(root, "base")
    base.write.parquet(base_path)

    upserts = (
        o.filter((F.col("k") % 8 == 0) | (F.col("k") % 4 == 3))  # k%16==8 ⊂ k%8==0
        .withColumn(
            "cents",
            F.when(F.col("k") % 8 == 0, F.col("cents") + F.col("k") % 1000 + 1).otherwise(
                F.col("cents")
            ),
        )
        .withColumn("op", F.lit("U"))
    )
    # deletes: the %8==4 rows (never upserted) AND the %16==8 rows —
    # which delta 1 just repriced, so tombstone precedence is decided
    # by log order, not by key disjointness
    tombstones = o.filter(
        (F.col("k") % 8 == 4) | (F.col("k") % 16 == 8)
    ).select("k", "o_orderpriority", "cents", F.lit("D").alias("op"))
    delta_path = os.path.join(root, "delta")
    upserts.withColumn("seq", F.lit(1)).write.parquet(os.path.join(delta_path, "d1"))
    tombstones.withColumn("seq", F.lit(2)).write.parquet(os.path.join(delta_path, "d2"))

    # merge-on-read: last delta per key wins over base
    deltas = spark.read.option("recursiveFileLookup", "true").parquet(delta_path)
    last = (
        deltas.withColumn(
            "rn", F.row_number().over(Window.partitionBy("k").orderBy(F.desc("seq")))
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    base_r = spark.read.parquet(base_path)
    # mor feeds the compaction write plus both exceptAll directions —
    # checkpointed so the reconstruction runs once.
    mor = (
        base_r.join(last.select("k"), "k", "left_anti")
        .unionByName(
            last.filter(F.col("op") == "U").select("k", "o_orderpriority", "cents")
        )
        .transform(pin)
    )

    # read-optimized: compact once, read the rewrite
    ro_path = os.path.join(root, "compacted")
    mor.write.parquet(ro_path)
    ro = spark.read.parquet(ro_path)

    n_diff = (
        mor.exceptAll(ro).count() + ro.exceptAll(mor).count()
    )
    agree = n_diff == 0

    return (
        ro.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .withColumn("read_paths_agree", F.lit(agree))
        .orderBy("o_orderpriority")
    )
