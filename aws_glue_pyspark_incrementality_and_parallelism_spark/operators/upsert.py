"""Keyed upsert (MERGE) into a parquet target — the update-capture gap
in bookmark-style incrementality, closed.

Keyed bookmarks deliberately skip in-place UPDATEs to already-seen keys
(SURVEY §7: the reference's screenshots show updated rows silently
missed). CDC pipelines therefore need an apply step: new version of a
key replaces the old one, unseen keys append.

Plain parquet has no row-level transaction log (that's Delta/Iceberg),
so the merge is copy-on-write: ``target ⟕anti updates ∪ updates``
written out and swapped in by ``sources.io.swap_parquet``. At scale
you would partition the target and rewrite only partitions containing
updated keys (Spark's dynamic partition overwrite,
``spark.sql.sources.partitionOverwriteMode=dynamic``); table formats
with merge-on-read take it from there.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..sources.io import swap_parquet


def upsert_parquet(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    keys: list[str],
) -> None:
    """MERGE ``updates`` into the parquet table at ``target_dir`` by key.

    Last-writer-wins per key. Copy-on-write: the merged result replaces
    the target through ``swap_parquet``.
    """
    if os.path.exists(target_dir):
        target = spark.read.parquet(target_dir)
        kept = target.join(updates.select(*keys), on=keys, how="left_anti")
        merged = kept.unionByName(updates)
    else:
        merged = updates
    swap_parquet(merged, target_dir)


def apply_cdc_parquet(
    spark: SparkSession,
    target_dir: str,
    changes: DataFrame,
    keys: list[str],
    seq_col: str | None = None,
) -> None:
    """Apply a CDC batch (insert/update/delete) to the parquet target.

    ``changes`` carries an ``op`` column of 'I'/'U'/'D' (case-insensitive).
    When one key appears multiple times in the batch, ``seq_col`` (a
    monotonically increasing change sequence, e.g. binlog position)
    picks the LAST change per key — applying a whole day's changelog in
    one pass instead of row-at-a-time. Deletes drop the key; I/U land
    as the new row version (same last-writer-wins as ``upsert_parquet``).

    Scale: one window per batch (partitioned by key) + one anti join +
    one union — the target is never shuffled, only the (much smaller)
    change batch. At 100 TB the target would be partitioned and only
    partitions containing changed keys rewritten (dynamic partition
    overwrite), same as the plain upsert.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if seq_col is not None:
        w = Window.partitionBy(*keys).orderBy(F.col(seq_col).desc())
        changes = (
            changes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    is_delete = F.upper(F.col("op")) == "D"
    surviving = changes.filter(~is_delete).drop("op", *([seq_col] if seq_col else []))
    doomed_keys = changes.select(*keys)  # every changed key leaves the old version

    if os.path.exists(target_dir):
        target = spark.read.parquet(target_dir)
        kept = target.join(doomed_keys, on=keys, how="left_anti")
        merged = kept.unionByName(surviving)
    else:
        merged = surviving
    swap_parquet(merged, target_dir)
