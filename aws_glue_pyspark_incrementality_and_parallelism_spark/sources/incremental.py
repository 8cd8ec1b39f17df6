"""Incremental scans — job-bookmark semantics as an explicit HWM store.

The reference relies on Glue Job Bookmarks: per-source monotonic
high-water-marks on declared key columns, with ``jobBookmarkKeys`` +
``jobBookmarkKeysSortOrder="asc"``
(/root/reference/glue_rds_to_redshift.py:31,35,40). Glue manages the
state service-side and (when the job commits) only re-reads rows with
key > last bookmark. The reference never commits (SURVEY §8 B10) and
reuses one transformation_ctx for three sources (B8) — both fixed here.

Spark-first rebuild: the bookmark is an ordinary filter predicate
``col(key) > lit(hwm)`` that Catalyst pushes into the parquet/JDBC scan
(visible as PushedFilters in .explain), plus a tiny JSON state store
committed only AFTER the sink succeeds. Crash between write and commit
⇒ rerun re-processes the same slice; pair with an idempotent sink
(replace a deterministic output path, as ``sources.io.swap_parquet``
does) for exactly-once output.

Known semantic (same as Glue, documented in SURVEY §7): an in-place
UPDATE to an already-seen key is skipped. Callers that need update
capture should bookmark on a monotonic ``last_modified`` column instead.

At 100 TB the predicate prunes at the source: ``key > hwm`` skips every
file, partition or row group whose parquet min-max statistics lie at or
below the bookmark. Incremental cost is O(new data) only when row groups
are clustered by the key (the table is written in key order, or
partitioned/bucketed on it). An unclustered table, or one written as a
single row group (the sf0.1 ``lineitem`` is one), is scanned whole on
every run; the filter then saves downstream work, not I/O.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..session import observed


class BookmarkStore:
    """Per-source high-water-mark state, one JSON file.

    Unlike the reference (shared transformation_ctx, SURVEY §8 B8), state
    is keyed by source name. Commit is atomic (write temp + rename).
    """

    def __init__(self, path: str) -> None:
        self.path = path

    def _load(self) -> dict[str, Any]:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            return json.load(f)

    def _save(self, state: dict[str, Any]) -> None:
        folder = os.path.dirname(os.path.abspath(self.path))
        os.makedirs(folder, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=folder)
        with os.fdopen(fd, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.path)

    def get(self, source: str) -> Any | None:
        return self._load().get(source)

    def commit(self, source: str, hwm: Any) -> None:
        state = self._load()
        state[source] = hwm
        self._save(state)


@dataclass
class IncrementalBatch:
    """One incremental slice plus the HWM to commit after the sink succeeds.

    ``key`` is a column name or a list of column names (composite
    bookmark — Glue's ``jobBookmarkKeys`` is a list, ordered
    lexicographically)."""

    df: DataFrame
    source: str
    key: str | list[str]
    store: BookmarkStore
    _pending_hwm: Any = None
    #: Rows in this batch, counted by the same pass as the HWM.
    rows: int | None = None

    def pending_hwm(self) -> Any:
        """Max key in this batch; None for an empty batch.

        One Spark job, no shuffle: an ``Observation`` of the max key rides
        a ``noop`` write of the key columns, and counts the batch's rows
        on the way (``rows``). A global aggregate would take two jobs,
        because AQE runs its map stage as a job of its own. The pass runs
        once per batch.

        For composite keys, ``max(struct(k1, k2, ...))`` — Spark orders
        structs lexicographically, so one aggregate yields the composite
        HWM without a sort."""
        if self.rows is None:
            single = isinstance(self.key, str)
            keys = [self.key] if single else list(self.key)
            top = F.max(self.key) if single else F.max(F.struct(*keys))
            obs = Observation()
            (
                self.df.select(*keys)
                .observe(obs, top.alias("hwm"), F.count(F.lit(1)).alias("rows"))
                .write.format("noop").mode("overwrite").save()
            )
            got = observed(obs, {"hwm": None, "rows": 0})
            hwm, self.rows = got["hwm"], got["rows"]
            self._pending_hwm = hwm if single or hwm is None else list(hwm)
        return self._pending_hwm

    def commit(self) -> Any:
        """Advance the bookmark. Call ONLY after the sink commit succeeds."""
        hwm = self.pending_hwm()
        if hwm is not None:
            self.store.commit(self.source, hwm)
        return hwm


def composite_gt(keys: list[str], hwm: list[Any]):
    """Lexicographic strictly-greater predicate over ``keys``:
    (k1 > h1) OR (k1 = h1 AND (k2 > h2 OR ...)). Catalyst pushes the
    OR-of-ANDs into the parquet scan, where row-group min/max stats on
    the leading key prune files exactly like the single-key case."""
    if not keys:
        raise ValueError("composite_gt: keys must be non-empty")
    if isinstance(hwm, (str, bytes)) or not isinstance(hwm, (list, tuple)):
        raise ValueError(
            f"composite_gt: hwm must be a list matching keys={keys}, got "
            f"{type(hwm).__name__} — a scalar bookmark committed by an "
            "earlier single-key run cannot drive a composite-key read "
            "(bookmark key set changed; delete the stored bookmark)"
        )
    if len(keys) != len(hwm):
        raise ValueError(
            f"composite_gt: {len(keys)} keys but {len(hwm)} HWM components "
            "(bookmark key set changed; delete the stored bookmark)"
        )
    pred = F.col(keys[-1]) > F.lit(hwm[-1])
    for k, h in zip(reversed(keys[:-1]), reversed(hwm[:-1])):
        pred = (F.col(k) > F.lit(h)) | ((F.col(k) == F.lit(h)) & pred)
    return pred


def incremental_read(
    df: DataFrame,
    key: str | list[str],
    store: BookmarkStore,
    source: str,
) -> IncrementalBatch:
    """Bookmark-filtered view of ``df`` (rows with key > committed HWM).

    The filter is a plain Catalyst predicate, so it is pushed down into
    the parquet scan (PushedFilters: [GreaterThan(key, hwm)]). A list
    ``key`` gives Glue's composite-``jobBookmarkKeys`` semantic via the
    lexicographic predicate."""
    hwm = store.get(source)
    if hwm is None:
        sliced = df
    elif isinstance(key, str):
        sliced = df.filter(F.col(key) > F.lit(hwm))
    else:
        # Pass the stored HWM through unchanged: composite_gt rejects a
        # legacy scalar bookmark with a clear "key set changed" error
        # rather than list('abc') silently exploding it into characters.
        sliced = df.filter(composite_gt(list(key), hwm))
    return IncrementalBatch(df=sliced, source=source, key=key, store=store)

