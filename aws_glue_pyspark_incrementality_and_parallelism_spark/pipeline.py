"""End-to-end ETL pipeline — the reference's ``JobBase.execute()``
(glue_rds_to_redshift.py:19-55) rebuilt Spark-first and bug-fixed.

Stages (reference line refs in parens):

1. incremental scan of the fact table via the HWM bookmark store
   (:28-40, service bookmarks → explicit state, SURVEY §8 B8/B10 fixed)
2. rename → 3-way join → projection (:44-47, typo'd keys B4/B5 fixed)
3. pin the joined frame once (``session.pin``) for both reports (:48)
4. two grouped-sum reports (``operators.reports.REPORTS``) submitted
   concurrently to FAIR pools (:52-55, missing-method/unawaited-futures
   B2/B3 fixed)
5. parquet sinks, one flat directory of part files per report, each
   replaced through ``sources.io.swap_parquet`` with its row count
   observed on the write (the reference writes to Redshift; :86-92)
6. bookmark commit AFTER both sinks succeed (B10 fixed)

Each run replaces each report with its own slice's aggregates, so a
run that admits new rows over a standing report drops the earlier
groups until the merge step (ROADMAP item 1) lands. The sink works on a
local file system only (``swap_parquet`` renames directories).

At scale: the joined frame is pinned once (``session.pin``) as plain
rows (it feeds two actions) and released after the reports; sinks are
not partitioned; the HWM commit is the transaction boundary.
"""

from __future__ import annotations

import functools
import json
import logging
import os
import time
from dataclasses import dataclass
from typing import Any

log = logging.getLogger("engine.pipeline")

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from . import parallel, session
from .operators.reports import REPORTS, ReportSpec
from .sources.incremental import BookmarkStore, incremental_read
from .sources.io import load_table, swap_parquet


@dataclass
class PipelineResult:
    committed_hwm: Any
    report_rows: dict[str, int]
    output_paths: dict[str, str]
    metrics: dict[str, Any] | None = None


def run_etl(
    spark: SparkSession,
    sf_dir: str,
    output_dir: str,
    bookmark_path: str | None = None,
) -> PipelineResult:
    """One incremental run of the two-report ETL: the fact rows above
    the committed bookmark, joined and aggregated into both reports,
    then the bookmark commit.

    Each report directory under ``output_dir`` (a local path) is
    replaced with this slice's aggregates alone, so a run that admits
    new rows over a standing report drops the earlier runs' groups
    until the merge step of ROADMAP item 1 lands. A run with no new
    rows writes nothing. A sink that fails leaves its report and the
    bookmark as they were, and a rerun recomputes the same slice.

    ``metrics`` holds the run record, also logged as one JSON line: the
    bookmark before and after (``hwm_before``, ``hwm_after``), the rows
    of the slice, of the join and of each report (``slice_rows``,
    ``joined_rows``, ``report_rows``), the joined frame's other quality
    counters, and seconds per phase (``phase_s``: load, hwm, join,
    reports, commit; ``join`` is the pin of the joined frame). Every
    count comes from an ``Observation`` on a pass the run makes anyway."""
    store = BookmarkStore(bookmark_path or os.path.join(output_dir, "_bookmarks.json"))
    hwm_before = store.get("lineitem")
    phase_s = dict.fromkeys(("load", "hwm", "join", "reports", "commit"), 0.0)
    t0 = time.perf_counter()

    fact = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    batch = incremental_read(fact, "l_orderkey", store, "lineitem")
    t1 = time.perf_counter()
    hwm = batch.pending_hwm()
    t2 = time.perf_counter()
    phase_s.update(load=t1 - t0, hwm=t2 - t1)
    log.info("incremental read: prior hwm=%s pending hwm=%s", hwm_before, hwm)
    if hwm is None:
        log.info("empty batch; skipping reports and commit")
        metrics = _run_record(hwm_before, hwm_before, batch.rows, _QUALITY_ZEROS, {}, phase_s)
        return PipelineResult(
            committed_hwm=hwm_before, report_rows={}, output_paths={}, metrics=metrics
        )

    lineitem = batch.df.select(
        F.col("l_orderkey").alias("trn_orderkey"),
        F.col("l_suppkey").alias("trn_suppkey"),
        "l_extendedprice",
        "l_shipdate",
    )

    # Data-quality counters ride the pin of the joined frame — no extra
    # pass, collected from the executors' task metrics (the production
    # guardrail: a sudden null-rate or row-count shift fails fast instead
    # of poisoning downstream reports).
    obs = Observation("joined_quality")
    joined = (
        lineitem.join(orders, lineitem.trn_orderkey == orders.o_orderkey, "inner")
        .join(customer, orders.o_custkey == customer.c_custkey, "inner")
        .join(F.broadcast(supplier), lineitem.trn_suppkey == supplier.s_suppkey, "inner")
        .select(
            "l_extendedprice",
            "l_shipdate",
            "o_orderdate",
            "c_custkey",
            "c_name",
            "s_suppkey",
            "s_name",
        )
    )
    joined = joined.observe(
        obs,
        F.count(F.lit(1)).alias("joined_rows"),
        F.sum(F.when(F.col("l_extendedprice").isNull(), 1).otherwise(0)).alias("null_prices"),
        F.min("o_orderdate").alias("min_orderdate"),
        F.max("o_orderdate").alias("max_orderdate"),
    )
    # One materialization feeding both report actions (reference :48),
    # kept as plain rows: encoding the columnar cache ran in the slice's
    # single scan task and took longer than the joins.
    joined = session.pin(joined)
    t3 = time.perf_counter()

    paths = {spec.name: os.path.join(output_dir, spec.name) for spec in REPORTS}

    def _write_report(spec: ReportSpec) -> int:
        """Write one report; its row count is observed on the write."""
        rows = Observation()
        swap_parquet(
            spec.aggregate(joined).observe(rows, F.count(F.lit(1)).alias("rows")),
            paths[spec.name],
        )
        return session.observed(rows, {"rows": 0})["rows"]

    log.info("running %d reports concurrently (FAIR pools %s)",
             len(REPORTS), "/".join(spec.pool for spec in REPORTS))
    try:
        results = parallel.run_concurrent(
            spark,
            [
                parallel.ReportJob(spec.name, functools.partial(_write_report, spec), spec.pool)
                for spec in REPORTS
            ],
        )
    finally:
        session.unpin(joined)
    t4 = time.perf_counter()

    quality = session.observed(obs, _QUALITY_ZEROS)
    if quality["joined_rows"] and quality["null_prices"]:
        raise ValueError(f"data-quality gate: null prices in joined frame: {quality}")

    committed = batch.commit()  # only reached when both sinks succeeded
    phase_s.update(join=t3 - t2, reports=t4 - t3, commit=time.perf_counter() - t4)
    log.info("sinks committed; bookmark advanced to %s", committed)
    metrics = _run_record(hwm_before, committed, batch.rows, quality, results, phase_s)
    return PipelineResult(
        committed_hwm=committed, report_rows=results, output_paths=paths, metrics=metrics
    )


#: Quality counters of the joined frame when no row joined.
_QUALITY_ZEROS = {"joined_rows": 0, "null_prices": 0, "min_orderdate": None, "max_orderdate": None}


def _run_record(hwm_before, hwm_after, slice_rows, quality, report_rows, phase_s) -> dict[str, Any]:
    record = {
        "hwm_before": hwm_before,
        "hwm_after": hwm_after,
        "slice_rows": slice_rows,
        **quality,
        "report_rows": dict(report_rows),
        "phase_s": {k: round(v, 4) for k, v in phase_s.items()},
    }
    log.info("run record %s", json.dumps(record, default=str))
    return record
