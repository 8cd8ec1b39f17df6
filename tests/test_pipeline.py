"""End-to-end pipeline test: incremental two-run execution produces the
same reports as a single full run (the reference's core guarantee)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_glue_pyspark_incrementality_and_parallelism_spark import pipeline
from aws_glue_pyspark_incrementality_and_parallelism_spark.operators import reports
from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.incremental import BookmarkStore
from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import load_table

from .conftest import SF_SMALL, within


#: Seconds any one ETL call in this file may take before its test fails.
DEADLINE_S = 300
#: Spark jobs of one warm ``run_etl`` at sf0.001 (measured: the HWM pass,
#: three broadcasts, the pin of the joined frame, the two reports' shuffle
#: maps and their two writes).
ETL_JOB_FLOOR = 9


def _land(tmp_path, max_orderkey=None, table="orders") -> str:
    """The ETL's four sf0.001 tables under ``tmp_path``, keeping only the
    rows of ``table`` (``orders`` or ``lineitem``) whose order key is
    ``<= max_orderkey`` (all of them for None)."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    land = tmp_path / "land"
    land.mkdir()
    for name in ("lineitem", "orders", "customer", "supplier"):
        if name != table:
            shutil.copy(os.path.join(SF_SMALL, f"{name}.parquet"), land)
    rows = pq.read_table(os.path.join(SF_SMALL, f"{table}.parquet"))
    if max_orderkey is not None:
        key = {"orders": "o_orderkey", "lineitem": "l_orderkey"}[table]
        rows = rows.filter(pc.less_equal(rows[key], max_orderkey))
    pq.write_table(rows, str(land / f"{table}.parquet"))
    return str(land)


def _max_fact_key(sf_dir: str) -> int:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    keys = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"), columns=["l_orderkey"])
    return pc.max(keys["l_orderkey"]).as_py()


def _snapshot(out: str) -> dict:
    """(size, mtime) of every file under ``out``: reports and bookmark."""
    snap = {}
    for root, _, names in os.walk(out):
        for name in names:
            st = os.stat(os.path.join(root, name))
            snap[os.path.join(root, name)] = (st.st_size, st.st_mtime_ns)
    return snap


def test_full_run_matches_report_operators(spark, tmp_path):
    out = str(tmp_path / "out")
    res = pipeline.run_etl(spark, SF_SMALL, out)
    assert res.committed_hwm == (
        load_table(spark, SF_SMALL, "lineitem").agg(F.max("l_orderkey")).collect()[0][0]
    )
    got = spark.read.parquet(res.output_paths["sales_by_supplier"])
    expected = reports.sales_by_supplier(spark, SF_SMALL)
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_rerun_is_noop_and_preserves_outputs(spark, tmp_path):
    """A rerun over an empty batch changes neither the reports nor the
    bookmark, and still returns a run record."""
    out = str(tmp_path / "out")
    first = within(DEADLINE_S, pipeline.run_etl, spark, SF_SMALL, out)
    assert first.report_rows["sales_by_customer"] > 0
    before = _snapshot(out)
    second = within(DEADLINE_S, pipeline.run_etl, spark, SF_SMALL, out)
    assert second.report_rows == {}, "no new fact rows -> no work"
    assert second.committed_hwm == first.committed_hwm
    # outputs from run 1 untouched
    n = spark.read.parquet(first.output_paths["sales_by_customer"]).count()
    assert n == first.report_rows["sales_by_customer"]
    assert _snapshot(out) == before
    assert second.metrics["slice_rows"] == 0
    assert second.metrics["hwm_before"] == second.metrics["hwm_after"] == first.committed_hwm


def test_pipeline_observation_metrics(spark, tmp_path, caplog):
    """The data-quality observation must report the joined row count and
    zero null prices, collected from the same action that wrote the
    reports (no extra scan). They are part of the run record, which is
    also logged as one JSON line."""
    import json
    import logging

    with caplog.at_level(logging.INFO, logger="engine.pipeline"):
        res = within(DEADLINE_S, pipeline.run_etl, spark, SF_SMALL, str(tmp_path / "out"))
    assert res.metrics is not None
    assert res.metrics["joined_rows"] > 0
    assert res.metrics["null_prices"] == 0
    assert res.metrics["min_orderdate"] <= res.metrics["max_orderdate"]

    record = res.metrics
    assert tuple(record) == (
        "hwm_before", "hwm_after", "slice_rows", "joined_rows", "null_prices",
        "min_orderdate", "max_orderdate", "report_rows", "phase_s",
    )
    assert tuple(record["phase_s"]) == ("load", "hwm", "join", "reports", "commit")
    assert all(v >= 0 for v in record["phase_s"].values())
    assert record["hwm_before"] is None and record["hwm_after"] == res.committed_hwm
    assert record["slice_rows"] == load_table(spark, SF_SMALL, "lineitem").count()
    assert record["report_rows"] == res.report_rows
    assert record["joined_rows"] <= record["slice_rows"]
    lines = [r.getMessage() for r in caplog.records if r.getMessage().startswith("run record ")]
    assert len(lines) == 1
    assert json.loads(lines[0][len("run record "):]) == json.loads(json.dumps(record, default=str))


def _stored_rdd_ids(spark) -> set:
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_etl_leaves_no_blocks_behind(spark, tmp_path):
    """The joined frame is pinned for the reports and released after
    them: two runs (the second over an empty batch) add no stored RDD
    and leave nothing in the cache manager. Registry queries run earlier
    in the session may leave cached frames, so the test clears the cache
    manager first."""
    spark.catalog.clearCache()
    before = _stored_rdd_ids(spark)
    out = str(tmp_path / "out")
    for _ in range(2):
        within(DEADLINE_S, pipeline.run_etl, spark, SF_SMALL, out)
    assert _stored_rdd_ids(spark) - before == set()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_reliable_pin_lane_matches_default(spark, tmp_path, monkeypatch):
    """With ``SPARK_GRAFT_RELIABLE_PIN`` set the joined frame is a reliable
    checkpoint; the run releases it and writes the default lane's reports
    and bookmark."""
    default = within(DEADLINE_S, pipeline.run_etl, spark, SF_SMALL, str(tmp_path / "default"))
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_PIN", "1")
    reliable = within(DEADLINE_S, pipeline.run_etl, spark, SF_SMALL, str(tmp_path / "reliable"))
    assert reliable.committed_hwm == default.committed_hwm
    assert reliable.report_rows == default.report_rows
    for name, path in default.output_paths.items():
        want = spark.read.parquet(path)
        got = spark.read.parquet(reliable.output_paths[name])
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_no_slice_row_joins(spark, tmp_path):
    """Orders not landed yet: the batch is non-empty but the join is
    empty, which AQE plans away with the observed nodes. The bookmark
    still advances to the slice's max key and both reports are written
    empty."""
    land = _land(tmp_path, max_orderkey=-1)  # keys start at 0: no orders
    res = within(DEADLINE_S, pipeline.run_etl, spark, land, str(tmp_path / "out"))
    assert res.committed_hwm == _max_fact_key(land)
    assert res.report_rows == {"sales_by_customer": 0, "sales_by_supplier": 0}
    for path in res.output_paths.values():
        assert spark.read.parquet(path).count() == 0
    assert res.metrics["joined_rows"] == 0
    assert res.metrics["slice_rows"] > 0


def _expected_reports(spark, sf_dir: str) -> dict:
    """Both reports recomputed over every fact row, in Spark SQL."""
    for table in ("lineitem", "orders", "customer", "supplier"):
        load_table(spark, sf_dir, table).createOrReplaceTempView(f"etl_{table}")
    joined = (
        "FROM etl_lineitem JOIN etl_orders ON l_orderkey = o_orderkey"
        " JOIN etl_customer ON o_custkey = c_custkey JOIN etl_supplier ON l_suppkey = s_suppkey"
    )
    return {
        "sales_by_customer": spark.sql(
            "SELECT c_custkey, c_name, to_date(o_orderdate) AS order_date,"
            f" round(sum(l_extendedprice), 2) AS total {joined} GROUP BY 1, 2, 3"
        ),
        "sales_by_supplier": spark.sql(
            "SELECT s_suppkey, s_name, to_date(l_shipdate) AS ship_date,"
            f" round(sum(l_extendedprice), 2) AS total {joined} GROUP BY 1, 2, 3"
        ),
    }


def test_some_slice_keys_without_orders(spark, tmp_path):
    """Orders landed up to the median key: the reports hold what joins,
    and the bookmark passes the keys that did not join."""
    land = _land(tmp_path, max_orderkey=_max_fact_key(SF_SMALL) // 2)
    res = within(DEADLINE_S, pipeline.run_etl, spark, land, str(tmp_path / "out"))
    assert res.committed_hwm == _max_fact_key(land)
    for name, expected in _expected_reports(spark, land).items():
        got = spark.read.parquet(res.output_paths[name])
        assert res.report_rows[name] == got.count() == expected.count() > 0
        assert got.exceptAll(expected).count() == 0
        assert expected.exceptAll(got).count() == 0


def test_failed_sink_keeps_bookmark_and_report(spark, tmp_path, monkeypatch):
    """Run 1 covers half the fact table. Run 2, over all of it, fails
    inside the Spark job that writes ``sales_by_supplier``: the bookmark
    keeps run 1's HWM, run 1's report stays as it was, and no staging or
    set-aside directory is left. A clean rerun then commits the full
    HWM."""
    out = str(tmp_path / "out")
    half = _land(tmp_path, _max_fact_key(SF_SMALL) // 2, table="lineitem")
    first = within(DEADLINE_S, pipeline.run_etl, spark, half, out)
    report = first.output_paths["sales_by_supplier"]
    before = _snapshot(report)

    swap = pipeline.swap_parquet

    def failing_swap(df, path):
        if path == report:
            df = df.withColumn("boom", F.raise_error(F.lit("sink down")).cast("string"))
        swap(df, path)

    monkeypatch.setattr(pipeline, "swap_parquet", failing_swap)
    with pytest.raises(Exception, match="sink down"):
        within(DEADLINE_S, pipeline.run_etl, spark, SF_SMALL, out)
    monkeypatch.undo()

    store = BookmarkStore(os.path.join(out, "_bookmarks.json"))
    assert store.get("lineitem") == first.committed_hwm < _max_fact_key(SF_SMALL)
    assert _snapshot(report) == before
    assert [n for n in os.listdir(out) if "__staging_" in n or "__old_" in n] == []
    rerun = within(DEADLINE_S, pipeline.run_etl, spark, SF_SMALL, out)
    assert rerun.committed_hwm == store.get("lineitem") == _max_fact_key(SF_SMALL)


def test_warm_etl_job_count(spark, tmp_path):
    """Every job of a warm run is in the caller's job group (the report
    workers join it), and there are no more of them than the floor."""
    sc = spark.sparkContext
    group = f"test-etl-jobs-{os.getpid()}-{id(tmp_path)}"

    def run(tag: str, group_id: str | None):
        if group_id is not None:
            sc.setJobGroup(group_id, "run_etl")
        try:
            pipeline.run_etl(spark, SF_SMALL, str(tmp_path / tag))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    within(DEADLINE_S, run, "warm", None)
    last = max(sc.statusTracker().getJobIdsForGroup(None))
    within(DEADLINE_S, run, "measured", group)
    assert [j for j in sc.statusTracker().getJobIdsForGroup(None) if j > last] == []
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= ETL_JOB_FLOOR, sorted(jobs)
