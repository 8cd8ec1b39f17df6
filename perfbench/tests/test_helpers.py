"""Tests for the benchmark's own helpers. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import checks, metrics, stats, trace, workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


# --- event-log fold -------------------------------------------------------


@pytest.fixture(scope="module")
def log():
    with open(os.path.join(HERE, "data", "eventlog.json")) as f:
        return trace.fold_events(f)


def test_fold_counts_jobs_stages_and_tasks(log):
    # Recorded: job 0 in group "g/collect" (scan stage 4 tasks + result
    # stage 2 tasks), job 1 a re-run of the same query (its scan stage
    # is skipped, so only the 2-task result stage runs), job 2 a 3-task
    # count submitted from pool "2" without a group.
    assert sorted(log.jobs) == [0, 1, 2]
    j0, j1, j2 = (log.jobs[i] for i in range(3))
    assert (j0.stages, j0.tasks) == (2, 6)
    assert (j1.stages, j1.tasks) == (1, 2)
    assert (j2.stages, j2.tasks) == (1, 3)
    assert all(j.end_ms >= j.submit_ms for j in (j0, j1, j2))


def test_fold_attribution_properties(log):
    assert [j.job_id for j in log.in_group("g/collect")] == [0, 1]
    assert log.jobs[2].group is None
    assert log.jobs[2].pool == "2"
    assert "collect at" in log.jobs[0].call_site


def test_fold_task_metrics(log):
    j0 = log.jobs[0]
    assert j0.cpu_ns > 0
    assert j0.shuffle_write_bytes > 0
    assert j0.spill_bytes == 0
    assert j0.task_wait_ms >= 0


def test_fold_time_window(log):
    first, last = min(j.submit_ms for j in log.jobs.values()), max(j.submit_ms for j in log.jobs.values())
    assert len(log.between(first, last)) == 3
    assert log.between(last + 1, last + 10) == []


def test_fold_ignores_blank_lines_and_unknown_events():
    lines = ["", json.dumps({"Event": "SparkListenerLogStart", "Spark Version": "x"}), "\n"]
    assert trace.fold_events(lines).jobs == {}


# --- end-to-end metrics -------------------------------------------------------------


def test_ops_per_s_counts_the_share_inside_the_window():
    run = workloads.Run(ROOT, "etl_incremental", 0, 10.0, False, 0.0)
    run.timed_start = 100.0
    run.ops = [workloads.Op("run_etl", 0, 100.0, 104.0), workloads.Op("run_etl", 1, 104.0, 108.0),
               workloads.Op("run_etl", 2, 108.0, 112.0)]
    e2e = metrics.end_to_end(run)
    assert e2e["ops_per_s"] == (pytest.approx(2.5 / 10.0), "1/s")
    assert e2e["op_s.p50"] == (pytest.approx(4.0), "s")


def test_op_s_p50_is_the_geomean_of_per_kind_medians():
    run = workloads.Run(ROOT, "analytics_concurrent", 0, 10.0, False, 0.0)
    run.timed_start = 0.0
    for seq, (kind, latency) in enumerate([("q1", 1.0), ("q1", 2.0), ("q1", 9.0),
                                           ("q2", 4.0), ("q2", 12.0)]):
        run.ops.append(workloads.Op(kind, seq, 0.0, latency))
    # Medians 2.0 and 8.0; their geometric mean is 4.0.
    assert metrics.end_to_end(run)["op_s.p50"] == (pytest.approx(4.0), "s")
    # One more fast q1 changes the mix, not the per-kind medians: one median
    # over all six ops would drop to 3.0; the figure stays.
    run.ops.append(workloads.Op("q1", 5, 0.0, 2.0))
    assert metrics.end_to_end(run)["op_s.p50"] == (pytest.approx(4.0), "s")


def test_overlap():
    assert metrics._overlap([(0.0, 1.0), (0.0, 1.0)]) == pytest.approx(2.0)
    assert metrics._overlap([(0.0, 1.0), (2.0, 3.0)]) == pytest.approx(1.0)
    assert metrics._overlap([(0.0, 2.0), (1.0, 3.0)]) == pytest.approx(4.0 / 3.0)
    assert metrics._overlap([]) == 1.0


# --- metric names -------------------------------------------------------------


@pytest.mark.parametrize("name", ["setup_s", "op_s.p50", "spark.tasks_per_op.graph_kcore_peel.spread", "9x", "a-b"])
def test_valid_names(name):
    assert stats.valid_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65, "op_s:p50", "é"])
def test_invalid_names(name):
    assert not stats.valid_name(name)


def test_result_line_rejects_bad_names():
    with pytest.raises(ValueError):
        stats.result_line(True, 1, 0, {"bad name": (1.0, "s")})
    line = json.loads(stats.result_line(True, 3, 0, {"round_s": (1.25, "s")}))
    assert line == {"correct": True, "attempted": 3, "failed": 0,
                    "metrics": {"round_s": {"value": 1.25, "unit": "s"}}}


def _fake_run(workload: str) -> workloads.Run:
    run = workloads.Run(ROOT, workload, 0, 30.0, True, 0.0)
    kinds = ["run_etl"] if workload == "etl_incremental" else list(workloads.PANEL)
    for r in range(2):
        for i, kind in enumerate(kinds):
            start = 10.0 * r + i
            run.ops.append(workloads.Op(kind, len(run.ops), start, start + 0.5, 0.2, 0.3))
    run.counters0 = {"driver_cpu_s": 0.0, "worker_cpu_s": 0.0, "gc_count": 0, "gc_s": 0.0}
    run.counters1 = {"driver_cpu_s": 1.0, "worker_cpu_s": 2.0, "gc_count": 4, "gc_s": 0.5}
    return run


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_emitted_names_match_benchmark_json(workload):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    run = _fake_run(workload)
    layer = metrics.per_layer(run, trace.EventLog(), workloads.PANEL, 1.0, 100.0)
    e2e = metrics.end_to_end(run)
    assert sorted(layer) == sorted(m["name"] for m in spec["per_layer"])
    assert sorted(e2e) == sorted(m["name"] for m in spec["end_to_end"])
    assert all(stats.valid_name(n) for n in list(layer) + list(e2e))
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    assert all(units[n] == u for n, (_, u) in {**layer, **e2e}.items())


# --- output checks --------------------------------------------------------------


@pytest.fixture()
def con():
    duckdb = pytest.importorskip("duckdb")
    c = duckdb.connect()
    yield c
    c.close()


def _rel(rows):
    values = ", ".join(f"({k}, 'n{k}', {t!r})" for k, t in rows)
    return f"SELECT * FROM (VALUES {values}) v(k, name, total)"


def test_report_diff_accepts_equal_and_half_cent(con):
    exact = [(1, 10.0), (2, 20.5)]
    assert checks.report_diff(con, _rel(exact), _rel(exact), ("k", "name")) is None
    # A sum that sits on a half cent (10.005) rounds to 10.01 in one engine
    # and to 10.0 in the other: one cent apart, which the check accepts.
    assert checks.report_diff(con, _rel([(1, 10.01)]), _rel([(1, 10.0)]), ("k", "name")) is None
    assert checks.report_diff(con, _rel([(1, 0.13)]), _rel([(1, 0.12)]), ("k", "name")) is None


def test_report_diff_rejects_two_cents_and_group_changes(con):
    assert "off by more" in checks.report_diff(con, _rel([(1, 10.0)]), _rel([(1, 10.02)]), ("k", "name"))
    assert "missing" in checks.report_diff(con, _rel([(1, 1.0), (2, 2.0)]), _rel([(1, 1.0)]), ("k", "name"))
    why = checks.report_diff(con, _rel([(1, 1.0)]), _rel([(1, 1.0), (3, 2.0)]), ("k", "name"))
    assert "1 unexpected" in why
    # A group written twice is caught by the row count.
    assert "2 rows vs 1" in checks.report_diff(con, _rel([(1, 1.0)]), _rel([(1, 1.0), (1, 1.0)]), ("k", "name"))



def test_etl_check_against_landed_inputs(con, tmp_path):
    from perfbench import datagen

    landing = str(tmp_path / "landing")
    datagen.land(3, 0.001, landing, names=("lineitem", "orders", "customer", "supplier"))
    table = checks.etl_expected(con, landing, 1000)["sales_by_customer"]
    first = con.execute(f"SELECT min(c_custkey) FROM {table}").fetchone()[0]
    out = tmp_path / "sales_by_customer"
    out.mkdir()

    def diff(select: str):
        """Write ``select`` where a run writes the report, then check it."""
        con.execute(f"COPY ({select}) TO '{out}/part-0.parquet' (FORMAT parquet)")
        return checks.etl_report_diff(con, table, str(out), "sales_by_customer")

    def shifted(d: float) -> str:
        return (f"SELECT * REPLACE (CASE WHEN c_custkey = {first} THEN total + {d} ELSE total END AS total)"
                f" FROM {table}")

    assert diff(f"SELECT * FROM {table}") is None
    assert diff(shifted(0.01)) is None  # a half-cent sum rounded the other way
    assert "off by more" in diff(shifted(0.02))
    assert "missing" in diff(f"SELECT * FROM {table} WHERE c_custkey <> {first}")
