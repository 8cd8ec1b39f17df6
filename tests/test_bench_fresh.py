"""Unit pins for bench.py's fresh-subprocess panel.

The fresh panel is the round-over-round perf signal: a fixed list
(``bench.FRESH_PANEL``) re-timed in fresh sessions every round, chunked
so one crashed or hung session costs only its chunk. These tests pin the
panel, its independence from earlier detail records, and loud failure
reporting, without spawning Spark.
"""

from __future__ import annotations

import json
import subprocess

import pytest

import bench
from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import REGISTRY


@pytest.fixture()
def repo_root(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "_REPO_ROOT", str(tmp_path))
    return tmp_path


def _fake_run(monkeypatch, sent, fail_call=None, stdout="", rc=1, stderr=""):
    """Stub ``subprocess.run``: records each chunk's names in ``sent``
    and answers with a reading per name, except call ``fail_call``
    (1-based; every call when ``"all"``), which answers with
    ``stdout``/``rc``/``stderr``."""

    def fake_run(argv, **kw):
        # argv = [python, -c, prog, sf_dir, comma-joined-names]
        names = argv[4].split(",")
        sent.append(names)

        class R:
            returncode = 0
            stdout = "FRESH_JSON:" + json.dumps({n: 1.0 for n in names})
            stderr = ""

        if fail_call in ("all", len(sent)):
            R.returncode, R.stdout, R.stderr = rc, stdout, stderr
        return R()

    monkeypatch.setattr(subprocess, "run", fake_run)


def test_panel_names_are_registered_and_unique():
    assert set(bench.FRESH_PANEL) <= set(REGISTRY)
    assert len(set(bench.FRESH_PANEL)) == len(bench.FRESH_PANEL)


def test_panel_ignores_earlier_detail_records(repo_root, monkeypatch):
    """The same names go out, in the same order, with or without earlier
    BENCH_DETAIL_r*.json files: the panel is not derived from history."""
    without, with_prior = [], []
    _fake_run(monkeypatch, without)
    fresh, err = bench._fresh_times("/tmp/sf")
    assert err is None and set(fresh) == set(bench.FRESH_PANEL)

    other = sorted(set(REGISTRY) - set(bench.FRESH_PANEL))[:3]
    detail = {"sf": 0.1, "isolated": {n: 9.0 for n in other},
              "isolated_fresh": {n: 1.0 for n in other}}
    (repo_root / "BENCH_DETAIL_r07.json").write_text(json.dumps(detail))
    _fake_run(monkeypatch, with_prior)
    bench._fresh_times("/tmp/sf")

    assert with_prior == without
    assert [n for c in without for n in c] == list(bench.FRESH_PANEL)
    assert all(len(c) <= bench._FRESH_CHUNK for c in without)


def test_chunk_failure_keeps_other_chunks_partial_results(repo_root, monkeypatch):
    sent = []
    _fake_run(monkeypatch, sent, fail_call=2, stderr="boom")  # second chunk crashes
    fresh, err = bench._fresh_times("/tmp/sf")
    assert len(sent) > 2
    assert set(fresh) == set(bench.FRESH_PANEL) - set(sent[1]), (
        "the other chunks' readings must survive"
    )
    assert err is not None and "rc=1" in err and "boom" in err


def test_failure_is_reported_not_swallowed(repo_root, monkeypatch):
    """A crashed fresh subprocess (no FRESH_JSON line) returns an error
    string carrying the returncode and stderr tail — never a silent {}
    (r7 ADVICE), and the caller records it in BENCH_DETAIL."""
    _fake_run(
        monkeypatch, [], fail_call="all", rc=137, stderr="x\ny\njava.lang.OutOfMemoryError"
    )
    fresh, err = bench._fresh_times("/tmp/sf")
    assert fresh == {}
    assert err is not None and "rc=137" in err and "OutOfMemoryError" in err
