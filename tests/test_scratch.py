"""Query scratch space is removed when the process that made it exits.

Registry queries stage fixtures, stream sources, checkpoints and sinks
in ``session.scratch_dir`` directories under one per-process root in the
temp dir. A fresh interpreter with ``TMPDIR`` pointed at the test's own
directory runs one commit-log query, one streaming query and one
partitioned-source query against their oracles, lists the ``sgq_*``
entries its temp dir holds before it exits, and must leave none behind.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import threading
from concurrent.futures import ThreadPoolExecutor

from aws_glue_pyspark_incrementality_and_parallelism_spark import session

from .conftest import REPO_ROOT, SF_SMALL

QUERIES = (
    "maintenance_commit_log_replay",
    "stream_hourly_rollup_merge",
    "source_hive_partitioned_prune",
)

_PROG = """
import glob, json, sys, tempfile
sys.path.insert(0, {repo!r})
from aws_glue_pyspark_incrementality_and_parallelism_spark.session import build_spark
from tests.oracle import assert_parity

spark = build_spark(
    app_name="scratch-cleanup", master="local[2]", shuffle_partitions=2,
    extra_conf={{"spark.driver.memory": "1g"}},
)
for name in {names!r}:
    assert_parity(spark, name, {sf!r})
print("SGQ_LIVE " + json.dumps(glob.glob(tempfile.gettempdir() + "/sgq_*")))
"""


def test_scratch_root_is_removed_at_exit(tmp_path):
    prog = _PROG.format(repo=REPO_ROOT, names=QUERIES, sf=SF_SMALL)
    env = dict(os.environ, TMPDIR=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", prog],
        cwd=REPO_ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    live = [
        json.loads(line[len("SGQ_LIVE "):])
        for line in proc.stdout.splitlines()
        if line.startswith("SGQ_LIVE ")
    ]
    assert live and live[0], "the queries staged nothing under TMPDIR"
    left = sorted(p.name for p in tmp_path.iterdir() if p.name.startswith("sgq_"))
    assert not left, f"scratch dirs left behind: {left}"


def test_scratch_root_is_made_once_under_threads(tmp_path, monkeypatch):
    """Queries run from many threads at once (``bench.py``'s wave): every
    directory they ask for lands under one root."""
    monkeypatch.setattr(session, "_scratch_root", None)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    start = threading.Barrier(32)

    def ask(_):
        start.wait(timeout=60)
        return session.scratch_dir("sgq_t_")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=32) as pool:
            dirs = list(pool.map(ask, range(32), timeout=60))
    finally:
        sys.setswitchinterval(interval)
    roots = [str(p) for p in tmp_path.iterdir()]
    assert len(roots) == 1, roots
    assert len(set(dirs)) == len(dirs)
    assert all(os.path.dirname(d) == roots[0] for d in dirs)
