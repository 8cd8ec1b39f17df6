from __future__ import annotations

import os
import re
import sys
import threading

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


def within(seconds: float, fn, *args, **kwargs):
    """``fn(*args, **kwargs)``, failing the test if it has not returned
    after ``seconds`` (e.g. an ``Observation.get`` that waits for an
    action that never ran). ``fn`` runs on a daemon thread, which does
    not inherit the caller's Spark job group or pool; set those inside
    ``fn``. A late call is left running."""
    out: dict = {}

    def target():
        try:
            out["value"] = fn(*args, **kwargs)
        except BaseException as exc:  # re-raised on the test's thread
            out["error"] = exc

    thread = threading.Thread(target=target, daemon=True)
    thread.start()
    thread.join(seconds)
    if thread.is_alive():
        pytest.fail(f"{getattr(fn, '__name__', fn)} still running after {seconds} s")
    if "error" in out:
        raise out["error"]
    return out["value"]


def optimized_plan(df) -> str:
    """The optimized plan without expression ids, and without the serial
    numbers PySpark gives lambda variables (``x_1``) on each build."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"\bx_\d+", "x", re.sub(r"#\d+", "#", plan))


@pytest.fixture(scope="session")
def spark():
    from aws_glue_pyspark_incrementality_and_parallelism_spark.session import build_spark

    session = build_spark(
        app_name="engine-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield session
    session.stop()
