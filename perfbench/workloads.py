"""The two workloads, driven only through the engine's public calls:
``pipeline.run_etl``, the query registry, and ``parallel.run_concurrent``.

Every timing is taken here, around those calls. A traced run also tags
each op with a job group, turns the event log on and reads the JVM's GC
beans; an untraced run does none of that.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass, field

import numpy as np

from . import checks, datagen, trace

#: Scale of the ETL input: the paper's job at bench.py's scale.
ETL_SF = 0.1
#: Scale of the analytics input (the oracle-parity scale), chosen so that
#: a panel pass takes seconds and every run times several passes.
ANALYTICS_SF = 0.01
#: The ETL bookmark admits the newest ~1/8 of fact keys; each op draws one
#: of this many seeded slices within +-1/256 of the key range of that share.
ETL_SLICES = 4
#: Untimed ops before the timed window. The JVM is still compiling: ETL
#: op latency falls from ~2.5 s to ~1.6 s over its first eight ops and to
#: ~1.4 s by about the twentieth; sixteen trades the tail of that slope
#: against the run's time budget.
ETL_WARMUP_OPS = 16

#: Fixed analytics panel: one query per operator family the registry
#: spends its time in (see README.md for why each is here).
PANEL = (
    "tpch_q3_shipping_priority",
    "agg_bootstrap_ci",
    "window_running_sum",
    "events_sessionization",
    "udf_pandas_scalar_charge",
    "multimodal_decode_jpeg",
    "graph_kcore_peel",
)

@dataclass
class Op:
    """One op: a ``run_etl`` call or one query (construct + execute)."""

    kind: str
    seq: int
    start: float = 0.0  # epoch seconds
    end: float = 0.0
    construct_s: float = 0.0
    execute_s: float = 0.0
    error: str | None = None

    @property
    def latency_s(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"perfbench/{self.seq}/{self.kind}"


@dataclass
class Run:
    """State of one benchmark process: settings, session, and what it saw."""

    root: str
    workload: str
    seed: int
    seconds: float
    traced: bool
    t_start: float
    cpus: int = field(default_factory=lambda: len(os.sched_getaffinity(0)))
    work: str = ""
    spark: object = None
    session_build_s: float = 0.0
    phases: dict[str, float] = field(default_factory=dict)
    setup_s: float = 0.0
    ops: list[Op] = field(default_factory=list)
    checked: int = 0
    check_failures: list[str] = field(default_factory=list)
    timed_start: float = 0.0
    counters0: dict = field(default_factory=dict)
    counters1: dict = field(default_factory=dict)

    # -- session ------------------------------------------------------------

    def open(self) -> None:
        self.work = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=os.path.join(self.root, ".perfbench_work"))
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            # No hsperfdata files in the system temp dir from any JVM.
            "JAVA_TOOL_OPTIONS": (os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip(),
        })
        for knob in ("SPARK_GRAFT_FANOUT", "SPARK_GRAFT_RELIABLE_PIN"):
            os.environ.pop(knob, None)
        tempfile.tempdir = tmp

    def build_session(self):
        from aws_glue_pyspark_incrementality_and_parallelism_spark.session import build_spark

        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -Dderby.system.home={self.work}/tmp",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            os.makedirs(os.path.join(self.work, "eventlog"))
            conf.update(trace.event_log_conf(os.path.join(self.work, "eventlog")))
        t0 = time.perf_counter()
        self.spark = build_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_build_s = time.perf_counter() - t0
        return self.spark

    def stop(self) -> None:
        """Stop Spark (which closes the event log) and wait for the JVM and
        its Python workers to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        children = trace.descendants(os.getpid())
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        _wait_gone(children, timeout=30)

    def close(self) -> None:
        """Stop everything and remove the work directory."""
        self.stop()
        if self.work:
            shutil.rmtree(self.work, ignore_errors=True)

    # -- timed phase --------------------------------------------------------

    def mark(self, phase: str) -> None:
        """Record when a set-up phase ended (seconds since start), for diagnosis."""
        self.phases[phase] = round(time.time() - self.t_start, 3)

    def begin_timed(self) -> None:
        self.setup_s = time.time() - self.t_start
        self.counters0 = self._counters()
        self.timed_start = time.time()

    def end_timed(self) -> None:
        self.counters1 = self._counters()

    def time_left(self) -> bool:
        return time.time() < self.window[1]

    @property
    def window(self) -> tuple[float, float]:
        """The measured interval: ops start in it; ops in flight at its end
        finish, and count by their share inside it."""
        return self.timed_start, self.timed_start + self.seconds

    def _counters(self) -> dict:
        c = {"driver_cpu_s": time.process_time(), "worker_cpu_s": trace.python_worker_cpu_s()}
        if self.traced:
            c["gc_count"], c["gc_s"] = trace.jvm_gc(self.spark)
        return c

    def set_group(self, op: Op) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(op.group, op.kind)

    def clear_group(self) -> None:
        if self.traced:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    @property
    def failed_ops(self) -> int:
        return sum(op.error is not None for op in self.ops) + len(self.check_failures)

    @property
    def attempted(self) -> int:
        return len(self.ops) + self.checked


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.time() + timeout
    alive = list(pids)
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# --- etl_incremental ------------------------------------------------------


def etl_incremental(run: Run) -> None:
    """Closed loop, one client: each op is one ``run_etl`` into an empty
    target, over landed inputs with a pre-committed bookmark."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark import pipeline

    landing = os.path.join(run.work, "landing")
    tables = datagen.land(run.seed, ETL_SF, landing, names=("lineitem", "orders", "customer", "supplier"))
    keys = np.sort(tables["lineitem"]["l_orderkey"].to_numpy())
    rng = np.random.default_rng([run.seed, 1])
    slices = [int(keys[int(len(keys) * (7 / 8 + d))]) for d in rng.uniform(-1 / 256, 1 / 256, ETL_SLICES)]
    run.mark("inputs")
    spark = run.build_session()
    run.mark("session")
    etl_dir = os.path.join(run.work, "etl")
    os.makedirs(etl_dir)
    done = []  # (op, hwm, target, bookmark, result), warm-up included

    def one() -> Op:
        op = Op("run_etl", len(done))
        hwm = slices[int(rng.integers(ETL_SLICES))]
        target = os.path.join(etl_dir, f"out{op.seq}")
        bookmark = os.path.join(etl_dir, f"bookmark{op.seq}.json")
        with open(bookmark, "w") as f:
            json.dump({"lineitem": hwm}, f)
        run.set_group(op)
        op.start = time.time()
        try:
            result = pipeline.run_etl(spark, landing, target, bookmark_path=bookmark)
        except Exception as exc:  # any failure is a failed op, not a crash
            result, op.error = None, f"{type(exc).__name__}: {exc}"
        op.end = time.time()
        run.clear_group()
        done.append((op, hwm, target, bookmark, result))
        return op

    for _ in range(ETL_WARMUP_OPS):
        op = one()
        if op.error:
            run.check_failures.append(f"run_etl #{op.seq} (warm-up): {op.error}")
    run.mark("warm-up")
    run.begin_timed()
    while run.time_left():
        run.ops.append(one())
    run.end_timed()
    _check_etl(run, landing, done)


def _check_etl(run: Run, landing: str, done) -> None:
    import duckdb

    con = duckdb.connect()
    max_keys: dict[int, int] = {}
    expected: dict[int, dict[str, str]] = {}  # one recompute per slice
    for op, hwm, target, bookmark, result in done:
        run.checked += 1
        if op.error is not None:
            continue
        if hwm not in max_keys:
            max_keys[hwm] = checks.etl_max_key(con, landing, hwm)
            expected[hwm] = checks.etl_expected(con, landing, hwm)
        max_key = max_keys[hwm]
        problems = []
        with open(bookmark) as f:
            committed = json.load(f).get("lineitem")
        if result.committed_hwm != max_key or committed != max_key:
            problems.append(f"hwm returned {result.committed_hwm}, stored {committed}, expected {max_key}")
        for name in checks.ETL_REPORTS:
            why = checks.etl_report_diff(con, expected[hwm][name], os.path.join(target, name), name)
            if why:
                problems.append(f"{name}: {why}")
        if problems:
            run.check_failures.append(f"run_etl #{op.seq}: " + "; ".join(problems))
    con.close()


# --- analytics ------------------------------------------------------------


def analytics_concurrent(run: Run) -> None:
    """Closed loop over the fixed panel with one client per CPU, run side
    by side through ``parallel.run_concurrent``, each in FAIR pool "1" or
    "2"."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark import parallel, session
    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans import catalog
    from tests.oracle import assert_parity

    clients = run.cpus
    sf_dir = os.path.join(run.work, "sf")
    datagen.land(run.seed, ANALYTICS_SF, sf_dir)
    run.mark("inputs")
    spark = run.build_session()
    run.mark("session")
    seq = itertools.count()

    def check_pass(label: str) -> None:
        """Every panel query against its registry oracle, judged by the
        same DuckDB parity harness as the test suite."""
        for name in PANEL:
            run.checked += 1
            try:
                assert_parity(spark, name, sf_dir)
            except Exception as exc:  # AssertionError: a mismatch; anything else: a failed op
                run.check_failures.append(f"{name} ({label} pass): {type(exc).__name__}: {exc}")

    def query(name: str) -> Op:
        op = Op(name, next(seq))
        run.set_group(op)
        op.start = time.time()
        try:
            t0 = time.perf_counter()
            df = catalog.REGISTRY[name].fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
            op.construct_s, op.execute_s = t1 - t0, t2 - t1
        except Exception as exc:  # any failure is a failed op, not a crash
            op.error = f"{type(exc).__name__}: {exc}"
        op.end = time.time()
        run.clear_group()
        return op

    # Every client cycles one seeded panel order from its own offset; evenly
    # spaced offsets keep the mix of queries in flight, and completed in
    # the window, close to the panel's whatever the order.
    order = [PANEL[i] for i in np.random.default_rng([run.seed, 2]).permutation(len(PANEL))]
    members = [itertools.islice(itertools.cycle(order), i * len(PANEL) // clients, None)
               for i in range(clients)]
    pools = (session.POOL_USERS_REPORT, session.POOL_SUBSCRIPTIONS_REPORT)

    def loop(client) -> list[Op]:
        """One client: queries back to back until the window closes."""
        ops: list[Op] = []
        while run.time_left():
            ops.append(query(next(client)))
        return ops

    check_pass("before")  # also the warm-up
    run.mark("checked")
    run.begin_timed()
    jobs = [parallel.ReportJob(f"client{i}", functools.partial(loop, c), pools[i % 2])
            for i, c in enumerate(members)]
    done = parallel.run_concurrent(spark, jobs, max_workers=clients)
    run.ops = [op for ops in done.values() for op in ops]
    run.end_timed()
    check_pass("after")


WORKLOADS = {
    "etl_incremental": etl_incremental,
    "analytics_concurrent": analytics_concurrent,
}
