"""SparkSession factory with FAIR scheduling and scale-oriented defaults.

Parity target: the reference builds a SparkContext with
``spark.scheduler.mode=FAIR`` and an allocation file
(/root/reference/glue_rds_to_redshift.py:99, /root/reference/scheduler.xml:3-12).
We reproduce that plus AQE / pushdown / Arrow settings appropriate for a
large cluster (tested on local[N]).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

from pyspark.sql import Observation, SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))

#: FAIR pools (clone of the reference's scheduler.xml semantics:
#: pool "1" weight=1 minShare=2, pool "2" weight=2 minShare=3).
FAIR_SCHEDULER_XML = os.path.join(_PKG_DIR, "fairscheduler.xml")

#: Pool names matching the reference's scheduler.xml:3-12.
POOL_USERS_REPORT = "1"
POOL_SUBSCRIPTIONS_REPORT = "2"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


_scratch_lock = threading.Lock()
_scratch_root: str | None = None


def scratch_dir(prefix: str) -> str:
    """A fresh, empty directory for one query's staged files (fixtures,
    stream sources, checkpoints, sinks), named ``prefix`` + a random tail.

    Every such directory lives under one root per process, made on first
    use in ``tempfile``'s temp dir (``TMPDIR``) and removed with all it
    holds at interpreter exit. A query may therefore return a lazy frame
    over its directory: the files stay readable for the life of the
    process, and none outlive it.
    """
    global _scratch_root
    with _scratch_lock:
        if _scratch_root is None:
            _scratch_root = tempfile.mkdtemp(prefix="sgq_")
            atexit.register(shutil.rmtree, _scratch_root, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root)


def observed(obs, zeros: dict) -> dict:
    """The metrics an ``Observation`` collected, or ``zeros`` (the values
    its aggregates take over no rows) when none were collected.

    Call only after the action over the observed frame has run. When AQE
    finds the observed input empty (an inner join that matched nothing)
    it plans the ``CollectMetrics`` node away; the observation then
    completes with a schema-less row, and ``Observation.get`` fails in
    ``PythonSQLUtils.toPyRow``. The row is checked on the JVM side first.
    """
    if obs._jo.getRow().schema() is None:
        return dict(zeros)
    return obs.get


def pin(df):
    """Materialize a DataFrame and cut its lineage — the repo-wide
    pinning primitive for iterative loops (``iterate``, PageRank,
    k-means, Markov), multi-axis distrank rewrites and the ETL's joined
    frame (``pipeline.run_etl``, which frees it with ``unpin``). Use as
    ``df.transform(pin)``.

    Default: ``localCheckpoint`` — executor-local, unreplicated blocks,
    no HDFS round-trip. Fastest, and right for bench/interactive runs;
    on a long-lived 1000-executor job a single executor loss fails the
    query instead of recomputing lineage (ADVICE r4).

    Production path: set ``SPARK_GRAFT_RELIABLE_PIN=1`` to switch every
    pin site to reliable ``checkpoint()`` — replicated, durable blocks
    on the checkpoint dir (``SPARK_GRAFT_CHECKPOINT_DIR``, else a
    ``scratch_dir`` so the knob works out of the box; point it at
    durable shared storage on a real cluster). Same plan shape either
    way; results are identical by construction. See SCALING.md.
    """
    if os.environ.get("SPARK_GRAFT_RELIABLE_PIN"):
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(
                os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
                or scratch_dir("sgq_ckpt_")
            )
        return df.checkpoint()
    return df.localCheckpoint()


def unpin(df) -> None:
    """Release the blocks of a frame ``pin`` returned, without waiting.

    A pinned frame's blocks otherwise stay until JVM garbage collection
    reaches its RDD; a caller that pins on every run and is done with the
    frame frees them here. A reliable checkpoint keeps its files."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def iterate(state, step, signature, max_rounds: int):
    """Run a monotone fixpoint loop: pin ``state``, then
    ``state = pin(step(state))`` until a round leaves ``signature``
    unchanged or ``max_rounds`` steps have run; returns the last state.

    ``signature`` is a list of aggregate Columns (a count, an exact
    sum) observed through an ``Observation`` on each pin's own action,
    so a round is one pin and no separate convergence pass; round 0 is
    the initial pin. Stopping on an equal signature is exact only
    when the step is monotone, so that an unchanged signature implies an
    unchanged state: a set that only shrinks (count), labels that only
    fall over a fixed node set (sum), distances that only fall over a
    set that only grows (count, sum). Works under both ``pin`` lanes.
    """
    sig = [c.alias(f"_sig{i}") for i, c in enumerate(signature)]

    def pin_observed(df):
        obs = Observation()
        pinned = pin(df.observe(obs, *sig))
        # {} when AQE planned the observation of an empty state away;
        # two empty states in a row are equal, so {} == {} stops exactly.
        return pinned, observed(obs, {})

    state, prev = pin_observed(state)
    for _ in range(max_rounds):
        state, cur = pin_observed(step(state))
        if cur == prev:
            break
        prev = cur
    return state


def fan_out_compute(df, *cols):
    """Spread a CPU-heavy map stage over ``defaultParallelism`` tasks. Use
    as ``df.transform(fan_out_compute)`` right before the heavy kernel
    (md5 replicate weights, token explode + hash votes, gram generation,
    the Python codec lanes).

    A freshly-ingested single-row-group parquet file scans as ONE task,
    so whatever rides the scan stage runs on one core (measured:
    agg_bootstrap_ci's md5 kernel 3.7 s single-task at sf0.1; a codec
    lane's decode pass holds one FAIR-pool slot for its whole serial
    runtime). One rule, independent of scheduler load: ``df`` comes back
    unchanged when it already has at least ``defaultParallelism``
    partitions (any production-scale scan, whose shuffle-free stage is
    kept); otherwise it is ``repartition(n, *cols)``. Pass a
    high-cardinality (ideally unique) key for deterministic-under-retry
    hash spreading; with no columns it round-robins (deterministic via
    Spark's sort-before-repartition default, SPARK-23207).
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    # Wide-input exit first: len(inputFiles()) needs only the analyzed
    # plan, while .rdd builds the physical plan on the driver, the
    # expensive part on a table with a huge file listing.
    try:
        if len(df.inputFiles()) >= n:
            return df
    except Exception:  # pragma: no cover - probe is best-effort
        pass
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *cols) if cols else df.repartition(n)


def pickle_module_by_value(module_name: str) -> None:
    """Ship a module's functions BY VALUE into Python workers.

    Harnesses that drive this engine may put the repo on ``sys.path``
    only in the DRIVER process; a mapInPandas/applyInPandas closure
    referencing a module-level helper is then pickled by reference and
    every executor-side worker dies with ModuleNotFoundError trying to
    import the package. Registering the module with cloudpickle keeps
    those closures self-contained, like a lambda would be. Call at the
    bottom of any module that defines worker-side functions.
    """
    import sys

    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[module_name])
    except Exception:  # pragma: no cover - best-effort; in-path runs don't need it
        pass


def build_spark(
    app_name: str = "aws-glue-pyspark-incrementality-and-parallelism-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults are chosen for the 100 TB design stance:

    * AQE on (runtime coalescing, skew-join splitting, join-strategy
      switching) so plans adapt to real statistics, not SF-0.1 guesses.
    * Shuffle partitions sized to the machine for local runs; on a real
      cluster AQE coalesces from a deliberately-high initial number.
    * Arrow enabled so any Pandas-UDF path is vectorized.
    """
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = SparkSession.builder.appName(app_name).master(master)
    conf: dict[str, str] = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.scheduler.mode": "FAIR",
        "spark.scheduler.allocation.file": FAIR_SCHEDULER_XML,
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
