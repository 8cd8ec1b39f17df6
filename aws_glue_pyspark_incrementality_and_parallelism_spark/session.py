"""SparkSession factory with FAIR scheduling and scale-oriented defaults.

Parity target: the reference builds a SparkContext with
``spark.scheduler.mode=FAIR`` and an allocation file
(/root/reference/glue_rds_to_redshift.py:99, /root/reference/scheduler.xml:3-12).
We reproduce that plus AQE / pushdown / Arrow settings appropriate for a
large cluster (tested on local[N]).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))

#: FAIR pools (clone of the reference's scheduler.xml semantics:
#: pool "1" weight=1 minShare=2, pool "2" weight=2 minShare=3).
FAIR_SCHEDULER_XML = os.path.join(_PKG_DIR, "fairscheduler.xml")

#: Pool names matching the reference's scheduler.xml:3-12.
POOL_USERS_REPORT = "1"
POOL_SUBSCRIPTIONS_REPORT = "2"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


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


def pin(df, eager: bool = True):
    """Materialize a DataFrame and cut its lineage — the repo-wide
    pinning primitive for iterative loops (graph, k-means, connected
    components, BPE) and multi-axis distrank rewrites. Use as
    ``df.transform(pin)``.

    Default: ``localCheckpoint`` — executor-local, unreplicated blocks,
    no HDFS round-trip. Fastest, and right for bench/interactive runs;
    on a long-lived 1000-executor job a single executor loss fails the
    query instead of recomputing lineage (ADVICE r4).

    Production path: set ``SPARK_GRAFT_RELIABLE_PIN=1`` to switch every
    pin site to reliable ``checkpoint()`` — replicated, durable blocks
    on the checkpoint dir (``SPARK_GRAFT_CHECKPOINT_DIR``, or a temp
    dir is defaulted so the knob works out of the box; point it at
    durable shared storage on a real cluster). Same plan shape either
    way; results are identical by construction. See SCALING.md.
    """
    if os.environ.get("SPARK_GRAFT_RELIABLE_PIN"):
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            import tempfile

            sc.setCheckpointDir(
                os.environ.get(
                    "SPARK_GRAFT_CHECKPOINT_DIR",
                    tempfile.mkdtemp(prefix="spark-graft-ckpt-"),
                )
            )
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


#: Active-job threshold above which the elective fan-out is skipped (the
#: scheduler is already saturated with concurrent independent jobs —
#: guide §2.6). 3 = "clearly more than this one pipeline's own work".
_FANOUT_BUSY_JOBS = 3


def fan_out_compute(df, *cols, min_parts: int | None = None, elective: bool = True):
    """Scale-adaptive fan-out for compute-heavy map stages (r9, guide
    §2.5 "one huge unsplittable file" / §2.6 stragglers). Use as
    ``df.transform(fan_out_compute)`` immediately before a CPU-bound
    projection/partial-aggregate (md5 replicate weights, token
    explode + hash votes, gram generation).

    Why: the bench corpus — like any freshly-ingested staging drop —
    arrives as single-row-group parquet, so a scan is ONE task no
    matter the split config, and every expensive expression that rides
    the scan stage runs on one core of 32 (measured: agg_bootstrap_ci's
    explode+md5 kernel 3.7 s single-task at sf0.1). A hash repartition
    on the relation's unique key spreads the heavy stage across the
    cluster for the price of shuffling the narrow pre-explode rows.

    Scale-adaptive, not a local constant: when the scan already has at
    least cluster parallelism (any real 100 TB table), this is a NO-OP
    — no exchange is added, so the production plan keeps its
    shuffle-free scan stage. The target count is
    ``defaultParallelism`` (driver-controlled via SPARK_GRAFT_CPUS),
    never a literal. Pass a high-cardinality (ideally unique) key
    column for deterministic-under-retry hash spreading (guide §2.5's
    preference over round-robin); the keyless form round-robins
    (deterministic via Spark's sort-before-repartition default,
    SPARK-23207, at the cost of that local sort).

    ``elective=False`` marks the fan-out as LOAD-BEARING: the stage it
    feeds does so much per-row work (the Python codec lanes — tens of
    seconds per partition) that skipping the spread turns the query
    into a single-task straggler that holds one FAIR-pool slot hostage
    for its whole serial runtime (guide §2.6), so neither the
    busy-scheduler skip nor the SPARK_GRAFT_FANOUT A/B knob applies —
    measured r10: routing the codec lanes through the busy skip took
    the official concurrent wave 60 s -> 272 s (phash span 3 s -> 97 s)
    while the box sat at load ~13 of 32.
    """
    sc = df.sparkSession.sparkContext
    mode = os.environ.get("SPARK_GRAFT_FANOUT", "") if elective else ""
    if mode == "0":
        # A/B kill-switch (r9 verdict task #1): lets the official bench
        # measure suite-concurrency cost of the fan-out exchanges with
        # everything else identical.
        return df
    if elective and mode != "1":
        # Adaptive default (r10, measured per r9 verdict task #1): the
        # fan-out exists to fill an IDLE cluster when a lone job's heavy
        # kernel rides a one-task scan — the 8.6×/5×/2× isolated wins.
        # When the scheduler is already saturated with concurrent
        # independent jobs (guide §2.6: a few jobs in flight fill every
        # core), the elective exchange buys no throughput and costs a
        # shuffle plus 32-way task pressure per query: the r10 official
        # A/B measured the 24-thread suite concurrent wall at ~62 s with
        # fan-outs off vs ~87-131 s forced on (interleaved pairs,
        # calibration-stamped — plans/r10/BENCH_AB_*.json). So consult
        # the live scheduler (public StatusTracker API) at plan-build
        # time and skip the elective fan-out when the cluster is already
        # busy with other jobs. SPARK_GRAFT_FANOUT=1 forces the r9
        # always-on behavior; =0 forces off. An isolated run — any lone
        # production job, the bench's isolated/fresh columns — sees an
        # idle scheduler and keeps the fan-out, at any scale.
        try:
            if len(sc.statusTracker().getActiveJobsIds()) >= _FANOUT_BUSY_JOBS:
                return df
        except Exception:  # pragma: no cover - probe is best-effort
            pass
    n = min_parts or sc.defaultParallelism
    # Cheap wide-input exit first (ADVICE r9): a scan over >= n files can
    # never need the fan-out, and len(inputFiles()) only needs the
    # analyzed plan — the .rdd probe below forces a full physical-plan ->
    # RDD conversion on the driver, which on a 100 TB table with a huge
    # file listing is the expensive part. Narrow/unknown inputs (0 or few
    # files, e.g. post-localCheckpoint) fall through to the precise probe.
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
    fair: bool = True,
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
    }
    if fair:
        conf["spark.scheduler.mode"] = "FAIR"
        conf["spark.scheduler.allocation.file"] = FAIR_SCHEDULER_XML
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
