"""Concurrency test (SURVEY §5 item 4): concurrent FAIR-pool execution of
both reports produces results identical to sequential execution."""

from __future__ import annotations

from aws_glue_pyspark_incrementality_and_parallelism_spark import parallel, session
from aws_glue_pyspark_incrementality_and_parallelism_spark.operators import reports

from .conftest import SF_SMALL


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_concurrent_matches_sequential(spark):
    seq_a = _collect_sorted(reports.sales_by_customer(spark, SF_SMALL))
    seq_b = _collect_sorted(reports.sales_by_supplier(spark, SF_SMALL))

    jobs = [
        parallel.ReportJob(
            name="users",
            fn=lambda: _collect_sorted(reports.sales_by_customer(spark, SF_SMALL)),
            pool=session.POOL_USERS_REPORT,
        ),
        parallel.ReportJob(
            name="subscriptions",
            fn=lambda: _collect_sorted(reports.sales_by_supplier(spark, SF_SMALL)),
            pool=session.POOL_SUBSCRIPTIONS_REPORT,
        ),
    ]
    results = parallel.run_concurrent(spark, jobs)
    assert results["users"] == seq_a
    assert results["subscriptions"] == seq_b


def test_worker_exception_propagates(spark):
    def boom():
        raise ValueError("report failed")

    jobs = [parallel.ReportJob(name="bad", fn=boom, pool="1")]
    try:
        parallel.run_concurrent(spark, jobs)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_workers_join_the_callers_job_group(spark):
    """Jobs run by the workers are found under the caller's job group,
    and each worker's jobs carry its job's name as their description."""
    sc = spark.sparkContext
    group = f"test-run-concurrent-{id(spark)}"

    def job(n: int):
        return sc.getLocalProperty("spark.job.description"), spark.range(n).count()

    sc.setJobGroup(group, "caller")
    try:
        results = parallel.run_concurrent(
            spark,
            [
                parallel.ReportJob("a", lambda: job(10), session.POOL_USERS_REPORT),
                parallel.ReportJob("b", lambda: job(20), session.POOL_SUBSCRIPTIONS_REPORT),
            ],
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert results == {"a": ("a", 10), "b": ("b", 20)}
    # The caller ran no job itself, so these are the workers' jobs.
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2
