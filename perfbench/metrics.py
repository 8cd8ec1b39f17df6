"""Turn one run's ops, counters and (when traced) event log into metrics."""

from __future__ import annotations

from collections import defaultdict
from statistics import geometric_mean, median

from .trace import EventLog, Job

#: Reports of the ETL and the FAIR pool each is submitted to (pipeline.py).
ETL_POOLS = {"sales_by_customer": "1", "sales_by_supplier": "2"}
#: Call-site fragment of the bookmark (HWM) jobs.
HWM_CALL_SITE = "sources/incremental.py"

MB = 1024.0 * 1024.0


def _inside(op, window: tuple[float, float]) -> float:
    """Seconds of ``op`` that fall inside ``window``."""
    return max(0.0, min(op.end, window[1]) - max(op.start, window[0]))


def end_to_end(run) -> dict[str, tuple[float, str]]:
    """``setup_s``, ``op_s.p50`` and ``ops_per_s``.

    ``op_s.p50`` is the median latency of each op kind, combined over the
    kinds by geometric mean (one kind, ``run_etl``, on etl_incremental).
    ``ops_per_s`` is the ops completed per second of the measured window,
    an op in flight at the window's end counting by its share inside it.
    """
    ok = [op for op in run.ops if op.error is None]
    by_kind = defaultdict(list)
    for op in ok:
        by_kind[op.kind].append(op.latency_s)
    window = run.window
    done = sum(_inside(op, window) / op.latency_s for op in ok)
    return {
        "setup_s": (run.setup_s, "s"),
        "op_s.p50": (geometric_mean(median(v) for v in by_kind.values()), "s"),
        "ops_per_s": (done / (window[1] - window[0]), "1/s"),
    }


def _span(jobs: list[Job]) -> tuple[float, float] | None:
    done = [j for j in jobs if j.end_ms is not None]
    if not done:
        return None
    return min(j.submit_ms for j in done) / 1e3, max(j.end_ms for j in done) / 1e3


def _overlap(spans: list[tuple[float, float]]) -> float:
    """Sum of span lengths over the length of their union (1 = no overlap)."""
    spans = sorted(s for s in spans if s[1] > s[0])
    if not spans:
        return 1.0
    union, (lo, hi) = 0.0, spans[0]
    for s, e in spans[1:]:
        if s > hi:
            union += hi - lo
            lo, hi = s, e
        else:
            hi = max(hi, e)
    union += hi - lo
    return sum(e - s for s, e in spans) / union


def per_layer(run, log: EventLog, panel, overhead: float, peak_rss_mb: float) -> dict[str, tuple[float, str]]:
    """Every per-layer metric; a layer the workload does not use reads 0."""
    ops = [op for op in run.ops if op.error is None]
    n = len(ops)
    etl = run.workload == "etl_incremental"
    jobs_of = {}
    for op in ops:
        # The ETL's report jobs run on pool threads that do not inherit the
        # caller's job group, so its ops are attributed by time window.
        if etl:
            jobs_of[id(op)] = log.between(op.start * 1e3, op.end * 1e3)
        else:
            jobs_of[id(op)] = log.in_group(op.group)
    every = [j for op in ops for j in jobs_of[id(op)]]
    m: dict[str, tuple[float, str]] = {}
    put = lambda name, value, unit: m.__setitem__(name, (float(value), unit))  # noqa: E731

    put("session.build_s", run.session_build_s, "s")

    hwm_s, hwm_jobs, reports, overlaps = [], 0, defaultdict(list), []
    if etl:
        for op in ops:
            jobs = jobs_of[id(op)]
            hwm = [j for j in jobs if j.call_site and HWM_CALL_SITE in j.call_site]
            hwm_jobs += len(hwm)
            span = _span(hwm)
            hwm_s.append(span[1] - span[0] if span else 0.0)
            spans = []
            for report, pool in ETL_POOLS.items():
                span = _span([j for j in jobs if j.pool == pool])
                reports[report].append(span[1] - span[0] if span else 0.0)
                if span:
                    spans.append(span)
            overlaps.append(_overlap(spans))
        overlap = median(overlaps)
    else:
        window = run.window
        overlap = sum(_inside(op, window) for op in ops) / (window[1] - window[0])
    put("sources.hwm_s", median(hwm_s) if etl else 0.0, "s")
    put("sources.hwm_jobs", hwm_jobs / n, "count")
    put("pipeline.jobs_per_op", len(every) / n if etl else 0.0, "count")
    for report in ETL_POOLS:
        put(f"pipeline.report_s.{report}", median(reports[report]) if etl else 0.0, "s")
    put("parallel.overlap", overlap, "ratio")
    put("parallel.task_wait_s", sum(j.task_wait_ms for j in every) / 1e3 / n, "s")

    construct = sum(op.construct_s for op in ops)
    latency = sum(op.construct_s + op.execute_s for op in ops)
    put("operators.construct_share", construct / latency if latency else 0.0, "ratio")
    for name in panel:
        mine = [op for op in ops if op.kind == name]
        jobs = [len(jobs_of[id(op)]) for op in mine]
        tasks = [sum(j.tasks for j in jobs_of[id(op)]) for op in mine]
        put(f"operators.{name}.construct_s", median([op.construct_s for op in mine]) if mine else 0.0, "s")
        put(f"operators.{name}.execute_s", median([op.execute_s for op in mine]) if mine else 0.0, "s")
        put(f"operators.{name}.jobs", median(jobs) if mine else 0.0, "count")
        put(f"spark.tasks_per_op.{name}", median(tasks) if mine else 0.0, "count")
        put(f"spark.tasks_per_op.{name}.spread", max(tasks) - min(tasks) if mine else 0.0, "count")

    put("spark.jobs_per_op", len(every) / n, "count")
    put("spark.stages_per_op", sum(j.stages for j in every) / n, "count")
    put("spark.tasks_per_op", sum(j.tasks for j in every) / n, "count")
    put("spark.executor_cpu_s", sum(j.cpu_ns for j in every) / 1e9 / n, "s")
    put("spark.shuffle_write_mb", sum(j.shuffle_write_bytes for j in every) / MB / n, "MB")
    put("spark.spill_mb", sum(j.spill_bytes for j in every) / MB / n, "MB")

    c0, c1 = run.counters0, run.counters1
    put("jvm.gc_s", (c1["gc_s"] - c0["gc_s"]) / n, "s")
    put("jvm.gc_count", (c1["gc_count"] - c0["gc_count"]) / n, "count")
    put("python.driver_cpu_s", (c1["driver_cpu_s"] - c0["driver_cpu_s"]) / n, "s")
    put("python.worker_cpu_s", (c1["worker_cpu_s"] - c0["worker_cpu_s"]) / n, "s")
    put("process.peak_rss_mb", peak_rss_mb, "MB")
    put("trace.overhead", overhead, "ratio")
    return m
