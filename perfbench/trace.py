"""Layer attribution from Spark's public surfaces, stdlib only.

* the event log (``spark.eventLog.*``, uncompressed, not rolling) folded
  into jobs, stages and tasks;
* ``/proc`` for the driver JVM, the driver Python and the pyspark workers;
* the JVM's GC MXBeans through the py4j gateway;
* host stamps (md5 calibration, steal ticks, load average) for diagnosis.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import resource
import time
from dataclasses import dataclass, field

# --- event log ------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int | None = None
    group: str | None = None
    pool: str | None = None
    call_site: str | None = None
    stage_ids: tuple[int, ...] = ()
    stages: int = 0
    tasks: int = 0
    cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_wait_ms: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)

    def between(self, start_ms: float, end_ms: float) -> list[Job]:
        """Jobs submitted inside ``[start_ms, end_ms]``."""
        return [j for j in self.jobs.values() if start_ms <= j.submit_ms <= end_ms]

    def in_group(self, group: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.group == group]


def fold_events(lines) -> EventLog:
    """Fold event-log JSON lines into per-job counters.

    A stage is charged to the latest job, submitted no later than the
    stage, that lists it; skipped stages are never submitted and so cost
    nothing. Tasks are charged through their stage.
    """
    log = EventLog()
    stage_job: dict[int, int] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                job_id=ev["Job ID"],
                submit_ms=ev["Submission Time"],
                group=props.get("spark.jobGroup.id"),
                pool=props.get("spark.scheduler.pool"),
                call_site=props.get("callSite.short"),
                stage_ids=tuple(ev.get("Stage IDs", ())),
            )
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in log.jobs:
                log.jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            submit = info.get("Submission Time")
            owners = [j for j in log.jobs.values()
                      if sid in j.stage_ids and (submit is None or j.submit_ms <= submit)]
            if owners:
                job = max(owners, key=lambda j: j.job_id)
                stage_job[sid] = job.job_id
                job.stages += 1
            if submit is not None:
                stage_submit[(sid, info.get("Stage Attempt ID", 0))] = submit
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            job = log.jobs.get(stage_job.get(sid, -1))
            if job is None:
                continue
            info = ev.get("Task Info") or {}
            metrics = ev.get("Task Metrics") or {}
            job.tasks += 1
            job.cpu_ns += metrics.get("Executor CPU Time", 0)
            job.spill_bytes += metrics.get("Memory Bytes Spilled", 0) + metrics.get("Disk Bytes Spilled", 0)
            job.shuffle_write_bytes += (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            submit = stage_submit.get((sid, ev.get("Stage Attempt ID", 0)))
            if submit is not None and "Launch Time" in info:
                job.task_wait_ms += max(0, info["Launch Time"] - submit)
    return log


def read_event_log(log_dir: str) -> EventLog:
    """Fold the one application log Spark wrote under ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    with open(paths[0]) as f:
        return fold_events(f)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings for a log ``json`` can read line by line."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


# --- processes ------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after the last ')'.
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Summed peak RSS of this process and every live descendant (the
    driver JVM and the pyspark daemon and workers)."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (own_kb + sum(_hwm_kb(p) for p in descendants(os.getpid()))) / 1024.0


def python_worker_cpu_s() -> float:
    """CPU seconds of the pyspark Python processes under the JVM, counting
    workers that already exited through their parent's child times."""
    total = 0
    for pid in descendants(os.getpid()):
        if _comm(pid).startswith("python"):
            st = _stat(pid)
            if st is not None:
                total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _CLK


def jvm_gc(spark) -> tuple[int, float]:
    """(collections, seconds) summed over the driver JVM's collectors."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    count = millis = 0
    for bean in beans:
        count += max(0, bean.getCollectionCount())
        millis += max(0, bean.getCollectionTime())
    return count, millis / 1000.0


# --- host stamps ----------------------------------------------------------


def _steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def md5_calibration_s(mb: int = 64) -> float:
    """Seconds to md5 ``mb`` MiB: a host-speed reading, never used to
    normalize a metric."""
    block = b"\x5a" * (1 << 20)
    h = hashlib.md5()
    t0 = time.perf_counter()
    for _ in range(mb):
        h.update(block)
    return time.perf_counter() - t0


class HostStamp:
    """Steal ticks and load average across a run, plus md5 calibration."""

    def __init__(self) -> None:
        self.steal0 = _steal_ticks()
        self.md5_s = md5_calibration_s()

    def finish(self) -> dict:
        with open("/proc/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]
        return {
            "md5_64mb_s": round(self.md5_s, 4),
            "steal_ticks": _steal_ticks() - self.steal0,
            "loadavg": load,
        }
