"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Makes its inputs from ``--seed``, sets up a
Spark session, times the workload for ``--seconds``, checks the outputs
and prints one JSON result as the last line of stdout. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the untraced
measurement in a child process, then a traced one, and reports the
per-layer metrics. Diagnostics go to stderr.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "aws_glue_pyspark_incrementality_and_parallelism_spark"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _untraced_child(args) -> dict:
    """The same run with tracing off, in its own process."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    # Set-up, warm-up and the closing checks come on top of the window.
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, check=True, text=True,
                         timeout=4 * args.seconds + 300).stdout
    return json.loads(out.strip().splitlines()[-1])


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import metrics, stats, trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    # The traced run's own set-up starts once the untraced child is done.
    untraced = _untraced_child(args) if args.trace else None
    t_start = time.time() if args.trace else T_START

    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    run = workloads.Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace), t_start)
    stamp = trace.HostStamp()
    try:
        run.open()
        workloads.WORKLOADS[args.workload](run)
        rss = trace.peak_rss_mb()
        run.stop()
        if args.trace:
            log = trace.read_event_log(os.path.join(run.work, "eventlog"))
    finally:
        run.close()

    e2e = metrics.end_to_end(run)
    correct = not run.check_failures and run.failed_ops == 0
    attempted, failed = run.attempted, run.failed_ops
    if args.trace:
        overhead = e2e["op_s.p50"][0] / untraced["metrics"]["op_s.p50"]["value"]
        out = metrics.per_layer(run, log, workloads.PANEL, overhead, rss)
        correct = correct and untraced["correct"]
        attempted += untraced["attempted"]
        failed += untraced["failed"]
    else:
        out = e2e
    for why in run.check_failures + [f"{op.kind} #{op.seq}: {op.error}" for op in run.ops if op.error]:
        print(f"perfbench: FAILED {why}", file=sys.stderr)
    print("perfbench: " + json.dumps({
        "workload": args.workload, "seed": args.seed, "traced": bool(args.trace),
        "ops": len(run.ops), "cpus": run.cpus, "setup_phases": run.phases,
        "end_to_end": {k: round(v, 4) for k, (v, _) in e2e.items()}, "peak_rss_mb": round(rss, 1),
        "op_latencies": [round(op.latency_s, 3) for op in sorted(run.ops, key=lambda op: op.start)],
        **stamp.finish(),
    }), file=sys.stderr)
    print(stats.result_line(correct, attempted, failed, out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
