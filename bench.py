"""Benchmark runner — times every registered query at $SPARK_GRAFT_SF_DIR.

Prints ONE SHORT JSON line (the headline, LAST on stdout so tail-truncating
readers still parse it):
    {"metric": "bench_wall_sec", "value": N, "unit": "sec", "sf": 0.1,
     "queries": {"etl_pipeline_concurrent": sec}}
The full per-query timing map goes to BENCH_DETAIL.json next to this file,
with two columns per expensive query: "queries" (under suite concurrency)
and "isolated" (serial re-run on an idle scheduler, excluded from the
headline wall) so cross-round regressions stay attributable. A third
column, "isolated_fresh", re-times the fixed ``FRESH_PANEL`` in fresh
subprocess sessions, so rounds compare fresh against fresh on the same
names; "sysinfo" is perfbench's ``HostStamp`` taken across the run.

Each query is forced with the no-op sink (computes every output column,
writes nothing) so timings reflect full plan execution, not just a count.

Queries run CONCURRENTLY through the engine's own FAIR-pool runner
($SPARK_GRAFT_BENCH_THREADS worker threads, default 24, submitted
in registration order — measured tighter than longest-first, which
piles the deep-stage heavies into one fair-sharing wave) — the suite is
many independent output jobs on one SparkContext, which is exactly the
workload the reference's "Parallelism" half exists for: sequential
execution leaves most of local[32] idle between stages, while FAIR
scheduling overlaps the gaps. ``value`` is the wall-clock for the whole
suite; per-query numbers are each query's own start-to-finish time under
that concurrency.
"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from pyspark.sql import functions as F

from aws_glue_pyspark_incrementality_and_parallelism_spark.operators import multimodal
from aws_glue_pyspark_incrementality_and_parallelism_spark.parallel import ReportJob, run_concurrent
from aws_glue_pyspark_incrementality_and_parallelism_spark.plans import catalog
from aws_glue_pyspark_incrementality_and_parallelism_spark.session import build_spark, scratch_dir
from perfbench.trace import HostStamp

#: Sequential phase: a 3-deep query pool on 8 shuffle partitions (see
#: the phase comment in main()).
_SEQ_THREADS = 3
_SEQ_SHUFFLE = 8


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _stream_warmup(spark) -> None:
    """Run one minimal checkpointed availableNow job so the session's
    streaming machinery (micro-batch engine, state-store provider,
    streaming codegen paths) initializes OUTSIDE the per-query timings —
    the ~7 s first-stream cost is session setup, not query cost."""
    base = scratch_dir("sgb_stream_warm_")
    src = os.path.join(base, "src")
    spark.range(8).selectExpr(
        "id", "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,id) AS ts"
    ).write.parquet(src)
    (
        spark.readStream.schema("id long, ts timestamp").parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour")).count()
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True).start().awaitTermination()
    )


_FRESH_PROG = """
import json, sys, time
sys.path.insert(0, {repo!r})
from aws_glue_pyspark_incrementality_and_parallelism_spark.operators import multimodal
from aws_glue_pyspark_incrementality_and_parallelism_spark.plans import catalog
from aws_glue_pyspark_incrementality_and_parallelism_spark.session import build_spark

sf_dir, names = sys.argv[1], sys.argv[2].split(",")
spark = build_spark(app_name="bench-fresh")
spark.sparkContext.setLogLevel("ERROR")
out = {{}}
for name in names:
    fn = catalog.REGISTRY[name].fn
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()  # warm codegen
    runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        runs.append(time.perf_counter() - t0)
    out[name] = round(min(runs), 3)
    multimodal.release_decode_caches()
spark.stop()
print("FRESH_JSON:" + json.dumps(out))
"""


#: Byte budget for the one-line headline JSON. The driver keeps only the
#: LAST 2000 characters of stdout (every BENCH_r*.json "tail" is exactly
#: 2000 chars; round 1's full ~6 KB map made the line unparseable), so
#: the line must fit the tail window whole — with slack for the \r/\n
#: progress noise that shares it.
_HEADLINE_BUDGET = 1800


def _headline_line(total: float, sf: float, timings: dict) -> str:
    """One-line headline map (r9 verdict task #2): the driver's PERF
    comparator reads ONLY this line's "queries" map, so carry as many
    per-query timings as fit the byte budget — slowest-first, where
    regressions live. Additions-only: "etl_pipeline_concurrent" stays
    unconditionally and nothing is renamed; the full per-query map is in
    BENCH_DETAIL.json."""
    line_queries: dict = {
        "etl_pipeline_concurrent": timings.get("etl_pipeline_concurrent")
    }
    headline = {
        "metric": "bench_wall_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "queries": line_queries,
    }
    for name in sorted(
        (n for n in timings if n not in line_queries), key=lambda n: -timings[n]
    ):
        line_queries[name] = timings[name]
        if len(json.dumps(headline, separators=(",", ":"))) > _HEADLINE_BUDGET:
            del line_queries[name]
            break
    return json.dumps(headline, separators=(",", ":"))


#: The fresh-subprocess panel, re-timed every round so the
#: ``isolated_fresh`` column compares fresh against fresh across rounds.
#: Fixed and sorted: every name is a registry query (pinned by
#: tests/test_bench_fresh.py). The in-session isolated pass already
#: re-times this run's slowest queries, so the panel needs no top-N term.
FRESH_PANEL = (
    "agg_bootstrap_ci",
    "archive_tar_webdataset",
    "dedup_components_keep_best",
    "dedup_components_keeper",
    "dedup_embedding_components",
    "dedup_exact_substring_spans",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_simhash_multiplicity_pin",
    "dedup_simhash_portable",
    "events_littles_law_audit",
    "graph_kcore_peel",
    "graph_pagerank_parts",
    "graph_sssp_bellman_ford",
    "incremental_session_stitch",
    "layout_sorted_files",
    "multimodal_decode_mp4_frames",
    "multimodal_decode_mp4_moov_tail",
    "multimodal_image_phash",
    "multimodal_mixed_routing",
    "multimodal_pdf_catalog",
    "multimodal_video_scene_cuts",
    "report_sales_by_supplier",
    "sim_ivf_topk",
    "sim_lsh_topk",
    "sim_pq_adc_topk",
    "source_multiformat_roundtrip",
    "ts_autocorrelation",
    "ts_linear_interpolate_grid",
    "udf_cogroup_asof_merge",
)
#: Names per fresh subprocess: each chunk is its own Spark session with
#: its own 1200 s timeout, so a hang costs one chunk, not the column.
_FRESH_CHUNK = 12


def _fresh_times(sf_dir: str) -> tuple[dict[str, float], str | None]:
    """Re-time ``FRESH_PANEL`` in fresh subprocess sessions, ``_FRESH_CHUNK``
    names per session; returns (fresh_map, error).

    Failure modes are NOT silent (round-7 ADVICE): a chunk crash,
    timeout, or missing/bad FRESH_JSON line prints a one-line warning
    with the returncode and a stderr tail, and the error string is
    recorded under ``isolated_fresh_error`` in BENCH_DETAIL so a
    dropped fresh reading is visible in the artifact; the other chunks'
    readings are kept."""
    import subprocess

    prog = _FRESH_PROG.format(repo=_REPO_ROOT)
    fresh: dict[str, float] = {}
    errs: list[str] = []
    for i in range(0, len(FRESH_PANEL), _FRESH_CHUNK):
        chunk = FRESH_PANEL[i:i + _FRESH_CHUNK]
        try:
            res = subprocess.run(
                [sys.executable, "-c", prog, sf_dir, ",".join(chunk)],
                capture_output=True, text=True, timeout=1200, check=False,
            )
            for line in res.stdout.splitlines():
                if line.startswith("FRESH_JSON:"):
                    try:
                        fresh.update(json.loads(line[len("FRESH_JSON:"):]))
                    except ValueError as e:
                        errs.append(f"bad FRESH_JSON ({e}); rc={res.returncode}")
                    break
            else:
                tail = (res.stderr or "").strip().splitlines()[-3:]
                errs.append(
                    f"no FRESH_JSON for chunk {chunk[0]}..{chunk[-1]};"
                    f" rc={res.returncode}; stderr tail: " + " | ".join(tail)
                )
        except subprocess.TimeoutExpired:
            errs.append(f"chunk {chunk[0]}..{chunk[-1]} timed out (1200s, {len(chunk)} queries)")
    err = "; ".join(errs) if errs else None
    if err:
        print(f"WARNING: isolated_fresh pass degraded: {err}", file=sys.stderr)
    return fresh, err


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    threads = int(os.environ.get("SPARK_GRAFT_BENCH_THREADS", "24"))
    spark = build_spark(app_name="engine-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # Host-speed stamp across the whole run: steal ticks from here to the
    # write, load average at the write, md5 calibration now.
    host = HostStamp()

    # Warm the JVM/codegen paths and the Python-worker/Arrow path once
    # so per-query numbers aren't dominated by first-run classloading
    # or the one-time executor-side Python worker-pool spawn.
    _force(catalog.REGISTRY["report_sales_by_supplier"].fn(spark, sf_dir))
    _force(catalog.REGISTRY["udf_pandas_scalar_charge"].fn(spark, sf_dir))

    wall0 = time.perf_counter()
    timings: dict[str, float] = {}
    spans: dict[str, list[float]] = {}

    def _timed(name):
        def run():
            t0 = time.perf_counter()
            _force(catalog.REGISTRY[name].fn(spark, sf_dir))
            t1 = time.perf_counter()
            timings[name] = round(t1 - t0, 3)
            spans[name] = [round(t0 - wall0, 2), round(t1 - wall0, 2)]

        return run

    # Submission order: REGISTRATION ORDER, deliberately not
    # longest-first. Timeline profiling showed the heavy iterative/
    # checkpoint queries multiplying each other's latency ~10× when
    # they all start together (a deep-stage query's latency under fair
    # sharing is #sequential-stages × per-stage queue wait —
    # dedup_simhash spanned [0 s, 112 s] of a 119 s wall when LPT put
    # every heavy in the first wave). Registration order spreads the
    # heavy modules through the stream and measured the tightest walls
    # (33-53 s vs 79-209 s for LPT / interleave / semaphore-gated
    # variants). Thread count: each worker thread spends most of its
    # life in DRIVER-side work (planning + whole-stage codegen
    # compilation — profiled at ~2× the suite wall with codegen
    # disabled), during which it occupies no executor core, so the
    # sweet spot OVERSUBSCRIBES cores-per-query: 24 threads measured
    # 33-53 s wall vs 79-119 s at 12 threads on local[32].
    # Streaming + maintenance queries run in a SEQUENTIAL phase after
    # the concurrent wave (round-4 verdict task #6): they are real
    # checkpointed micro-batch jobs / filesystem-commit protocols whose
    # latency under fair-sharing contention swung 5-10x run-to-run
    # (26-28 s concurrent vs 3-10 s solo in round 4's detail record),
    # drowning the round-over-round signal. Sequentially their cost is
    # fixed per query, so the recorded number is reproducible — and the
    # concurrent wave itself gets quieter with the checkpoint lanes out
    # of it.
    _SEQ_FAMILIES = ("stream_", "maintenance_")
    conc_names = [n for n in catalog.REGISTRY if not n.startswith(_SEQ_FAMILIES)]
    seq_names = [n for n in catalog.REGISTRY if n.startswith(_SEQ_FAMILIES)]
    jobs = [
        ReportJob(name=name, fn=_timed(name), pool=str(1 + i % 2))
        for i, name in enumerate(conc_names)
    ]
    run_concurrent(spark, jobs, max_workers=threads)
    # release attempted-decode caches only at wave boundaries: the
    # registry is shared, so a per-query release from one worker thread
    # would unpersist another in-flight query's lane mid-decode
    multimodal.release_decode_caches()
    concurrent_wall = round(time.perf_counter() - wall0, 3)

    # Sequential-phase tuning (round-5 verdict task #5 — 63.6 s of
    # almost-fixed cost for 20 queries):
    # (a) one-time streaming warm-up OUTSIDE the per-query timings: the
    #     first streaming job of a session pays ~7 s of micro-batch
    #     engine + codegen init that belongs to the session, not to
    #     whichever query happens to run first;
    # (b) state partitions (_SEQ_SHUFFLE) sized to the phase's state
    #     volume: each stateful operator creates one state store PER
    #     shuffle partition, and every micro-batch commits a delta file per
    #     store — at bench SF the state is a few thousand rows, so the
    #     batch suite's 32 partitions mean 32-128 checkpoint files per
    #     tiny query (stream_click_attribution_join: 9.9 s at 32 vs
    #     3.2 s at 8, same plan, same results). Partition-count
    #     invariance of every query is pinned by the local[5] sweep; a
    #     production deployment sizes this knob UP with state volume
    #     the same way this sizes it down.
    # (c) r10 (r9 verdict task #8): the phase overlaps a SMALL pool of
    #     queries (_SEQ_THREADS) instead of running strictly serially.
    #     Every stream query stages its own source/checkpoint/output tmp
    #     dirs, so nothing conflicts; a 3-deep pool keeps per-query
    #     numbers reproducible (unlike the 24-thread wave that motivated
    #     serialization in r4) while the phase wall stops paying 20
    #     queries' worth of micro-batch idle gaps end to end. Measured
    #     same-session A/B at sf0.1: serial 75.4 s vs 3-thread 29.5 s
    #     (2.6x), per-query times within ~1-2 s of their serial readings.
    warm0 = time.perf_counter()
    _stream_warmup(spark)
    seq_warmup = round(time.perf_counter() - warm0, 3)
    batch_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_SEQ_SHUFFLE))
    try:
        with ThreadPoolExecutor(max_workers=_SEQ_THREADS) as seq_pool:
            list(seq_pool.map(lambda n: _timed(n)(), seq_names))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", batch_parts)
    multimodal.release_decode_caches()
    seq_wall = round(time.perf_counter() - warm0 - seq_warmup, 3)

    # The reference's whole-job scenario: incremental scan -> 3-way join,
    # pinned once (session.pin) -> two concurrent FAIR-pool reports ->
    # parquet sinks -> bookmark commit (this is what BASELINE.md's ~90 s
    # anchor measured).
    # Deliberately run AFTER the suite on an idle scheduler: this is the
    # like-for-like number against the baseline anchor, so it must not be
    # polluted by suite contention.
    import tempfile

    from aws_glue_pyspark_incrementality_and_parallelism_spark import pipeline

    with tempfile.TemporaryDirectory() as tmp:
        t0 = time.perf_counter()
        pipeline.run_etl(spark, sf_dir, tmp)
        timings["etl_pipeline_concurrent"] = round(time.perf_counter() - t0, 3)

    total = round(time.perf_counter() - wall0, 3)

    # Isolated-mode pass (EXCLUDED from the headline wall, which stays
    # round-comparable): per-query numbers above are taken under suite
    # concurrency, so they confound a query's own cost with contention
    # and aren't comparable across rounds (round 2's
    # graph_pagerank_parts read 11.8 s concurrent vs ~5.7 s clean).
    # Re-run the expensive tail serially on the now-idle scheduler and
    # record both columns; regressions stay attributable.
    iso0 = time.perf_counter()
    isolated: dict[str, float] = {}
    # Top-50 (was 25, round-4 verdict task #6): the wider isolated
    # column keeps the whole expensive tail round-comparable. The
    # sequential-phase names are already contention-free, so exclude
    # them — their "queries" number IS their isolated number.
    solo_names = sorted(
        (n for n in timings
         if n in catalog.REGISTRY and not n.startswith(_SEQ_FAMILIES)),
        key=lambda n: -timings[n],
    )[:50]
    for name in sorted(solo_names, key=lambda n: -timings[n]):
        t0 = time.perf_counter()
        _force(catalog.REGISTRY[name].fn(spark, sf_dir))
        isolated[name] = round(time.perf_counter() - t0, 3)
        multimodal.release_decode_caches()  # serial pass: safe per query
    isolated_pass_sec = round(time.perf_counter() - iso0, 3)

    # Fresh-session re-measurement (round-6 verdict task #3): the
    # isolated pass runs in a session that just executed every query, so
    # it measures session-warmth state the ContextCleaner cannot reclaim
    # as much as it measures the query (observed:
    # ts_linear_interpolate_grid 10.6 s in-session vs ~4.6 s fresh, with
    # identical code; a GC drain was tried and measured ineffective).
    # FRESH_PANEL is re-timed in fresh subprocess SparkSessions and
    # recorded under "isolated_fresh": the same names every round, so
    # that column is the round-over-round fresh-vs-fresh signal.
    isolated_fresh, fresh_error = _fresh_times(sf_dir)
    # Full per-query map -> side artifact; stdout gets one short line the
    # driver can parse even if it only keeps the tail of the stream
    # (round 1: the 6 KB queries map made the line unparseable).
    detail = {
        "metric": "bench_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spans": spans,
        "isolated": isolated,
        "isolated_fresh": isolated_fresh,
        "isolated_fresh_error": fresh_error,
        "isolated_pass_sec": isolated_pass_sec,
        # headline "value" = concurrent wave + sequential phase + ETL
        # anchor (the whole suite, as in prior rounds); the phase split
        # keeps round-over-round walls attributable now that the 20
        # stream_*/maintenance_* queries run serially (the r4→r5
        # headline delta is the serialization of those lanes, not a
        # per-query regression — their per-query numbers DROPPED).
        "concurrent_wall_sec": concurrent_wall,
        "sequential_phase_sec": seq_wall,
        "sequential_warmup_sec": seq_warmup,
        "sequential_shuffle_partitions": _SEQ_SHUFFLE,
        "sequential_threads": _SEQ_THREADS,
        "sequential_phase": seq_names,
        "sf": sf,
        "n_queries": len(timings),
        "threads": threads,
        # Session-speed stamp (round-8 verdict task #6): the r8 official
        # 121 s headline vs 94-106 s repro spread was pure VM/session
        # speed; recording the machine context lets a future reader
        # dismiss headline noise without re-deriving it.
        "sysinfo": host.finish(),
    }
    with open(os.path.join(_REPO_ROOT, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(_headline_line(total, sf, timings))
    spark.stop()


if __name__ == "__main__":
    main()
