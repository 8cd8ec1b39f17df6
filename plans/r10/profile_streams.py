"""Round-10 streaming-phase profiler (r9 verdict task #8).

Reproduces bench.py's sequential phase (stream warmup, shuffle
partitions = bench._SEQ_SHUFFLE, stream_*/maintenance_*
queries serially, noop sink) and records per-query seconds plus the
phase wall, twice (cold pass + repeat pass) so the fixed-vs-marginal
split is visible. Prints one JSON line.

Usage: python plans/r10/profile_streams.py [tag]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.abspath(os.path.join(_HERE, "..", ".."))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import bench  # noqa: E402
from aws_glue_pyspark_incrementality_and_parallelism_spark.plans import catalog  # noqa: E402
from aws_glue_pyspark_incrementality_and_parallelism_spark.session import build_spark  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "streams"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_spark(app_name=f"profile-streams-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    seq_names = [
        n for n in catalog.REGISTRY if n.startswith(("stream_", "maintenance_"))
    ]

    t0 = time.perf_counter()
    bench._stream_warmup(spark)
    warm = round(time.perf_counter() - t0, 3)

    batch_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(bench._SEQ_SHUFFLE))
    out: dict = {"tag": tag, "warmup_sec": warm, "passes": []}
    try:
        for _pass in range(2):
            times: dict[str, float] = {}
            p0 = time.perf_counter()
            for name in seq_names:
                q0 = time.perf_counter()
                catalog.REGISTRY[name].fn(spark, sf_dir).write.mode(
                    "overwrite"
                ).format("noop").save()
                times[name] = round(time.perf_counter() - q0, 3)
            out["passes"].append(
                {"wall": round(time.perf_counter() - p0, 3), "times": times}
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", batch_parts)
    print("STREAMS_JSON:" + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
