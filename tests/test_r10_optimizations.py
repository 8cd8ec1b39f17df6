"""Round-10 optimization pins.

Covers the internals changed in optimization round 10:
* bench.py's one-line headline map must fit the driver's 2000-char
  stdout tail window while carrying the slowest queries;
* the semdedup per-cell GEMM tiling must be output-invariant to the
  tile size (the mega-cell memory guard cannot change edges);
* the exact/borderline float-screen must agree with the all-big-int
  threshold compare, including exactly-on-threshold pairs;
* the bucketed pandas-UDF queries must keep DISTINCT user ids distinct
  across the Arrow boundary even when ids straddle 2^53 (float64 would
  merge them) and NULL keys must keep their own group;
* an over-subscribed JPEG DHT must raise, and the peek-table cache must
  stay bounded with oldest-first eviction.
"""

from __future__ import annotations

import json

import pandas as pd
import pytest

from .conftest import SF_SMALL, optimized_plan


# ---------------------------------------------------------------- bench


def _headline(timings, total=256.398, sf=0.1):
    import bench

    return bench._headline_line(total, sf, timings)


def test_headline_line_fits_driver_tail_budget():
    import bench

    timings = {
        f"query_name_number_{i:03d}_with_realistic_len": round(0.011 * i, 3)
        for i in range(371)
    }
    timings["etl_pipeline_concurrent"] = 5.197
    line = _headline(timings)
    assert len(line) <= bench._HEADLINE_BUDGET
    parsed = json.loads(line)
    assert parsed["metric"] == "bench_wall_sec"
    assert parsed["value"] == 256.398
    q = parsed["queries"]
    assert q["etl_pipeline_concurrent"] == 5.197
    # slowest-first: the expensive tail (where regressions live) is in
    for name in sorted(timings, key=lambda n: -timings[n])[:10]:
        assert name in q
    assert len(q) > 30  # PERF gets a real per-query sample, not 1 name


def test_headline_line_small_suite_carries_every_query():
    q = json.loads(
        _headline({"a": 1.0, "etl_pipeline_concurrent": 2.0})
    )["queries"]
    assert q == {"etl_pipeline_concurrent": 2.0, "a": 1.0}


# ------------------------------------------------- semdedup GEMM tiling


def _cell(ids, vecs):
    return pd.DataFrame(
        {
            "label": ["x"] * len(ids),
            "vec_id": ids,
            "q": [list(v) for v in vecs],
            "ss": [sum(c * c for c in v) for v in vecs],
        }
    )


def _pairs(pdf):
    return sorted(zip(pdf["doc_a"].tolist(), pdf["doc_b"].tolist()))


def _reference_pairs(ids, vecs):
    """The pre-r9 per-pair big-int predicate, verbatim."""
    out = []
    rows = sorted(zip(ids, vecs))
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            (a, qa), (b, qb) = rows[i], rows[j]
            if a == b or len(qa) != len(qb):
                continue
            ssa = sum(c * c for c in qa)
            ssb = sum(c * c for c in qb)
            if ssa <= 0 or ssb <= 0:
                continue
            dot = sum(x * y for x, y in zip(qa, qb))
            if dot >= 0 and 400 * dot * dot >= 49 * ssa * ssb:
                out.append((a, b))
    return sorted(out)


def test_semdedup_tiling_invariant_and_matches_bigint_reference(monkeypatch):
    import random

    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators import dedup

    rng = random.Random(7)
    ids = list(range(100, 140))
    vecs = []
    base = [rng.randrange(-(10**6), 10**6) for _ in range(8)]
    for i in range(len(ids)):
        if i % 3 == 0:  # near-duplicates of the base direction
            vecs.append([c + rng.randrange(-3, 4) for c in base])
        else:
            vecs.append([rng.randrange(-(10**6), 10**6) for _ in range(8)])
    pdf = _cell(ids, vecs)

    full = _pairs(dedup._semdedup_cell_edges(pdf))
    assert full == _reference_pairs(ids, vecs)
    for tile in (3, 7, 64):
        monkeypatch.setattr(dedup, "_GEMM_TILE", tile)
        assert _pairs(dedup._semdedup_cell_edges(pdf)) == full


def test_semdedup_float_screen_exact_on_threshold_pairs():
    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators import dedup

    # cos(a,b) exactly 0.35: q_a=(20,0), q_b=(7,sqrt(351)) is irrational;
    # use dot/norms hitting 400*dot^2 == 49*ssa*ssb exactly instead:
    # a=(7,0), b=(7k, m) with dot=49k and 400*(49k)^2 == 49*49*(49k^2+m^2)
    # -> m^2 = 351*k^2 has no integer solution, so build the equality
    # case directly on ss: a=(20,0), b=(7,y) with 400*140^2 = 49*400*(49+y^2)
    # -> y^2=351 again. Equality is unreachable for these norms, so pin
    # the NEAR-threshold behavior: pairs one unit either side of the
    # exact predicate must split exactly as the big-int reference says.
    ids = [1, 2, 3]
    vecs = [[7 * 10**5, 0], [7 * 10**5, 10], [-(7 * 10**5), 5]]
    pdf = _cell(ids, vecs)
    assert _pairs(dedup._semdedup_cell_edges(pdf)) == _reference_pairs(ids, vecs)


def test_semdedup_query_on_corpus_unchanged_by_tile(spark, monkeypatch):
    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators import dedup
    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import (
        REGISTRY,
    )

    fn = REGISTRY["dedup_semdedup_purge"].fn
    base = sorted(map(tuple, fn(spark, SF_SMALL).collect()))
    monkeypatch.setattr(dedup, "_GEMM_TILE", 3)
    tiled = sorted(map(tuple, fn(spark, SF_SMALL).collect()))
    assert tiled == base


# ------------------------------------- bucketed pandas UDFs: id domains


@pytest.fixture(scope="module")
def big_id_events_dir(spark, tmp_path_factory):
    """Events where two DISTINCT user ids straddle 2^53 (adjacent in
    float64 — a float `by`/groupby key would merge them) plus NULL-key
    rows, with enough history per user to clear the EWMA warmup."""
    root = tmp_path_factory.mktemp("sf_bigids")
    p = 2**53
    rows = []
    eid = 0
    for k, uid in enumerate((p, p + 1)):
        for t in range(10):
            eid += 1
            rows.append(
                (eid, uid, f"2024-01-01 0{k}:{t:02d}:00", "purchase" if t == 9 else "view",
                 float(100 * (k + 1) + t), "x")
            )
    for t in range(10):
        eid += 1
        rows.append((eid, None, f"2024-01-01 03:{t:02d}:00", "view", float(t), "x"))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string, event_type string,"
        " value double, props string"
    ).selectExpr(
        "event_id", "user_id", "CAST(ts_s AS TIMESTAMP_NTZ) AS ts",
        "event_type", "value", "props"
    )
    df.coalesce(1).write.parquet(str(root / "events.parquet"))
    return str(root)


def test_ewma_keeps_users_straddling_2e53_distinct(spark, big_id_events_dir):
    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import (
        REGISTRY,
    )

    out = REGISTRY["udf_ewma_per_user"].fn(spark, big_id_events_dir).collect()
    by_user: dict = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    p = 2**53
    # both users present AND distinct; a float64 groupby would have
    # merged their 10-row histories into one 20-row series
    assert set(by_user) == {p, p + 1, None}
    assert len(by_user[p]) == 3 and len(by_user[p + 1]) == 3  # t=8,9,10
    # per-user EWMA of user p's own values only (alpha=.3, adjust=False)
    vals = [100.0 + t for t in range(10)]
    s = vals[0]
    for v in vals[1:7]:
        s = 0.3 * v + 0.7 * s
    expect_t8 = round(0.3 * vals[7] + 0.7 * s, 4)
    got_t8 = min(r["ewma_value"] for r in by_user[p])
    assert got_t8 == pytest.approx(expect_t8, abs=1e-9)
    assert len(by_user[None]) == 3  # NULL group intact


def test_cogroup_asof_matches_within_user_across_2e53(spark, big_id_events_dir):
    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import (
        REGISTRY,
    )

    out = REGISTRY["udf_cogroup_asof_merge"].fn(spark, big_id_events_dir).collect()
    p = 2**53
    got = {r["user_id"]: r for r in out}
    assert set(got) == {p, p + 1}
    # each user's single purchase (t=9) must match that user's OWN last
    # view (event ids 9 and 19 respectively), never the float64-merged
    # neighbor's
    assert got[p]["purchase_id"] == 10 and got[p]["view_id"] == 9
    assert got[p + 1]["purchase_id"] == 20 and got[p + 1]["view_id"] == 19


# ------------------------------------------------------ fan_out_compute


def test_fan_out_rule_ignores_scheduler_load(spark, monkeypatch):
    """One rule, whatever the scheduler is doing: a narrow frame fans out
    to ``defaultParallelism``, a wide one comes back as is, and a
    fan-out query plans the same with the scheduler idle and busy."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import REGISTRY
    from aws_glue_pyspark_incrementality_and_parallelism_spark.session import fan_out_compute

    sc = spark.sparkContext
    n = sc.defaultParallelism
    bootstrap = REGISTRY["agg_bootstrap_ci"].fn
    idle = optimized_plan(bootstrap(spark, SF_SMALL))

    class _BusyTracker:
        def getActiveJobsIds(self):
            return [1, 2, 3, 4, 5]

    monkeypatch.setattr(sc, "statusTracker", lambda: _BusyTracker())
    narrow = spark.range(10).coalesce(1)
    assert fan_out_compute(narrow).rdd.getNumPartitions() == n
    wide = spark.range(0, 10, 1, n)
    assert fan_out_compute(wide) is wide
    busy = optimized_plan(bootstrap(spark, SF_SMALL))
    assert "Repartition" in busy
    assert busy == idle


# ----------------------------------------------------- JPEG DHT guards


def test_oversubscribed_dht_raises_not_grows():
    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators import jpeg

    counts = [3] + [0] * 15  # 3 codes of length 1: only 2 exist
    with pytest.raises(ValueError, match="over-subscribed"):
        jpeg._build_huffman(counts, bytes([0, 1, 2]))
    # a full-but-valid table still builds
    sym, lens = jpeg._build_huffman([2] + [0] * 15, bytes([5, 6]))
    assert len(sym) == 65536 and len(lens) == 65536


def test_huff_cache_bounded_with_oldest_first_eviction():
    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators import jpeg

    jpeg._HUFF_CACHE.clear()
    try:
        for i in range(80):
            jpeg._build_huffman([1] + [0] * 15, bytes([i]))
        assert len(jpeg._HUFF_CACHE) <= 65
        # the most recent keys survive (eviction is oldest-first, not
        # a full clear)
        assert (bytes([1] + [0] * 15) + bytes([79])) in jpeg._HUFF_CACHE
    finally:
        jpeg._HUFF_CACHE.clear()


# ----------------------------------------- connected_components regimes


def test_cc_local_union_find_matches_iterative(spark, monkeypatch):
    """The single-task union-find finish (small-graph regime) must be
    row-identical to the iterative propagate+jump loop on a graph with
    a long chain (exercises path compression), a clique, duplicate and
    self edges, two separate components, and isolated nodes."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators import (
        dedup as D,
    )

    chain = [(i, i + 1) for i in range(10, 30)]  # one 21-node chain
    clique = [(a, b) for a in range(50, 55) for b in range(a + 1, 55)]
    extras = [(100, 101), (101, 100), (100, 100), (30, 10)]  # dups/self/cycle
    edges = spark.createDataFrame(
        chain + clique + extras, "doc_a long, doc_b long"
    )
    nodes = spark.range(0, 120).selectExpr("id as doc_id")  # 0-9 isolated

    local = {
        (r["doc_id"], r["comp"])
        for r in D.connected_components(edges, nodes).collect()
    }
    monkeypatch.setattr(D, "_CC_LOCAL_EDGE_MAX", -1)  # force the loop
    iterative = {
        (r["doc_id"], r["comp"])
        for r in D.connected_components(edges, nodes).collect()
    }
    assert local == iterative
    # spot-check the analytic answer: chain+cycle collapse to min=10,
    # clique to 50, pair to 100, isolated nodes label themselves
    as_map = dict(local)
    assert as_map[29] == 10 and as_map[54] == 50 and as_map[101] == 100
    assert as_map[5] == 5 and len(local) == 120
