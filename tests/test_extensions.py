"""Semantic tests for the LLM-pipeline extension operators — the
properties the driver's rows-only checks can't see: LSH recall,
SimHash locality, language-ID accuracy, multimodal stub plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_glue_pyspark_incrementality_and_parallelism_spark.operators import (
    dedup,
    multimodal,
    similarity,
    text,
)

from .conftest import SF_SMALL


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_finds_planted_near_dups(spark):
    base = " ".join(f"tok{i}" for i in range(60))
    near = " ".join(f"tok{i}" for i in range(58)) + " novel1 novel2"  # ~0.9 shingle overlap
    far = " ".join(f"other{i}" for i in range(60))
    docs = _docs_df(spark, [(1, base), (2, near), (3, far)])

    # verified exactly as dedup_minhash_lsh does: candidates joined to
    # the exact Jaccard >= 0.5 pairs
    found = dedup.minhash_candidate_pairs(docs).join(
        dedup.exact_near_dup_pairs(docs), ["doc_a", "doc_b"]
    )
    pairs = {(r.doc_a, r.doc_b) for r in found.collect()}
    assert (1, 2) in pairs, "planted near-duplicate not found by MinHash LSH"
    assert (1, 3) not in pairs and (2, 3) not in pairs, "false positive survived verification"


def test_minhash_mega_bucket_star_linearization(spark):
    """A band bucket above the cap must emit O(m) sorted-neighbor chain
    pairs (each member with its doc_id predecessor), not O(m²)
    all-pairs — and the chain must still merge every member into one
    duplicate cluster downstream."""
    body = " ".join(f"tok{i}" for i in range(40))
    m = 60
    docs = _docs_df(spark, [(i, body) for i in range(m)])  # identical corpus

    cands = dedup.minhash_candidate_pairs(docs, bucket_cap=16)
    pairs = {(r.doc_a, r.doc_b) for r in cands.select("doc_a", "doc_b").collect()}
    # identical docs -> every band's bucket holds all 60 -> chain only
    assert pairs == {(i, i + 1) for i in range(m - 1)}, (
        f"expected {m - 1} chain pairs, got {len(pairs)}"
    )
    # transitive resolution still merges the whole cluster
    comp = dedup.connected_components(
        cands.select("doc_a", "doc_b"), docs.select("doc_id")
    )
    labels = {r["comp"] for r in comp.collect()}
    assert len(labels) == 1, f"chain pairs must close into one cluster, got {labels}"

    # below the cap the same corpus produces all-pairs (sanity contrast)
    small = _docs_df(spark, [(i, body) for i in range(5)])
    all_pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_candidate_pairs(small, bucket_cap=16)
        .select("doc_a", "doc_b")
        .collect()
    }
    assert all_pairs == {(i, j) for i in range(5) for j in range(i + 1, 5)}


def test_minhash_summary_without_near_dups_matches_oracle(spark, tmp_path):
    """A non-empty corpus with no Jaccard >= 0.5 pair: zero true pairs
    and both flags vacuously true (0/true/true, not NULLs)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import REGISTRY
    from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import (
        TABLES,
        table_path,
    )

    from .oracle import assert_parity

    sf_dir = str(tmp_path)
    for name in TABLES:
        if name != "documents":
            os.symlink(os.path.abspath(table_path(SF_SMALL, name)), table_path(sf_dir, name))
    docs = pq.read_table(table_path(SF_SMALL, "documents")).slice(0, 8)
    texts = [" ".join(f"d{i}w{k}" for k in range(20)) for i in range(docs.num_rows)]
    docs = docs.set_column(docs.schema.get_field_index("text"), "text", pa.array(texts))
    pq.write_table(docs, table_path(sf_dir, "documents"))

    got = REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [(0, True, True)]
    assert_parity(spark, "dedup_minhash_lsh", sf_dir)


def test_simhash_locality(spark):
    base = " ".join(f"word{i}" for i in range(100))
    near = " ".join(f"word{i}" for i in range(99)) + " changed"
    far = " ".join(f"zzz{i}" for i in range(100))
    docs = _docs_df(spark, [(1, base), (2, near), (3, far)])
    rows = {r.doc_id: r.simhash for r in dedup.simhash_frame(docs).collect()}

    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert hamming(rows[1], rows[2]) <= 8, "near-identical docs should have close simhash"
    assert hamming(rows[1], rows[3]) >= 20, "unrelated docs should have distant simhash"


def test_simhash_deterministic(spark):
    docs = _docs_df(spark, [(1, "alpha beta gamma"), (2, "alpha beta gamma")])
    vals = [r.simhash for r in dedup.simhash_frame(docs).collect()]
    assert vals[0] == vals[1]


def test_lsh_topk_recall_vs_brute_force(spark):
    brute = similarity.q_sim_brute_force_topk(spark, SF_SMALL)
    lsh = similarity.lsh_topk_pairs(spark, SF_SMALL)
    brute_pairs = {(r.query_id, r.vec_id) for r in brute.collect()}
    lsh_pairs = {(r.query_id, r.vec_id) for r in lsh.collect()}
    recall = len(brute_pairs & lsh_pairs) / len(brute_pairs)
    # Random near-orthogonal vectors are LSH's worst case; still expect
    # a solid fraction of true top-10 in 4 tables × 8 bits.
    assert recall >= 0.3, f"LSH recall {recall:.2f} too low"
    # Every LSH hit must carry the same exact cosine the brute path computes.
    brute_cos = {(r.query_id, r.vec_id): r.cosine for r in brute.collect()}
    for r in lsh.collect():
        if (r.query_id, r.vec_id) in brute_cos:
            assert abs(brute_cos[(r.query_id, r.vec_id)] - r.cosine) < 1e-9


def test_langid_on_real_sentences(spark):
    samples = [
        (1, "the cat sat on the mat and it is a good day to be in the sun", "en"),
        (2, "der hund ist nicht zu hause und ich bin mit dem auto", "de"),
        (3, "le chat est dans la maison et je ne sais pas", "fr"),
        (4, "el perro es grande y yo no tengo una casa en la ciudad", "es"),
    ]
    df = spark.createDataFrame(samples, "doc_id long, text string, lang string")
    scores = text.langid_scores(F.col("text"))
    best = F.greatest(*[s for _, s in scores])
    pred = F.lit("und")
    for lang, s in reversed(scores):
        pred = F.when((best > 0) & (s == best), lang).otherwise(pred)
    out = {r.doc_id: r.pred for r in df.select("doc_id", pred.alias("pred")).collect()}
    assert out == {1: "en", 2: "de", 3: "fr", 4: "es"}


def test_multimodal_stub_and_batching(spark):
    docs = spark.createDataFrame(
        [(1, "abcd", "s"), (2, "", "s")], "doc_id long, text string, source string"
    )
    media = multimodal.as_media_frame(docs)
    feats = {r.doc_id: r for r in multimodal.extract_features(media).collect()}
    assert feats[1].n_bytes == 4
    assert feats[1].mean_byte == pytest.approx((97 + 98 + 99 + 100) / 4)
    assert feats[2].n_bytes == 0 and feats[2].mean_byte == 0.0
    # header checksum covers only the first 16 bytes
    assert feats[1].header_checksum == (97 + 98 + 99 + 100) % 65536


def test_multimodal_real_decode_rejects_unknown_format(spark):
    # Raster formats (PPM/BMP) now decode for real (test_multimodal_decode);
    # an unrecognized payload must still fail loudly, not silently stub.
    docs = spark.createDataFrame([(1, "abcd", "s")], "doc_id long, text string, source string")
    media = multimodal.as_media_frame(docs)
    with pytest.raises(Exception, match="unrecognized payload magic"):
        multimodal.extract_features(media, decode_stub=False).collect()


def test_ivf_topk_recall_vs_brute_force(spark):
    brute = similarity.q_sim_brute_force_topk(spark, SF_SMALL)
    ivf = similarity.ivf_topk_pairs(spark, SF_SMALL)
    brute_rows = brute.collect()
    ivf_rows = ivf.collect()
    brute_pairs = {(r.query_id, r.vec_id) for r in brute_rows}
    ivf_pairs = {(r.query_id, r.vec_id) for r in ivf_rows}
    recall = len(brute_pairs & ivf_pairs) / len(brute_pairs)
    # probing 4 of 10 cells over near-orthogonal vectors: expect a solid
    # fraction of the true top-10 (label clusters are weak here; real
    # clustered embeddings recall far higher per probed fraction)
    assert recall >= 0.3, f"IVF recall {recall:.2f} too low"
    # every returned candidate carries the exact brute-force cosine
    brute_cos = {(r.query_id, r.vec_id): r.cosine for r in brute_rows}
    for r in ivf_rows:
        if (r.query_id, r.vec_id) in brute_cos:
            assert abs(brute_cos[(r.query_id, r.vec_id)] - r.cosine) < 1e-9
    # each query returns exactly TOP_K ranked candidates
    from collections import Counter

    per_q = Counter(r.query_id for r in ivf_rows)
    assert all(v == similarity.TOP_K for v in per_q.values())


def test_ivf_cell_partitioned_layout_prunes_probe_scan(spark, tmp_path):
    """The IVF scale claim made concrete: vectors written partitioned by
    their coarse cell, a probe filtered to nprobe cells must show
    partition pruning in the scan (PartitionFilters), reading only the
    probed cells' files."""
    import os

    from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    cent = similarity.label_centroid_arrays(emb)
    cos_udf = similarity._cosine_pandas_udf()
    from pyspark.sql.window import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("cell_cos"), F.asc("cell"))
    assigned = (
        emb.crossJoin(F.broadcast(cent))
        .withColumn("cell_cos", cos_udf(F.col("embedding"), F.col("centroid")))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("vec_id", "embedding", "cell")
    )
    out = str(tmp_path / "ivf_index")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(out)

    # cell directories exist (hive layout)
    cells = sorted(d for d in os.listdir(out) if d.startswith("cell="))
    assert len(cells) >= 2

    probe = spark.read.parquet(out).filter(F.col("cell").isin(0, 1))
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = probe._jdf.queryExecution().explainString(mode)
    assert "PartitionFilters" in plan and "cell" in plan
    # only the probed cells' rows are read
    total = spark.read.parquet(out).count()
    probed = probe.count()
    assert 0 < probed < total


def test_kmeans_refine_inertia_monotone(spark):
    from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    cent0 = similarity.label_centroid_arrays(emb)
    cent, inertias = similarity.kmeans_refine(emb, cent0, iterations=3)
    assert len(inertias) == 3
    # Lloyd's algorithm never increases inertia
    for a, b in zip(inertias, inertias[1:]):
        assert b <= a + 1e-9, f"inertia increased: {inertias}"
    assert cent.count() <= 10  # cells can merge-empty but never multiply


def test_connected_components_planted_chain(spark):
    """A~B and B~C (but never A~C directly) must land in one component;
    isolated docs stay singletons labeled by themselves."""
    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long")
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long")
    comp = {r.doc_id: r.comp for r in dedup.connected_components(edges, nodes).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[99] == 99


def test_hll_rollup_estimate_within_5pct(spark):
    """The merged-sketch year estimate must track exact distinct counts
    (HLL lgK=12 has ~1.6% relative standard error)."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators.queries_aggregates import (
        q_agg_hll_rollup_merge,
    )
    from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import load_table

    got = {r["year"]: r for r in q_agg_hll_rollup_merge(spark, SF_SMALL).collect()}
    o = load_table(spark, SF_SMALL, "orders")
    exact = {
        r["year"]: r["n"]
        for r in o.groupBy(F.year("o_orderdate").alias("year"))
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for year, n in exact.items():
        assert got[year]["n_exact"] == n
        assert got[year]["est_within_5pct"], (year, n)


def test_ewma_matches_pandas_reference(spark):
    """EWMA recurrence per user equals pandas ewm on the same ordered
    series for a sample of users."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import REGISTRY
    from .conftest import SF_SMALL
    import pandas as pd
    from pyspark.sql import functions as F

    got = (
        REGISTRY["udf_ewma_per_user"].fn(spark, SF_SMALL)
        .filter(F.col("user_id") % 7 == 0)
        .toPandas()
        .sort_values(["user_id", "event_id"])
    )
    from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import load_table

    raw = (
        load_table(spark, SF_SMALL, "events")
        .filter(F.col("user_id") % 7 == 0)
        .select("user_id", "ts", "event_id", "value")
        .toPandas()
    )
    expect = []
    for uid, g in raw.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"]).reset_index(drop=True)
        s = g["value"].ewm(alpha=0.3, adjust=False).mean().round(4)
        expect.append(
            pd.DataFrame(
                {"user_id": uid, "event_id": g["event_id"], "ewma_value": s}
            ).iloc[7:]  # the query skips the 7-row warm-up prefix
        )
    expect = pd.concat(expect).sort_values(["user_id", "event_id"])
    merged = got.merge(expect, on=["user_id", "event_id"], suffixes=("_got", "_exp"))
    assert len(merged) == len(got) > 0
    assert (merged["ewma_value_got"] - merged["ewma_value_exp"]).abs().max() < 1e-9


def test_freq_items_contains_all_true_heavy_hitters(spark):
    """freqItems guarantee: every token with true frequency > support
    appears among the candidates (false positives allowed)."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import REGISTRY
    from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import load_table
    from .conftest import SF_SMALL
    from pyspark.sql import functions as F

    cands = {
        r.candidate_token
        for r in REGISTRY["text_freq_items_sketch"].fn(spark, SF_SMALL).collect()
    }
    toks = (
        load_table(spark, SF_SMALL, "documents")
        .select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok"))
    )
    n = toks.count()
    true_heavy = {
        r.tok
        for r in toks.groupBy("tok").count().filter(F.col("count") > 0.01 * n).collect()
    }
    assert true_heavy, "fixture should have at least one heavy token"
    # The query confirms sketch candidates with exact counts and filters
    # at the same >1% floor, so the result is exactly the heavy set.
    assert true_heavy == cands


def test_mixed_format_corpus_routes_without_raising(spark):
    """A corpus mixing decodable formats (PPM, BMP, a REAL baseline
    JPEG) with codec formats (PNG/GIF magic) and unknown payloads must
    flow through decode_or_defer end-to-end: real decodes on the
    decodable lane, format-labelled rows on the deferred lane, and NO
    payload ever reaches decode_rgb's NotImplementedError gate."""
    import struct

    import numpy as np

    from .test_jpeg import encode_baseline_jpeg

    ppm = b"P6\n2 2\n255\n" + bytes(range(12))
    # minimal 2x1 uncompressed 24-bit BMP (bottom-up, stride padded to 8)
    px = b"\x01\x02\x03\x04\x05\x06\x00\x00"
    bmp = (
        b"BM" + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 24, 0, len(px), 0, 0, 0, 0)
        + px
    )
    from .test_png import encode_png

    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators.gif import (
        encode_gif,
    )

    jpeg = encode_baseline_jpeg(np.full((8, 16), 150, np.uint8))
    png = encode_png(np.full((3, 5, 3), 40, np.uint8), color_type=2, filter_type=2)
    gif = encode_gif(
        np.full((4, 6), 1, np.uint8),
        np.array([[0, 0, 0], [60, 60, 60]], np.uint8),
    )
    rows = [
        (0, ppm),
        (1, bmp),
        (2, jpeg),
        (3, png),
        (4, gif),
        (5, b"just plain bytes"),
        (6, b"RIFF fake wav"),
        (7, b"\x00\x00\x00 fake mp4"),
    ]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")

    routed = {r.doc_id: (r.format, r.decodable) for r in multimodal.route_media(media).collect()}
    assert routed == {
        0: ("ppm", True),
        1: ("bmp", True),
        2: ("jpeg", True),
        3: ("png", True),
        4: ("gif", True),
        5: ("unknown", False),
        6: ("riff (webp/wav/avi)", False),
        7: ("mp4/iso-bmff", False),
    }

    decoded, deferred = multimodal.decode_or_defer(media)
    rows_dec = {r.doc_id: r for r in decoded.collect()}  # must not raise
    assert {d: (r.width, r.height) for d, r in rows_dec.items()} == {
        0: (2, 2),
        1: (2, 1),
        2: (16, 8),
        3: (5, 3),
        4: (6, 4),
    }
    # the JPEG really decoded: uniform gray 150 within DCT rounding;
    # the PNG really decoded: lossless uniform 40;
    # the GIF really decoded: lossless uniform 60 via the palette
    assert abs(rows_dec[2].mean_r - 150.0) <= 1.5
    assert rows_dec[3].mean_r == 40.0
    assert rows_dec[4].mean_r == 60.0
    defer = {r.doc_id: r.format for r in deferred.collect()}
    assert defer == {5: "unknown", 6: "riff (webp/wav/avi)", 7: "mp4/iso-bmff"}
    assert multimodal.supported_formats() == {
        "ppm", "bmp", "jpeg", "png", "gif", "avi (mjpeg)", "mp4 (mjpeg)",
    }


def test_weighted_reservoir_prefers_heavy_tiers(spark):
    """A-ES weighted sampling: exactly K=3 per source, and the kept set
    must overrepresent high-weight tiers vs the corpus tier mix (tiers
    are uniform 1..4 by construction, so the kept-tier mean must sit
    clearly above the population mean of 2.5)."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import REGISTRY

    rows = REGISTRY["sample_weighted_reservoir_per_key"].fn(spark, SF_SMALL).collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    assert all(len(v) == 3 for v in by_source.values())
    assert all(sorted(x.rn for x in v) == [1, 2, 3] for v in by_source.values())
    tiers = [r.tier for r in rows]
    assert sum(tiers) / len(tiers) > 2.5, f"weighting had no effect: {tiers}"


class TestSessionFeatureOps:
    """Behavior pins for the feature-engineering batch (registry parity
    covers cross-engine values; these pin the semantics directly)."""

    def test_systematic_sample_exact_spacing(self, spark):
        from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import (
            REGISTRY,
        )
        from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import (
            load_table,
        )
        from .conftest import SF_SMALL

        got = sorted(
            r.o_orderkey
            for r in REGISTRY["sample_systematic_every_k"].fn(spark, SF_SMALL).collect()
        )
        all_keys = sorted(
            r.o_orderkey
            for r in load_table(spark, SF_SMALL, "orders").select("o_orderkey").collect()
        )
        assert got == all_keys[::97]

    def test_loo_encoding_excludes_own_label(self, spark):
        """On a hand-built frame the LOO encoding must equal
        (sum - y) / (n - 1) per row, never the plain category mean."""
        import pyspark.sql.functions as F

        df = spark.createDataFrame(
            [("a", 1), ("a", 0), ("a", 0), ("b", 1), ("b", 1)], "category string, y int"
        )
        stats = df.groupBy("category").agg(
            F.count("*").alias("n_cat"), F.sum("y").alias("sum_y")
        )
        enc = (
            df.join(stats, "category")
            .select(
                "category",
                "y",
                F.expr("((sum_y - y) * 1000000) div (n_cat - 1)").alias("enc"),
            )
            .collect()
        )
        by = {(r.category, r.y): r.enc for r in enc}
        assert by[("a", 1)] == 0  # other two a-rows are 0
        assert by[("a", 0)] == 500000  # one positive of two others
        assert by[("b", 1)] == 1000000  # the other b-row is positive

    def test_bloom_reduction_counts_are_exact(self, spark):
        from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import (
            REGISTRY,
        )
        from .conftest import SF_SMALL

        row = REGISTRY["join_bloom_semi_reduction"].fn(spark, SF_SMALL).collect()[0]
        assert row.no_false_negatives is True
        assert row.n_candidates == row.n_true_matches + row.n_false_positives

    def test_concurrency_sweep_known_answer(self, spark):
        """Three sessions, two overlapping: peak concurrency 2."""
        import pyspark.sql.functions as F
        from pyspark.sql.window import Window

        sess = spark.createDataFrame(
            [(1, 0, 100), (2, 50, 150), (3, 200, 300)],
            "sid int, s long, e long",
        )
        deltas = sess.select(F.col("s").alias("at"), F.lit(1).alias("d")).unionByName(
            sess.select((F.col("e") + 1).alias("at"), F.lit(-1).alias("d"))
        )
        w = Window.orderBy("at", "d").rowsBetween(Window.unboundedPreceding, 0)
        peak = deltas.withColumn("c", F.sum("d").over(w)).agg(F.max("c")).collect()[0][0]
        assert peak == 2


def test_pin_reliable_mode_env_knob(spark, tmp_path, monkeypatch):
    """session.pin: localCheckpoint by default; SPARK_GRAFT_RELIABLE_PIN=1
    switches to reliable checkpoint() on SPARK_GRAFT_CHECKPOINT_DIR with
    identical results — the 100 TB fault-tolerance knob (ADVICE r4)."""
    from pyspark.sql import functions as F

    from aws_glue_pyspark_incrementality_and_parallelism_spark.session import pin

    df = spark.range(100).withColumn("v", F.col("id") * 2)
    local = df.transform(pin)  # default lane: no checkpoint dir needed
    assert local.count() == 100
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_PIN", "1")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    reliable = df.transform(pin)
    assert sorted(r.v for r in reliable.collect()) == sorted(
        r.v for r in local.collect()
    )
    # the reliable pin set the durable dir and wrote checkpoint files
    # (first reliable pin in the context sets the dir; later ones
    # reuse whatever is active)
    active = spark.sparkContext.getCheckpointDir()
    assert active is not None
    import os as _os

    local_path = active.removeprefix("file:")
    assert any(files for _, _, files in _os.walk(local_path))


def _iterate_toy(spark, cap, max_rounds):
    """session.iterate over a monotone toy loop: every ``v`` climbs by one
    per round up to ``cap`` (``None``: no cap), so the signature sum(v)
    first repeats at round cap + 1. Returns the final frame and the
    number of steps run."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark.session import iterate

    steps = []

    def step(df):
        steps.append(1)
        v = F.col("v") + 1
        return df.select("id", (v if cap is None else F.least(v, F.lit(cap))).alias("v"))

    out = iterate(spark.range(8).withColumn("v", F.lit(0)), step, [F.sum("v")], max_rounds)
    return out, len(steps)


def _values(df):
    return sorted(r.v for r in df.collect())


def test_iterate_stops_when_signature_repeats(spark):
    """The loop stops at the first round whose signature equals the
    previous one (round 4 for cap 3), not at ``max_rounds``, and runs
    one job per pin: the initial pin plus one per round."""
    sc = spark.sparkContext
    sc.setJobGroup("test-iterate", "test-iterate")
    try:
        out, rounds = _iterate_toy(spark, cap=3, max_rounds=10)
        jobs = sc.statusTracker().getJobIdsForGroup("test-iterate")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rounds == 4
    assert len(jobs) == 5
    assert _values(out) == [3] * 8


def test_iterate_stops_at_max_rounds(spark):
    out, rounds = _iterate_toy(spark, cap=None, max_rounds=3)
    assert (_values(out), rounds) == ([3] * 8, 3)


def test_iterate_reliable_pin_matches_local(spark, tmp_path, monkeypatch):
    """The signature Observation also fires through ``checkpoint()``."""
    out, rounds = _iterate_toy(spark, cap=3, max_rounds=10)
    local = (_values(out), rounds)
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_PIN", "1")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    out, rounds = _iterate_toy(spark, cap=3, max_rounds=10)
    assert (_values(out), rounds) == local == ([3] * 8, 4)


def test_quarantine_never_aborts_on_adversarial_corpus(spark):
    """The round-5 quarantine guarantee, fuzzed: a corpus of corrupted,
    truncated, bit-flipped, mislabeled, and random payloads must flow
    through decode_or_defer without ANY raise, every row landing in
    exactly one lane. Deterministic seed so failures replay."""
    import random

    import numpy as np

    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators.jpeg import (
        encode_gray_baseline,
    )
    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators.mp4 import (
        encode_mp4_mjpeg,
    )
    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators.multimodal import (
        decode_or_defer,
    )

    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators.avi import (
        encode_avi_mjpeg,
    )
    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators.gif import (
        encode_gif,
    )

    from .test_png import encode_png as png_encode

    rng = random.Random(405)
    img = np.arange(48, dtype=np.uint8).reshape(6, 8)
    frame = encode_gray_baseline(img)
    rgb = np.dstack([img, img, img])
    good_fast = encode_mp4_mjpeg([frame] * 2, 8, 6, fps=10)
    good_tail = encode_mp4_mjpeg([frame] * 2, 8, 6, fps=10, fast_start=False)
    ppm = b"P6\n2 2\n255\n" + bytes(range(12))
    good_png = png_encode(rgb)
    palette = np.arange(256, dtype=np.uint8).repeat(3).reshape(256, 3)
    good_gif = encode_gif(img, palette)
    good_avi = encode_avi_mjpeg([frame] * 2, 8, 6, fps=10)

    payloads = [good_fast, good_tail, ppm, good_png, good_gif, good_avi]
    for base in (good_fast, good_tail, ppm, good_png, good_gif, good_avi):
        # truncations at random offsets
        for _ in range(6):
            payloads.append(base[: rng.randrange(1, len(base))])
        # single-bit flips
        for _ in range(6):
            b = bytearray(base)
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            payloads.append(bytes(b))
    # mislabeled magics: real magic prefix, garbage body
    for magic in (b"\xff\xd8\xff", b"\x89PNG", b"GIF8", b"BM", b"P6",
                  b"RIFF", good_fast[:8]):
        payloads.append(magic + bytes(rng.randrange(256) for _ in range(64)))
    # pure noise
    for _ in range(10):
        payloads.append(bytes(rng.randrange(256) for _ in range(rng.randrange(1, 300))))

    rows = [(i, bytearray(p)) for i, p in enumerate(payloads)]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    decoded, deferred = decode_or_defer(media)
    dec_ids = {r.doc_id for r in decoded.collect()}   # must not raise
    def_ids = {r.doc_id for r in deferred.collect()}  # must not raise
    assert dec_ids | def_ids == set(range(len(payloads)))
    assert not (dec_ids & def_ids)
    # every intact payload decodes
    assert {0, 1, 2, 3, 4, 5} <= dec_ids


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    """Zero-row twins of every base table, real schemas — the
    no-new-data incremental run (round-5 robustness class)."""
    import duckdb

    root = tmp_path_factory.mktemp("sf_empty")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"COPY (SELECT * FROM '{SF_SMALL}/{t}.parquet' LIMIT 0) "
            f"TO '{root}/{t}.parquet' (FORMAT parquet)"
        )
    return str(root)


@pytest.mark.parametrize(
    "name",
    [
        # the ten queries that CRASHED on zero-row input before round 5
        # (plan-build collects of None spans, empty argmax, empty numpy
        # stacks, schema inference over zero-file partitioned writes)
        "sample_systematic_every_k",
        "text_bpe_train_merges",
        "stream_watermark_late_drop",
        "agg_quantile_bucketize",
        "sim_pq_adc_topk",
        "sim_ivf_topk",
        "sim_kmeans_refine",
        "source_provenance_input_file",
        "source_hive_partitioned_prune",
        "join_dpp_partitioned_fact",
    ],
)
def test_zero_row_corpus_does_not_crash(spark, empty_sf_dir, name):
    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import (
        REGISTRY,
    )

    REGISTRY[name].fn(spark, empty_sf_dir).count()  # must plan and run



@pytest.fixture(scope="module")
def one_row_sf_dir(spark, tmp_path_factory):
    """One-row twins of every table — degenerate single-sample groups
    (variance 0, n-1 = 0, broadcast-dict misses)."""
    import duckdb

    root = tmp_path_factory.mktemp("sf_one")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"COPY (SELECT * FROM '{SF_SMALL}/{t}.parquet' LIMIT 1) "
            f"TO '{root}/{t}.parquet' (FORMAT parquet)"
        )
    return str(root)


@pytest.mark.parametrize(
    "name",
    [
        # the six queries that crashed on 1-row input before round 5
        # (ANSI DIVIDE_BY_ZERO on zero-variance/n-1 denominators, a
        # broadcast-dict miss cast to non-nullable int64)
        "text_distribution_drift",
        "agg_skewness_kurtosis",
        "embed_dim_stats",
        "agg_corr_covar",
        "udf_broadcast_lookup_scoring",
        "feat_target_encoding_loo",
    ],
)
def test_one_row_corpus_does_not_crash(spark, one_row_sf_dir, name):
    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import (
        REGISTRY,
    )

    REGISTRY[name].fn(spark, one_row_sf_dir).count()  # must plan and run


@pytest.fixture(scope="module")
def null_sf_dir(spark, tmp_path_factory):
    """Half-NULL twins: keys stay NOT NULL (the identity spine), every
    non-key column is NULL on alternating rows — the NULL-bearing
    ingest corpus (round-5 third robustness class)."""
    import duckdb

    nullable = {
        "documents": ["text", "lang", "source"],
        "events": ["event_type", "value", "props"],
        "orders": ["o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"],
        "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax",
                     "l_returnflag", "l_linestatus", "l_shipdate"],
        "customer": ["c_name", "c_acctbal", "c_mktsegment"],
        "supplier": ["s_name", "s_acctbal"],
        "part": ["p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
        "embeddings": ["embedding", "label"],
    }
    root = tmp_path_factory.mktemp("sf_nulls")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        cols = [d[0] for d in con.execute(
            f"SELECT * FROM '{SF_SMALL}/{t}.parquet' LIMIT 0").description]
        exprs = [
            f"CASE WHEN (ROW_NUMBER() OVER ()) % 2 = 0 THEN NULL ELSE {c} END AS {c}"
            if c in nullable.get(t, []) else c
            for c in cols
        ]
        con.execute(
            f"COPY (SELECT {', '.join(exprs)} FROM '{SF_SMALL}/{t}.parquet') "
            f"TO '{root}/{t}.parquet' (FORMAT parquet)"
        )
    return str(root)


@pytest.mark.parametrize(
    "name",
    [
        # the 30 queries that crashed on NULL-bearing rows before round
        # 5 (None.encode in mux lanes, NULL embeddings in numpy stacks,
        # NULL keys in zone-range sorts, '' casts in fixed-width parse,
        # NaN astype in pandas UDFs, empty-union jaccard)
        "multimodal_decode_mp4_moov_tail", "layout_sorted_files",
        "text_compression_ratio", "sim_brute_force_topk",
        "multimodal_image_phash", "source_fixed_width_parse",
        "multimodal_video_frames", "rag_retrieve_topk",
        "multimodal_decode_jpeg", "archive_tar_webdataset",
        "multimodal_video_scene_cuts", "sim_pq_adc_topk", "sim_lsh_topk",
        "multimodal_video_avi_mjpeg", "sim_ivf_topk", "sim_kmeans_refine",
        "dedup_minhash_lsh", "multimodal_features", "multimodal_resize",
        "multimodal_arrow_stats", "multimodal_decode_mp4_frames",
        "multimodal_decode_ppm", "multimodal_audio_wav",
        "multimodal_image_patches", "udf_broadcast_lookup_scoring",
        "multimodal_decode_gif", "embed_pca_gramian",
        "multimodal_pdf_catalog", "multimodal_audio_silence_trim",
        "multimodal_image_resize",
    ],
)
def test_null_bearing_corpus_does_not_crash(spark, null_sf_dir, name):
    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import (
        REGISTRY,
    )

    REGISTRY[name].fn(spark, null_sf_dir).count()  # must plan and run


@pytest.fixture(scope="module")
def dup_sf_dir(spark, tmp_path_factory):
    """Duplicate-key twins: every FACT row doubled (UNION ALL with
    itself), dimensions intact — duplicate primary keys, a 100%
    exact-dup document universe, doubled join multiplicities (round-7
    fourth robustness class)."""
    import duckdb

    fact = {"orders", "lineitem", "events", "documents", "embeddings"}
    root = tmp_path_factory.mktemp("sf_dup")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        src = f"SELECT * FROM '{SF_SMALL}/{t}.parquet'"
        q = f"{src} UNION ALL {src}" if t in fact else src
        con.execute(f"COPY ({q}) TO '{root}/{t}.parquet' (FORMAT parquet)")
    return str(root)


@pytest.mark.parametrize(
    "name",
    [
        # the seven queries that crashed on duplicated fact rows before
        # round 7: all shared one root cause — the exact-Jaccard token
        # relation was distinct per ROW, not per (doc_id, w), so doubled
        # doc rows doubled |A|,|B| and quadrupled |A∩B|, driving the
        # denominator |A|+|B|-|A∩B| to zero for identical docs
        # (DIVIDE_BY_ZERO under ANSI mode). Fixed by a (doc_id, w)
        # distinct, which makes the denominator |A∪B| >= 1 for any
        # candidate pair.
        "dedup_ngram_jaccard",
        "dedup_components_keeper",
        "dedup_components_keep_best",
        "graph_triangle_count",
        "graph_bfs_levels",
        "graph_kcore_peel",
        "graph_sssp_bellman_ford",
    ],
)
def test_duplicate_key_corpus_does_not_crash(spark, dup_sf_dir, name):
    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import (
        REGISTRY,
    )

    REGISTRY[name].fn(spark, dup_sf_dir).count()  # must plan and run


@pytest.fixture(scope="module")
def megakey_sf_dir(spark, tmp_path_factory):
    """Mega-key twins: the hottest-key-owns-everything corpus (round-7
    fifth robustness class) — one user owns every event, one customer
    every order, one (part, supplier) every lineitem, every document is
    the SAME text, every embedding the SAME vector. Primary keys stay
    unique; schemas match the base tables exactly. This is the
    adversarial-skew shape the salted/banded/capped paths exist for."""
    import duckdb

    root = tmp_path_factory.mktemp("sf_megakey")
    con = duckdb.connect()
    txt = "the quick brown fox jumps over the lazy dog and runs far away fast"
    con.execute(
        f"COPY (SELECT doc_id, '{txt}' AS text, 'en' AS lang,"
        f" first(source) OVER () AS source,"
        f" CAST({len(txt)} AS BIGINT) AS n_chars"
        f" FROM '{SF_SMALL}/documents.parquet')"
        f" TO '{root}/documents.parquet' (FORMAT parquet)"
    )
    con.execute(
        f"COPY (SELECT event_id, ts, CAST(1 AS BIGINT) AS user_id, event_type,"
        f" value, props FROM '{SF_SMALL}/events.parquet')"
        f" TO '{root}/events.parquet' (FORMAT parquet)"
    )
    o_cols = [d[0] for d in con.execute(
        f"SELECT * FROM '{SF_SMALL}/orders.parquet' LIMIT 0").description]
    sel = ", ".join(
        "CAST(1 AS BIGINT) AS o_custkey" if c == "o_custkey"
        else "'3-MEDIUM' AS o_orderpriority" if c == "o_orderpriority" else c
        for c in o_cols
    )
    con.execute(
        f"COPY (SELECT {sel} FROM '{SF_SMALL}/orders.parquet')"
        f" TO '{root}/orders.parquet' (FORMAT parquet)"
    )
    l_cols = [d[0] for d in con.execute(
        f"SELECT * FROM '{SF_SMALL}/lineitem.parquet' LIMIT 0").description]
    sel = ", ".join(
        "CAST(1 AS BIGINT) AS l_partkey" if c == "l_partkey"
        else "CAST(1 AS BIGINT) AS l_suppkey" if c == "l_suppkey" else c
        for c in l_cols
    )
    con.execute(
        f"COPY (SELECT {sel} FROM '{SF_SMALL}/lineitem.parquet')"
        f" TO '{root}/lineitem.parquet' (FORMAT parquet)"
    )
    con.execute(
        f"COPY (SELECT vec_id, first(embedding) OVER () AS embedding,"
        f" first(label) OVER () AS label FROM '{SF_SMALL}/embeddings.parquet')"
        f" TO '{root}/embeddings.parquet' (FORMAT parquet)"
    )
    for t in ("region", "nation", "customer", "supplier", "part"):
        con.execute(
            f"COPY (SELECT * FROM '{SF_SMALL}/{t}.parquet')"
            f" TO '{root}/{t}.parquet' (FORMAT parquet)"
        )
    return str(root)


@pytest.mark.parametrize(
    "name",
    [
        # the skew-sensitive shapes the mega-key corpus exists to stress:
        # single-user sessionization/series, all-identical-text dedup
        # (LSH mega-bucket chain-linearization), all-identical embeddings
        # (ANN total ties), hot-key joins/aggregates (salted paths), and
        # one-giant-partition windows. Full-registry sweep ran 368/368
        # with zero errors in round 7; these pins keep the class closed.
        "events_sessionization",
        "events_max_concurrent_sessions",
        "udf_ewma_per_user",
        "dedup_minhash_lsh",
        "dedup_exact",
        "er_fuzzy_parts",
        "window_gaps_islands",
        "agg_salted_skew",
        "join_salted_skew",
        "sim_brute_force_topk",
        "sim_pq_adc_topk",
        "graph_pagerank_parts",
    ],
)
def test_megakey_corpus_does_not_crash(spark, megakey_sf_dir, name):
    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import (
        REGISTRY,
    )

    REGISTRY[name].fn(spark, megakey_sf_dir).count()  # must plan and run


@pytest.fixture(scope="module")
def negative_price_sf_dir(tmp_path_factory):
    """Mixed-sign price corpus (round-8 ADVICE item): orders with
    negative o_totalprice spanning many price-band bins in BOTH halves
    of negative bins, so the banded RANGE window's halo routing is
    exercised where Spark's signed % and pmod disagree."""
    import duckdb

    root = tmp_path_factory.mktemp("sf_negprice")
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * REPLACE ("
        f"  CASE WHEN o_orderkey % 2 = 0 THEN -o_totalprice ELSE o_totalprice END"
        f"  AS o_totalprice)"
        f" FROM '{SF_SMALL}/orders.parquet')"
        f" TO '{root}/orders.parquet' (FORMAT parquet)"
    )
    for t in ("region", "nation", "customer", "supplier", "part",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"COPY (SELECT * FROM '{SF_SMALL}/{t}.parquet')"
            f" TO '{root}/{t}.parquet' (FORMAT parquet)"
        )
    return str(root)


def test_range_between_numeric_negative_cents_parity(spark, negative_price_sf_dir):
    """Halo-bin routing must use the non-negative remainder (pmod), not
    Spark's signed %: for negative cents the signed remainder is in
    (-B, 0], so `cents % B < W` is always true and every upper-half row
    of a negative bin would send its halo DOWN instead of UP, silently
    corrupting the banded RANGE COUNT/SUM. End-to-end oracle parity on
    a corpus where half the orders have negative prices pins the fix
    (this test fails on the pre-pmod construction)."""
    from .oracle import assert_parity

    assert_parity(spark, "window_range_between_numeric", negative_price_sf_dir)


@pytest.fixture(scope="module")
def dupmega_sf_dir(megakey_sf_dir, tmp_path_factory):
    """Sixth robustness corpus (round 8): duplicate rows UNDER mega-key
    skew — the mega-key corpus with every FACT row then doubled, so
    duplicate primary keys land inside one mega partition. Built from
    the megakey fixture the same way `parity_sweep.py --corpus dupmega`
    composes the two recipes."""
    import duckdb

    fact = {"orders", "lineitem", "events", "documents", "embeddings"}
    root = tmp_path_factory.mktemp("sf_dupmega")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        src = f"SELECT * FROM '{megakey_sf_dir}/{t}.parquet'"
        q = f"{src} UNION ALL {src}" if t in fact else src
        con.execute(f"COPY ({q}) TO '{root}/{t}.parquet' (FORMAT parquet)")
    return str(root)


@pytest.mark.parametrize(
    "name",
    [
        # the intersection of the two constituent corpora's risk sets:
        # multiplicity-sensitive dedup lanes AND skew-sensitive salted/
        # capped/banded paths, now stressed simultaneously (duplicate
        # keys inside one mega partition). The full-registry sweep ran
        # 356/369 value-pass with ZERO errors on first contact in round
        # 8 (divergences = exactly Class D ∪ Class M, ledgered); these
        # pins keep the crash-free guarantee closed in-suite.
        "dedup_ngram_jaccard",
        "dedup_components_keeper",
        "dedup_minhash_lsh",
        "dedup_exact",
        "dedup_simhash",
        "dedup_simhash_multiplicity_pin",
        "graph_triangle_count",
        "events_sessionization",
        "udf_ewma_per_user",
        "agg_salted_skew",
        "join_salted_skew",
        "sim_pq_adc_topk",
        "window_range_between_numeric",
        "text_sequence_pack",
    ],
)
def test_dupmega_corpus_does_not_crash(spark, dupmega_sf_dir, name):
    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import (
        REGISTRY,
    )

    REGISTRY[name].fn(spark, dupmega_sf_dir).count()  # must plan and run


@pytest.fixture(scope="module")
def nullkeys_sf_dir(tmp_path_factory):
    """Seventh robustness corpus (round 8): JOIN/GROUP key columns NULL
    on every 4th row (user_id, o_custkey, l_partkey/l_suppkey) —
    row-identity primary keys stay intact. Same recipe as
    `parity_sweep.py --corpus nullkeys`."""
    import duckdb

    nullkey = {
        "events": ["user_id"],
        "orders": ["o_custkey"],
        "lineitem": ["l_partkey", "l_suppkey"],
    }
    root = tmp_path_factory.mktemp("sf_nullkeys")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        cols = [d[0] for d in con.execute(
            f"SELECT * FROM '{SF_SMALL}/{t}.parquet' LIMIT 0").description]
        exprs = [
            f"CASE WHEN (ROW_NUMBER() OVER ()) % 4 = 0 THEN NULL ELSE {c} END AS {c}"
            if c in nullkey.get(t, []) else c
            for c in cols
        ]
        con.execute(
            f"COPY (SELECT {', '.join(exprs)} FROM '{SF_SMALL}/{t}.parquet')"
            f" TO '{root}/{t}.parquet' (FORMAT parquet)"
        )
    return str(root)


@pytest.mark.parametrize(
    "name",
    [
        # the lanes NULL join/group keys stress: per-key pandas/Arrow
        # UDFs (nullable int64 keys cross the boundary as float64 NaN),
        # as-of/window partitions with a NULL pseudo-group, equi-joins
        # that must DROP null keys, the graph built on nullable edge
        # endpoints, and the null-safe snapshot audit this corpus found
        # broken (maintenance_commit_log_replay, fixed with eqNullSafe).
        # Full-registry sweep: 356/369 value-pass, ZERO errors (Class K
        # in DEGENERATE.md).
        "udf_cogroup_asof_merge",
        "udf_ewma_per_user",
        "join_asof_tolerance",
        "join_asof_last_view",
        "join_point_in_time_features",
        "incremental_session_stitch",
        "incremental_scd2_apply",
        "stream_stateful_hwm_dedup",
        "graph_pagerank_parts",
        "events_sessionization",
        "report_sales_by_customer",
        "agg_argmax_bool",
    ],
)
def test_nullkeys_corpus_does_not_crash(spark, nullkeys_sf_dir, name):
    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import (
        REGISTRY,
    )

    REGISTRY[name].fn(spark, nullkeys_sf_dir).count()  # must plan and run


def test_commit_log_replay_audit_is_null_safe(spark, nullkeys_sf_dir):
    """The snapshot-equality audit must use null-safe equality: with
    plain `=` a row with any NULL column never matches its own twin and
    the audit reads inconsistent while counts/checksums match (found by
    this corpus, fixed with eqNullSafe)."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import (
        REGISTRY,
    )

    row = REGISTRY["maintenance_commit_log_replay"].fn(spark, nullkeys_sf_dir).collect()[0]
    assert row.snapshot_consistent is True
    assert row.removed_files_invisible is True


@pytest.fixture(scope="module")
def extremes_sf_dir(tmp_path_factory):
    """Float-edge twins (round-9 eighth robustness class): NaN/±Inf/
    ±1e300 in events.value, zero-norm/NaN/Inf-component embedding
    vectors — built by the same recipe as
    `parity_sweep.py --corpus extremes` (single recipe source)."""
    from parity_sweep import build_corpus

    root = tmp_path_factory.mktemp("sf_extremes")
    return build_corpus("extremes", SF_SMALL, str(root))


@pytest.mark.parametrize(
    "name",
    [
        # representatives of the 35 queries that CRASHED on float-edge
        # input before the round-9 ingest gates (sources/io.py):
        # DECIMAL(18,4) cast lane, integer micro-cents lane, CUSUM
        # bigint lane, zero-norm cosine divide, int8 quantize scale,
        # CDC apply, and the two streaming ingest shapes
        "events_hourly_rollup",
        "events_sessionization",
        "ts_cusum_changepoint",
        "sim_lsh_topk",
        "embed_int8_quantize",
        "cdc_apply_changelog",
        "stream_stateful_hwm_dedup",
        "stream_sliding_complete_mode",
    ],
)
def test_extremes_corpus_does_not_crash(spark, extremes_sf_dir, name):
    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import (
        REGISTRY,
    )

    REGISTRY[name].fn(spark, extremes_sf_dir).count()  # must plan and run


@pytest.fixture(scope="module")
def unicode_sf_dir(tmp_path_factory):
    """Encoding-edge text twins (round-9 ninth robustness class):
    astral plane, combining marks, RTL/bidi, zero-width chars,
    U+FFFD/controls, exotic whitespace, fullwidth forms, unsegmented
    CJK in documents.text — `parity_sweep.py --corpus unicode`."""
    from parity_sweep import build_corpus

    root = tmp_path_factory.mktemp("sf_unicode")
    return build_corpus("unicode", SF_SMALL, str(root))


@pytest.mark.parametrize(
    "name",
    [
        # tokenizer/shingle/BPE/byte-synthesis representatives — the
        # engine side must stay crash-free on any UTF-8 text (the
        # round-9 sweep found only ORACLE bugs, pinned below)
        "text_token_count_bpe",
        "text_langid",
        "dedup_minhash_lsh",
        "multimodal_features",
        "multimodal_audio_wav",
        "fn_aes_roundtrip",
    ],
)
def test_unicode_corpus_does_not_crash(spark, unicode_sf_dir, name):
    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import (
        REGISTRY,
    )

    REGISTRY[name].fn(spark, unicode_sf_dir).count()  # must plan and run


def test_unicode_corpus_oracle_fixes_hold(unicode_sf_dir):
    """Round-9 oracle bug pins on the unicode corpus: the audio-wav RMS
    sum must not overflow INT32 on astral code points (BIGINT cast),
    and the AES oracle must measure PKCS#7 geometry in BYTES (strlen)
    — it must run AND agree with itself on byte math: every cipher_len
    is a multiple of 16 and strictly greater than the byte length."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import (
        REGISTRY,
    )

    from .oracle import duckdb_rows

    cols, rows = duckdb_rows(REGISTRY["multimodal_audio_wav"].oracle, unicode_sf_dir)
    assert rows, "audio_wav oracle produced no rows"

    cols, rows = duckdb_rows(REGISTRY["fn_aes_roundtrip"].oracle, unicode_sf_dir)
    i_cipher = cols.index("cipher_len")
    i_plain = cols.index("plain_len")
    for r in rows:
        assert r[i_cipher] % 16 == 0
        # cipher length is byte-based: >= plain CHAR length + 1 always
        assert r[i_cipher] > r[i_plain]


@pytest.fixture(scope="module")
def tsedges_sf_dir(tmp_path_factory):
    """Timestamp-edge twins (round-9 tenth robustness class): pre-epoch,
    exact epoch-0, the int64-nanos 2262 boundary, far-future 9999, plus
    in-domain leap-day/DST/midnight-microsecond edges in events.ts —
    `parity_sweep.py --corpus tsedges`."""
    from parity_sweep import build_corpus

    root = tmp_path_factory.mktemp("sf_tsedges")
    return build_corpus("tsedges", SF_SMALL, str(root))


@pytest.mark.parametrize(
    "name",
    [
        # temporal-lane representatives: the observed-span grid that
        # provably explodes ungated (one 9999 row -> 70M-hour
        # sequence; measured >120s on 1000 rows before the Class T
        # gate), the watermark lane a far-future row poisons, plus
        # sessionization / bucketing / as-of shapes
        "ts_linear_interpolate_grid",
        "stream_watermark_late_drop",
        "events_sessionization",
        "events_time_bucket_15min",
        "events_ohlc_hourly",
        "join_asof_tolerance",
    ],
)
def test_tsedges_corpus_does_not_crash(spark, tsedges_sf_dir, name):
    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import (
        REGISTRY,
    )

    REGISTRY[name].fn(spark, tsedges_sf_dir).count()  # must plan and run
