"""Vector similarity search (SURVEY §2.8 E3) over the ``embeddings``
table (array<float>, 64-dim).

Two paths, mirroring the standard ANN architecture:

* **Brute force** — exact cosine over (query × corpus). Correctness
  oracle and the right answer when the query set is small enough to
  broadcast: cost is one scan of the corpus, embarrassingly parallel,
  no shuffle. At 100 TB of vectors this is the per-partition inner
  loop, not the whole algorithm.
* **LSH (random hyperplanes)** — L independent hash tables of nbits
  signatures; candidates = same-bucket pairs; exact rerank on
  candidates only. The bucket join is a plain shuffle keyed on
  (table, bucket) — the scale path. Recall vs brute force is asserted
  in pytest. (Top-k similarity literature: /root/repo/PAPERS.md —
  'Incremental … Top-K Similarity Search' EDBT'20, 'Continuously
  Adaptive Similarity Search' SIGMOD'20.)

All vector math is JVM-side higher-order functions (zip_with +
aggregate) on double-cast elements — no Python in the row loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.registry import query
from ..sources.io import load_table

N_QUERIES = 5
TOP_K = 10

#: LSH shape. More tables × fewer bits raises recall at the cost of more
#: candidates. 8×4 targets the near-orthogonal worst case in the test
#: embeddings (top-10 cosines ≈ 0.3-0.45 ⇒ per-table collision ~0.16).
#: Clustered production embeddings (near-dup cosine ≥ 0.9) would use
#: fewer tables × more bits (e.g. 4×16) for far better selectivity.
LSH_TABLES = 8
LSH_BITS = 4


def _dbl(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    a, b = _dbl(a), _dbl(b)
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _cosine_pandas_udf():
    """Arrow-batched cosine: numpy matrix math per batch.

    The higher-order-function ``cosine`` is fine for thousands of pairs
    but runs interpreted (HOFs have no codegen); for quadratic pair
    volumes the Arrow transfer + one einsum per batch is ~100× faster.
    Declared lazily so importing this module never registers a UDF
    against an inactive SparkSession."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cosine_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.vstack(a.to_numpy()).astype(np.float64)
        B = np.vstack(b.to_numpy()).astype(np.float64)
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(num / den)

    return cosine_udf


@query(
    "sim_brute_force_topk",
    oracle=f"""
    WITH nn AS MATERIALIZED (
      SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qe FROM nn
      WHERE vec_id < {N_QUERIES}
    ), scored AS (
      SELECT q.query_id, e.vec_id,
             ROUND(list_cosine_similarity(q.qe, e.embedding), 4) AS cosine
      FROM q, nn e
      WHERE e.vec_id != q.query_id
    ), ranked AS (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rn
      FROM scored
    )
    SELECT query_id, vec_id, cosine, CAST(rn AS INT) AS rn
    FROM ranked WHERE rn <= {TOP_K}
    """,
)
def q_sim_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for {N_QUERIES} query vectors against the
    corpus. The query side is broadcast (tiny by definition); ranking
    orders by the ROUNDED cosine + vec_id so both engines agree even at
    float ulp differences."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    cos_udf = _cosine_pandas_udf()
    scored = (
        emb.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cos_udf(F.col("qe"), F.col("embedding")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "vec_id", "cosine", "rn")
    )


#: Shared oracle for the all-pairs cosine queries: cosines derive from
#: EXACT integer micro-unit quantities (quantized components, integer
#: dot and squared norms) through an identical float op sequence on
#: both engines — list_cosine_similarity vs the numpy GEMM differed in
#: the last ulp and flipped 4-decimal roundings at sf0.1.
_COSINE_PAIRS_ORACLE = """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ), s AS (
      SELECT vec_id, qv,
             CAST(list_sum(list_transform(qv, x -> x*x)) AS DOUBLE) AS ss
      FROM q
    ), pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             CAST(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1]*p[2])) AS DOUBLE)
               / sqrt(a.ss * b.ss) AS cos
      FROM s a JOIN s b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b,
           CAST(floor(cos * 10000 + 0.5) AS BIGINT) / 10000.0 AS cosine
    FROM pairs WHERE cos >= 0.35
    """


@query("sim_cosine_pairs_threshold", oracle=_COSINE_PAIRS_ORACLE)
def q_sim_cosine_pairs_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ 0.35 — the test
    embeddings are near-orthogonal random vectors, max ~0.48).

    Delegates to the blocked-GEMM implementation: a row-wise pair join
    would ship O(n²) embedding copies through the join (~1 GB of Arrow
    traffic at 2000 vectors); the blocked form shuffles O(n·dim) and
    distributes the FLOPs across block-pair tasks. Same oracle, same
    rows."""
    return q_sim_cosine_pairs_blocked(spark, sf_dir)


BLOCK_SIZE = 512


@query("sim_cosine_pairs_blocked", oracle=_COSINE_PAIRS_ORACLE)
def q_sim_cosine_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine ≥ τ via blocked matrix products — the scale path
    for exhaustive similarity (same oracle as the row-wise quadratic
    query; results must be identical).

    Vectors are grouped into blocks of BLOCK_SIZE; the block-pair cross
    join is tiny (B² rows for B blocks); each block pair computes one
    numpy GEMM inside mapInPandas and emits only the surviving pairs.
    Data volume shuffled: O(n·dim + survivors), FLOPs distributed across
    B² tasks — this is how you run exhaustive all-pairs on a cluster
    when LSH recall isn't acceptable.

    The GEMM runs over integer micro-unit quantized components (int64
    matmul — exact), and the cosine derives from those exact integers
    with the same float op sequence as the oracle: summation-order ulp
    drift can therefore never flip the 0.35 membership or a 4-decimal
    rounding, at any SF."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    blocked = (
        emb.withColumn("block", F.floor(F.col("vec_id") / BLOCK_SIZE).cast("long"))
        .groupBy("block")
        .agg(
            F.collect_list("vec_id").alias("ids"),
            F.collect_list("embedding").alias("vecs"),
        )
    )
    a = blocked.select(
        F.col("block").alias("block_a"), F.col("ids").alias("ids_a"), F.col("vecs").alias("vecs_a")
    )
    b = blocked.select(
        F.col("block").alias("block_b"), F.col("ids").alias("ids_b"), F.col("vecs").alias("vecs_b")
    )
    pairs = a.join(b, F.col("block_a") <= F.col("block_b"))

    out_schema = "vec_a long, vec_b long, cosine double"

    def _block_cosine(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ids_a = np.asarray(row.ids_a, dtype=np.int64)
                ids_b = np.asarray(row.ids_b, dtype=np.int64)
                A = np.vstack([np.asarray(v) for v in row.vecs_a]).astype(np.float64)
                B = np.vstack([np.asarray(v) for v in row.vecs_b]).astype(np.float64)
                # micro-unit quantization via floor(x*1e6 + 0.5) — the
                # ONE portable rule: engines disagree on float->decimal
                # casts (Spark rounds the exact double half-away, DuckDB
                # rounds the float's shortest repr half-even), but the
                # identical double product/add/floor sequence cannot
                # diverge. Then EXACT int64 algebra.
                Aq = np.floor(A * 1e6 + 0.5).astype(np.int64)
                Bq = np.floor(B * 1e6 + 0.5).astype(np.int64)
                dot = Aq @ Bq.T  # int64 matmul: exact
                ssa = (Aq * Aq).sum(axis=1).astype(np.float64)
                ssb = (Bq * Bq).sum(axis=1).astype(np.float64)
                S = dot.astype(np.float64) / np.sqrt(ssa[:, None] * ssb[None, :])
                ia, ib = np.nonzero(S >= 0.35)
                if len(ia) == 0:
                    continue
                va, vb = ids_a[ia], ids_b[ib]
                keep = va < vb  # dedup within/between blocks by id order
                if not keep.any():
                    continue
                yield pd.DataFrame(
                    {
                        "vec_a": va[keep],
                        "vec_b": vb[keep],
                        # floor(x*1e4+0.5)/1e4: identical float ops on both
                        # engines — np.round (half-even) vs DuckDB ROUND
                        # (half-away) disagreed on an exactly-representable
                        # x.xxxx5 product even from IDENTICAL doubles
                        "cosine": np.floor(S[ia[keep], ib[keep]] * 10000 + 0.5)
                        / 10000.0,
                    }
                )

    return pairs.mapInPandas(_block_cosine, schema=out_schema)


@query(
    "sim_label_centroids",
    oracle="""
    WITH e AS (
      SELECT label,
             unnest(embedding) AS v,
             unnest(range(len(embedding))) AS pos
      FROM embeddings
    )
    SELECT label, CAST(pos AS INT) AS pos,
           ROUND(AVG(CAST(v AS DOUBLE)), 6) AS mean_component
    FROM e GROUP BY 1, 2
    """,
)
def q_sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding space, component-wise:
    posexplode → (label, pos) hash-aggregate. The centroid table is
    (labels × dim) rows — the coarse-quantizer build step of an IVF
    index, and the class-prototype computation for embedding-space
    analysis. Scales as a plain aggregation (map-side combine) however
    many vectors exist."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("mean_component"))
    )


#: IVF probe width: how many coarse cells each query searches. With 10
#: label-derived cells and near-orthogonal test vectors, 4 cells ≈ 40% of
#: the corpus scanned — production embeddings with real cluster structure
#: would use nprobe/ncells ≈ 1-5%.
IVF_NPROBE = 4


def assign_nearest_cells(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    k: int = 1,
    cent_rows: list | None = None,
) -> DataFrame:
    """Top-k nearest-centroid assignment as ONE Arrow pass over ``df``.

    The centroid table is O(cells × dim) by definition, so it crosses
    the driver once and rides into every task as a closed-over numpy
    matrix; each Arrow batch computes a (batch × cells) GEMM and emits
    its top-k cells. Replaces the crossJoin → per-row window argmax
    formulation, which shuffles (rows × cells) through a sort — this
    shape shuffles nothing and scans the corpus exactly once.

    Output: input columns + ``cell`` (centroid id), ``cell_cos``
    (cosine), ``cell_rank`` (1-based). Ties break toward the lower cell
    id (stable argsort over ascending cell order), matching
    ``ORDER BY cos DESC, cell ASC``.

    ``cent_rows`` (r10): pass the already-collected centroid rows to
    skip this call's collect — a caller that assigns twice against the
    SAME centroid table (IVF: corpus + probes) otherwise pays the
    centroid aggregation job twice, a pure control-plane round-trip
    that under a saturated concurrent scheduler costs far more than the
    aggregate itself (guide §1.2 "count the jobs").
    """
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    if cent_rows is None:
        cent_rows = sorted(centroids.collect(), key=lambda r: r["cell"])
    if not cent_rows:
        # empty corpus ⇒ zero centroids: assignment is empty by
        # definition — keep the output schema, emit no rows (the
        # no-new-data incremental case must not crash on a 1-D array)
        return (
            df.filter(F.lit(False))
            .withColumn("cell", F.lit(None).cast(centroids.schema["cell"].dataType))
            .withColumn("cell_cos", F.lit(None).cast("double"))
            .withColumn("cell_rank", F.lit(None).cast("int"))
        )
    cells = [r["cell"] for r in cent_rows]
    C = np.asarray([r["centroid"] for r in cent_rows], dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    cell_type = centroids.schema["cell"].dataType
    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("cell", cell_type),
            StructField("cell_cos", DoubleType()),
            StructField("cell_rank", IntegerType()),
        ]
    )
    cells_arr = np.asarray(cells)

    def _assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            En = E / np.maximum(np.linalg.norm(E, axis=1, keepdims=True), 1e-12)
            S = En @ Cn.T
            order = np.argsort(-S, axis=1, kind="stable")[:, :k]
            rows = np.arange(len(pdf))
            outs = []
            for j in range(order.shape[1]):
                out = pdf.copy()
                out["cell"] = cells_arr[order[:, j]]
                out["cell_cos"] = S[rows, order[:, j]]
                out["cell_rank"] = j + 1
                outs.append(out)
            yield pd.concat(outs, ignore_index=True)

    return df.mapInPandas(_assign, schema=out_schema)


def label_centroid_arrays(emb: DataFrame) -> DataFrame:
    """Coarse-quantizer table: one centroid vector per label, built from
    the same component-wise aggregate as ``sim_label_centroids`` and
    re-assembled into an array column (sorted struct collect — no Python
    in the loop, one aggregation shuffle over labels × dim rows)."""
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("mean_component"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mean_component"))),
                lambda s: s.mean_component,
            ).alias("centroid")
        )
        .select(F.col("label").alias("cell"), "centroid")
    )


def ivf_topk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via an IVF (inverted-file) index: coarse-quantize the
    corpus to its nearest centroid cell, then each query probes only its
    IVF_NPROBE closest cells and reranks those candidates exactly.

    The Spark topology is the point: the centroid table is tiny and
    BROADCAST to both assignment joins, corpus assignment is one
    Arrow-batched argmax pass (no shuffle), and the probe is an equi
    join on the cell id — at 100 TB the corpus would be WRITTEN
    partitioned by cell so the probe join prunes partitions instead of
    scanning. The registered query ``sim_ivf_topk`` wraps this float
    path in a driver-checkable recall surface; the same algorithm's
    algebra is value-checked end-to-end in the portable twin
    ``sim_ivf_portable_topk``."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    cent = label_centroid_arrays(emb)
    cos_udf = _cosine_pandas_udf()
    # one centroid collect shared by both assignment passes (r10): the
    # corpus assign and the query probe ran the centroid aggregation as
    # two separate jobs for identical rows
    cent_rows = sorted(cent.collect(), key=lambda r: r["cell"])

    # nearest cell per corpus vector: one Arrow GEMM pass, no shuffle
    assigned = assign_nearest_cells(emb, cent, k=1, cent_rows=cent_rows).select(
        "vec_id", "embedding", "cell"
    )

    # each query probes its IVF_NPROBE nearest cells
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    probes = assign_nearest_cells(
        queries, cent, vec_col="qe", k=IVF_NPROBE, cent_rows=cent_rows
    ).select("query_id", "qe", "cell")

    # candidates = corpus vectors in a probed cell; exact rerank
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", F.round(cos_udf(F.col("qe"), F.col("embedding")), 4))
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "vec_id", "cosine", "rn")
    )


#: ANN recall floors for the driver-checkable surfaces below. The test
#: embeddings are near-orthogonal (LSH/IVF's worst case) and every input
#: is deterministic (fixed hyperplane seed, label-seeded centroids), so
#: the measured recall is a constant per dataset; the floor sits well
#: under the measured values (see tests) to keep the boolean stable.
IVF_RECALL_FLOOR = 0.3
LSH_RECALL_FLOOR = 0.3


def _ann_recall_summary(
    exact_pairs: DataFrame, ann_pairs: DataFrame, floor: float
) -> DataFrame:
    """One-row driver surface for an ANN path: the exact top-k pair
    count (deterministic, oracle-computable) plus a recall-vs-brute-
    force boolean that is TRUE whenever ANN recall ≥ ``floor``. This is
    the approx-operator oracle pattern from ``queries_aggregates``: the
    float/hash internals stay unconstrained, the invariant is pinned."""
    e = exact_pairs.select("query_id", "vec_id").withColumn("e", F.lit(1))
    a = ann_pairs.select("query_id", "vec_id").withColumn("a", F.lit(1))
    j = e.join(a, ["query_id", "vec_id"], "full")
    return j.agg(
        F.sum("e").cast("bigint").alias("n_exact"),
        F.sum(
            F.when(F.col("e").isNotNull() & F.col("a").isNotNull(), 1).otherwise(0)
        ).alias("n_hit"),
    ).select(
        "n_exact",
        (F.col("n_hit") >= F.lit(floor) * F.col("n_exact")).alias("recall_ok"),
    )


_ANN_SUMMARY_ORACLE = f"""
    SELECT CAST(COUNT(*) * {TOP_K} AS BIGINT) AS n_exact, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """


@query("sim_ivf_topk", oracle=_ANN_SUMMARY_ORACLE)
def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a deterministic driver surface: runs the full
    ``ivf_topk_pairs`` float path AND the exact brute-force top-k in one
    job, then emits (n_exact, recall_ok). ``n_exact`` is oracle-exact;
    ``recall_ok`` pins recall ≥ IVF_RECALL_FLOOR, far under the measured
    constant for the fixed test embeddings (pytest asserts the raw
    recall). Closes the round-2 rows-only gap for the xxhash/float
    scale path without constraining its internals."""
    exact = q_sim_brute_force_topk(spark, sf_dir)
    ann = ivf_topk_pairs(spark, sf_dir)
    return _ann_recall_summary(exact, ann, IVF_RECALL_FLOOR)


def _hyperplanes(n_tables: int, n_bits: int, dim: int) -> np.ndarray:
    """Deterministic Gaussian hyperplanes (seed fixed — signatures must
    be reproducible across runs and executors)."""
    rng = np.random.RandomState(42)
    return rng.randn(n_tables, n_bits, dim)


def lsh_topk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via random-hyperplane LSH: LSH_TABLES × LSH_BITS; candidates
    are corpus vectors sharing any table bucket with a query vector;
    exact cosine rerank on candidates only. At scale: signatures are one
    narrow column per table, the candidate join shuffles on (table,
    bucket), rerank is per-candidate. The registered query
    ``sim_lsh_topk`` wraps this float path in a driver-checkable recall
    surface; the same algorithm's algebra is value-checked end-to-end in
    the portable twin ``sim_lsh_portable_buckets``."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    planes = _hyperplanes(n_tables=LSH_TABLES, n_bits=LSH_BITS, dim=64)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def all_buckets(e: pd.Series) -> pd.Series:
        # one (batch × dim) @ (dim × tables·bits) matmul per Arrow batch
        # instead of tables·bits interpreted dot-product lambdas per row
        V = np.vstack(e.to_numpy()).astype(np.float64)
        flat = planes.reshape(-1, planes.shape[2])  # (tables*bits, dim)
        bits = (V @ flat.T) >= 0  # (n, tables*bits)
        weights = 1 << np.arange(planes.shape[1], dtype=np.int64)
        buckets = bits.reshape(len(V), planes.shape[0], planes.shape[1]) @ weights
        return pd.Series(list(buckets.astype(np.int64)))

    sigs = emb.select(
        "vec_id", "embedding", F.posexplode(all_buckets("embedding")).alias("tbl", "bucket")
    )

    queries = sigs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        "tbl",
        "bucket",
    )
    cands = (
        sigs.join(F.broadcast(queries), on=["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qe", "vec_id", "embedding")
        .dropDuplicates(["query_id", "vec_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        cands.withColumn("cosine", F.round(cosine(F.col("qe"), F.col("embedding")), 4))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "vec_id", "cosine", "rn")
    )


@query("sim_lsh_topk", oracle=_ANN_SUMMARY_ORACLE)
def q_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN with a deterministic driver surface: runs the
    full ``lsh_topk_pairs`` bucket/rerank path AND the exact brute-force
    top-k in one job, then emits (n_exact, recall_ok). Same approx-
    operator oracle pattern as ``sim_ivf_topk``; pytest asserts the raw
    recall value."""
    exact = q_sim_brute_force_topk(spark, sf_dir)
    ann = lsh_topk_pairs(spark, sf_dir)
    return _ann_recall_summary(exact, ann, LSH_RECALL_FLOOR)


def kmeans_refine(
    emb: DataFrame, centroids: DataFrame, iterations: int = 3
) -> tuple[DataFrame, list[float]]:
    """Lloyd iterations refining a centroid table over the corpus.

    The iterative-algorithm pattern done Spark-right: per iteration the
    CORPUS never moves — one Arrow-GEMM assignment pass
    (``assign_nearest_cells``: no crossJoin, no window shuffle) and one
    component-mean aggregate; only the tiny (cells × dim) centroid table
    crosses the driver boundary between iterations (it must — the next
    assignment depends on it; this is the one collect() that is
    genuinely O(cells·dim), not O(data)). The assignment is
    materialized per iteration (localCheckpoint) so the inertia
    aggregate and the centroid update read it once instead of running
    the pass twice — at corpus scale this becomes persist(DISK).
    Returns (refined centroids, per-iteration inertia) — inertia is
    monotonically non-increasing, asserted in pytest. The centroids are
    one unpinned aggregate over the last pinned assignment: a caller
    that runs several actions on them should pin them
    (``.transform(pin)``)."""
    from pyspark.sql import Observation

    inertias: list[float] = []
    for _ in range(iterations):
        # The inertia total rides the assignment's checkpoint action as
        # an Observation metric — one job instead of checkpoint + agg.
        obs = Observation()
        assigned = (
            assign_nearest_cells(emb, centroids, k=1)
            .select("vec_id", "embedding", "cell", "cell_cos")
            .observe(obs, F.sum(F.lit(1.0) - F.col("cell_cos")).alias("inertia"))
            .transform(pin)
        )
        # empty corpus: the Observation sum is NULL — inertia of an
        # empty assignment is 0 (no-new-data incremental case)
        _in = obs.get["inertia"]
        inertias.append(float(_in) if _in is not None else 0.0)
        centroids = (
            assigned.select("cell", F.posexplode("embedding").alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("v").cast("double")).alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
                ).alias("centroid")
            )
        )
        # No per-iteration centroid pin (r10): the NEXT iteration's
        # assign_nearest_cells collect() materializes this aggregate
        # anyway, and its lineage is already flat (one aggregate over
        # the pinned assignment) — the pin was a third scheduler
        # round-trip per iteration that bought nothing. The values are
        # unchanged: same aggregate plan over the same checkpointed
        # input either way (sim_kmeans_portable value-checks the float
        # trajectory end-to-end).
    return centroids, inertias


@query(
    "sim_kmeans_refine",
    oracle="""
    SELECT DISTINCT label AS cell, 64 AS dim, TRUE AS inertia_monotone_ok
    FROM embeddings WHERE embedding IS NOT NULL
    """,
)
def q_sim_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means refinement of the label-seeded coarse quantizer (3 Lloyd
    iterations), with a deterministic driver surface: the surviving
    cells and dimensionality are exact (every label keeps members on
    the test corpora — hundreds of vectors per label, so no cell can
    empty), and ``inertia_monotone_ok`` pins Lloyd's guarantee that the
    per-iteration inertia never increases (cosine inertia with mean
    centroids is spherical k-means; the mean maximizes within-cell
    cosine, so each step is non-increasing up to float-summation noise,
    hence the relative epsilon). The float centroid trajectory itself
    is value-checked in the portable twin ``sim_kmeans_portable``."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    cent, inertias = kmeans_refine(emb, label_centroid_arrays(emb), iterations=3)
    monotone = all(
        later <= earlier * (1 + 1e-9) + 1e-6
        for earlier, later in zip(inertias, inertias[1:])
    )
    return cent.select(
        "cell",
        F.size("centroid").alias("dim"),
        F.lit(bool(monotone)).alias("inertia_monotone_ok"),
    )


@query(
    "rag_retrieve_topk",
    oracle=f"""
    WITH nn AS MATERIALIZED (
      SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             ROUND(list_cosine_similarity(q.embedding, c.embedding), 4) AS cosine
      FROM nn q JOIN nn c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 3
    ), ranked AS (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rn
      FROM scored
    )
    SELECT r.query_id, r.vec_id, r.cosine, r.rn,
           len(string_split_regex(lower(trim(d.text)), '\\s+')) AS doc_tokens
    FROM ranked r JOIN documents d ON d.doc_id = r.vec_id
    WHERE r.rn <= 5
    """,
)
def q_rag_retrieve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG retrieval end-to-end: top-5 neighbors per query vector, then
    the cross-modal join back to the ``documents`` table for the
    retrieved passages' metadata (token count here; the text payload in
    production).

    Scale shape: the ranked candidate set is O(queries × k) BEFORE the
    document join, so the expensive text-side join touches only
    retrieved ids (a semi-join-sized probe of a doc store that can be
    bucketed by doc_id). Exact scoring here = the oracle path; the ANN
    variants (IVF / LSH) swap into the scoring stage unchanged."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    docs = load_table(spark, sf_dir, "documents")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    cos_udf = _cosine_pandas_udf()
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    ranked = (
        emb.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cos_udf(F.col("qe"), F.col("embedding")), 4).alias("cosine"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
    )
    doc_tokens = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    return ranked.join(docs, ranked.vec_id == docs.doc_id).select(
        "query_id",
        "vec_id",
        "cosine",
        "rn",
        doc_tokens.alias("doc_tokens"),
    )


@query(
    "embed_dim_stats",
    oracle="""
    SELECT dim,
           COUNT(*) AS n,
           CAST(floor(CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                      / 1000000.0 * 10000 + 0.5) AS BIGINT) / 10000.0
             AS mean_val,
           CAST(floor(sqrt(CAST(COUNT(*) * SUM(q*q) - SUM(q) * SUM(q) AS DOUBLE)
                           / CAST(COUNT(*) * (COUNT(*) - 1) AS DOUBLE))
                      / 1000000.0 * 10000 + 0.5) AS BIGINT) / 10000.0
             AS std_val,
           CAST(floor(CAST(MIN(q) AS DOUBLE) / 1000000.0 * 10000 + 0.5) AS BIGINT)
             / 10000.0 AS min_val,
           CAST(floor(CAST(MAX(q) AS DOUBLE) / 1000000.0 * 10000 + 0.5) AS BIGINT)
             / 10000.0 AS max_val
    FROM (
      SELECT i AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
    )
    GROUP BY dim
    """,
)
def q_embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics over the embedding column — the
    input to feature scaling / whitening before ANN indexing, and the
    standard drift check on a new embedding drop. posexplode keeps the
    dimension index JVM-side; the aggregate shuffles only (dim, partial
    state) — O(dims × partitions) rows, independent of corpus size, so
    the plan holds at 100 TB.

    Cross-engine exactness: components quantize to integer micro-units,
    sums/sums-of-squares aggregate EXACTLY (bigint; n·Σq²−S² in
    decimal(38,0) here, HUGEINT in DuckDB), and mean/std derive from
    those exact integers with an identical float op sequence — a plain
    AVG/STDDEV over doubles diverged in the last ulp at sf0.1 (Spark's
    distributed summation order vs DuckDB's serial one) and flipped a
    4-decimal rounding."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    exploded = emb.select(F.posexplode("embedding").alias("pos", "e")).select(
        (F.col("pos") + 1).alias("dim"),
        (F.floor(F.col("e").cast("double") * 1000000 + F.lit(0.5))).alias("q"),
    )
    agg = exploded.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("s"),
        F.sum(F.col("q") * F.col("q")).alias("ss"),
        F.min("q").alias("mn"),
        F.max("q").alias("mx"),
    )
    big = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    var_num = (big("n") * big("ss") - big("s") * big("s")).cast("double")
    var_den = (F.col("n") * (F.col("n") - 1)).cast("double")

    # floor(x*1e4+0.5)/1e4 with identical float ops on both engines —
    # engine ROUND implementations legitimately disagree on near-tie
    # doubles (Spark rounds the exact BigDecimal of the double, DuckDB
    # rounds a scaled product), and exact 4-decimal ties are COMMON for
    # quantized rationals. floor-of-identical-doubles cannot diverge.
    def r4(col):
        return F.floor(col * 10000 + F.lit(0.5)) / F.lit(10000.0)

    return agg.select(
        "dim",
        "n",
        r4(F.col("s").cast("double") / F.col("n").cast("double") / 1000000.0)
        .alias("mean_val"),
        # try_divide: n = 1 makes the sample variance undefined (NULL,
        # as DuckDB's STDDEV_SAMP) instead of an ANSI DIVIDE_BY_ZERO
        r4(F.sqrt(F.try_divide(var_num, var_den)) / 1000000.0).alias("std_val"),
        r4(F.col("mn").cast("double") / 1000000.0).alias("min_val"),
        r4(F.col("mx").cast("double") / 1000000.0).alias("max_val"),
    )


#: Portable hyperplane-LSH parameters: 8 Rademacher (±1) hyperplanes →
#: 256 buckets, bounded corpus (the float-random-hyperplane variant
#: ``sim_lsh_topk`` is the scale path; this one exists so the bucketing
#: algebra is oracle-checkable with EXACT arithmetic).
LSH_PORTABLE_PLANES = 8
LSH_PORTABLE_VEC_CAP = 300


@query(
    "sim_lsh_portable_buckets",
    oracle=f"""
    WITH planes AS (
      SELECT i, j,
             CASE WHEN (CAST(CONCAT('0x', substring(md5(
                    CONCAT(CAST(i AS VARCHAR), '_', CAST(j AS VARCHAR))), 1, 15))
                  AS BIGINT) & 1) = 1 THEN 1 ELSE -1 END AS sgn
      FROM range({LSH_PORTABLE_PLANES}) t(i), range(1, 65) u(j)
    ), comps AS (
      SELECT d.vec_id, p.i,
             SUM(p.sgn * CAST(floor(CAST(d.x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS proj
      FROM (SELECT vec_id, j, embedding[j] AS x
            FROM embeddings, unnest(generate_series(1, len(embedding))) t(j)
            WHERE vec_id < {LSH_PORTABLE_VEC_CAP}) d
      JOIN planes p ON p.j = d.j
      GROUP BY d.vec_id, p.i
    ), sig AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN proj > 0 THEN CAST(POWER(2, i) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS bucket
      FROM comps GROUP BY vec_id
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket
    FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    """,
)
def q_sim_lsh_portable_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH candidate generation with EXACT portable
    arithmetic, oracled end-to-end: Rademacher (±1) hyperplanes derived
    from md5 parity — both engines derive the identical matrix from the
    same formula — and projections carried as INTEGER micro-unit sums
    (floor(x·10⁶+0.5) quantization — the one float→int rule both
    engines compute identically; engine decimal casts of float32
    actually disagree), so the sign of every dot product (and
    therefore every bucket bit and every candidate pair) is
    bit-for-bit reproducible; float summation-order drift cannot flip
    a bucket. Shape is the real LSH path's: per-plane
    projection as one hash-aggregate over (vec, plane) rows, signature
    packing, bucket equi self-join. The float-hyperplane scale variant
    (``sim_lsh_topk``) keeps its pytest recall check; this query proves
    the bucketing ALGEBRA. Bounded corpus: the all-dims explode is the
    oracle-portable formulation, not the vectorized scale kernel."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull()).filter(
        F.col("vec_id") < LSH_PORTABLE_VEC_CAP
    )
    planes = (
        spark.range(LSH_PORTABLE_PLANES)
        .withColumnRenamed("id", "i")
        .crossJoin(spark.range(1, 65).withColumnRenamed("id", "j"))
        .select(
            "i",
            "j",
            F.when(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("i").cast("string"), F.lit("_"), F.col("j").cast("string")
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                )
                .cast("bigint")
                .bitwiseAND(F.lit(1))
                == 1,
                1,
            )
            .otherwise(-1)
            .alias("sgn"),
        )
    )
    dims = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("j"),
        F.floor(F.col("x").cast("double") * 1000000 + F.lit(0.5)).alias("x"),
    )
    comps = (
        dims.join(F.broadcast(planes), "j")
        .groupBy("vec_id", "i")
        .agg(F.sum(F.col("sgn") * F.col("x")).alias("proj"))
    )
    sig = comps.groupBy("vec_id").agg(
        F.sum(
            F.when(F.col("proj") > 0, F.pow(F.lit(2.0), F.col("i")).cast("bigint")).otherwise(0)
        )
        .cast("bigint")
        .alias("bucket")
    )
    a = sig.alias("a")
    b = sig.alias("b")
    return a.join(
        b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    ).select(
        F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"), F.col("a.bucket").alias("bucket")
    )


#: Portable IVF parameters: nprobe 2, top-3 rerank, query ids < 50.
IVF_PORTABLE_NPROBE = 2
IVF_PORTABLE_TOPK = 3
IVF_PORTABLE_NQUERIES = 50


@query(
    "sim_ivf_portable_topk",
    oracle=f"""
    WITH dims AS (
      SELECT vec_id, label, j,
             CAST(floor(CAST(embedding[j] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS x
      FROM embeddings, unnest(generate_series(1, len(embedding))) t(j)
    ), cent AS (
      SELECT label AS cell, j,
             CAST(CASE WHEN SUM(x) >= 0
                       THEN (2*SUM(x) + COUNT(*)) // (2*COUNT(*))
                       ELSE -((-2*SUM(x) + COUNT(*)) // (2*COUNT(*)))
                  END AS BIGINT) AS c
      FROM dims GROUP BY label, j
    ), dist_vc AS (
      SELECT d.vec_id, ct.cell, SUM((d.x - ct.c) * (d.x - ct.c)) AS dist
      FROM dims d JOIN cent ct ON ct.j = d.j
      GROUP BY d.vec_id, ct.cell
    ), assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        FROM dist_vc) WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        FROM dist_vc WHERE vec_id < {IVF_PORTABLE_NQUERIES})
      WHERE rn <= {IVF_PORTABLE_NPROBE}
    ), cand AS (
      SELECT p.query_id, a.vec_id
      FROM probes p JOIN assign a ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id
    ), rerank AS (
      SELECT c.query_id, c.vec_id,
             SUM((q.x - v.x) * (q.x - v.x)) AS dist
      FROM cand c
      JOIN dims q ON q.vec_id = c.query_id
      JOIN dims v ON v.vec_id = c.vec_id AND v.j = q.j
      GROUP BY c.query_id, c.vec_id
    )
    SELECT query_id, vec_id, CAST(rn AS BIGINT) AS rnk
    FROM (SELECT query_id, vec_id, dist,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY dist, vec_id) AS rn
          FROM rerank)
    WHERE rn <= {IVF_PORTABLE_TOPK}
    """,
)
def q_sim_ivf_portable_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe search with EXACT portable arithmetic, oracled
    end-to-end: vector components are quantized to integer micro-units
    (floor(x·10⁶+0.5) — the portable rule), coarse centroids are integer means
    rounded half-away-from-zero IN INTEGER ARITHMETIC ((2S+n) div 2n —
    no double quotient near a rounding midpoint can diverge between
    engines), and every distance — corpus→cell assignment, query probe
    selection, candidate rerank — is an integer sum of squared integer
    diffs, so cell choices, candidate sets, and the final top-k ranking
    (output as integer ranks) are bit-for-bit reproducible in DuckDB
    (ties broken by cell/vec id). This value-checks the IVF ALGEBRA
    (assign → nprobe probe → exact rerank) that the float GEMM scale
    path (``sim_ivf_topk``) can only recall-check; that variant keeps
    its pytest recall guarantee and its broadcast/partition-pruning
    topology for 100 TB."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    dims = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "xr")
    ).select(
        "vec_id",
        "label",
        (F.col("pos") + 1).alias("j"),
        (F.floor(F.col("xr").cast("double") * 1000000 + F.lit(0.5))).alias("x"),
    )
    cent = (
        dims.groupBy("label", "j")
        .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"))
        .select(
            F.col("label").alias("cell"),
            "j",
            F.expr(
                "CASE WHEN sx >= 0 THEN (2*sx + n) div (2*n)"
                " ELSE -((-2*sx + n) div (2*n)) END"
            ).alias("c"),
        )
    )
    diff = F.col("x") - F.col("c")
    dist_vc = (
        dims.join(F.broadcast(cent), "j")
        .groupBy("vec_id", "cell")
        .agg(F.sum(diff * diff).alias("dist"))
    )
    w_cell = Window.partitionBy("vec_id").orderBy("dist", "cell")
    ranked = dist_vc.withColumn("rn", F.row_number().over(w_cell))
    assign = ranked.filter(F.col("rn") == 1).select("vec_id", "cell")
    probes = (
        ranked.filter(
            (F.col("vec_id") < IVF_PORTABLE_NQUERIES) & (F.col("rn") <= IVF_PORTABLE_NPROBE)
        )
        .select(F.col("vec_id").alias("query_id"), "cell")
    )
    cand = probes.join(assign, "cell").filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id", "vec_id"
    )
    q = dims.select(F.col("vec_id").alias("query_id"), "j", F.col("x").alias("qx"))
    v = dims.select("vec_id", "j", F.col("x").alias("vx"))
    d2 = F.col("qx") - F.col("vx")
    rerank = (
        cand.join(q, "query_id")
        .join(v, ["vec_id", "j"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum(d2 * d2).alias("dist"))
    )
    w_rank = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    return (
        rerank.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= IVF_PORTABLE_TOPK)
        .select("query_id", "vec_id", F.col("rn").cast("bigint").alias("rnk"))
    )


#: Portable k-means parameters: K=4 seeded from vec_ids 0..3, 2 Lloyd
#: iterations, corpus bounded to vec_id < 200.
KMEANS_PORTABLE_K = 4
KMEANS_PORTABLE_CAP = 200


@query(
    "sim_kmeans_portable",
    oracle=f"""
    WITH dims AS (
      SELECT vec_id, j,
             CAST(floor(CAST(embedding[j] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS x
      FROM embeddings, unnest(generate_series(1, len(embedding))) t(j)
      WHERE vec_id < {KMEANS_PORTABLE_CAP}
    ), c0 AS (
      SELECT vec_id AS cid, j, x AS c FROM dims WHERE vec_id < {KMEANS_PORTABLE_K}
    ), d1 AS (
      SELECT d.vec_id, c.cid, SUM((d.x - c.c) * (d.x - c.c)) AS dist
      FROM dims d JOIN c0 c ON c.j = d.j GROUP BY d.vec_id, c.cid
    ), a1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d1) WHERE rn = 1
    ), c1 AS (
      SELECT a.cid, d.j,
             CAST(CASE WHEN SUM(d.x) >= 0
                       THEN (2*SUM(d.x) + COUNT(*)) // (2*COUNT(*))
                       ELSE -((-2*SUM(d.x) + COUNT(*)) // (2*COUNT(*)))
                  END AS BIGINT) AS c
      FROM a1 a JOIN dims d ON d.vec_id = a.vec_id GROUP BY a.cid, d.j
    ), d2 AS (
      SELECT d.vec_id, c.cid, SUM((d.x - c.c) * (d.x - c.c)) AS dist
      FROM dims d JOIN c1 c ON c.j = d.j GROUP BY d.vec_id, c.cid
    ), a2 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d2) WHERE rn = 1
    )
    SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(vec_id) AS BIGINT) AS member_id_sum
    FROM a2 GROUP BY cid
    """,
)
def q_sim_kmeans_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations with EXACT portable arithmetic, oracled
    end-to-end: components quantized to integer micro-units, centroid
    means rounded half-away-from-zero in INTEGER arithmetic ((2S+n) div
    2n — no double quotient near a rounding midpoint can diverge
    between engines), every vector→centroid distance an integer sum of
    squared integer diffs (ties → min centroid id), so both engines
    reproduce the identical assignment trajectory. Output is
    integer-only (cluster size + member-id checksum) — the strongest
    value-check a float iterative algorithm admits. The production
    variant (``sim_kmeans_refine``) keeps its driver-collects-only-
    centroids topology and pytest inertia-monotonicity check; this
    query proves the assign/update ALGEBRA the float path can only
    invariant-check."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull()).filter(
        F.col("vec_id") < KMEANS_PORTABLE_CAP
    )
    dims = emb.select("vec_id", F.posexplode("embedding").alias("pos", "xr")).select(
        "vec_id",
        (F.col("pos") + 1).alias("j"),
        (F.floor(F.col("xr").cast("double") * 1000000 + F.lit(0.5))).alias("x"),
    )
    cent = dims.filter(F.col("vec_id") < KMEANS_PORTABLE_K).select(
        F.col("vec_id").alias("cid"), "j", F.col("x").alias("c")
    )
    w_assign = Window.partitionBy("vec_id").orderBy("dist", "cid")
    for _ in range(2):
        diff = F.col("x") - F.col("c")
        d = (
            dims.join(F.broadcast(cent), "j")
            .groupBy("vec_id", "cid")
            .agg(F.sum(diff * diff).alias("dist"))
        )
        assign = (
            d.withColumn("rn", F.row_number().over(w_assign))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid")
        )
        cent = (
            assign.join(dims, "vec_id")
            .groupBy("cid", "j")
            .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"))
            .select(
                "cid",
                "j",
                F.expr(
                    "CASE WHEN sx >= 0 THEN (2*sx + n) div (2*n)"
                    " ELSE -((-2*sx + n) div (2*n)) END"
                ).alias("c"),
            )
        )
    return assign.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("vec_id").alias("member_id_sum"),
    )


from ..session import pickle_module_by_value, pin# noqa: E402

# This module defines worker-side (Arrow/Pandas UDF) functions: ship them
# by value so executors never need the package on their own sys.path.
pickle_module_by_value(__name__)


@query(
    "rag_hybrid_rrf_fusion",
    oracle="""
    WITH tok AS MATERIALIZED (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        FROM documents
    ), dl AS (
        SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1
    ), stats AS (
        SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n_docs
        FROM dl
    ), tf AS (
        SELECT doc_id, word, COUNT(*) AS tf
        FROM tok WHERE word IN ('spark', 'join', 'filter') GROUP BY 1, 2
    ), df AS (
        SELECT word, COUNT(DISTINCT doc_id) AS df FROM tok
        WHERE word IN ('spark', 'join', 'filter') GROUP BY 1
    ), bm25 AS (
        SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS bm25_x10k FROM (
          SELECT tf.doc_id,
                 CAST(floor(
                     LN(1.0 + (CAST(s.n_docs - df.df AS DOUBLE) + 0.5)
                              / (CAST(df.df AS DOUBLE) + 0.5))
                     * ((tf.tf * 2.2)
                        / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))))
                     * 10000 + 0.5) AS BIGINT) AS term_score
          FROM tf JOIN df USING (word) JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN stats s
        ) GROUP BY doc_id
    ), lex AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25_x10k DESC, doc_id)
                 AS lex_rank
        FROM bm25 QUALIFY lex_rank <= 20
    ), q AS (
        SELECT vec_id,
               [CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                FOR x IN embedding] AS qv
        FROM embeddings
    ), qv AS (
        SELECT qv AS quv FROM q WHERE vec_id = 0
    ), dots AS (
        SELECT q.vec_id AS cid,
               list_sum([qv.quv[i + 1] * q.qv[i + 1] FOR i IN range(0, 64)]) AS dot
        FROM q, qv WHERE q.vec_id != 0
    ), vec AS (
        SELECT cid, ROW_NUMBER() OVER (ORDER BY dot DESC, cid) AS vec_rank
        FROM dots QUALIFY vec_rank <= 20
    ), fused AS (
        SELECT COALESCE(l.doc_id, v.cid) AS doc_id,
               l.lex_rank AS lex_rank, v.vec_rank AS vec_rank,
               CAST(COALESCE(CAST(1000000000 AS HUGEINT)
                             // CAST(60 + l.lex_rank AS HUGEINT), 0)
                    + COALESCE(CAST(1000000000 AS HUGEINT)
                               // CAST(60 + v.vec_rank AS HUGEINT), 0) AS BIGINT)
                 AS rrf_score
        FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.cid
    )
    SELECT doc_id, lex_rank, vec_rank, rrf_score
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
)
def q_rag_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion — the production RAG
    pattern: a lexical BM25 ranking (fixed query {spark, join, filter},
    exact-integer scores per ``text_bm25_topk``) and a dense dot-product
    ranking (query = vector 0, micro-quantized int64 dots per the
    blocked-GEMM rule) are fused with RRF(k=60): each list contributes
    ``floor(1e9 / (60 + rank))`` integer units, absent docs contribute
    zero, top-10 by fused score with doc_id tie-break.  Every rank and
    score is deterministic, so the oracle adjudicates the fused ranking
    itself — no recall floor needed.

    Scale shape: the two first-stage rankings are the already-audited
    inverted-index and MIPS access paths (each a partial top-k, both
    swappable for their ANN variants unchanged); fusion joins two
    O(k)-row lists — driver-free, shuffle-free at any corpus size."""
    from .embeddings import int_dot, microquant

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    w_all = Window.orderBy(F.desc("bm25_x10k"), F.asc("doc_id"))

    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word")
    )
    terms_filter = F.col("word").isin("spark", "join", "filter")
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.count("*").alias("n_docs"),
    )
    tf = tok.filter(terms_filter).groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dfreq = tok.filter(terms_filter).groupBy("word").agg(
        F.countDistinct("doc_id").alias("df")
    )
    bm25 = (
        tf.join(F.broadcast(dfreq), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(
                F.log(
                    1.0
                    + ((F.col("n_docs") - F.col("df")).cast("double") + 0.5)
                    / (F.col("df").cast("double") + 0.5)
                )
                * (
                    (F.col("tf") * 2.2)
                    / (F.col("tf") + 1.2 * (0.25 + 0.75 * (F.col("dl") / F.col("avgdl"))))
                )
                * 10000
                + 0.5
            )
            .cast("bigint")
            .alias("term_score"),
        )
        .groupBy("doc_id")
        .agg(F.sum("term_score").cast("bigint").alias("bm25_x10k"))
    )
    lex = (
        bm25.withColumn("lex_rank", F.row_number().over(w_all))
        .filter(F.col("lex_rank") <= 20)
        .select("doc_id", "lex_rank")
    )

    q = emb.select("vec_id", microquant().alias("qv"))
    query_vec = q.filter(F.col("vec_id") == 0).select(F.col("qv").alias("quv"))
    dots = (
        q.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(query_vec))
        .select(F.col("vec_id").alias("cid"), int_dot("quv", "qv", 64).alias("dot"))
    )
    vec = (
        dots.withColumn(
            "vec_rank", F.row_number().over(Window.orderBy(F.desc("dot"), F.asc("cid")))
        )
        .filter(F.col("vec_rank") <= 20)
        .select("cid", "vec_rank")
    )

    rrf = lambda r: F.coalesce(  # noqa: E731
        F.expr(f"cast(1000000000 as bigint) div (60 + {r})"), F.lit(0)
    )
    return (
        lex.join(vec, lex.doc_id == vec.cid, "full_outer")
        .select(
            F.coalesce("doc_id", "cid").alias("doc_id"),
            F.col("lex_rank").cast("bigint").alias("lex_rank"),
            F.col("vec_rank").cast("bigint").alias("vec_rank"),
            (rrf("lex_rank") + rrf("vec_rank")).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "sim_mmr_diversify",
    oracle="""
    WITH q AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ), rel AS MATERIALIZED (
      SELECT q.vec_id, q.qv,
             CAST(list_sum(list_transform(
                 list_zip(q.qv, (SELECT qv FROM q WHERE vec_id = 0)),
                 p -> p[1]*p[2])) AS BIGINT) AS rel
      FROM q WHERE q.vec_id <> 0
    ), short AS MATERIALIZED (
      -- rel IS NULL ⟺ the row's qv or the query vector qv0 is missing
      -- (NULL embedding, or vec_id 0 quarantined by the ingest gate) —
      -- the Spark side drops both via isNotNull + crossJoin-on-empty,
      -- so the shortlist must too (a retrieval against a nonexistent
      -- query vector returns nothing, not NULL-scored rows).
      SELECT vec_id, qv, rel FROM rel WHERE rel IS NOT NULL
      ORDER BY rel DESC, vec_id LIMIT 20
    ), sims AS MATERIALIZED (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
                                          p -> p[1]*p[2])) AS BIGINT) AS sim
      FROM short a JOIN short b ON a.vec_id <> b.vec_id
    ), s1 AS MATERIALIZED (
      SELECT 1 AS step, vec_id, 7 * rel AS mmr
      FROM short ORDER BY mmr DESC, vec_id LIMIT 1
    ), s2 AS MATERIALIZED (
      SELECT 2 AS step, c.vec_id, 7 * c.rel - 3 * MAX(s.sim) AS mmr
      FROM short c JOIN sims s ON s.va = c.vec_id
      WHERE s.vb IN (SELECT vec_id FROM s1)
        AND c.vec_id NOT IN (SELECT vec_id FROM s1)
      GROUP BY c.vec_id, c.rel ORDER BY mmr DESC, c.vec_id LIMIT 1
    ), sel2 AS MATERIALIZED (
      SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2
    ), s3 AS MATERIALIZED (
      SELECT 3 AS step, c.vec_id, 7 * c.rel - 3 * MAX(s.sim) AS mmr
      FROM short c JOIN sims s ON s.va = c.vec_id
      WHERE s.vb IN (SELECT vec_id FROM sel2)
        AND c.vec_id NOT IN (SELECT vec_id FROM sel2)
      GROUP BY c.vec_id, c.rel ORDER BY mmr DESC, c.vec_id LIMIT 1
    ), sel3 AS MATERIALIZED (
      SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM s3
    ), s4 AS MATERIALIZED (
      SELECT 4 AS step, c.vec_id, 7 * c.rel - 3 * MAX(s.sim) AS mmr
      FROM short c JOIN sims s ON s.va = c.vec_id
      WHERE s.vb IN (SELECT vec_id FROM sel3)
        AND c.vec_id NOT IN (SELECT vec_id FROM sel3)
      GROUP BY c.vec_id, c.rel ORDER BY mmr DESC, c.vec_id LIMIT 1
    ), sel4 AS MATERIALIZED (
      SELECT vec_id FROM sel3 UNION ALL SELECT vec_id FROM s4
    ), s5 AS MATERIALIZED (
      SELECT 5 AS step, c.vec_id, 7 * c.rel - 3 * MAX(s.sim) AS mmr
      FROM short c JOIN sims s ON s.va = c.vec_id
      WHERE s.vb IN (SELECT vec_id FROM sel4)
        AND c.vec_id NOT IN (SELECT vec_id FROM sel4)
      GROUP BY c.vec_id, c.rel ORDER BY mmr DESC, c.vec_id LIMIT 1
    )
    SELECT step, vec_id, CAST(mmr AS BIGINT) AS mmr_score FROM (
      SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
      UNION ALL SELECT * FROM s4 UNION ALL SELECT * FROM s5
    ) ORDER BY step
    """,
)
def q_sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the RAG diversification step after retrieval: from the
    top-20 shortlist for a fixed query vector (vec_id 0), greedily pick
    5 results maximizing lambda*relevance - (1-lambda)*max-similarity-
    to-already-picked, lambda=0.7.

    Exactness: relevance and pairwise similarity are int64 dots of
    micro-quantized vectors, and lambda is carried as the integer pair
    (7, 3) (scores scaled x10) — the greedy argmax chain is pure
    integer comparison on both engines, tie-broken by vec_id. The
    DuckDB oracle unrolls the 5 greedy steps as chained MATERIALIZED
    CTEs (the BPE-loop technique); step 1's empty-selection max-sim
    term is defined as 0 on both sides.

    Scale shape: retrieval (the expensive part) is the distributed
    TakeOrdered top-k every ANN query here uses; the greedy O(k^2)
    rerank runs executor-side in one applyInPandas over the k-row
    shortlist — k is a query parameter, never corpus-sized, the same
    bounded-rerank stance as sim_ivf_topk's exact rerank stage.
    """
    from .embeddings import int_dot, microquant

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    q = emb.select("vec_id", microquant().alias("qv"))
    qv0 = q.filter(F.col("vec_id") == 0).select(F.col("qv").alias("qv0"))
    short = (
        q.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv0))
        .select("vec_id", "qv", int_dot("qv", "qv0", 64).alias("rel"))
        .orderBy(F.desc("rel"), "vec_id")
        .limit(20)
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.array(pdf["qv"].tolist(), dtype=np.int64)
        rel = pdf["rel"].to_numpy(dtype=np.int64)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        sims = mat @ mat.T
        selected: list[int] = []
        remaining = list(range(len(pdf)))
        rows = []
        for step in range(1, 6):
            best = None
            for i in remaining:
                ms = max(int(sims[i][j]) for j in selected) if selected else 0
                score = 7 * int(rel[i]) - 3 * ms
                key = (-score, int(ids[i]))
                if best is None or key < best[0]:
                    best = (key, i, score)
            _, bi, bs = best
            selected.append(bi)
            remaining.remove(bi)
            rows.append((step, int(ids[bi]), bs))
        return pd.DataFrame(rows, columns=["step", "vec_id", "mmr_score"])

    return (
        short.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(greedy, schema="step int, vec_id bigint, mmr_score bigint")
        .orderBy("step")
    )


#: RBO(p=0.9, depth 10) exact-integer coefficients: 9^(d-1) * 10^(10-d)
#: * (2520/d) — 2520 = lcm(1..10) clears every per-depth division, so
#: each term (and the fused score) is an exact int64.
_RBO_COEFS = [(d, 9 ** (d - 1) * 10 ** (10 - d) * (2520 // d)) for d in range(1, 11)]


@query(
    "rag_rank_biased_overlap",
    oracle=f"""
    WITH tok AS MATERIALIZED (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        FROM documents
    ), dl AS (
        SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1
    ), stats AS (
        SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n_docs
        FROM dl
    ), tf AS (
        SELECT doc_id, word, COUNT(*) AS tf
        FROM tok WHERE word IN ('spark', 'join', 'filter') GROUP BY 1, 2
    ), df AS (
        SELECT word, COUNT(DISTINCT doc_id) AS df FROM tok
        WHERE word IN ('spark', 'join', 'filter') GROUP BY 1
    ), bm25 AS (
        SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS s FROM (
          SELECT tf.doc_id,
                 CAST(floor(
                     LN(1.0 + (CAST(s.n_docs - df.df AS DOUBLE) + 0.5)
                              / (CAST(df.df AS DOUBLE) + 0.5))
                     * ((tf.tf * 2.2)
                        / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))))
                     * 10000 + 0.5) AS BIGINT) AS term_score
          FROM tf JOIN df USING (word) JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN stats s
        ) GROUP BY doc_id
    ), lex AS (
        SELECT doc_id AS id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rl
        FROM bm25 QUALIFY rl <= 10
    ), q AS (
        SELECT vec_id,
               [CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                FOR x IN embedding] AS qv
        FROM embeddings
    ), dots AS (
        SELECT q.vec_id AS id,
               list_sum([qv.qv[i + 1] * q.qv[i + 1] FOR i IN range(0, 64)]) AS dot
        FROM q, (SELECT qv FROM q WHERE vec_id = 0) qv
        WHERE q.vec_id != 0
    ), vec AS (
        SELECT id, ROW_NUMBER() OVER (ORDER BY dot DESC, id) AS rv
        FROM dots QUALIFY rv <= 10
    ), matches AS (
        SELECT GREATEST(lex.rl, vec.rv) AS first_common_depth
        FROM lex JOIN vec USING (id)
    ), coefs(d, coef) AS (
        VALUES {", ".join(f"({d}, {c})" for d, c in _RBO_COEFS)}
    )
    SELECT c.d AS depth,
           CAST(COALESCE(COUNT(m.first_common_depth), 0) AS BIGINT) AS overlap_n,
           CAST(c.coef * COALESCE(COUNT(m.first_common_depth), 0) AS BIGINT)
             AS term_scaled
    FROM coefs c LEFT JOIN matches m ON m.first_common_depth <= c.d
    GROUP BY 1, c.coef ORDER BY 1
    """,
)
def q_rag_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-Biased Overlap (Webber et al. 2010, p=0.9, depth 10) between
    the lexical (BM25) and dense (int-dot) top-10 rankings — the
    standard top-weighted agreement measure for comparing retrieval
    systems, and the evaluation companion to [[rag_hybrid_rrf_fusion]]
    (RRF fuses the two lists; RBO quantifies how much they agree, which
    is what decides whether hybrid retrieval is worth its cost).

    Exactness: RBO = (1-p) * sum_d p^(d-1) * |S_d ∩ T_d| / d is a
    rational for rational p, so each depth term is carried as the exact
    int64 9^(d-1) * 10^(10-d) * (2520/d) * overlap_d (2520 = lcm(1..10)
    clears the division; the (1-p)/10^10/2520 normalizer is constant
    and left un-applied). Per-depth overlap derives from each matched
    id's FIRST common depth max(rank_lex, rank_dense) — one tiny join,
    no per-depth rescan. Both rankings reuse the established
    deterministic scores (BM25 exact ints, micro-quantized dots).

    Scale: both rankings are distributed TakeOrdered top-k; everything
    after runs on <= 10-row relations.
    """
    from .embeddings import int_dot, microquant
    from .text import q_text_bm25_topk

    lex = q_text_bm25_topk(spark, sf_dir).select(
        F.col("doc_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.desc("bm25_x10k"), F.asc("doc_id")))
        .alias("rl"),
    )
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    q = emb.select("vec_id", microquant().alias("qv"))
    qv0 = q.filter(F.col("vec_id") == 0).select(F.col("qv").alias("qv0"))
    vec = (
        q.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv0))
        .select(F.col("vec_id").alias("id"), int_dot("qv", "qv0", 64).alias("dot"))
        .orderBy(F.desc("dot"), "id")
        .limit(10)
        .select(
            "id",
            F.row_number().over(Window.orderBy(F.desc("dot"), F.asc("id"))).alias("rv"),
        )
    )
    matches = lex.join(vec, "id").select(
        F.greatest(F.col("rl"), F.col("rv")).alias("first_common_depth")
    )
    coefs = spark.createDataFrame(_RBO_COEFS, "d int, coef bigint")
    return (
        coefs.join(
            matches, matches.first_common_depth <= coefs.d, "left"
        )
        .groupBy(F.col("d").alias("depth"), "coef")
        .agg(F.count("first_common_depth").cast("bigint").alias("overlap_n"))
        .select(
            "depth",
            "overlap_n",
            (F.col("coef") * F.col("overlap_n")).cast("bigint").alias("term_scaled"),
        )
        .orderBy("depth")
    )
