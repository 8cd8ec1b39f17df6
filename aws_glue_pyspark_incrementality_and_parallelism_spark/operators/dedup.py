"""Deduplication operators (SURVEY §2.8 E1/E2) — exact, n-gram Jaccard,
MinHash+LSH, and SimHash, all over the ``documents`` table.

100 TB design stance:

* Exact dedup is a hash-aggregate on a fingerprint — one shuffle keyed
  by a uniformly-distributed hash, no skew by construction.
* Near-dup never compares all pairs. MinHash banding turns O(n²) into a
  shuffle keyed on (band_index, band_hash): only same-bucket docs meet.
  Candidate verification (exact Jaccard) touches candidate pairs only.
* The word-level Jaccard query restricts to a bounded id range because
  it IS the quadratic oracle — it exists to check the LSH path's math,
  not to run at scale.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.registry import query
from ..session import fan_out_compute, iterate, pin
from ..sources.io import load_table

#: MinHash parameters: 32 hashes = 8 bands × 4 rows. With threshold
#: t ≈ (1/b)^(1/r) = (1/8)^0.25 ≈ 0.59, pairs with Jaccard ≥ ~0.6 are
#: near-certain candidates.
MINHASH_K = 32
LSH_BANDS = 8
LSH_ROWS = 4
SHINGLE_N = 3

#: Row-block edge for the semdedup per-cell GEMM (r10, guide §5): a label
#: cell larger than this is processed in TILE×TILE dot blocks so one hot
#: cell (the MEGAKEY shape) costs O(TILE²) peak task memory, not O(n²).
#: 4096² int64 dots = 128 MiB/tile — comfortably inside a task's share.
_GEMM_TILE = 4096


def normalized_fingerprint(text: Column) -> Column:
    """Canonical-text fingerprint: lowercase, collapse all whitespace,
    md5. Portable across engines (md5 is md5 everywhere)."""
    return F.md5(F.regexp_replace(F.lower(text), r"\s+", " "))


def _tokens(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), r"\s+")


def shingle_rows(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """Exploded (doc_id, shingle) rows via explode(sequence) + slice +
    array_join — all codegen expressions (no array lambdas, which run
    interpreted; no window, which would shuffle and sort by doc). The
    whole shingling is a zero-shuffle map stage: ~10× faster than the
    earlier window-``lead`` formulation at sf0.1 and shuffle-free at any
    corpus size. A doc shorter than one shingle yields its whole token
    string (``greatest(len-n, 0)`` start set), preserving the old
    short-doc branch. Shingles are a multiset (MinHash needs only the
    min per permutation); use collect_set downstream when sets are
    needed."""
    toks = _tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("toks"))
    starts = F.sequence(F.lit(0), F.greatest(F.size("toks") - n, F.lit(0)))
    return base.select(
        "doc_id", "toks", F.explode(starts).alias("p")
    ).select(
        "doc_id",
        F.array_join(F.slice("toks", F.col("p") + 1, n), " ").alias("s"),
    )


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 exact dedup: canonical-fingerprint groupBy keeping the lowest
    doc_id (deterministic, unlike dropDuplicates' arbitrary winner).
    One shuffle on md5 — uniform keys, no skew, any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(normalized_fingerprint(F.col("text")).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id, unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS w
        FROM documents WHERE doc_id < 100
      ) raw_tok
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           ROUND(i.n_common / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.5
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 oracle path: exact word-set Jaccard via explode→self-join→count
    (the inverted-index trick: only docs sharing a token ever meet).
    Bounded to doc_id<100 — this is the quadratic ground truth the LSH
    path is checked against, not the scale path.

    The token relation is distinct on (doc_id, w) — not just
    array_distinct per row — so the query is invariant to duplicated
    input ROWS (the duplicate-key robustness corpus: doubled doc rows
    would otherwise double sizes and quadruple intersections, driving
    the Jaccard denominator |A|+|B|-|A∩B| to zero for identical docs).
    After the distinct, the denominator is |A∪B| >= 1 for any pair
    that shares a token, so the division cannot fault."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(_tokens(F.col("text")))).alias("w")
    ).distinct()
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = tok.alias("a")
    b = tok.alias("b")
    inter = (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common") / (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


#: Band buckets larger than this are chain-linearized instead of
#: all-paired (see the hot-band guard below). Never reached by the test
#: corpora — sized for the boilerplate mega-clusters of a web crawl.
LSH_BUCKET_CAP = 1000


def minhash_candidate_pairs(
    docs: DataFrame,
    bucket_cap: int = LSH_BUCKET_CAP,
    materialize: bool = True,
) -> DataFrame:
    """LSH candidate pairs (doc_a < doc_b): docs sharing at least one
    (band, band-hash) bucket. The only shuffles are the doc-id
    hash-aggregate and the band-hash join — this is the 100 TB near-dup
    path. Candidates are unverified; ``q_dedup_minhash_lsh`` verifies
    them by joining the exact pairs of ``exact_near_dup_pairs``.

    Shape matters here: shingles are EXPLODED once, then the 32 MinHash
    slots are 32 ``min()`` columns of one hash-aggregate. That keeps the
    whole signature computation inside whole-stage codegen — a
    per-slot array-lambda formulation (``array_min(transform(...))``)
    is semantically identical but runs interpreted (HOFs have no
    codegen) and is ~100× slower at corpus scale.
    """
    sh = shingle_rows(docs)
    # 32 plain min() columns -> pure codegen HashAggregate.
    #
    # Permutations re-mix ONE base string hash: m_i = xxhash64(h ⊕ c_i)
    # over the 8-byte long, instead of K string-concat hashes per
    # shingle. Each mix is a bijection on longs (xor then xxhash64), so
    # the MinHash guarantee holds, and the hottest expression of the
    # whole dedup path stops re-reading the shingle bytes K times.
    # (Plain h*a+b wrap-around mixing would be cheaper still, but ANSI
    # mode — Spark 4's default — raises on long overflow.)
    import random

    rng = random.Random(0x5EED)
    consts = [rng.randrange(1, 1 << 62) for _ in range(MINHASH_K)]
    h = F.xxhash64(F.col("s"))
    agg = sh.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.col("h").bitwiseXOR(F.lit(consts[i])))).alias(f"m{i}")
            for i in range(MINHASH_K)
        ],
    )
    bands_col = F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"m{b * LSH_ROWS + j}").cast("string")
                        for j in range(LSH_ROWS)
                    ],
                )
            )
            for b in range(LSH_BANDS)
        ]
    )
    banded = agg.select("doc_id", F.posexplode(bands_col).alias("band_idx", "band_hash"))
    # Hot-band (mega-bucket) guard: a bucket of m co-hashed docs emits
    # m²/2 pairs from the self-join, all on ONE shuffle task — at web
    # scale a boilerplate cluster (m in the millions) is both a skew
    # straggler and a quadratic blowup. Buckets above ``bucket_cap`` are
    # CHAIN-LINEARIZED instead: members sorted by doc_id each pair with
    # their predecessor (m-1 pairs, not m²/2; the per-bucket sort is
    # O(m log m) on the task that already owns the bucket's rows).
    # This is a documented APPROXIMATION, not a lossless rewrite: the
    # downstream transitive closure (dedup_components_keeper) runs over
    # VERIFIED pairs, so a hot-bucket member whose Jaccard with BOTH
    # chain neighbors is < 0.5 disconnects from that bucket's cluster
    # even if it would verify against some other member. A chain keeps
    # every member one hop from two candidates (vs one fixed
    # representative under star pairing), and the other LSH_BANDS-1
    # bands still offer independent routes, but pathological mixed
    # mega-buckets can lose recall — bounded output is the explicit
    # trade. The size aggregate reuses the join's own (band_idx,
    # band_hash) hash partitioning — no extra shuffle shape.
    sizes = banded.groupBy("band_idx", "band_hash").agg(
        F.count("*").alias("bucket_n")
    )
    sized = banded.join(sizes, ["band_idx", "band_hash"])
    small = sized.filter(F.col("bucket_n") <= bucket_cap)
    a = small.alias("a")
    b = small.alias("b")
    pairs_all = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    w_chain = Window.partitionBy("band_idx", "band_hash").orderBy("doc_id")
    pairs_chain = (
        sized.filter(F.col("bucket_n") > bucket_cap)
        .select("band_idx", "band_hash", "doc_id")
        .withColumn("prev_id", F.lag("doc_id").over(w_chain))
        .filter(F.col("prev_id").isNotNull())
        .select(F.col("prev_id").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    cands = pairs_all.unionByName(pairs_chain).dropDuplicates(["doc_a", "doc_b"])
    # The candidate relation is tiny (pairs that share a band), so it is
    # pinned once: a caller that reads it more than once does not re-run
    # the signature + band-join pipeline. (materialize=False keeps the
    # full lineage visible for plan-shape tests, which pin the band
    # equi-join skeleton the checkpoint hides.)
    if materialize:
        cands = cands.transform(pin)
    return cands


def exact_near_dup_pairs(docs: DataFrame) -> DataFrame:
    """ALL pairs with exact shingle-Jaccard ≥ 0.5, via the shingle
    inverted index (pairs meet only on a shared shingle — never a
    cartesian). This is the deterministic ground truth the LSH recall
    surface compares against; 3-word shingles are selective enough that
    the co-shingle join stays near-linear on real text. (At web scale
    a hot boilerplate shingle would need the same cap treatment as the
    LSH mega-bucket guard — this helper is the verification oracle, the
    LSH path is the 100 TB algorithm.)

    Optimization round 10 (guide §2.3/§2.4, r9 verdict task #4): the
    inverted index is MATERIALIZED as one aggregate —
    ``groupBy(s).collect_set(doc_id)`` — instead of a distinct + self
    join. The old shape ran the shingle explode + distinct pipeline
    three times (both join sides + the per-doc sizes) and shuffled the
    shingle relation for the distinct AND both join inputs; now the
    shingle rows shuffle ONCE (collect_set subsumes the distinct), the
    co-shingle pairs are generated in place from each posting list
    (sort_array gives strict doc_a < doc_b, exactly the old a.doc_id <
    b.doc_id join predicate over distinct rows), and the per-doc sizes
    are one explode over the SAME posting lists — the two consumers
    share the aggregate's exchange. NULL shingles (NULL-text docs) are
    dropped by collect_set exactly as the old equi-join never matched
    them; such docs also never produced inter rows, and their sizes
    rows were join-dead (only pair participants' sizes are read), so
    the emitted pairs are identical."""
    inv = (
        # s IS NOT NULL: the old a.s == b.s equi-join never matched NULL
        # shingles (NULL-text docs); groupBy would give NULLs one shared
        # group and silently pair them.
        shingle_rows(docs)
        .filter(F.col("s").isNotNull())
        .groupBy("s")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
    )
    sizes = (
        inv.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    pair_structs = F.expr(
        "flatten(transform(ids, (x, i) ->"
        " transform(slice(ids, i + 2, size(ids) - i - 1),"
        " y -> named_struct('doc_a', x, 'doc_b', y))))"
    )
    inter = (
        inv.filter(F.size("ids") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b")
    )


#: Recall floor for the LSH driver surface. Every true pair in the test
#: corpora has Jaccard ≥ 0.8, where 8×4 banding fires with probability
#: ≥ 1-(1-0.8⁴)⁸ ≈ 0.985 per pair — and the whole pipeline is
#: deterministic (fixed permutation seeds), so measured recall is a
#: constant per dataset (1.0 at sf0.01; ≥ 0.98 at sf0.1).
MINHASH_RECALL_FLOOR = 0.9

_MINHASH_SUMMARY_ORACLE = """
    WITH base AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, list_aggregate(toks[i:i+2], 'string_agg', ' ') AS s
      FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks)-2)) AS i
            FROM base WHERE len(toks) >= 3)
      UNION
      SELECT doc_id, array_to_string(toks, ' ') AS s FROM base WHERE len(toks) < 3
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
           TRUE AS recall_ok, TRUE AS precision_ok
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.5
    """


@query("dedup_minhash_lsh", oracle=_MINHASH_SUMMARY_ORACLE)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH with a deterministic driver surface: runs the full
    xxhash64 candidate path (``minhash_candidate_pairs``) AND the exact
    inverted-index ground truth (``exact_near_dup_pairs``) in one job,
    verifies each candidate by joining it to the ground truth, then
    emits one row — ``n_true`` (exact count of Jaccard ≥ 0.5 pairs,
    oracle-exact), ``recall_ok`` (LSH found ≥ MINHASH_RECALL_FLOOR of
    them) and ``precision_ok`` (every LSH-verified pair is a true pair —
    exact verification makes this structural). The approx-operator oracle
    pattern: hash internals stay unconstrained, the invariants are
    pinned. Pair-level values are oracled in
    ``dedup_minhash_portable``."""
    # r9 (guide §2.5): fan the raw single-row-group scan out on doc_id
    # so BOTH branches' shingle explode + hash kernels (the exact
    # inverted-index truth and the 32-slot MinHash aggregate) run at
    # cluster parallelism instead of one scan task each; the two
    # branches share the one fan-out exchange via ReuseExchange.
    docs = fan_out_compute(load_table(spark, sf_dir, "documents"), "doc_id")
    # A candidate's exact verification IS membership in the exact
    # ground-truth relation this query computes anyway (Jaccard over
    # distinct shingle rows), so verified-found = candidates ∩ truth
    # and no second shingling pass is needed.
    # (Measured, r10: a lazy localCheckpoint of truth_pairs — RDD-level
    # sharing instead of the duplicated subtree — was ~35% SLOWER
    # end-to-end: AQE stage reuse already dedups the identical exchange
    # subtrees at runtime, and the checkpoint serializes work the two
    # branches otherwise overlap. Ledgered negative; keep the plain
    # shared subplan.)
    truth_pairs = exact_near_dup_pairs(docs)
    truth = truth_pairs.withColumn("t", F.lit(1))
    found = (
        minhash_candidate_pairs(docs)
        .join(truth_pairs, ["doc_a", "doc_b"])
        .withColumn("f", F.lit(1))
    )
    j = truth.join(found, ["doc_a", "doc_b"], "full")
    # count, not sum: over zero pairs it reads 0, so the flags hold
    # vacuously (a sum would be NULL).
    return j.agg(
        F.count("t").alias("n_true"),
        F.count(F.when(F.col("t").isNotNull() & F.col("f").isNotNull(), 1)).alias("n_hit"),
        F.count(F.when(F.col("t").isNull(), 1)).alias("n_extra"),
    ).select(
        "n_true",
        (F.col("n_hit") >= F.lit(MINHASH_RECALL_FLOOR) * F.col("n_true")).alias("recall_ok"),
        (F.col("n_extra") == 0).alias("precision_ok"),
    )


def _winnow_grams(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, h) k-gram hash rows — the winnowing input stream.
    Zero-shuffle map stage (explode(sequence) + slice + xxhash64)."""
    toks = _tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= k)
    starts = F.sequence(F.lit(0), F.size("toks") - k)
    return base.select("doc_id", "toks", F.explode(starts).alias("pos")).select(
        "doc_id",
        "pos",
        F.xxhash64(F.array_join(F.slice("toks", F.col("pos") + 1, k), " ")).alias("h"),
    )


@query(
    "dedup_winnow_fingerprints",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split_regex(lower(trim(text)), '\\s+')) - 3 AS BIGINT)
             AS n_positions,
           TRUE AS bounds_ok
    FROM documents
    WHERE len(string_split_regex(lower(trim(text)), '\\s+')) >= 4
    """,
)
def q_dedup_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2/E4 rolling-hash fingerprinting with a deterministic driver
    surface. Winnowing (k=4, w=5) guarantees — for ANY hash function —
    that the selected positions hit every window of w consecutive
    k-grams: the w disjoint frames starting at 0, w, 2w, … each select a
    distinct position, so ⌈P/w⌉ ≤ |selected| ≤ P for P k-gram
    positions. The surface emits the exact position count (P = tokens −
    k + 1, oracle-computable) and pins those structural bounds; the
    xxhash64-specific fingerprint VALUES are oracled bit-for-bit in the
    portable twin ``dedup_winnow_portable``."""
    from pyspark.sql.window import Window as W

    k, w = 4, 5
    docs = load_table(spark, sf_dir, "documents")
    grams = _winnow_grams(docs, k)
    frame = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    sel = grams.select(
        "doc_id", F.min(F.struct("h", "pos")).over(frame)["pos"].alias("sel_pos")
    ).distinct()
    n_sel = sel.groupBy("doc_id").agg(F.count("*").alias("n_sel"))
    n_pos = grams.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n_positions"))
    return n_pos.join(n_sel, "doc_id").select(
        "doc_id",
        "n_positions",
        (
            (F.col("n_sel") >= F.ceil(F.col("n_positions") / F.lit(w)))
            & (F.col("n_sel") <= F.col("n_positions"))
        ).alias("bounds_ok"),
    )


def _simhash_vote_agg(tok: DataFrame, keys: list[str]) -> DataFrame:
    """The SimHash vote kernel, shared by ``simhash_frame`` and the
    fused invariant query ``dedup_simhash`` so the two cannot drift:
    given a token-hash frame (*keys, h), aggregate the 64 per-bit
    ones-counts per key group and fold them into the majority-vote
    fingerprint column ``fp``.

    The ±1 vote is algebra, not a per-row branch: Σ±1 over n tokens
    equals 2·(ones count) − n, so vote_b > 0 ⟺ 2·c_b > n. Summing the
    raw bit (one shift+and, no CASE) and carrying a single COUNT(*)
    halves the per-row aggregate work vs the earlier SUM(CASE ±1)
    formulation (measured 3.0 s → 1.6 s per pass at sf0.1, bit-identical
    fingerprints). Counters are full bigints — no per-doc token-count
    ceiling, unlike packed-lane tricks.
    """
    counts = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"c{b}")
        for b in range(64)
    ]
    agg = tok.groupBy(*keys).agg(F.count("*").alias("n"), *counts)
    fp = reduce(
        lambda acc, b: acc.bitwiseOR(
            F.shiftleft(
                F.when(F.col(f"c{b}") * 2 > F.col("n"), 1).otherwise(0).cast("long"), b
            )
        ),
        range(64),
        F.lit(0).cast("long"),
    )
    return agg.select(*keys, fp.alias("fp"))


def simhash_frame(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document (Charikar '02): hash each token,
    per-bit majority vote of ±1, pack sign bits into a long.

    Shaped as explode → hash-aggregate with 64 codegen'd bit-count
    columns — NOT per-row array lambdas: higher-order functions are
    interpreted, while this whole pipeline stays inside whole-stage
    codegen and combines map-side. One shuffle on the doc id. The vote
    kernel itself lives in ``_simhash_vote_agg``.
    """
    tok = docs.select(F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("t")).select(
        F.col(id_col), F.xxhash64("t").alias("h")
    )
    return _simhash_vote_agg(tok, [id_col]).select(
        F.col(id_col), F.col("fp").alias("simhash")
    )


@query(
    "dedup_simhash",
    oracle="""
    SELECT doc_id, TRUE AS order_invariant_ok, TRUE AS scale_invariant_ok
    FROM documents
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 SimHash: per-doc 64-bit locality-sensitive fingerprint.
    Near-dups are pairs within small Hamming distance; bucketing on
    16-bit chunks (pigeonhole: distance ≤3 ⇒ one exact chunk match)
    makes the pair search a hash join at scale.

    Driver surface: xxhash64 bits aren't SQL-portable, so the query
    pins two algebraic invariants of the majority-vote construction
    that hold for ANY hash — the fingerprint is a function of the token
    MULTISET (reversing token order must not change it) and of the vote
    SIGNS (doubling the document doubles every vote, so it must not
    change either). Both checks run the full explode→64-vote aggregate
    pipeline end-to-end on transformed copies of the corpus. The exact
    fingerprint VALUES are oracled bit-for-bit in the portable twin
    ``dedup_simhash_portable``; Hamming-locality is asserted in
    pytest."""
    docs = load_table(spark, sf_dir, "documents")
    # The three corpus copies (base / token-reversed / doubled) ride ONE
    # pipeline as a tagged union: each copy still runs the full
    # tokenize → explode → hash → 64-vote aggregate end-to-end (the
    # invariant check stays honest — the transformed TEXT is what gets
    # re-tokenized), but three separate deep pipelines + two joins
    # collapse into one explode, one (doc_id, tag) vote aggregate and
    # one pivot — 3 shuffles → 2, measured 4.2 s → 2.1 s at sf0.1 and
    # far fewer sequential stages under suite concurrency. The vote
    # aggregate IS the library kernel (`_simhash_vote_agg`, shared with
    # `simhash_frame`, whose Hamming locality pytest pins) — keyed on
    # (doc_id, tag) instead of doc_id, so drift is impossible by
    # construction.
    tagged = (
        docs.select(F.lit(0).alias("tag"), "doc_id", "text")
        .unionByName(
            docs.select(
                F.lit(1).alias("tag"),
                "doc_id",
                F.array_join(F.reverse(_tokens(F.col("text"))), " ").alias("text"),
            )
        )
        .unionByName(
            docs.select(
                F.lit(2).alias("tag"),
                "doc_id",
                F.concat_ws(" ", F.col("text"), F.col("text")).alias("text"),
            )
        )
    )
    # r9 (guide §2.4/§2.5): hash-repartition the tagged union on the
    # vote key BEFORE tokenize/explode — the single-row-group scans gave
    # the explode + 64-bit-count partial aggregate ONE task per branch,
    # and the exchange it replaces (ENSURE_REQUIREMENTS after the
    # partial agg) carried 66 aggregate columns where this one carries
    # the raw text rows. Keyed on (doc_id, tag) = the vote aggregate's
    # grouping key, so the downstream groupBy reuses this partitioning
    # and the post-explode shuffle disappears. No-op at scan parallelism
    # ≥ cluster parallelism (the 100 TB case).
    tok = fan_out_compute(tagged, "doc_id", "tag").select(
        "tag", "doc_id", F.explode(_tokens(F.col("text"))).alias("t")
    ).select("tag", "doc_id", F.xxhash64("t").alias("h"))
    fps = _simhash_vote_agg(tok, ["doc_id", "tag"])
    wide = fps.groupBy("doc_id").agg(
        F.max(F.when(F.col("tag") == 0, F.col("fp"))).alias("simhash"),
        F.max(F.when(F.col("tag") == 1, F.col("fp"))).alias("simhash_rev"),
        F.max(F.when(F.col("tag") == 2, F.col("fp"))).alias("simhash_dbl"),
    )
    # Inner-join semantics of the unfused form: a NULL-text doc has no
    # tokens in the base/reversed lanes but DOES tokenize in the doubled
    # lane (concat_ws skips NULLs → "" → one empty token), so require
    # all three fingerprints — exactly the rows the old 3-way inner join
    # kept.
    return wide.filter(
        F.col("simhash").isNotNull()
        & F.col("simhash_rev").isNotNull()
        & F.col("simhash_dbl").isNotNull()
    ).select(
        "doc_id",
        (F.col("simhash") == F.col("simhash_rev")).alias("order_invariant_ok"),
        (F.col("simhash") == F.col("simhash_dbl")).alias("scale_invariant_ok"),
    )


#: Round cap of the propagate+jump loop; path halving converges in
#: O(log diameter) rounds.
CC_MAX_ROUNDS = 15

#: Edge-count ceiling for the single-task union-find finish (r10). Two
#: regimes, the classic MapReduce-CC design (Kiveris et al. 2014,
#: "Connected Components in MapReduce and Beyond", §"finish on one
#: machine when the graph fits"): below this many (symmetrized) edges
#: the whole active subgraph fits ONE executor task, so the exact
#: union-find replaces ~⌈log d⌉+1 propagate+jump JOBS whose cost at
#: converged-graph sizes is pure scheduler/checkpoint latency (~0.5-1.5 s
#: per job). Cost at the cap is far more than the 32 MB of int64 pairs:
#: the DSU loop walks Python ints, so ``.tolist()`` boxes about 4M of
#: them (168 MB measured for a random 2²¹-edge graph, plus 41 MB for
#: the ``parent`` list over its 1M nodes) and the loop ran 2.9 s of
#: single-task Python time on a shared 4-core VM. Re-measure before
#: raising the cap. Above it, the iterative path runs unchanged — at
#: 100 TB a billion-edge near-dup graph never sees the local regime.
#: The count rides the sym checkpoint's own materialization job via an
#: Observation (no extra action).
_CC_LOCAL_EDGE_MAX = 1 << 21


def _cc_local_union_find(pdf):
    """Exact union-find over one task's worth of symmetrized edges;
    returns (doc_id, comp) for every edge-touching node with comp = the
    component's MIN node id — precisely the fixpoint min-label
    propagation converges to, for any id type whose pandas/numpy sort
    order matches Spark's (int64s trivially; strings because UTF-8 byte
    order preserves code-point order)."""
    import numpy as np
    import pandas as pd

    a = pdf["doc_a"].to_numpy()
    b = pdf["doc_b"].to_numpy()
    nodes, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    parent = list(range(len(nodes)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    # np.unique sorts ascending, so a smaller DSU index IS a smaller
    # node id: union-by-min-index makes every root the component min.
    for x, y in zip(idx[: len(a)].tolist(), idx[len(a) :].tolist()):
        rx, ry = find(x), find(y)
        if rx < ry:
            parent[ry] = rx
        elif ry < rx:
            parent[rx] = ry
    roots = np.fromiter((find(i) for i in range(len(nodes))), dtype=np.int64)
    return pd.DataFrame({"doc_id": nodes, "comp": nodes[roots]})


def connected_components(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Connected components by min-label propagation: every node starts
    labeled with its own id; each round takes the min label over
    neighbors, then POINTER-JUMPS (path halving: relabel to the label's
    label); fixpoint = component id (the component's minimum node).

    The iterative-join pattern at corpus scale: per round one join
    edges⋈labels + one min-aggregate + one labels⋈labels jump join.
    Plain propagation alone needs O(component diameter) rounds — fine
    for shallow near-dup clusters, quadratic-feeling on the long chains
    a dense threshold graph grows; the jump step cuts that to
    O(log diameter) (the Hash-to-Min idea, cf. Rastogi et al. '12 /
    large-star–small-star). Each round is one pinned job of
    ``session.iterate``, at most ``CC_MAX_ROUNDS``. ``nodes``/``edges``
    columns: (doc_id), (doc_a, doc_b); ids are integral (the loop's
    convergence signature is their exact sum).

    Two scale guards, both essential when edges come from an expensive
    upstream (blocked GEMM / LSH verification):

    * the symmetrized edge set is materialized ONCE
      (``localCheckpoint``) — without it every iteration would re-run
      the whole pair-generation pipeline; its row count rides that same
      job (Observation) and routes small graphs (≤ _CC_LOCAL_EDGE_MAX
      edges) to a single exact union-find task instead of the loop —
      the two-regime design of Kiveris et al. 2014;
    * only nodes that touch an edge iterate. In a near-dup graph almost
      every doc is isolated (its label can never change — it has no
      neighbors), so the loop's joins run over the edge-touching
      minority and the isolated majority is unioned back at the end."""
    from pyspark.sql import Observation

    sym_obs = Observation()
    sym = (
        edges.select("doc_a", "doc_b")
        .union(
            edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .observe(sym_obs, F.count(F.lit(1)).alias("n"))
        .transform(pin)
    )
    if sym_obs.get["n"] <= _CC_LOCAL_EDGE_MAX:
        # Small-graph regime (r10, see _CC_LOCAL_EDGE_MAX): one exact
        # union-find task instead of ~⌈log d⌉+1 propagate+jump jobs.
        # Executor-side (applyInPandas over a constant group), NOT a
        # driver collect; output is identical to the converged loop
        # below — both are "comp = component's min node id".
        dt = dict(edges.select("doc_a", "doc_b").dtypes)["doc_a"]
        labels = (
            sym.withColumn("_g", F.lit(1))
            .groupBy("_g")
            .applyInPandas(_cc_local_union_find, schema=f"doc_id {dt}, comp {dt}")
        )
        isolated_l = nodes.select("doc_id").join(
            sym.select(F.col("doc_a").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        )
        return labels.unionByName(isolated_l.withColumn("comp", F.col("doc_id")))
    active = sym.select(F.col("doc_a").alias("doc_id")).distinct()

    def _round(lbl: DataFrame) -> DataFrame:
        """One propagate+jump round over (doc_id, comp)."""
        neighbor_min = (
            sym.join(
                lbl.select(
                    F.col("doc_id").alias("n_id"), F.col("comp").alias("n_comp")
                ),
                sym.doc_b == F.col("n_id"),
            )
            .groupBy("doc_a")
            .agg(F.min("n_comp").alias("nmin"))
        )
        stepped = (
            lbl.join(neighbor_min, lbl.doc_id == neighbor_min.doc_a, "left")
            .select(
                "doc_id",
                F.least(F.col("comp"), F.coalesce("nmin", "comp")).alias("comp"),
            )
        )
        # Path halving: comp <- comp's comp. Labels are always node ids
        # of the active set, so the self-join resolves; each round the
        # pointer chains halve, turning O(d) convergence into O(log d).
        lut = stepped.select(
            F.col("doc_id").alias("c_id"), F.col("comp").alias("c_comp")
        )
        return (
            stepped.join(lut, stepped.comp == lut.c_id, "left")
            .select(
                "doc_id",
                F.least(F.col("comp"), F.coalesce("c_comp", "comp")).alias("comp"),
            )
        )

    # Labels only fall and the node set is fixed, so an unchanged exact
    # label total means no label moved.
    labels = iterate(
        active.withColumn("comp", F.col("doc_id")),
        _round,
        [F.sum(F.col("comp").cast("decimal(38,0)"))],
        CC_MAX_ROUNDS,
    )
    isolated = nodes.select("doc_id").join(active, "doc_id", "left_anti")
    return labels.unionByName(isolated.withColumn("comp", F.col("doc_id")))


@query(
    "dedup_components_keeper",
    oracle="""
    WITH RECURSIVE tok AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id, unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS w
        FROM documents WHERE doc_id < 100
      ) raw_tok
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT i.doc_a, i.doc_b FROM inter i
      JOIN sizes sa ON i.doc_a = sa.doc_id
      JOIN sizes sb ON i.doc_b = sb.doc_id
      WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.5
    ), sym AS (
      SELECT doc_a, doc_b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach(src, dst) AS (
      SELECT doc_id, doc_id FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 100)
      UNION
      SELECT r.src, s.doc_b FROM reach r JOIN sym s ON r.dst = s.doc_a
    )
    SELECT MIN(dst) AS component, src AS doc_id
    FROM reach GROUP BY src
    """,
)
def q_dedup_components_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: near-dup PAIRS are not enough to
    dedup a corpus — transitive chains (A~B, B~C) must collapse to one
    keeper per connected component. Spark side: iterative min-label
    propagation over the Jaccard≥0.5 pair graph (bounded to doc_id<100,
    matching the exact-oracle pair query). Oracle: DuckDB recursive CTE
    computing true transitive closure. Keeper = the component id (min
    doc_id), the same deterministic winner dedup_exact keeps."""
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    nodes = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id")
        .distinct()
    )
    return connected_components(pairs, nodes).select(
        F.col("comp").alias("component"), "doc_id"
    )


@query(
    "dedup_embedding_components",
    oracle="""
    WITH RECURSIVE pairs AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.35
    ), sym AS (
      SELECT doc_a, doc_b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach(src, dst) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT r.src, s.doc_b FROM reach r JOIN sym s ON r.dst = s.doc_a
    )
    SELECT src AS vec_id, MIN(dst) AS component
    FROM reach GROUP BY src
    """,
)
def q_dedup_embedding_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) near-dup dedup end-to-end: cosine ≥
    0.35 pairs become edges, connected components collapse transitive
    chains (A~B, B~C ⇒ one cluster), keeper = component id (min
    vec_id) — the embedding twin of ``dedup_components_keeper``.

    Scale stance: edges come from the blocked-GEMM all-pairs kernel
    (O(n·dim) shuffle, FLOPs spread over block-pair tasks) — swap in
    the IVF/LSH candidate path when approximate recall is acceptable —
    and components from min-label propagation; nothing materializes a
    quadratic row set. Oracle: DuckDB list_cosine_similarity pairs +
    recursive-CTE transitive closure (threshold slack vs the corpus
    cosine distribution keeps the float edge set stable — contrast
    ``dedup_semdedup_purge``, which compares in exact integer
    arithmetic on both engines)."""
    from .similarity import q_sim_cosine_pairs_blocked

    edges = q_sim_cosine_pairs_blocked(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    nodes = (
        load_table(spark, sf_dir, "embeddings")
        .select(F.col("vec_id").alias("doc_id"))
        .distinct()
    )
    return connected_components(edges, nodes).select(
        F.col("doc_id").alias("vec_id"), F.col("comp").alias("component")
    )


@query(
    "dedup_semdedup_purge",
    oracle="""
    WITH RECURSIVE sized AS (
      SELECT vec_id, label,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS q,
             list_sum(list_transform(embedding,
                      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                         * CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))) AS ss
      FROM embeddings
    ), dots AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
             list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2])) AS dot,
             a.ss AS ssa, b.ss AS ssb
      FROM sized a JOIN sized b
        ON a.label = b.label AND a.vec_id < b.vec_id
    ), pairs AS (
      SELECT doc_a, doc_b FROM dots
      WHERE ssa > 0 AND ssb > 0 AND dot >= 0
        AND 400 * CAST(dot AS HUGEINT) * dot >= 49 * CAST(ssa AS HUGEINT) * ssb
    ), sym AS (
      SELECT doc_a, doc_b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach(src, dst) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT r.src, s.doc_b FROM reach r JOIN sym s ON r.dst = s.doc_a
    ), comp AS (
      SELECT src AS vec_id, MIN(dst) AS keeper FROM reach GROUP BY src
    )
    SELECT e.label, c.vec_id, c.keeper
    FROM comp c JOIN embeddings e ON c.vec_id = e.vec_id
    WHERE c.vec_id <> c.keeper
    """,
)
def q_dedup_semdedup_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-scoped semantic purge (Abbas et al. 2023):
    compare embeddings only WITHIN their cluster (here the precomputed
    ``label`` column stands in for the k-means cell id), collapse
    cosine ≥ 0.35 groups transitively, and emit the PURGE MANIFEST —
    every vector to drop with its kept representative (the group's min
    vec_id). This is the deliberately-approximate production shape:
    cross-cluster duplicates are out of scope by design, which turns the
    global O(n²) comparison into Σ O(m_cell²) with m bounded by the
    clustering — at 100 TB the cells come from the IVF coarse quantizer
    (``sim_label_centroids``) and each cell's pair kernel runs the
    blocked-GEMM path; the cosine here is the exact small-cell kernel.
    Contrast ``dedup_embedding_components``, the global-recall variant
    over the same corpus.

    The cosine ≥ 0.35 threshold is evaluated in EXACT integer
    arithmetic on both engines: components quantized to micro-units
    (floor(x·10⁶+0.5)), then cos ≥ 0.35 ⟺ dot ≥ 0 ∧ 400·dot² ≥
    49·‖a‖²·‖b‖² (0.35² = 49/400 exactly; the square comparison runs in
    Python big-ints here (object dtype), HUGEINT in DuckDB — both
    exact). A float pair within an ulp of the threshold therefore
    cannot become an edge on one engine only, which matters because a
    single flipped edge changes the transitive closure discretely.

    Optimization round 9 (guide §4.2): the per-cell pair kernel IS the
    blocked GEMM this docstring always promised for the 100 TB path.
    The old form joined the cell to itself and evaluated the dot as
    ``aggregate(zip_with(...))`` per pair — higher-order functions run
    INTERPRETED (no codegen), and ~200k pairs × 64 dims cost 2.5 s of
    the query's 7.8 s at sf0.1. Now each label cell ships its quantized
    matrix across the Arrow boundary ONCE (O(n·dim) transfer, not
    O(pairs·dim)) and one numpy int64 GEMM produces every pairwise dot
    exactly (|dot| ≤ dim·10¹² ≪ 2⁶³); the wider-than-64-bit threshold
    comparison runs in object-dtype Python ints, bit-identical to the
    old decimal(38) comparison. Quantization stays JVM-side, so q/ss
    values are unchanged; rows the old pair filter could never keep
    (NULL q, NULL components, ss ≤ 0) are dropped before the boundary,
    and unequal-length vectors — whose dots were NULL under zip_with's
    NULL padding and thus filtered — pair only within length groups."""
    emb = load_table(spark, sf_dir, "embeddings")
    quant = F.transform(
        F.col("embedding"), lambda x: F.floor(x.cast("double") * 1000000 + 0.5)
    )
    sized = emb.select("label", "vec_id", quant.alias("q")).select(
        "label",
        "vec_id",
        "q",
        F.aggregate(
            F.col("q"), F.lit(0).cast("bigint"), lambda s, x: s + x * x
        ).alias("ss"),
    )

    # label must be non-NULL: the old self-join on `label` was an equi
    # join, so NULL-label rows never paired — groupBy would give NULLs
    # their own group, silently un-dropping them.
    edges = (
        sized.filter(
            F.col("label").isNotNull() & F.col("q").isNotNull() & (F.col("ss") > 0)
        )
        .groupBy("label")
        .applyInPandas(_semdedup_cell_edges, schema="doc_a bigint, doc_b bigint")
    )
    comp = connected_components(edges, emb.select(F.col("vec_id").alias("doc_id")))
    purged = comp.filter(F.col("doc_id") != F.col("comp"))
    return purged.join(emb.select("vec_id", "label"), purged.doc_id == F.col("vec_id")).select(
        "label", "vec_id", F.col("comp").alias("keeper")
    )


def _semdedup_cell_edges(pdf):
    """Per-cell exact-threshold pair kernel for [[dedup_semdedup_purge]]
    (module-level so the tiling is unit-testable; shipped by value via
    ``pickle_module_by_value`` below)."""
    import numpy as np
    import pandas as pd

    out_a: list = []
    out_b: list = []

    def _tile_hits(D, ssa, ssb):
        """Exact >=-threshold mask for one dot tile, without object
        math on the full tile (r10, guide §5): dot and ss each fit
        float64 EXACTLY (|dot| <= dim*1e12 < 2^53), so a float64
        screen with a relative margin decides all but the few
        entries within rounding distance of 400*dot^2 == 49*ssa*ssb;
        only those borderline entries pay the exact big-int compare
        (the old behavior for every pair)."""
        lhs = 400.0 * np.square(D, dtype=np.float64)
        rhs = 49.0 * (ssa[:, None] * ssb[None, :])
        hit = (D >= 0) & (lhs >= rhs * (1 + 1e-9))
        border = (D >= 0) & ~hit & (lhs >= rhs * (1 - 1e-9))
        for i, j in zip(*np.nonzero(border)):
            d = int(D[i, j])
            if 400 * d * d >= 49 * int(ssa[i]) * int(ssb[j]):
                hit[i, j] = True
        return hit

    ok = pdf[pdf["q"].map(lambda v: not any(x is None for x in v))]
    for _, grp in ok.groupby(ok["q"].map(len)):
        if len(grp) < 2:
            continue
        grp = grp.sort_values("vec_id")
        ids = grp["vec_id"].to_numpy()
        Q = np.stack(grp["q"].to_numpy()).astype(np.int64)
        ss = grp["ss"].to_numpy().astype(np.float64)  # exact: ss < 2^53
        n = len(ids)
        # r10 (guide §5, r9 verdict task #6): tile the GEMM so a
        # mega-cell (one hot label owning most of the corpus) costs
        # O(tile²) peak memory per task instead of materializing the
        # full n×n dot/pair matrices at once. Tiles walk the upper
        # triangle only; per-tile masks reproduce triu(k=1) exactly.
        T = _GEMM_TILE
        for i0 in range(0, n, T):
            i1 = min(i0 + T, n)
            for j0 in range(i0, n, T):
                j1 = min(j0 + T, n)
                D = Q[i0:i1] @ Q[j0:j1].T  # exact int64
                hit = _tile_hits(D, ss[i0:i1], ss[j0:j1])
                if i0 == j0:
                    hit = np.triu(hit, k=1)
                ia, ib = np.nonzero(hit)
                # strict doc_a < doc_b BY VALUE, exactly the old pair
                # filter: duplicate vec_ids (doubled fact rows) must
                # not emit (x, x) self-loops the join never produced
                ga, gb = ids[ia + i0], ids[ib + j0]
                ne = ga != gb
                out_a.extend(int(x) for x in ga[ne])
                out_b.extend(int(x) for x in gb[ne])
    return pd.DataFrame({"doc_a": out_a, "doc_b": out_b}, dtype="int64")


#: Non-overlapping token-window size for exact chunk dedup (the practical
#: Spark formulation of exact-substring training-data dedup, cf. Lee et
#: al. 2022 "Deduplicating Training Data Makes Language Models Better":
#: suffix-array substring matches become fixed-window exact matches).
CHUNK_TOKENS = 16


@query(
    "dedup_chunk_dupe_ratio",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents
    ), chunks AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(t, i * {CHUNK_TOKENS} + 1,
                                            (i + 1) * {CHUNK_TOKENS}), ' ')) AS h
      FROM toks, unnest(range(len(t) // {CHUNK_TOKENS})) AS g(i)
    ), freq AS (
      SELECT h, COUNT(*) AS c FROM chunks GROUP BY h
    )
    SELECT c.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN f.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           ROUND(SUM(CASE WHEN f.c > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
             AS dup_ratio
    FROM chunks c JOIN freq f USING (h)
    GROUP BY c.doc_id
    """,
)
def q_dedup_chunk_dupe_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact chunk-level duplication scoring: split every document into
    non-overlapping {CHUNK_TOKENS}-token windows, hash each window, and
    score each doc by the fraction of its windows whose exact content
    recurs anywhere in the corpus — the filterable signal behind
    exact-substring dedup (docs above a threshold get trimmed/dropped
    before training).

    Shape: shuffle-free chunking (explode(sequence) + slice, same
    codegen pattern as the shingle builders above), one hash-aggregate
    over chunk hashes (map-side combined), one shuffle join back on the
    hash, one per-doc aggregate. No driver-side state; at 100 TB the
    chunk-frequency relation is the only wide intermediate and it is
    ~1/{CHUNK_TOKENS} the corpus token count."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_full = F.floor(F.size(toks) / CHUNK_TOKENS).cast("int")
    chunks = docs.filter(n_full >= 1).select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_full - 1)).alias("i"),
        toks.alias("t"),
    ).select(
        "doc_id",
        F.md5(
            F.array_join(
                F.slice(F.col("t"), F.col("i") * CHUNK_TOKENS + 1, CHUNK_TOKENS),
                " ",
            )
        ).alias("h"),
    )
    freq = chunks.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    return (
        chunks.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 4).alias("dup_ratio"),
        )
    )


@query(
    "dedup_components_keep_best",
    oracle="""
    WITH RECURSIVE tok AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id, unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS w
        FROM documents WHERE doc_id < 100
      ) raw_tok
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) * 1.0 AS n_common
      FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT i.doc_a, i.doc_b FROM inter i
      JOIN sizes sa ON i.doc_a = sa.doc_id
      JOIN sizes sb ON i.doc_b = sb.doc_id
      WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.5
    ), sym AS (
      SELECT doc_a, doc_b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach(src, dst) AS (
      SELECT doc_id, doc_id FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 100)
      UNION
      SELECT r.src, s.doc_b FROM reach r JOIN sym s ON r.dst = s.doc_a
    ), comp AS (
      SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src
    ), scored AS (
      SELECT c.component, c.doc_id,
             CAST(len(list_distinct(string_split_regex(lower(trim(d.text)), '\\s+'))) AS BIGINT)
               AS n_unique,
             ROW_NUMBER() OVER (PARTITION BY c.component
               ORDER BY len(list_distinct(string_split_regex(lower(trim(d.text)), '\\s+'))) DESC,
                        c.doc_id) AS pick
      FROM comp c JOIN documents d ON c.doc_id = d.doc_id
    )
    SELECT component, doc_id AS keeper_doc, n_unique AS keeper_unique_tokens,
           CAST((SELECT COUNT(*) FROM scored s2 WHERE s2.component = scored.component) AS BIGINT)
             AS cluster_size
    FROM scored WHERE pick = 1
    """,
)
def q_dedup_components_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-based duplicate-cluster resolution: instead of the min-id
    keeper (``dedup_components_keeper``), KEEP THE BEST member of each
    near-dup cluster — here the most lexically diverse (highest distinct
    token count; an exact integer, so both engines pick identical
    winners — a float quality score could flip on last-ulp ordering),
    ties broken by min doc_id. This is the production dedup policy:
    boilerplate variants collapse to the richest copy, not an arbitrary
    one. Shape: near-dup pairs → components → one per-component window
    argmax over O(cluster) rows (bounded to doc_id<100 to match the
    exact-oracle pair query)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, docs.select("doc_id").distinct())
    n_unique = F.size(
        F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    ).cast("long")
    scored = comp.join(docs.select("doc_id", n_unique.alias("n_unique")), "doc_id")
    w = Window.partitionBy("comp").orderBy(F.desc("n_unique"), F.asc("doc_id"))
    sizes = scored.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    best = scored.withColumn("pick", F.row_number().over(w)).filter(F.col("pick") == 1)
    return best.join(sizes, "comp").select(
        F.col("comp").alias("component"),
        F.col("doc_id").alias("keeper_doc"),
        F.col("n_unique").alias("keeper_unique_tokens"),
        "cluster_size",
    )


#: Portable-MinHash parameters: 16 slots = 4 bands × 4 rows, candidate
#: threshold ≈ (1/4)^(1/4) ≈ 0.71. Bounded to doc_id < PORTABLE_DOC_CAP
#: because md5-per-slot is the oracle-portable (slower) hash — the scale
#: path is the xxhash64 variant above.
PORTABLE_K = 16
PORTABLE_BANDS = 4
PORTABLE_ROWS = 4
PORTABLE_DOC_CAP = 200


def _minhash_portable_oracle() -> str:
    mins = ",\n             ".join(
        f"MIN(CAST(CONCAT('0x', substring(md5(CONCAT('{i}:', s)), 1, 15)) AS BIGINT)) AS m{i}"
        for i in range(PORTABLE_K)
    )
    band_selects = "\n      UNION ALL\n".join(
        "      SELECT doc_id, {b} AS band_idx,\n"
        "             md5(CONCAT_WS(',', {cols})) AS band_hash FROM slot".format(
            b=b,
            cols=", ".join(
                f"CAST(m{b * PORTABLE_ROWS + j} AS VARCHAR)" for j in range(PORTABLE_ROWS)
            ),
        )
        for b in range(PORTABLE_BANDS)
    )
    return f"""
    WITH base AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
      FROM documents WHERE doc_id < {PORTABLE_DOC_CAP}
    ), eligible AS (
      SELECT * FROM base WHERE len(toks) >= 3
    ), sh AS (
      SELECT DISTINCT doc_id,
             list_aggregate(toks[i:i+2], 'string_agg', ' ') AS s
      FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks)-2)) AS i
            FROM eligible)
    ), slot AS (
      SELECT doc_id,
             {mins}
      FROM sh GROUP BY doc_id
    ), banded AS (
{band_selects}
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) * 1.0 AS n_common
      FROM pairs p
      JOIN sh x ON x.doc_id = p.doc_a
      JOIN sh y ON y.doc_id = p.doc_b AND y.s = x.s
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           ROUND(i.n_common / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.5
    """


@query("dedup_minhash_portable", oracle=_minhash_portable_oracle())
def q_dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding with a PORTABLE hash, oracled end-to-end:
    slot hashes are md5-derived (first 60 bits as a BIGINT) so DuckDB
    reproduces the exact signature/band/candidate algebra that the
    xxhash64 scale path (``dedup_minhash_lsh``) can only rows-check.
    Same pipeline shape: distinct 3-word shingles → 16 min() slots in
    one hash-aggregate → 4×4 band hashes → band equi self-join →
    exact-Jaccard verification ≥ 0.5. Bounded to doc_id <
    {PORTABLE_DOC_CAP} because md5-per-slot is deliberately the slow
    portable hash; the banding math proven here is hash-agnostic."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < PORTABLE_DOC_CAP)
        .filter(F.size(_tokens(F.col("text"))) >= 3)
    )
    sh = shingle_rows(docs).distinct()
    slot_cols = [
        F.min(
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{i}:"), F.col("s"))), 1, 15), 16, 10
            ).cast("bigint")
        ).alias(f"m{i}")
        for i in range(PORTABLE_K)
    ]
    slot = sh.groupBy("doc_id").agg(*slot_cols)
    bands_col = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"m{b * PORTABLE_ROWS + j}").cast("string")
                        for j in range(PORTABLE_ROWS)
                    ],
                )
            )
            for b in range(PORTABLE_BANDS)
        ]
    )
    banded = slot.select("doc_id", F.posexplode(bands_col).alias("band_idx", "band_hash"))
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    x = sh.alias("x")
    y = sh.alias("y")
    inter = (
        pairs.join(x, F.col("x.doc_id") == F.col("doc_a"))
        .join(y, (F.col("y.doc_id") == F.col("doc_b")) & (F.col("y.s") == F.col("x.s")))
        .groupBy("doc_a", "doc_b")
        .agg((F.count("*") * F.lit(1.0)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common") / (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


#: Portable-SimHash parameters: 60 usable bits (md5-hex prefix → BIGINT),
#: pair threshold = Hamming ≤ 8, bounded corpus (md5 is the slow portable
#: hash; the xxhash64 variant above is the scale path).
SIMHASH_PORTABLE_BITS = 60
SIMHASH_PORTABLE_HAMMING = 8


def _simhash_portable_fp_cte() -> str:
    """The portable-SimHash fingerprint as a reusable SQL CTE chain
    (``tok``/``hashed``/``sums``/``fp``) over the single bounded corpus
    — shared by the pair oracle (``dedup_simhash_portable``) and the
    multiplicity pin (``dedup_simhash_multiplicity_pin``) so the two
    oracles cannot drift."""
    bit_sums = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_PORTABLE_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(SIMHASH_PORTABLE_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS w
      FROM documents WHERE doc_id < 100
    ), hashed AS (
      SELECT doc_id,
             CAST(CONCAT('0x', substring(md5(w), 1, 15)) AS BIGINT) AS h
      FROM tok
    ), sums AS (
      SELECT doc_id,
             {bit_sums}
      FROM hashed GROUP BY doc_id
    ), fp AS (
      SELECT doc_id, {fp} AS fingerprint FROM sums
    )
    """


def _simhash_portable_oracle() -> str:
    return (
        _simhash_portable_fp_cte()
        + f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.fingerprint, b.fingerprint)) AS BIGINT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= {SIMHASH_PORTABLE_HAMMING}
    """
    )


def _portable_simhash_fp(tok: DataFrame) -> DataFrame:
    """Portable-SimHash fingerprint kernel: given (doc_id, w) token
    rows, md5-hash each token to 60 usable bits, take per-bit ±1 vote
    sums in ONE hash-aggregate, and fold the vote signs into a BIGINT
    fingerprint. Shared by ``dedup_simhash_portable`` and
    ``dedup_simhash_multiplicity_pin`` so the Spark kernel cannot drift
    between the pair query and the multiplicity pin (same convention as
    ``_simhash_vote_agg`` on the xxhash64 scale path)."""
    h = F.conv(F.substring(F.md5(F.col("w")), 1, 15), 16, 10).cast("bigint")
    hashed = tok.select("doc_id", h.alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(SIMHASH_PORTABLE_BITS)
    ]
    sums = hashed.groupBy("doc_id").agg(*bit_sums)
    fp_col = reduce(
        lambda acc, b: acc
        + F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(F.lit(0).cast("bigint")),
        range(1, SIMHASH_PORTABLE_BITS),
        F.when(F.col("s0") > 0, F.lit(1).cast("bigint")).otherwise(F.lit(0).cast("bigint")),
    )
    return sums.select("doc_id", fp_col.alias("fingerprint"))


@query("dedup_simhash_portable", oracle=_simhash_portable_oracle())
def q_dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection with a PORTABLE hash, oracled
    end-to-end: md5-derived 60-bit token hashes, per-bit ±1 vote sums,
    sign → fingerprint bit, pairs at Hamming ≤ {SIMHASH_PORTABLE_HAMMING}
    — DuckDB reproduces every bit, so the vote/sign/Hamming algebra the
    xxhash64 scale variant (``dedup_simhash``) can only rows-check is
    value-checked here. The 60 bit-sums are plain SUM columns of ONE
    hash-aggregate (codegen, map-side combine) — the same shape as the
    MinHash slot aggregate. Bounded corpus: md5 is deliberately the slow
    portable hash, and the all-pairs Hamming join exists only at oracle
    scale (the scale path blocks by fingerprint bands, cf.
    ``dedup_simhash``)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(_tokens(F.col("text")))).alias("w")
    )
    fp = _portable_simhash_fp(tok)
    a = fp.alias("a")
    b_ = fp.alias("b")
    ham = F.bit_count(F.col("a.fingerprint").bitwiseXOR(F.col("b.fingerprint")))
    return (
        a.join(b_, F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(ham <= SIMHASH_PORTABLE_HAMMING)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("bigint").alias("hamming"),
        )
    )


@query(
    "dedup_simhash_multiplicity_pin",
    oracle=_simhash_portable_fp_cte()
    + """
    SELECT doc_id, fingerprint FROM fp
    """,
)
def q_dedup_simhash_multiplicity_pin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 keyed-fingerprint multiplicity pin (DEGENERATE.md Class D1,
    promoted to a first-class driver row per the round-7 verdict's
    unfreeze plan): a fingerprint is a property of the DOCUMENT, not of
    the ingest row, so duplicating input rows must not change it.

    The Spark side inflates each document to 1–3 identical ingest rows
    (multiplicity = doc_id % 3 + 1 — odd multiplicities catch any
    hidden halving/averaging a uniform ×2 corpus would miss, and it
    strictly generalizes the duplicate-key robustness corpus's UNION
    ALL doubling), then runs the SHARED portable-SimHash kernel
    (``_portable_simhash_fp``) over the inflated rows. The oracle
    computes the same fingerprint over the SINGLE corpus — bit-for-bit
    equality holds because per-doc multiplicity m scales every ±1 vote
    sum by m, which preserves sign(s) including ties (s = 0 ⇒ ms = 0),
    so the majority-vote fingerprint is invariant to ingest-row
    multiplicity by algebra, and the driver row now pins that
    convention against an independent engine."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    inflated = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(1), (F.col("doc_id") % 3 + 1).cast("int"))
        ).alias("copy"),
    )
    tok = inflated.select(
        "doc_id", F.explode(F.array_distinct(_tokens(F.col("text")))).alias("w")
    )
    return _portable_simhash_fp(tok)


@query(
    "dedup_winnow_portable",
    oracle="""
    WITH base AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ), eligible AS (
      SELECT * FROM base WHERE len(toks) >= 4
    ), grams AS (
      SELECT doc_id, i AS pos,
             CAST(CONCAT('0x', substring(md5(
               list_aggregate(toks[i:i+3], 'string_agg', ' ')), 1, 15)) AS BIGINT) AS h
      FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks)-3)) AS i
            FROM eligible)
    ), mins AS (
      SELECT DISTINCT doc_id,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp
      FROM grams
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fingerprints
    FROM mins GROUP BY doc_id
    """,
)
def q_dedup_winnow_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint selection with a PORTABLE hash,
    oracled end-to-end: md5-derived 60-bit 4-gram hashes, rolling
    window-of-5 minimum, distinct fingerprints per doc — DuckDB runs
    the identical window algebra, so the selection rule the xxhash64
    variant (``dedup_winnow_fingerprints``) can only rows-check is
    value-checked here, over the FULL corpus (one md5 per shingle is
    cheap enough; the rolling-min sort-by-doc is winnowing's inherent
    single shuffle)."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 4)
    starts = F.sequence(F.lit(0), F.size("toks") - 4)
    grams = base.select("doc_id", "toks", F.explode(starts).alias("pos")).select(
        "doc_id",
        "pos",
        F.conv(
            F.substring(
                F.md5(F.array_join(F.slice("toks", F.col("pos") + 1, 4), " ")), 1, 15
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    frame = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 4)
    mins = grams.select("doc_id", F.min("h").over(frame).alias("fp")).distinct()
    return mins.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fingerprints"))


@query(
    "dedup_containment_ngram",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 100
        UNION ALL
        -- planted excerpts: first 30 tokens of each long doc, id+100000
        SELECT doc_id + 100000 AS doc_id,
               array_to_string(string_split_regex(lower(trim(text)), '\\s+')[1:30], ' ')
                   AS text
        FROM documents
        WHERE doc_id < 100
          AND len(string_split_regex(lower(trim(text)), '\\s+')) >= 40
    ), toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM corpus
    ), sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(t[p + 1 : p + 3], ' ') AS s
        FROM toks,
             (SELECT unnest(range(0, greatest(len(t) - 3, 0) + 1)) AS p
              FROM toks t2 WHERE t2.doc_id = toks.doc_id)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS doc_small, b.doc_id AS doc_big, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.doc_small, i.doc_big, i.n_common,
           CAST(i.n_common * 1000000 // sa.n AS BIGINT) AS containment_micro
    FROM inter i
    JOIN sizes sa ON i.doc_small = sa.doc_id
    WHERE i.n_common * 1000000 // sa.n >= 800000
    ORDER BY i.doc_small, i.doc_big
    """,
)
def q_dedup_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle containment |A∩B| / |A| ≥ 0.8 — the asymmetric
    near-dup relation Jaccard misses: a document embedded inside a
    larger one scores low Jaccard (union is large) but high containment.
    The standard quote/boilerplate/subset detector in corpus cleaning.

    The corpus is the bounded ground-truth slice PLUS planted excerpt
    documents (first 30 tokens of each long doc, built by the same
    expression on both engines, ids offset by 100000) so the directed
    relation provably fires at every SF — the planted-evidence pattern
    the quality-expectations gate uses. Same inverted-index join shape
    as ``dedup_ngram_jaccard`` (only docs sharing a 3-gram meet), but
    the pair relation keeps BOTH directions (a⊂b vs b⊂a are different
    claims) and the score divides by the CONTAINED side's shingle count
    only — emitted in exact micro-units (integer div both engines).
    """
    base = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    excerpts = base.filter(F.size(toks) >= 40).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, 30), " ").alias("text"),
    )
    docs = base.select("doc_id", "text").unionByName(excerpts)
    sh = shingle_rows(docs, n=3).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_small"), F.col("b.doc_id").alias("doc_big")
        )
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("doc_id").alias("doc_small"), "n")),
            "doc_small",
        )
        .withColumn(
            "containment_micro",
            F.expr("(n_common * 1000000) div n").cast("bigint"),
        )
        .filter(F.col("containment_micro") >= 800000)
        .select("doc_small", "doc_big", "n_common", "containment_micro")
        .orderBy("doc_small", "doc_big")
    )


#: Incremental-dedup history lane: docs whose u32(md5(doc_id||':ddhist'))
#: is at or above this (~80%) are "already ingested" history; the rest
#: arrive as the new batch.
DDHIST_MIN = 858_993_459


@query(
    "dedup_incremental_new_docs",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, source, md5(text) AS fp,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ddhist'), 1, 8))
                  AS BIGINT) >= {DDHIST_MIN} AS hist
      FROM documents
    ), delta AS (
      -- the new batch: the non-history docs, plus deterministic
      -- re-submissions of history docs (re-crawl of seen content) and
      -- double-submissions inside the batch itself
      SELECT doc_id, source, fp FROM base WHERE NOT hist
      UNION ALL
      SELECT doc_id + 10000000, source, fp FROM base WHERE hist AND doc_id % 41 = 0
      UNION ALL
      SELECT doc_id + 20000000, source, fp FROM base WHERE NOT hist AND doc_id % 7 = 0
    ), hist_fp AS (
      SELECT DISTINCT fp FROM base WHERE hist
    ), classified AS (
      SELECT d.doc_id, d.source, d.fp,
             d.fp IN (SELECT fp FROM hist_fp) AS dup_hist,
             d.doc_id > MIN(d.doc_id) OVER (PARTITION BY d.fp) AS not_first
      FROM delta d
    )
    SELECT source,
           COUNT(*) AS n_delta,
           COUNT(CASE WHEN dup_hist THEN 1 END) AS n_dup_of_history,
           COUNT(CASE WHEN NOT dup_hist AND not_first THEN 1 END)
             AS n_dup_within_delta,
           COUNT(CASE WHEN NOT dup_hist AND NOT not_first THEN 1 END)
             AS n_new_unique,
           CAST(SUM(CASE WHEN NOT dup_hist AND NOT not_first THEN doc_id
                         ELSE 0 END) AS BIGINT) AS new_unique_id_sum
    FROM classified
    GROUP BY source
    """,
)
def q_dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL exact dedup — the form a continuously-ingesting
    corpus actually runs: the fingerprint store of already-ingested
    history is a standing table, and each new batch is classified
    against it in one pass as (a) duplicate of history — a re-crawl,
    dropped without touching history; (b) duplicate within the batch —
    only the first (min doc_id) survives; (c) new-unique — admitted and
    appended to the store. Batch evidence is planted deterministically
    (re-submissions of every 41st history doc, double-submission of
    every 7th batch doc) so all three lanes provably fire at every SF
    — a random split leaves the dup lanes empty (measured 0 at
    sf0.001), which would vacuously pass.

    Plan: history is touched ONLY through its distinct-fingerprint
    projection (at 100 TB the store keeps fingerprints, not text — a
    ~32-byte row per unique doc); the batch classifies with one
    broadcast-or-hash semi-join against that store plus one
    within-batch window on fp. Cost scales with the BATCH, not the
    corpus — the whole point versus rerunning `dedup_exact` globally.
    All counters exact integers; the admitted-set checksum is what the
    store-append job re-verifies."""
    docs = load_table(spark, sf_dir, "documents")
    lane = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":ddhist"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    base = docs.select(
        "doc_id", "source", F.md5("text").alias("fp"), (lane >= DDHIST_MIN).alias("hist")
    )
    non_hist = base.filter(~F.col("hist"))
    delta = (
        non_hist.select("doc_id", "source", "fp")
        .unionByName(
            base.filter(F.col("hist") & (F.col("doc_id") % 41 == 0)).select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"), "source", "fp"
            )
        )
        .unionByName(
            non_hist.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 20_000_000).alias("doc_id"), "source", "fp"
            )
        )
    )
    hist_fp = base.filter("hist").select("fp").distinct()
    tagged = delta.join(
        hist_fp.withColumn("dup_hist", F.lit(True)), "fp", "left"
    ).withColumn("dup_hist", F.coalesce("dup_hist", F.lit(False)))
    w = Window.partitionBy("fp")
    classified = tagged.withColumn(
        "not_first", F.col("doc_id") > F.min("doc_id").over(w)
    )
    return classified.groupBy("source").agg(
        F.count("*").alias("n_delta"),
        F.count(F.when(F.col("dup_hist"), 1)).alias("n_dup_of_history"),
        F.count(F.when(~F.col("dup_hist") & F.col("not_first"), 1)).alias(
            "n_dup_within_delta"
        ),
        F.count(F.when(~F.col("dup_hist") & ~F.col("not_first"), 1)).alias(
            "n_new_unique"
        ),
        F.sum(
            F.when(~F.col("dup_hist") & ~F.col("not_first"), F.col("doc_id")).otherwise(
                0
            )
        ).alias("new_unique_id_sum"),
    )


@query(
    "dedup_store_retention_gc",
    oracle="""
    WITH fps AS (
      SELECT DISTINCT md5(text) AS fp FROM documents
    ), store AS (
      SELECT fp,
             CAST(('0x' || substr(md5(fp || ':gcday'), 1, 8)) AS BIGINT) % 10
               AS first_seen_day
      FROM fps
    ), retained AS (
      SELECT fp FROM store WHERE first_seen_day >= 5
    ), batch AS (
      SELECT md5(text) AS fp FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT md5(text || ':novel') FROM documents WHERE doc_id % 11 = 0
    ), classified AS (
      SELECT b.fp,
             b.fp IN (SELECT fp FROM retained) AS dup_recent,
             b.fp IN (SELECT fp FROM store) AS in_full_store
      FROM batch b
    )
    SELECT (SELECT COUNT(*) FROM store) AS n_store_full,
           (SELECT COUNT(*) FROM retained) AS n_store_retained,
           COUNT(*) AS n_batch,
           COUNT(CASE WHEN dup_recent THEN 1 END) AS n_dup_recent,
           COUNT(CASE WHEN in_full_store AND NOT dup_recent THEN 1 END)
             AS n_readmitted,
           COUNT(CASE WHEN NOT in_full_store THEN 1 END) AS n_novel,
           CAST(SUM(CASE WHEN in_full_store AND NOT dup_recent
                    THEN CAST(('0x' || substr(md5(fp), 1, 8)) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS readmitted_checksum
    FROM classified
    """,
)
def q_dedup_store_retention_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-store RETENTION GC — the bounded-state contract of
    incremental dedup made explicit: [[dedup_incremental_new_docs]]'s
    standing store grows forever, so production pipelines expire
    fingerprints past a retention horizon and ACCEPT the cost — a
    re-crawl of expired content is re-admitted as new. This query
    quantifies exactly that trade: a 10-day store (deterministic md5
    first-seen days) is GC'd to the 5-day retention window, then a
    batch of re-submissions (every 3rd doc) plus genuinely novel
    content (every 11th, salted fp) classifies into dup-of-recent
    (still suppressed), RE-ADMITTED (expired — the bounded-state
    leakage, checksummed so the exact re-admitted set is adjudicated,
    not just counted), and novel.

    This is the same eviction algebra a streaming
    dropDuplicatesWithinWatermark applies continuously (state TTL =
    watermark); here it is adjudicated in closed form. Scale: the
    store/GC/classify steps are one distinct-aggregate and two
    hash semi-joins on the fingerprint key — state size is the
    retention window's content volume, never corpus lifetime.
    """
    docs = load_table(spark, sf_dir, "documents")
    fps = docs.select(F.md5("text").alias("fp")).distinct()
    store = fps.select(
        "fp",
        (
            F.conv(F.substring(F.md5(F.concat(F.col("fp"), F.lit(":gcday"))), 1, 8), 16, 10)
            .cast("bigint")
            % 10
        ).alias("first_seen_day"),
    ).transform(pin)
    retained = store.filter(F.col("first_seen_day") >= 5).select("fp")
    batch = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(F.md5("text").alias("fp"))
        .unionByName(
            docs.filter(F.col("doc_id") % 11 == 0).select(
                F.md5(F.concat(F.col("text"), F.lit(":novel"))).alias("fp")
            )
        )
    )
    classified = (
        batch.join(
            retained.withColumn("dup_recent", F.lit(True)), "fp", "left"
        )
        .join(
            store.select("fp").withColumn("in_full_store", F.lit(True)),
            "fp",
            "left",
        )
        .select(
            "fp",
            F.coalesce(F.col("dup_recent"), F.lit(False)).alias("dup_recent"),
            F.coalesce(F.col("in_full_store"), F.lit(False)).alias("in_full_store"),
        )
    )
    lane = F.conv(F.substring(F.md5(F.col("fp")), 1, 8), 16, 10).cast("bigint")
    counts = classified.agg(
        F.count("*").alias("n_batch"),
        F.count(F.when(F.col("dup_recent"), 1)).alias("n_dup_recent"),
        F.count(F.when(F.col("in_full_store") & ~F.col("dup_recent"), 1)).alias(
            "n_readmitted"
        ),
        F.count(F.when(~F.col("in_full_store"), 1)).alias("n_novel"),
        F.sum(
            F.when(F.col("in_full_store") & ~F.col("dup_recent"), lane).otherwise(0)
        )
        .cast("bigint")
        .alias("readmitted_checksum"),
    )
    sizes = store.agg(F.count("*").alias("n_store_full")).crossJoin(
        retained.agg(F.count("*").alias("n_store_retained"))
    )
    return F.broadcast(sizes).crossJoin(counts).select(
        "n_store_full",
        "n_store_retained",
        "n_batch",
        "n_dup_recent",
        "n_readmitted",
        "n_novel",
        "readmitted_checksum",
    )


from ..session import pickle_module_by_value  # noqa: E402

# This module now defines a worker-side kernel at module level
# (_semdedup_cell_edges): ship it by value so executors never need the
# package on their own sys.path (same pattern as archive/audio/avi/gif).
pickle_module_by_value(__name__)
