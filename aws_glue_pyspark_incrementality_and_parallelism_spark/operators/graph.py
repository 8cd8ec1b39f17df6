"""Graph analytics over relational entity graphs: distributed PageRank.

Completes the iterative-operator family (k-means refinement in
``similarity.py``, connected components in ``dedup.py``) with the
classic link-analysis loop: rank propagation over a directed edge
relation via join + re-aggregation per iteration.

Scale design: the edge relation (with precomputed out-degrees) is the
loop invariant — materialized once and reused every iteration; only the
O(nodes) rank relation is rewritten per pass, and only two scalars
(dangling mass, convergence delta) ever cross the driver boundary.
Every pin site goes through ``session.pin`` (``df.transform(pin)``):
localCheckpoint by default, reliable ``checkpoint()`` to the
checkpoint dir when ``SPARK_GRAFT_RELIABLE_PIN=1`` — the 100 TB
fault-tolerant path with the plan shape unchanged (see SCALING.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..session import iterate, pin
from ..sources.io import load_table

DAMPING = 0.85
PAGERANK_ITERS = 8

#: Materialize the rank vector every N passes instead of every pass:
#: two uncheckpointed iterations keep the lineage shallow (2 joins) while
#: halving the number of Spark actions — measured 10.5s -> 5.7s for 8
#: iterations at sf0.1. At 100 TB the same cadence bounds both recovery
#: cost and scheduler round-trips.
CHECKPOINT_EVERY = 2

#: Below this node count the rank vector is broadcast into the
#: contribution join (no shuffle of the edge relation per pass). Above
#: it — a web-scale vertex set — the join falls back to shuffle
#: hash/sort-merge, which is the only strategy that works when the rank
#: vector itself no longer fits in one executor.
BROADCAST_RANKS_MAX_NODES = 5_000_000


def pagerank(edges: DataFrame, n_iters: int = PAGERANK_ITERS, damping: float = DAMPING) -> DataFrame:
    """PageRank over a directed edge list ``(src, dst)``.

    Returns ``(node, rank)`` with ranks summing to the node count
    (the random-surfer convention scaled by n). Nodes with no
    out-edges (dangling) redistribute their mass uniformly each
    iteration.

    Iteration shape: ONE Spark action per pass (the eager checkpoint of
    the new rank vector). The dangling mass is a 1-row aggregate
    broadcast-crossed into the update — never a driver ``collect()`` —
    so passes don't serialize on Python round-trips; the dangling set
    membership is a static per-node flag computed once, not a per-pass
    anti join. When the vertex set is small enough the rank vector is
    broadcast into the contribution join, leaving the (much larger)
    edge relation entirely unshuffled per pass.
    """
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    # Loop invariant: every edge annotated with its source's fan-out.
    fanout = (
        edges.join(out_deg, "src")
        .select("src", "dst", "out_deg")
        .transform(pin)
    )
    # Loop invariant: vertex set with its static dangling flag.
    deg_keys = out_deg.select(F.col("src").alias("deg_src"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .join(deg_keys, F.col("node") == F.col("deg_src"), "left")
        .select("node", F.col("deg_src").isNull().alias("is_dangling"))
        .transform(pin)
    )
    n_nodes = nodes.count()
    broadcast_ranks = n_nodes <= BROADCAST_RANKS_MAX_NODES

    ranks = (
        nodes.select("node", "is_dangling", F.lit(1.0).alias("rank"))
        .transform(pin)
    )
    for i in range(n_iters):
        ranks = _pagerank_step(fanout, nodes, ranks, n_nodes, damping, broadcast_ranks)
        if (i + 1) % CHECKPOINT_EVERY == 0 or i == n_iters - 1:
            ranks = ranks.transform(pin)
    return ranks.select("node", "rank")


def _pagerank_step(
    fanout: DataFrame,
    nodes: DataFrame,
    ranks: DataFrame,
    n_nodes: int,
    damping: float,
    broadcast_ranks: bool,
) -> DataFrame:
    """One rank-propagation pass (unmaterialized — the caller checkpoints).
    Split out so plan tests can assert the broadcast-vs-shuffle join
    strategy of the contribution join before the checkpoint hides it."""
    rank_vec = F.broadcast(ranks) if broadcast_ranks else ranks
    contribs = (
        fanout.join(rank_vec, fanout.src == ranks.node)
        .select("dst", (F.col("rank") / F.col("out_deg")).alias("contrib"))
        .groupBy("dst")
        .agg(F.sum("contrib").alias("incoming"))
    )
    # Mass sitting on dangling nodes this round: a 1-row relation,
    # folded in via broadcast instead of collected to the driver.
    dangling = ranks.filter("is_dangling").agg(
        F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling_mass")
    )
    return (
        nodes.join(contribs, nodes.node == contribs.dst, "left")
        .crossJoin(F.broadcast(dangling))
        .select(
            "node",
            "is_dangling",
            (
                F.lit(1.0 - damping)
                + F.lit(damping) * F.col("dangling_mass") / F.lit(float(n_nodes))
                + F.lit(damping) * F.coalesce(F.col("incoming"), F.lit(0.0))
            ).alias("rank"),
        )
    )


#: Rank threshold separating the bipartite graph's two tiers (parts sit
#: near the teleport floor ~0.2, suppliers concentrate mass ~10-100x
#: higher) — selection by a fixed threshold in that gap is stable under
#: float noise, unlike a top-k whose k-th/k+1-th gap can be arbitrarily
#: small.
PAGERANK_RANK_THRESHOLD = 1.0


def _pagerank_oracle(n_iters: int = PAGERANK_ITERS, damping: float = DAMPING) -> str:
    """Unrolled fixed-iteration PageRank in plain SQL (one CTE per pass),
    generated from the same constants as the Spark implementation."""
    parts = [
        "WITH edges AS MATERIALIZED (",
        "  SELECT DISTINCT l_partkey AS src, -(l_suppkey + 1) AS dst FROM lineitem",
        "), out_deg AS MATERIALIZED (",
        "  SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src",
        "), fanout AS MATERIALIZED (",
        "  SELECT e.src, e.dst, d.out_deg FROM edges e JOIN out_deg d USING (src)",
        "), nodes AS MATERIALIZED (",
        "  SELECT node, node NOT IN (SELECT src FROM edges) AS is_dangling",
        "  FROM (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "), meta AS MATERIALIZED (",
        "  SELECT COUNT(*) AS n FROM nodes",
        "), r0 AS MATERIALIZED (",
        "  SELECT node, is_dangling, 1.0 AS rank FROM nodes",
        ")",
    ]
    for i in range(1, n_iters + 1):
        prev = f"r{i - 1}"
        parts.append(
            f", r{i} AS MATERIALIZED (\n"
            f"  SELECT n.node, n.is_dangling,\n"
            f"         {1 - damping} + {damping} * (SELECT COALESCE(SUM(rank), 0)\n"
            f"                                      FROM {prev} WHERE is_dangling)\n"
            f"                         / (SELECT n FROM meta)\n"
            f"              + {damping} * COALESCE(inc.incoming, 0) AS rank\n"
            f"  FROM nodes n LEFT JOIN (\n"
            f"    SELECT f.dst AS node, SUM(r.rank / f.out_deg) AS incoming\n"
            f"    FROM fanout f JOIN {prev} r ON f.src = r.node GROUP BY f.dst\n"
            f"  ) inc USING (node)\n"
            f")"
        )
    parts.append(
        f"SELECT node, ROUND(rank, 4) AS rank FROM r{n_iters}\n"
        f"WHERE rank >= {PAGERANK_RANK_THRESHOLD}"
    )
    return "\n".join(parts)


@query("graph_pagerank_parts", oracle=_pagerank_oracle())
def q_graph_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite part→supplier fulfillment graph
    (distinct lineitem (partkey, suppkey) pairs as directed edges;
    suppliers namespaced to -(suppkey+1) so supplier 0 cannot collide
    with part 0). Suppliers are all dangling, exercising the
    dangling-mass redistribution path. The oracle unrolls the same 8
    iterations as plain SQL CTEs; the mass-concentrated tier (rank >=
    PAGERANK_RANK_THRESHOLD, i.e. the suppliers) is the compared set —
    a threshold in the tier gap is float-stable where top-k is not.
    Mass conservation / convergence invariants stay in pytest."""
    l = load_table(spark, sf_dir, "lineitem")
    edges = (
        l.select(
            F.col("l_partkey").alias("src"),
            (-(F.col("l_suppkey") + 1)).alias("dst"),
        )
        .distinct()
    )
    ranks = pagerank(edges)
    return ranks.filter(F.col("rank") >= PAGERANK_RANK_THRESHOLD).select(
        "node", F.round("rank", 4).alias("rank")
    )


@query(
    "graph_triangle_count",
    oracle="""
    WITH tok AS (
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
    ), e AS (
      SELECT i.doc_a AS u, i.doc_b AS v FROM inter i
      JOIN sizes sa ON i.doc_a = sa.doc_id
      JOIN sizes sb ON i.doc_b = sb.doc_id
      WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.5
    )
    SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(*) FROM e e1
                 JOIN e e2 ON e1.v = e2.u
                 JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS BIGINT) AS n_triangles
    """,
)
def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the near-dup similarity graph — the
    clustering-density metric (how clique-like are duplicate groups).
    Edges are the id-oriented Jaccard ≥ 0.5 pairs (u < v), so each
    triangle is counted exactly once via the standard two-join wedge
    closure: e1(u,v) ⋈ e2(v,w) gives wedges, e3(u,w) closes them.

    Scale stance: id orientation bounds each join key's fan-out by the
    node's higher-id degree; on power-law graphs the production
    refinement is DEGREE orientation (direct each edge toward the
    higher-degree endpoint, ties by id), which caps wedge generation at
    O(m^1.5) total — same plan shape, different ordering key. The edge
    relation here is the bounded oracle-scale pair set; at corpus scale
    edges come from the LSH candidate path."""
    from .dedup import q_dedup_ngram_jaccard

    e = q_dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).transform(pin)
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    wedges = e1.join(e2, F.col("e1.v") == F.col("e2.u"))
    tris = wedges.join(
        e3, (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v"))
    )
    n_e = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_t = tris.agg(F.count(F.lit(1)).alias("n_triangles"))
    return n_e.crossJoin(n_t)


def _symmetric(pairs: DataFrame) -> DataFrame:
    """Both directions of an undirected ``(doc_a, doc_b)`` edge list,
    pinned: the loop invariant every BFS, Bellman-Ford and k-core round
    joins against."""
    pairs = pairs.select("doc_a", "doc_b")
    return pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).transform(pin)


#: BFS depth cap — both the Spark loop and the oracle's recursive CTE
#: stop here, so "unreached within 8 hops" means the same on both sides.
BFS_MAX_LEVELS = 8


@query(
    "graph_bfs_levels",
    oracle=f"""
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
    ), walk(node, lvl) AS (
      SELECT doc_id, 0 FROM documents WHERE doc_id < 100 AND doc_id % 10 = 0
      UNION
      SELECT s.doc_b, w.lvl + 1
      FROM walk w JOIN sym s ON w.node = s.doc_a
      WHERE w.lvl < {BFS_MAX_LEVELS}
    )
    SELECT node AS doc_id, CAST(MIN(lvl) AS INT) AS level
    FROM walk GROUP BY node
    """,
)
def q_graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (frontier expansion): shortest hop-distance from
    the seed set (doc_id % 10 = 0) to every reachable node of the
    near-dup graph, capped at ``BFS_MAX_LEVELS``. The third member of
    the iterative-graph family — PageRank re-aggregates the WHOLE rank
    vector per pass and connected components relabels every active
    node, but BFS's loop grows only from the FRONTIER (the rows the
    last level added): per level one edge⋈frontier join, one distinct
    and one anti-join against the visited set, which is pinned once
    per level (``session.iterate``) so lineage stays flat. At 100 TB
    the frontier join shuffles O(frontier boundary) rows per level, not
    O(graph) — the property that makes landmark-distance /
    k-hop-neighborhood features computable on web-scale graphs. Stops
    at the first level that adds no node. Oracle: DuckDB recursive CTE
    over the identical Jaccard≥0.5 edge set with the same level cap."""
    from .dedup import q_dedup_ngram_jaccard

    sym = _symmetric(q_dedup_ngram_jaccard(spark, sf_dir))

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    sources = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id").distinct()

    def expand(levels: DataFrame) -> DataFrame:
        # The frontier is the rows the previous level added (``new``).
        frontier = levels.filter("new")
        nxt = (
            sym.join(frontier, sym.doc_a == frontier.doc_id)
            .select(F.col("doc_b").alias("doc_id"), (F.col("level") + 1).alias("level"))
            .distinct()
            .join(levels, "doc_id", "left_anti")
        )
        return levels.withColumn("new", F.lit(False)).unionByName(
            nxt.withColumn("new", F.lit(True))
        )

    levels = iterate(
        sources.withColumn("level", F.lit(0)).withColumn("new", F.lit(True)),
        expand,
        [F.count(F.lit(1))],
        BFS_MAX_LEVELS,
    )
    return levels.select("doc_id", "level")


@query(
    "graph_common_neighbors",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT l_suppkey AS supp, l_partkey AS part
        FROM lineitem WHERE l_quantity > 45
    ), deg AS (
        SELECT supp, COUNT(*) AS d FROM edges GROUP BY supp
    ), pairs AS (
        SELECT a.supp AS supp_a, b.supp AS supp_b, COUNT(*) AS common
        FROM edges a JOIN edges b ON a.part = b.part AND a.supp < b.supp
        GROUP BY a.supp, b.supp
    )
    SELECT supp_a, supp_b, common,
           CAST(common * 1000000 // (da.d + db.d - common) AS BIGINT)
               AS jaccard_micro
    FROM pairs
    JOIN deg da ON da.supp = supp_a
    JOIN deg db ON db.supp = supp_b
    ORDER BY common DESC, jaccard_micro DESC, supp_a, supp_b
    LIMIT 20
    """,
)
def q_graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node similarity by common neighbors on the bipartite
    supplier–part graph: top-20 supplier pairs by co-supplied part
    count, with exact-integer Jaccard over neighbor sets.

    The classic link-prediction / entity-similarity primitive. Scale
    shape: pair generation is the self-join on the SHARED neighbor
    (part) — cost Σd(part)², bounded by the max part degree, never by
    supplier count; the quantity filter is the standard edge-thinning
    knob (same role as the blocking key in entity.py). Degrees join
    back as two broadcast-sized aggregates; Jaccard in exact
    micro-units (integer div both engines); totally-ordered top-20 cut.
    """
    edges = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select(F.col("l_suppkey").alias("supp"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    deg = edges.groupBy("supp").agg(F.count("*").alias("d"))
    a = edges.alias("a")
    b = edges.alias("b")
    pairs = (
        a.join(b, (F.col("a.part") == F.col("b.part")) & (F.col("a.supp") < F.col("b.supp")))
        .groupBy(F.col("a.supp").alias("supp_a"), F.col("b.supp").alias("supp_b"))
        .agg(F.count("*").alias("common"))
    )
    da = deg.select(F.col("supp").alias("supp_a"), F.col("d").alias("da"))
    db = deg.select(F.col("supp").alias("supp_b"), F.col("d").alias("db"))
    return (
        pairs.join(F.broadcast(da), "supp_a")
        .join(F.broadcast(db), "supp_b")
        .select(
            "supp_a",
            "supp_b",
            "common",
            F.expr("(common * 1000000) div (da + db - common)")
            .cast("bigint")
            .alias("jaccard_micro"),
        )
        .orderBy(
            F.desc("common"), F.desc("jaccard_micro"), F.asc("supp_a"), F.asc("supp_b")
        )
        .limit(20)
    )


#: Bellman-Ford relaxation rounds — shortest weighted paths using at
#: most this many edges (the oracle's recursive depth cap must match).
SSSP_ROUNDS = 4


@query(
    "graph_sssp_bellman_ford",
    oracle=f"""
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
      SELECT doc_a, doc_b, (doc_a + doc_b) % 7 + 1 AS wt FROM pairs
      UNION SELECT doc_b, doc_a, (doc_a + doc_b) % 7 + 1 FROM pairs
    ), walk(node, d, depth) AS (
      SELECT doc_id, 0, 0 FROM documents WHERE doc_id < 100 AND doc_id % 10 = 0
      UNION
      SELECT s.doc_b, w.d + s.wt, w.depth + 1
      FROM walk w JOIN sym s ON w.node = s.doc_a
      WHERE w.depth < {SSSP_ROUNDS}
    )
    SELECT node AS doc_id, CAST(MIN(d) AS INT) AS dist
    FROM walk GROUP BY node
    """,
)
def q_graph_sssp_bellman_ford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source-set shortest WEIGHTED paths by distributed
    Bellman-Ford: {SSSP_ROUNDS} relaxation rounds over the near-dup
    edge set ([[graph_bfs_levels]]' graph, deterministic integer weight
    (a+b)%7+1), multi-source seeds doc_id%10=0.

    The fourth iterative-graph shape: BFS's loop state is the frontier,
    PageRank's the rank vector — Bellman-Ford's is the DISTANCE relation
    itself, and each round is edges⋈dist -> candidate relaxations ->
    keyed MIN fold (union + groupBy), checkpointed so lineage stays
    flat. K rounds compute exactly min-weight-over-<=K-edge-paths, which
    the recursive-CTE oracle mirrors with its depth cap — no convergence
    guessing, the round count IS the semantics (hop-bounded distances,
    the standard scale trade: web-graph SSSP runs bounded relaxations).

    Scale: the per-round shuffle is O(edges) for the join plus O(nodes)
    for the min fold — never materializing paths; weights ride the edge
    relation, so skew handling and partitioning are inherited from the
    edge layout, exactly like the BFS/PageRank passes.
    """
    from .dedup import q_dedup_ngram_jaccard

    sym = _symmetric(q_dedup_ngram_jaccard(spark, sf_dir)).withColumn(
        "wt", (F.col("doc_a") + F.col("doc_b")) % 7 + 1
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    sources = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id")
        .distinct()
        .withColumn("dist", F.lit(0))
    )

    def relax(dist: DataFrame) -> DataFrame:
        cand = sym.join(dist, sym.doc_a == dist.doc_id).select(
            F.col("doc_b").alias("doc_id"),
            (F.col("dist") + F.col("wt")).alias("dist"),
        )
        return dist.union(cand).groupBy("doc_id").agg(F.min("dist").alias("dist"))

    # Relaxation is monotone (distances only fall, nodes are only
    # added), so an unchanged (count, total) is the fixpoint and the
    # remaining rounds could relax nothing: hop-bounded semantics hold.
    dist = iterate(
        sources, relax, [F.count(F.lit(1)), F.sum("dist")], SSSP_ROUNDS
    )
    return dist.select("doc_id", F.col("dist").cast("int").alias("dist"))


#: k-core peeling parameters: degree threshold and unrolled rounds (the
#: oracle unrolls the same number; extra rounds past convergence are
#: no-ops on both engines, so the cap only needs to be large enough).
KCORE_K = 2
KCORE_ROUNDS = 6


@query(
    "graph_kcore_peel",
    oracle=f"""
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
    ), pairs AS MATERIALIZED (
      SELECT i.doc_a, i.doc_b FROM inter i
      JOIN sizes sa ON i.doc_a = sa.doc_id
      JOIN sizes sb ON i.doc_b = sb.doc_id
      WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.5
    ), sym AS MATERIALIZED (
      SELECT doc_a, doc_b FROM pairs UNION SELECT doc_b, doc_a FROM pairs
    ),
    a0 AS MATERIALIZED (SELECT DISTINCT doc_a AS node FROM sym),
    a1 AS MATERIALIZED (
      SELECT s.doc_a AS node FROM sym s
      JOIN a0 x ON s.doc_a = x.node JOIN a0 y ON s.doc_b = y.node
      GROUP BY 1 HAVING COUNT(*) >= {KCORE_K}),
    a2 AS MATERIALIZED (
      SELECT s.doc_a AS node FROM sym s
      JOIN a1 x ON s.doc_a = x.node JOIN a1 y ON s.doc_b = y.node
      GROUP BY 1 HAVING COUNT(*) >= {KCORE_K}),
    a3 AS MATERIALIZED (
      SELECT s.doc_a AS node FROM sym s
      JOIN a2 x ON s.doc_a = x.node JOIN a2 y ON s.doc_b = y.node
      GROUP BY 1 HAVING COUNT(*) >= {KCORE_K}),
    a4 AS MATERIALIZED (
      SELECT s.doc_a AS node FROM sym s
      JOIN a3 x ON s.doc_a = x.node JOIN a3 y ON s.doc_b = y.node
      GROUP BY 1 HAVING COUNT(*) >= {KCORE_K}),
    a5 AS MATERIALIZED (
      SELECT s.doc_a AS node FROM sym s
      JOIN a4 x ON s.doc_a = x.node JOIN a4 y ON s.doc_b = y.node
      GROUP BY 1 HAVING COUNT(*) >= {KCORE_K}),
    a6 AS MATERIALIZED (
      SELECT s.doc_a AS node FROM sym s
      JOIN a5 x ON s.doc_a = x.node JOIN a5 y ON s.doc_b = y.node
      GROUP BY 1 HAVING COUNT(*) >= {KCORE_K})
    SELECT s.doc_a AS doc_id, CAST(COUNT(*) AS INT) AS core_degree
    FROM sym s
    JOIN a6 x ON s.doc_a = x.node JOIN a6 y ON s.doc_b = y.node
    GROUP BY 1
    """,
)
def q_graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by iterative peeling (k=KCORE_K): repeatedly
    drop nodes whose degree WITHIN THE SURVIVING SUBGRAPH falls below k
    until fixpoint — the standard dense-substructure filter (spam/bot
    ring detection, community cores, dedup-cluster hubs). Fifth
    iterative-graph shape: the loop invariant is the ACTIVE NODE SET,
    and each round is one edges⋈active⋈active semi-restriction + a
    degree aggregate, checkpointed — peeling cascades (removing a node
    can sink its neighbors below k next round), which no single-pass
    degree filter captures.

    KCORE_ROUNDS unrolled rounds on both engines: rounds past
    convergence are idempotent, so the fixed cap adjudicates the true
    fixpoint wherever peeling has converged (it has, on this graph —
    pinned in pytest) without convergence-detection divergence.
    Output: surviving nodes with their in-core degree.

    Scale: per round the edge relation shrinks monotonically; the join
    is edges⋈active (broadcastable once the active set is small), the
    same per-round shuffle budget as BFS/Bellman-Ford.
    """
    from .dedup import q_dedup_ngram_jaccard

    sym = _symmetric(q_dedup_ngram_jaccard(spark, sf_dir))

    def restrict(active: DataFrame) -> DataFrame:
        return sym.join(active.withColumnRenamed("node", "doc_a"), "doc_a").join(
            active.withColumnRenamed("node", "doc_b"), "doc_b"
        )

    def peel(active: DataFrame) -> DataFrame:
        return (
            restrict(active)
            .groupBy("doc_a")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= KCORE_K)
            .select(F.col("doc_a").alias("node"))
        )

    # Peeling is monotone (the active set only shrinks), so an unchanged
    # survivor count is the fixpoint every remaining unrolled round of
    # the oracle reproduces.
    active = iterate(
        sym.select(F.col("doc_a").alias("node")).distinct(),
        peel,
        [F.count(F.lit(1))],
        KCORE_ROUNDS,
    )
    return restrict(active).groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count("*").cast("int").alias("core_degree")
    )
