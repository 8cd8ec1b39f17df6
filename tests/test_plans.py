"""Plan-shape regression tests: the properties that make these queries
scale must stay visible in the physical plan (pushdown, pruning,
broadcast, top-k without global sort, no shuffle re-use regressions)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_glue_pyspark_incrementality_and_parallelism_spark.operators import similarity
from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import REGISTRY
from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import load_table

from .conftest import SF_SMALL


def _plan(spark, name: str) -> str:
    # formatted mode: full (untruncated) PushedFilters/ReadSchema lists
    df = REGISTRY[name].fn(spark, SF_SMALL)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_hwm_filter_pushed_to_scan(spark):
    plan = _plan(spark, "incremental_scan_hwm")
    assert "PushedFilters" in plan and "GreaterThan(l_orderkey,500)" in plan


def test_column_pruning_reaches_scan(spark):
    plan = _plan(spark, "report_sales_by_customer")
    # lineitem scan must read only the join key + measure, not all 11 cols
    assert "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double>" in plan


def test_q6_predicates_pushed(spark):
    plan = _plan(spark, "tpch_q6_forecast_revenue")
    for frag in ["GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate", "LessThan(l_quantity"]:
        assert frag in plan, f"missing pushed filter {frag}"


def test_topk_uses_take_ordered_not_global_sort(spark):
    plan = _plan(spark, "sort_limit_topk")
    assert "TakeOrderedAndProject" in plan


def test_tiny_dims_broadcast(spark):
    plan = _plan(spark, "join_5way_snowflake")
    assert plan.count("BroadcastHashJoin") >= 2  # nation & region at minimum


def test_brute_force_broadcasts_query_side(spark):
    df = similarity.q_sim_brute_force_topk(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_quantile_buckets_roughly_balanced(spark):
    rows = REGISTRY["agg_quantile_bucketize"].fn(spark, SF_SMALL).collect()
    assert {r.bucket for r in rows} == {1, 2, 3, 4}
    assert all(r.share_ok for r in rows), rows
    n_orders = load_table(spark, SF_SMALL, "orders").count()
    assert all(r.total_rows == n_orders for r in rows)


def test_approx_percentile_close_to_exact(spark):
    rows = REGISTRY["agg_approx_percentile"].fn(spark, SF_SMALL).collect()
    exact = {
        r.o_orderstatus: (r.p50, r.p95)
        for r in load_table(spark, SF_SMALL, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.95)").alias("p95"),
        )
        .collect()
    }
    for r in rows:
        e50, e95 = exact[r.o_orderstatus]
        assert r.p50_exact == pytest.approx(e50, abs=5e-5)
        assert r.p95_exact == pytest.approx(e95, abs=5e-5)
        assert r.approx_within_1pct


def test_q21_exists_notexists_become_semi_anti(spark):
    plan = _plan(spark, "tpch_q21_sole_late_supplier")
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_q11_scalar_total_broadcasts(spark):
    # the global-total side of the HAVING threshold must broadcast,
    # never trigger a collect or a full-shuffle cross join
    plan = _plan(spark, "tpch_q11_value_concentration")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_q16_notin_is_broadcast_anti(spark):
    plan = _plan(spark, "tpch_q16_supplier_diversity")
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan


def test_dynamic_partition_pruning(spark, tmp_path):
    """Joining a date-partitioned fact on its partition column against a
    filtered (broadcastable) dim must inject a dynamic-pruning subquery
    into the fact scan — at 100 TB this is the difference between
    scanning 7 years and scanning the one year the dim filter selects."""
    o = load_table(spark, SF_SMALL, "orders").withColumn("o_year", F.year("o_orderdate"))
    path = str(tmp_path / "orders_by_year")
    o.write.partitionBy("o_year").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(1995, "keep"), (1996, "drop"), (1997, "drop")], "d_year int, tag string"
    ).filter(F.col("tag") == "keep")
    j = fact.join(dim, fact.o_year == dim.d_year).select("o_orderkey", "tag")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = j._jdf.queryExecution().explainString(mode)
    assert "dynamicpruning" in plan.lower()


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """With broadcast off (big-×-big shuffle join), a selective filter on
    one side must inject a runtime bloom filter on the other side's scan
    (might_contain), shrinking the shuffled fact volume before the
    exchange — the key runtime filter for selective big joins at scale."""
    saved = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.enabled"
        ),
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        ),
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        l = load_table(spark, SF_SMALL, "lineitem")
        o = load_table(spark, SF_SMALL, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = l.join(o, l.l_orderkey == o.o_orderkey).select("l_extendedprice", "o_orderdate")
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        plan = j._jdf.queryExecution().explainString(mode)
        assert "might_contain" in plan.lower() or "bloomfilter" in plan.lower()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_chunking_is_map_only(spark):
    """RAG chunking must stay a zero-shuffle map job: tokenize, explode
    offsets, slice — partitioning follows the input at any corpus size."""
    plan = _plan(spark, "text_chunk_sliding")
    assert "Exchange" not in plan


def test_table_checksum_single_aggregate_pass(spark):
    """The anti-entropy checksum is one scan + one partial/final
    aggregate: exactly one shuffle (of O(1)-size partial states), no
    sort, no join."""
    plan = _plan(spark, "agg_table_checksum")
    # formatted explain repeats each node in the detail section; count
    # tree entries only
    assert plan.count("- Exchange") <= 1
    # no join, no standalone sort (SortAggregate with empty keys is fine)
    assert "Join" not in plan and "+- Sort " not in plan


def test_zscore_stats_side_is_broadcast(spark):
    """The per-type stats relation must broadcast back into the event
    scan — the big side never shuffles for the join."""
    plan = _plan(spark, "agg_zscore_outliers")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_tfidf_topk_is_group_limit_with_broadcast_df_side(spark):
    """TF-IDF top-3-per-word must (a) broadcast the tiny doc-count side,
    (b) run the per-group rank as WindowGroupLimit (partial top-k BEFORE
    the exchange, so only ≤k rows per word shuffle), and (c) never
    funnel through a single partition."""
    plan = _plan(spark, "text_tfidf_top3")
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "SinglePartition" not in plan


def test_sequence_pack_has_no_global_window(spark):
    """The packing cumsum must run as a distributed prefix sum (window
    partitioned by partition id), never as a single-partition global
    window — the classic scale killer this operator exists to avoid."""
    plan = _plan(spark, "text_sequence_pack")
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_embedding_components_no_allpairs_join(spark):
    """Near-dup candidate generation must stay bucketed (blocked GEMM +
    equi-join): any cartesian/broadcast-nested-loop or single-partition
    stage would be the O(n^2) shape that dies at corpus scale."""
    plan = _plan(spark, "dedup_embedding_components")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SinglePartition" not in plan


def test_pagerank_broadcasts_rank_vector_below_threshold(spark):
    """Per-iteration contribution join: the O(nodes) rank vector must
    broadcast (edge relation unshuffled) below the size threshold, and
    fall back to a shuffle join above it — the only strategy left when
    the rank vector outgrows one executor."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators import graph

    edges = spark.createDataFrame(
        [(i, -(i % 3) - 1) for i in range(30)], "src long, dst long"
    )
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    fanout = edges.join(out_deg, "src").select("src", "dst", "out_deg")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .withColumn("is_dangling", F.col("node") < 0)
    )
    ranks = nodes.select("node", "is_dangling", F.lit(1.0).alias("rank"))

    def step_plan(broadcast_ranks: bool) -> str:
        step = graph._pagerank_step(fanout, nodes, ranks, 33, 0.85, broadcast_ranks)
        return step._jdf.queryExecution().executedPlan().toString()

    # the contribution join (fanout.src == ranks.node) must be broadcast
    assert "BroadcastHashJoin" in step_plan(True)
    # above the threshold only the dangling-mass 1-row cross join may
    # broadcast — the contribution join becomes a shuffle join
    fallback = step_plan(False)
    assert "SortMergeJoin" in fallback or "ShuffledHashJoin" in fallback


def test_langid_single_scan_no_shuffle_funnel(spark):
    """Stopword-argmax language ID is a pure projection: one scan,
    no exchange at all."""
    plan = _plan(spark, "text_langid")
    assert "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string,lang:string>" in plan


def test_join_hints_control_physical_strategy(spark):
    """Join-strategy hints must reach the physical plan: merge →
    SortMergeJoin, shuffle_hash → ShuffledHashJoin — the manual override
    when AQE's choice is wrong for a known workload."""
    l = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load_table(spark, SF_SMALL, "orders").select("o_orderkey", "o_orderdate")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    merged = l.join(o.hint("merge"), l.l_orderkey == o.o_orderkey)
    assert "SortMergeJoin" in merged._jdf.queryExecution().explainString(mode)

    hashed = l.join(o.hint("shuffle_hash"), l.l_orderkey == o.o_orderkey)
    assert "ShuffledHashJoin" in hashed._jdf.queryExecution().explainString(mode)


def test_pii_scrub_scan_bound_shapes(spark):
    """The scrub pass must stay scan-bound: pruned two-column scans,
    map-side partial aggregation, and no join/window anywhere. The
    events variant gets exactly two exchanges (the countDistinct
    two-phase rewrite); the docs variant exactly one."""
    plan = _plan(spark, "events_pii_scrub")
    # Since the Class F ingest gate (sources/io.py), every events scan
    # also reads `value` AND `ts`: row-level quarantine is a WHERE on
    # the gated columns even for queries that never use them (the
    # oracle's gated view excludes those rows from COUNT(*) too). Both
    # gate conjuncts — the measure range and the Class T temporal
    # domain — must reach the scan as pushed filters, not a post-scan
    # Filter (the temporal conjunct compares the RAW physical ts
    # column precisely so it stays pushable).
    assert (
        "ReadSchema: struct<ts:timestamp_ntz,event_type:string,"
        "value:double,props:string>" in plan
    ), plan
    assert (
        "Or(IsNull(value),And(GreaterThanOrEqual(value,-1.0E9),"
        "LessThanOrEqual(value,1.0E9)))" in plan
    ), plan
    assert "Or(IsNull(ts),And(GreaterThan(ts," in plan, plan
    # ≤ 2 hash exchanges (the countDistinct two-phase rewrite needs
    # two; a regression adding a join/window/repartition would add
    # more). Upper bound, not equality — equality broke spuriously on
    # plan-text/AQE format drift without catching anything real.
    assert plan.count("hashpartitioning") <= 2, plan
    assert "partial_count" in plan  # map-side combine before the shuffle
    assert "Join" not in plan and "Window" not in plan

    plan = _plan(spark, "docs_pii_clean_ratio")
    assert "ReadSchema: struct<text:string,source:string>" in plan
    assert plan.count("hashpartitioning") <= 1, plan
    assert "partial_" in plan  # map-side combine before the shuffle
    assert "Join" not in plan and "Window" not in plan


def test_portable_twins_share_scale_path_skeleton(spark):
    """The md5/integer portable twins exist to vouch for the xxhash64/
    float scale paths, so their physical plans must keep the same
    join/aggregate skeleton — a twin that silently degenerated into a
    cartesian or lost its banding join would value-check nothing.
    Invariant-level assertions only (no exact node counts): the
    candidate join is an EQUI join on the bucket/band key, never a
    cartesian, fed by a hash aggregate that builds the signature."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators import dedup, similarity

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    def fmt(df):
        return df._jdf.queryExecution().explainString(mode)

    # MinHash: scale path and portable twin both band-bucket self-joins
    # (materialize=False: the production localCheckpoint would hide the
    # banding lineage from the final plan)
    docs = load_table(spark, SF_SMALL, "documents")
    scale_plan = fmt(dedup.minhash_candidate_pairs(docs, materialize=False))
    # the scale path's document scan prunes to (doc_id, text), and no
    # stage funnels the candidate pairs onto one partition
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in scale_plan
    assert "SinglePartition" not in scale_plan
    for plan in (scale_plan, fmt(REGISTRY["dedup_minhash_portable"].fn(spark, SF_SMALL))):
        assert "CartesianProduct" not in plan
        assert "band_hash" in plan and "band_idx" in plan
        assert "HashAggregate" in plan  # the min-slot signature aggregate

    # Hyperplane LSH: both join candidates on the bucket key
    for df in (
        similarity.lsh_topk_pairs(spark, SF_SMALL),
        REGISTRY["sim_lsh_portable_buckets"].fn(spark, SF_SMALL),
    ):
        plan = fmt(df)
        assert "CartesianProduct" not in plan
        assert "bucket" in plan

    # IVF: both probe candidates through an equi join on the cell id
    # with the tiny centroid/probe side broadcast
    for df in (
        similarity.ivf_topk_pairs(spark, SF_SMALL),
        REGISTRY["sim_ivf_portable_topk"].fn(spark, SF_SMALL),
    ):
        plan = fmt(df)
        assert "CartesianProduct" not in plan
        assert "cell" in plan
        assert "BroadcastHashJoin" in plan


def test_interval_join_binned_no_nested_loop(spark):
    """The keyless interval join must stay an equi join on the bucket id
    — binning exists precisely so the pure range predicate never plans
    as a BroadcastNestedLoopJoin or cartesian."""
    plan = _plan(spark, "join_interval_binned")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_hilbert_chain_is_narrow_single_exchange(spark):
    """The unrolled Hilbert conversion must stay a chain of narrow
    projections: no join, no window, and only the final aggregate's
    exchange — the shape that keeps the 100 TB clustering write a
    single shuffle."""
    plan = _plan(spark, "layout_hilbert_buckets")
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange") <= 2  # agg exchange (+ AQE read)
    # column pruning reaches the scan: only the two cluster keys read
    assert "l_partkey" in plan and "l_suppkey" in plan
    assert "l_quantity" not in plan


def test_pq_adc_scan_stays_compressed_domain(spark):
    """PQ search plan invariants: the corpus flows scan → encode →
    ADC (two fused Arrow passes, NO shuffle of embeddings); the
    shortlist is pruned per-partition BEFORE its exchange
    (WindowGroupLimit Partial); the rerank joins broadcast — the
    corpus is never sort-merge shuffled."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators.pq import (
        pq_adc_topk_pairs,
    )

    df = pq_adc_topk_pairs(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # per-partition top-k pruning before the shortlist shuffle
    assert "WindowGroupLimit" in plan and "Partial" in plan
    # the encode→ADC chain has no exchange between the two Arrow passes
    encode_idx = plan.index("_encode")
    scan_idx = plan.index("_scan")
    assert "Exchange" not in plan[min(scan_idx, encode_idx): max(scan_idx, encode_idx)]
    # query-side filter pushed into the parquet scan
    assert "vec_id" in plan


def test_snapshot_diff_is_partitioned_join(spark):
    """The reconciliation diff must plan as a hash-partitioned equi
    full-outer join (both snapshots same size — broadcast or nested
    loop would be wrong at scale)."""
    plan = _plan(spark, "maintenance_snapshot_diff")
    assert "FullOuter" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_geo_grid_nn_join_is_equi_hash_join(spark):
    """The spatial join must stay a hash EQUI-join on the grid cell —
    grid blocking exists precisely so the distance predicate never
    plans as a nested-loop/cartesian — with the dim-sized supplier
    side broadcast."""
    plan = _plan(spark, "geo_grid_nn_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_pit_feature_join_is_single_window_no_range_join(spark):
    """The point-in-time join must stay union + ONE per-user window —
    no join node at all (the naive interval formulation would plan a
    nested-loop range join)."""
    plan = _plan(spark, "join_point_in_time_features")
    assert "Join" not in plan
    assert "Window" in plan
    assert plan.count("- Exchange") <= 2  # union-side shuffles to user_id (+AQE)


def test_pareto_frontier_has_no_self_join(spark):
    """The skyline rewrite must be window-based: no join (the
    definitional NOT EXISTS would be a quadratic anti-join), and the
    global pass runs over local-frontier survivors only."""
    plan = _plan(spark, "agg_pareto_frontier")
    assert "Join" not in plan
    assert "Window" in plan


def test_market_basket_topk_no_global_sort(spark):
    """The top-20 cut must be TakeOrderedAndProject (partial per-
    partition top-k), never a full global Sort+Limit."""
    plan = _plan(spark, "agg_market_basket")
    assert "TakeOrderedAndProject" in plan


def test_sliding_median_single_window_no_join(spark):
    """The exact sliding median must be one windowed pass per user key:
    no join, no self-pairing, and only the single keyed exchange the
    window requires."""
    plan = _plan(spark, "window_sliding_median_exact")
    assert "Join" not in plan
    assert "Window" in plan
    assert plan.count("- Exchange") <= 1


def test_systematic_sample_never_single_partition(spark):
    """The distributed-rank systematic sample must not funnel rows
    through a one-partition global window (the naive rewrite); bin
    offsets broadcast back instead."""
    plan = _plan(spark, "sample_systematic_every_k")
    # the only SinglePartition exchange allowed is the tiny O(bins)
    # offset relation feeding its prefix-sum window, never the row side
    assert "BroadcastHashJoin" in plan


def test_bloom_probe_is_scan_side_filter_no_dim_join(spark):
    """The bloom words must reach the fact scan as a literal (broadcast
    O(1) state) — probing must NOT join fact rows against a words
    relation. The only joins allowed are the exactness-audit
    semi/anti-joins against the tiny keyset."""
    plan = _plan(spark, "join_bloom_semi_reduction")
    # every join in the plan is broadcast (keyset side), never shuffled
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_inverted_index_topk_is_partial(spark):
    """Posting-stat top-50 must cut with TakeOrderedAndProject (per-
    partition partial top-k), not a global sort of the whole vocabulary."""
    plan = _plan(spark, "text_inverted_index")
    assert "TakeOrderedAndProject" in plan


def test_target_encoding_stats_broadcast(spark):
    """The category-stats relation must broadcast back onto the fact
    side — the labeled rows never shuffle for the encoding join."""
    plan = _plan(spark, "feat_target_encoding_loo")
    assert "BroadcastHashJoin" in plan


def test_cusum_windows_run_on_collapsed_series(spark):
    """CUSUM must aggregate the fact table FIRST (partial_sum visible
    before any window) so every window runs on the O(keys x days)
    collapsed series."""
    plan = _plan(spark, "ts_cusum_changepoint")
    assert "Window" in plan
    assert "Join" not in plan


def test_substring_spans_no_cartesian_no_global_window(spark):
    """The exact-substring dedup must stay relational AND single-pass:
    gram dup detection is a min/max window over the gram partition
    (min(doc_id) != max(doc_id) ⟺ COUNT(DISTINCT doc_id) >= 2), so the
    gram relation — the widest intermediate — is generated ONCE and
    never joined back (the round-9 rewrite of the countDistinct +
    semi-join form, which executed the explode pipeline four times);
    window passes stay partitioned (no single-partition global sort)."""
    import re

    plan = _plan(spark, "dedup_exact_substring_spans")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # exactly ONE gram explode in the whole plan (numbered operator list)
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, plan
    # and no distinct-aggregate expansion or semi join on the gram path
    assert "LeftSemi" not in plan, plan
    # every window partitions by doc_id — a partition-less Window would
    # show 'Window [' with an empty partition spec
    import re

    for spec in re.findall(r"Arguments: \[[^\]]*\], \[([^\]]*)\], \[", plan):
        pass  # window arg layout differs by version; rely on the check below
    assert "Window" in plan
    assert "windowspecdefinition()" not in plan.replace(" ", "")


def test_fifo_allocation_single_window_one_shuffle_family(spark):
    """The waterfall is one keyed window + one grouped aggregate over
    the same custkey hash partitioning — no self-join, no iteration."""
    import re

    plan = _plan(spark, "window_fifo_allocation")
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # orders⋈customer is the only join
    n_joins = len(
        re.findall(r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan)
    )
    assert n_joins == 1, plan


def test_rrf_fusion_first_stages_are_partial_topk(spark):
    """Both first-stage rankings cut to k=20 before fusion; the dense
    side's query vector is broadcast (never a shuffle join against the
    corpus scan)."""
    plan = _plan(spark, "rag_hybrid_rrf_fusion")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_scd2_apply_windows_only_over_batches(spark):
    """The incremental SCD2 merge must window each batch independently
    (never re-sort full history) and close open versions via a keyed
    join, not a window over the union."""
    import re

    plan = _plan(spark, "incremental_scd2_apply")
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2, plan  # one per batch
    assert "CartesianProduct" not in plan


def test_image_resize_python_stage_fans_out(spark):
    """Decode+resize happen in one mapInPandas, fed by exactly ONE
    round-robin exchange (session.fan_out_compute): the documents scan is a
    single byte-split, so the CPU-bound Python stage must NOT inherit
    the scan's partitioning (round-4 fix — decode parallelism tracks
    CPUs, not input byte splits). No other shuffle may move payload
    bytes below the Python stage."""
    plan = _plan(spark, "multimodal_image_resize")
    head, _, tail = plan.partition("MapInPandas")
    assert tail, "MapInPandas node missing"
    # The tree prints top-down, so everything UPSTREAM of (feeding) the
    # Python stage appears after it in the text: that segment must hold
    # the scan+projection plus exactly the one fan-out exchange. The
    # other Exchange above (in `head`) is the presentation orderBy.
    tree_below = tail.split("(1) Scan")[0]
    assert tree_below.count("Exchange") == 1, tree_below
    assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan


def test_erasure_cascade_joins_are_hash_or_broadcast_no_nested_loop(spark):
    """The GDPR cascade must stay keyed joins — a nested-loop anywhere
    would be quadratic in the fact table at scale."""
    plan = _plan(spark, "privacy_erasure_propagation")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_session_window_builtin_single_shuffle_no_join(spark):
    """Native sessionization is one user_id shuffle + in-partition
    session assembly — no self-join, no window-function pass."""
    plan = _plan(spark, "events_session_window_builtin")
    assert "Join" not in plan
    assert "Window" not in plan.replace("SessionWindow", "").replace(
        "session_window", ""
    )


def test_execute_immediate_pushes_date_predicate(spark):
    """The dynamically assembled statement still plans to a pushed-down
    scan — dynamic SQL costs nothing at plan time."""
    plan = _plan(spark, "sql_execute_immediate")
    assert "PushedFilters" in plan and "GreaterThanOrEqual(o_orderdate" in plan


def test_partition_backfill_day_grain_set_algebra(spark):
    """Gap detection runs at day grain: the fact table feeds ONE
    materialized day aggregate (localCheckpoint), and every branch of
    the set algebra reuses it — without the checkpoint Catalyst
    re-derived the aggregate per branch (7 fact scans observed)."""
    plan = _plan(spark, "incremental_partition_backfill")
    assert "Scan parquet" not in plan  # fact scan happened pre-checkpoint
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan
    # only the 1-row residual scalar may broadcast-nested-loop (tree
    # line counted; formatted mode repeats the node in the detail list)
    assert plan.count("BroadcastNestedLoopJoin Cross") <= 1


def test_decay_score_is_single_aggregate(spark):
    """Decay weighting is a stateless projection + one hash aggregate —
    no window, no join beyond the O(1) broadcast max-ts scalar."""
    plan = _plan(spark, "events_decay_weighted_score")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan  # the 1-row scalar
    assert plan.count("HashAggregate") >= 2  # partial + final on user_id


def test_balanced_classes_lane_needs_no_shuffle_before_window(spark):
    """The md5 lane is computed scan-side; the only fact-grain exchange
    is the per-class window's hashpartitioning on lang."""
    plan = _plan(spark, "sample_balanced_classes")
    assert "NestedLoop" not in plan or "BroadcastNestedLoop" in plan  # scalar target join is broadcast
    assert "Window" in plan


def test_quarantine_parse_never_shuffles_rows(spark):
    """Corrupt-record routing is a stateless parse: the only exchange is
    the 2-row lane aggregate's."""
    plan = _plan(spark, "source_json_corrupt_quarantine")
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # partial->final agg exchange (+AQE read)


def test_cogroup_asof_is_single_cogrouped_pass(spark):
    """The cogrouped as-of merge co-partitions both event lanes by
    user_id into ONE FlatMapCoGroupsInPandas pass — no join node, no
    cartesian fallback anywhere in the plan."""
    plan = _plan(spark, "udf_cogroup_asof_merge")
    assert "FlatMapCoGroupsInPandas" in plan
    assert "NestedLoop" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_cogroup_asof_survives_column_pruned_consumer(spark):
    """count() plans column-prune the cogroup's children. When both
    cogroup inputs expose the SAME column names, PySpark resolves the
    right side's UDF arguments against the LEFT child's attributes, so
    pruning strips the right child to its grouping key and the pandas
    function crashes on a payload-less frame (KeyError) — but only
    under pruned consumers; collect()/writes were always fine, so the
    parity gate never saw it. The query renames its right side to make
    resolution unambiguous; this pins that a count-only consumer (the
    maximal prune) executes the full UDF without error."""
    df = REGISTRY["udf_cogroup_asof_merge"].fn(spark, SF_SMALL)
    assert df.count() == len(df.collect())


def test_udf_family_survives_column_pruned_consumer(spark):
    """Every Pandas-UDF surface query must execute under a count()-only
    consumer — the maximal column prune, which the parity gate
    (collect) and bench (noop write) never exercise. This is the
    consumer shape that exposed the cogroup argument-resolution bug;
    sweeping the whole udf_* family keeps the class closed as the
    surface grows. (A registry-wide count() sweep ran 368/368 in round
    6; this pins the highest-risk family in-suite.) Beyond not
    crashing, the pruned plan must return the SAME row count as the
    unpruned collect() — a prune that silently drops or fabricates
    rows would otherwise pass."""
    names = [n for n in REGISTRY if n.startswith("udf_")]
    assert names, "udf_ family missing from registry"
    for name in names:
        df = REGISTRY[name].fn(spark, SF_SMALL)
        assert df.count() == len(df.collect()), (
            f"{name}: pruned count() diverges from unpruned collect()"
        )


def test_iterator_udf_is_map_only(spark):
    """Iterator-form scoring is a stateless Arrow projection: zero
    shuffle exchanges between the parquet scan and the output."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators.bucketed import (
        shuffle_exchange_count,
    )

    df = REGISTRY["udf_iterator_batch_scoring"].fn(spark, SF_SMALL)
    assert shuffle_exchange_count(df) == 0
    assert "ArrowEvalPython" in _plan(spark, "udf_iterator_batch_scoring")


def test_autocorrelation_joins_only_the_day_series(spark):
    """The ACF plan must join the O(days) checkpointed series, never the
    fact table: after the daily collapse (which runs inside the eager
    checkpoint) the final plan contains NO parquet scan at all."""
    plan = _plan(spark, "ts_autocorrelation")
    assert "Scan parquet" not in plan
    assert "Scan ExistingRDD" in plan  # the checkpointed day series


def test_mmr_shortlist_is_take_ordered(spark):
    """MMR retrieval stays a distributed top-k (TakeOrdered), never a
    global sort; the greedy rerank is one applyInPandas over k rows."""
    plan = _plan(spark, "sim_mmr_diversify")
    assert "TakeOrderedAndProject" in plan
    assert "FlatMapGroupsInPandas" in plan
    # retrieval never shuffle-joins: the 1-row query side broadcasts
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastExchange" in plan


def test_hive_partition_prune_reads_one_partition(spark):
    """Static partition pruning audit: the pruned read's row count per
    partition directory — only the matching directory contributes."""
    row = REGISTRY["source_hive_partitioned_prune"].fn(spark, SF_SMALL).collect()[0]
    assert row["partition_pruned"] is True
    assert row["n_partitions"] == 5


def test_schema_evolution_nulls_only_in_old_generation(spark):
    """mergeSchema read: lang is NULL exactly for the old-producer (even
    doc_id) rows — bucketed under 'missing' — and never for new rows."""
    rows = {
        r["lang_bucket"]: r["n_docs"]
        for r in REGISTRY["source_schema_evolution_merge"].fn(spark, SF_SMALL).collect()
    }
    assert "missing" in rows and rows["missing"] > 0
    assert set(rows) - {"missing"} == {"en", "de", "fr", "es", "zh"}


def test_python_datasource_batch_parallelizes(spark):
    """The Python DataSource batch scan honors its declared split plan:
    8 input partitions, rows generated executor-side."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.pysource import (
        register_python_sources,
    )

    register_python_sources(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("partitions", 8)
        .option("rows_per_partition", 1000)
        .load()
    )
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 8000


def test_interval_overlap_join_is_bucketed_equijoin(spark):
    """Interval-interval overlap must candidate via the bucket equi-join
    (hash-joinable), never a nested-loop range join; and the overlap
    relation actually fires at the smallest SF."""
    plan = _plan(spark, "join_interval_overlap_binned")
    assert "NestedLoop" not in plan
    rows = REGISTRY["join_interval_overlap_binned"].fn(spark, SF_SMALL).collect()
    assert sum(r["n_overlaps"] for r in rows) > 0


def test_apportionment_conserves_budget_exactly(spark):
    """Largest-remainder allocation must sum to the budget EXACTLY (the
    conservation contract naive rounding breaks) and hand out a
    non-trivial correction (0 <= extras < n_classes)."""
    rows = (
        REGISTRY["window_largest_remainder_apportion"].fn(spark, SF_SMALL).collect()
    )
    assert sum(r["alloc"] for r in rows) == 100000
    extras = sum(1 for r in rows if r["got_extra"])
    assert 0 <= extras < len(rows)


def test_join_hints_all_honored(spark):
    """All three strategy hints must flip the physical join operator."""
    rows = REGISTRY["join_hint_strategy_invariance"].fn(spark, SF_SMALL).collect()
    assert all(r["hint_honored"] for r in rows), rows
    assert len({(r["n_items"], r["revenue_cents"]) for r in rows}) == 1


def test_kcore_converged_within_round_cap(spark):
    """One more peel round past the cap must be a no-op (the fixpoint is
    reached inside KCORE_ROUNDS), and the surviving core is non-empty
    with every degree >= k."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators.graph import (
        KCORE_K,
        q_graph_kcore_peel,
    )

    rows = q_graph_kcore_peel(spark, SF_SMALL).collect()
    assert rows and all(r["core_degree"] >= KCORE_K for r in rows)
    nodes = {r["doc_id"] for r in rows}
    # idempotence: restricting the core to itself peels nothing further
    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators.dedup import (
        q_dedup_ngram_jaccard,
    )

    pairs = q_dedup_ngram_jaccard(spark, SF_SMALL).select("doc_a", "doc_b").collect()
    sym = {(r["doc_a"], r["doc_b"]) for r in pairs} | {
        (r["doc_b"], r["doc_a"]) for r in pairs
    }
    deg = {}
    for a, b in sym:
        if a in nodes and b in nodes:
            deg[a] = deg.get(a, 0) + 1
    assert set(deg) == nodes and all(d >= KCORE_K for d in deg.values())


def test_mor_wrong_precedence_is_detected(spark):
    """Negative control for merge-on-read: resolving deltas
    FIRST-write-wins (min seq instead of max) must produce DIFFERENT
    content — the planted upsert-then-tombstone overlap exercises
    precedence at row AND value level — while the registered last-wins
    read agrees with the compacted rewrite."""
    rows = REGISTRY["maintenance_merge_on_read"].fn(spark, SF_SMALL).collect()
    assert all(r["read_paths_agree"] for r in rows)
    o = load_table(spark, SF_SMALL, "orders").selectExpr(
        "o_orderkey AS k",
        "o_orderpriority",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
    )
    overlap = o.filter(F.col("k") % 16 == 8)
    n_overlap = overlap.count()
    assert n_overlap > 0  # precedence-deciding keys exist at the smallest SF
    # WRONG precedence: first-write-wins keeps the k%16==8 rows the
    # tombstones deleted, at their delta-1 REPRICED value — so both the
    # row count AND the revenue diverge from the registered read.
    correct_n = sum(r["n_orders"] for r in rows)
    correct_cents = sum(r["revenue_cents"] for r in rows)
    wrong = (
        o.filter(F.col("k") % 8 != 4)  # only the never-upserted deletes apply
        .selectExpr(
            "CASE WHEN k % 8 = 0 THEN cents + k % 1000 + 1 ELSE cents END AS cents"
        )
        .agg(F.count("*").alias("n"), F.sum("cents").alias("cents"))
        .collect()[0]
    )
    assert wrong["n"] == correct_n + n_overlap
    repriced_overlap_cents = (
        overlap.selectExpr("cents + k % 1000 + 1 AS c").agg(F.sum("c")).collect()[0][0]
    )
    assert wrong["cents"] == correct_cents + repriced_overlap_cents


def test_atomic_publish_naive_reader_sees_mixed_generations(spark):
    """Negative control for the manifest commit: a reader that ignores
    CURRENT and just takes each table's LATEST version directory mixes
    snapshot generations (table a at v2, table b at v1) — exactly the
    inconsistency the manifest protocol exists to prevent."""
    rows = REGISTRY["maintenance_two_table_atomic_publish"].fn(spark, SF_SMALL).collect()
    assert all(r["snapshot_consistent"] and r["orphan_versions"] == 1 for r in rows)
    by_report = {}
    for r in rows:
        by_report.setdefault(r["report"], 0)
        by_report[r["report"]] += r["n"]
    n_all = load_table(spark, SF_SMALL, "orders").count()
    n_v1 = load_table(spark, SF_SMALL, "orders").filter(
        F.col("o_orderkey") % 2 == 0
    ).count()
    # manifest read returned the v1 snapshot for BOTH tables
    assert by_report["by_priority"] == n_v1 and by_report["by_status"] == n_v1
    # the naive "latest dir" reader would pair a's v2 (all orders) with
    # b's v1 — generations disagree on total row count
    assert n_all != n_v1


def test_retention_gc_is_what_creates_readmission(spark):
    """Negative control for the fingerprint GC: an INDEPENDENT
    recomputation of the re-admitted lane (python md5, same day rule)
    must match the query's count — so a wrong retention cutoff or a
    broken retained-join fails here, not just the tautological lane
    partition — and against the FULL store re-admission is zero by
    definition."""
    import hashlib

    row = REGISTRY["dedup_store_retention_gc"].fn(spark, SF_SMALL).collect()[0]
    assert row["n_readmitted"] > 0
    assert row["n_store_retained"] < row["n_store_full"]
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text").collect()
    def day(fp: str) -> int:
        return int(hashlib.md5((fp + ":gcday").encode()).hexdigest()[:8], 16) % 10
    store = {hashlib.md5(r["text"].encode()).hexdigest() for r in docs}
    expired = {fp for fp in store if day(fp) < 5}
    batch_fps = [
        hashlib.md5(r["text"].encode()).hexdigest()
        for r in docs
        if r["doc_id"] % 3 == 0
    ]
    expected_readmitted = sum(1 for fp in batch_fps if fp in expired)
    assert row["n_readmitted"] == expected_readmitted
    # against the FULL store nothing is re-admitted: every batch fp that
    # exists in store is dup-of-recent by definition
    assert sum(1 for fp in batch_fps if fp in store and fp not in expired) == row[
        "n_dup_recent"
    ]


def test_media_routing_stays_jvm_side(spark):
    """The capability-registry sniff (structural stsd fourCC over head
    AND tail windows, round 5) must compile to pure Catalyst
    expressions: format routing at scan speed, zero Python eval nodes
    before the decode lane."""
    from pyspark.sql import functions as F

    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators.multimodal import (
        route_media,
    )

    media = spark.range(4).select(
        F.col("id").alias("doc_id"),
        F.encode(F.lit("not-a-real-payload"), "utf-8").alias("payload"),
    )
    routed = route_media(media)
    jvm = spark.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("extended")
    plan = routed._jdf.queryExecution().explainString(mode)
    for python_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert python_node not in plan, f"routing fell into {python_node}"
    # the structural sniff is present (locate over the decoded window)
    assert "locate(stsd" in plan


def test_range_between_numeric_is_banded(spark):
    """The numeric RANGE frame must NOT partition on the raw 5-value
    priority key (round-6 verdict perf-weak item): the window spec
    partitions on (priority, price-band bin), the partition-key
    cardinality materially exceeds the 5 priorities, and the 2x halo
    construction keeps the frame aggregates exact (parity is pinned
    separately by the oracle suite; here we pin the one-copy-per-
    partition invariant the exactness argument rests on)."""
    plan = _plan(spark, "window_range_between_numeric")
    # the one Window node partitions on both keys
    import re

    window_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert window_lines, "no Window node in plan"
    assert all(
        "o_orderpriority" in l and "bin" in l for l in window_lines
    ), "window partition spec lost the price-band bin key"

    df = REGISTRY["window_range_between_numeric"].fn(spark, SF_SMALL)
    orders = load_table(spark, SF_SMALL, "orders")
    W, B = 1_000_000, 2_000_000
    keys = (
        orders.select(
            "o_orderpriority",
            F.floor(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint") / B
            ).alias("bin"),
        )
        .distinct()
        .count()
    )
    assert keys > 5, f"banding produced only {keys} partition keys"

    # halo exactness invariant: within any (priority, bin) partition each
    # underlying order appears exactly once (home XOR its single halo copy)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    binned = orders.select(
        "o_orderkey", "o_orderpriority", cents.alias("cents")
    ).withColumn("home_bin", F.floor(F.col("cents") / B).cast("bigint"))
    copies = binned.select(
        "o_orderkey",
        "o_orderpriority",
        F.explode(
            F.array(
                F.col("home_bin"),
                F.when(F.col("cents") % B < W, F.col("home_bin") - 1).otherwise(
                    F.col("home_bin") + 1
                ),
            )
        ).alias("bin"),
    )
    dupes = (
        copies.groupBy("o_orderkey", "o_orderpriority", "bin")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dupes == 0, "an order landed twice in one (priority, bin) partition"


def test_plan_audit_invariants_on_representative_sample(spark):
    """Keep the PLAN_AUDIT.json invariants alive in-suite on a
    representative sample (the full 368-query audit is a CLI artifact,
    `plan_audit.py`): zero row-at-a-time BatchEvalPython nodes anywhere
    (the repo policy — Python boundaries must be Arrow-batched), scans
    carry pushed filters where the query filters on scan columns, and
    the broadcast dimension joins actually broadcast."""
    import plan_audit

    sample = {
        "report_sales_by_customer": {"pushed_filters": True, "min_broadcasts": 2},
        "tpch_q6_forecast_revenue": {"pushed_filters": True},
        "incremental_scan_hwm": {"pushed_filters": True},
        "udf_pandas_scalar_charge": {},
        "udf_cogroup_asof_merge": {},
        "multimodal_features": {},
        "dedup_minhash_lsh": {},
        "window_range_between_numeric": {},
        "join_broadcast_snowflake": {"min_broadcasts": 2},
        "sort_limit_topk": {"min_topk": 1},
    }
    for name, want in sample.items():
        stats = plan_audit.audit_plan(REGISTRY[name].fn(spark, SF_SMALL))
        assert stats["row_at_a_time_python"] == 0, (name, stats)
        if want.get("pushed_filters"):
            assert stats["pushed_filters"], (name, stats)
        if "min_broadcasts" in want:
            assert stats["n_broadcasts"] >= want["min_broadcasts"], (name, stats)
        if "min_topk" in want:
            assert stats["n_topk_nodes"] >= want["min_topk"], (name, stats)
