"""Bucketed (pre-shuffled) storage layout: the shuffle-free fact-to-fact
join.

At 100 TB the single most expensive plan node is the shuffle that
co-locates two large fact tables on their join key. Bucketing pays that
shuffle ONCE at write time — ``DataFrameWriter.bucketBy(n, key)`` hashes
rows into a fixed number of files per partition and records the layout
in the catalog — after which every subsequent join or aggregation on the
bucket key reads both sides already co-located: the planner drops the
Exchange entirely and sort-merge-joins matching bucket files pairwise.
This is the batch-layout twin of ``layout.py``'s clustering operators
(those optimize scan locality; bucketing optimizes join/agg locality).

The reference job re-shuffles its users⋈subscriptions join on every run
(glue_rds_to_redshift.py:46-47 — Join.apply with no layout strategy);
bucketing is what a nightly 100 TB version of that job would adopt so
the daily join cost is a co-located merge, not a full re-shuffle.

Scale notes: bucket count is chosen per-table at write time (target
~128 MB per bucket file per partition); both sides of a co-located join
must agree on bucket count and key. Spark requires no Exchange when
(a) both scans are bucketed on the join key with the same bucket count
and (b) the join is a sort-merge join — pinned below by counting
shuffle exchanges in the physical plan.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..session import scratch_dir
from ..sources.io import load_table

N_BUCKETS = 8


def write_bucketed(
    df: DataFrame, key: str, table: str, path: str, n_buckets: int = N_BUCKETS
) -> None:
    """Persist ``df`` bucketed+sorted by ``key`` as an external parquet
    table (explicit ``path`` keeps the data out of the session warehouse
    dir so the operator runs under any caller's cwd)."""
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


def shuffle_exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in ``df``'s physical plan.

    Counts ``Exchange hashpartitioning``/``rangepartitioning`` nodes —
    NOT ``BroadcastExchange`` (which moves only the small side and is
    not the cost bucketing exists to remove). Driver-side control-plane
    introspection, same mechanism as tests/test_plans.py."""
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    plan = df._jdf.queryExecution().explainString(mode)
    return sum(
        plan.count(f"Exchange {kind}partitioning")
        for kind in ("hash", "range")
    )


@query(
    "join_bucketed_no_shuffle",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue,
           TRUE AS join_is_shuffle_free
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 100000
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q_join_bucketed_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write lineitem and orders bucketed by orderkey, join them with
    ZERO shuffle exchanges, and aggregate revenue per order priority.

    The emitted ``join_is_shuffle_free`` boolean is computed from the
    real physical plan of the join (shuffle-exchange count == 0), so the
    driver's oracle adjudicates both the join result (exact DECIMAL
    revenue per priority vs DuckDB) and the layout claim. The final
    groupBy still shuffles its tiny aggregate — the win being pinned is
    the fact-to-fact join itself.

    A ``merge`` hint forces sort-merge (the strategy bucketing
    accelerates) so the plan check cannot be satisfied vacuously by a
    broadcast of the small sf0.01 orders side.
    """
    run = uuid.uuid4().hex[:8]
    base = scratch_dir("sgq_bucketed_")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 100000)
        .select("o_orderkey", "o_orderpriority")
    )
    li_t, o_t = f"sgq_bl_{run}", f"sgq_bo_{run}"
    write_bucketed(li, "l_orderkey", li_t, f"{base}/lineitem")
    write_bucketed(orders, "o_orderkey", o_t, f"{base}/orders")

    joined = spark.table(li_t).hint("merge").join(
        spark.table(o_t),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    shuffle_free = shuffle_exchange_count(joined) == 0

    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("revenue"),
        )
        .withColumn("join_is_shuffle_free", F.lit(shuffle_free))
        .orderBy("o_orderpriority")
    )


@query(
    "join_dpp_partitioned_fact",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
           TRUE AS dpp_in_plan
    FROM orders
    WHERE year(o_orderdate) = (SELECT MIN(year(o_orderdate)) + 1 FROM orders)
    GROUP BY 1 ORDER BY 1
    """,
)
def q_join_dpp_partitioned_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning end-to-end: write orders partitioned by
    year, join against a filtered one-row dim on the PARTITION column,
    and verify both the result AND that Catalyst injected the runtime
    pruning subquery into the fact scan.

    At 100 TB this plan shape is the difference between scanning the
    whole lake and scanning the one partition the dim filter selects —
    the fact side's partition list is resolved at RUNTIME from the
    dim's rows, which static pushdown cannot do. ``dpp_in_plan`` is
    computed from the real physical plan (same mechanism as the
    bucketed join's shuffle audit); the dim holds min_year+1 so the
    probe year exists at every SF.
    """
    base = scratch_dir("sgq_dpp_")
    path = f"{base}/orders_by_year"
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    orders.write.partitionBy("o_year").mode("overwrite").parquet(path)
    probe_year = (
        orders.agg((F.min("o_year") + 1).alias("y")).collect()[0]["y"]
    )
    if probe_year is None:  # empty relation: any probe year works
        probe_year = 0
    # explicit schema: a partitionBy write of ZERO rows creates no
    # partition directories, so schema inference has nothing to read —
    # the no-new-data incremental run must still plan
    fact = spark.read.schema(orders.schema).parquet(path)
    # DPP requires a FILTERED build side (the runtime subquery reuses the
    # dim filter); an unfiltered literal relation does not qualify
    dim = spark.createDataFrame(
        [(int(probe_year), "keep"), (int(probe_year) + 1, "drop")],
        "d_year int, tag string",
    ).filter(F.col("tag") == "keep")
    joined = fact.join(F.broadcast(dim), fact.o_year == dim.d_year)

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = joined._jdf.queryExecution().explainString(mode)
    dpp = "dynamicpruning" in plan.lower()

    return (
        joined.groupBy(F.col("o_year").cast("int").alias("o_year"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .withColumn("dpp_in_plan", F.lit(dpp))
        .orderBy("o_year")
    )


@query(
    "agg_bucketed_no_shuffle",
    oracle="""
    WITH per_order AS (
        SELECT l_orderkey,
               COUNT(*) AS n_lines,
               SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS cents
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT COUNT(*) AS n_orders,
           CAST(MAX(n_lines) AS BIGINT) AS max_lines,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           TRUE AS agg_is_shuffle_free
    FROM per_order
    """,
)
def q_agg_bucketed_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation on the bucket key with ZERO shuffle exchanges — the
    second dividend of bucketed layout: a bucketed scan already
    satisfies the hash distribution a groupBy(l_orderkey) needs, so
    Catalyst drops the Exchange and the per-key aggregate runs
    scan-local. At 100 TB this turns every repeated keyed rollup on
    the layout key (per-order, per-user, per-doc) into a map-only job.

    The shuffle audit covers the PER-KEY aggregate plan (the tiny
    4-column final reduction afterwards is all that ever moves);
    results are exact-integer and oracle-adjudicated next to the
    plan-derived boolean, like the bucketed join.
    """
    run = uuid.uuid4().hex[:8]
    base = scratch_dir("sgq_baggr_")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    table = f"sgq_ba_{run}"
    write_bucketed(li, "l_orderkey", table, f"{base}/lineitem")

    per_order = (
        spark.table(table)
        .groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents"),
        )
    )
    shuffle_free = shuffle_exchange_count(per_order) == 0

    return per_order.agg(
        F.count("*").alias("n_orders"),
        F.max("n_lines").cast("bigint").alias("max_lines"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    ).withColumn("agg_is_shuffle_free", F.lit(shuffle_free))
