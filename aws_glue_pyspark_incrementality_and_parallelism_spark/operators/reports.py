"""Flagship report pipeline — the reference's ETL re-expressed Spark-first.

Reference shape (/root/reference/glue_rds_to_redshift.py):

* 3-way equi inner join fact ⋈ dim ⋈ dim with key renames (:44,:46)
* column projection (:47), cache (:48)
* two grouped-sum reports (:62,:74) written concurrently (:52-55)

Transposed onto the driver testdata (FIXTURES.md §B): ``lineitem`` plays
the fact, ``orders``/``customer``/``supplier`` the dimensions.

Scale notes (100 TB stance):

* The fact→orders join shuffles on the order key; both sides are
  key-partitioned by Catalyst, and AQE handles skew. No manual
  repartition — at cluster scale you'd bucket both tables by orderkey to
  make this a shuffle-free sort-merge join.
* customer/supplier joins are eligible for broadcast-hash under
  autoBroadcastJoinThreshold/AQE at test SFs; at 100 TB Catalyst falls
  back to shuffle joins automatically. We do NOT hard-code broadcast()
  on dimensions that grow with SF (only on region/nation elsewhere).
* Projection happens before the join so the parquet scan reads only the
  needed columns (column pruning would do this anyway; the explicit
  select documents the contract).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import session
from ..sources.io import load_table


@dataclass(frozen=True)
class ReportSpec:
    """One grouped-sum report: revenue per (id, name, day), where the
    day is ``day_col`` truncated to a date and named ``day``; ``pool`` is
    the FAIR pool the ETL writes it from."""

    name: str
    keys: tuple[str, str]
    day_col: str
    day: str
    pool: str

    def aggregate(self, df: DataFrame) -> DataFrame:
        return df.groupBy(*self.keys, F.to_date(self.day_col).alias(self.day)).agg(
            F.round(F.sum("l_extendedprice"), 2).alias("total")
        )


SALES_BY_CUSTOMER = ReportSpec(
    "sales_by_customer", ("c_custkey", "c_name"), "o_orderdate", "order_date", session.POOL_USERS_REPORT
)
SALES_BY_SUPPLIER = ReportSpec(
    "sales_by_supplier", ("s_suppkey", "s_name"), "l_shipdate", "ship_date", session.POOL_SUBSCRIPTIONS_REPORT
)
#: The ETL's reports, in the order ``run_etl`` submits them.
REPORTS = (SALES_BY_CUSTOMER, SALES_BY_SUPPLIER)


def joined_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fact ⋈ orders ⋈ customer with renamed join keys.

    Mirrors the reference's rename→join→select chain
    (glue_rds_to_redshift.py:44-47, bug-corrected per SURVEY §8 B4/B5):
    the fact's FK columns are renamed with a ``trn_`` prefix so both key
    columns survive the join unambiguously, then projected away.
    """
    lineitem = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_shipdate")
        .withColumnRenamed("l_orderkey", "trn_orderkey")
        .withColumnRenamed("l_suppkey", "trn_suppkey")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")

    joined = lineitem.join(orders, lineitem.trn_orderkey == orders.o_orderkey, "inner").join(
        customer, F.col("o_custkey") == customer.c_custkey, "inner"
    )
    return joined.select(
        F.col("trn_orderkey").alias("orderkey"),
        "trn_suppkey",
        "l_quantity",
        "l_extendedprice",
        "l_shipdate",
        "o_orderdate",
        "o_orderpriority",
        "c_custkey",
        "c_name",
        "c_mktsegment",
    )


def sales_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report A — per (customer, day) revenue.

    The intended semantics of the reference's users report
    (glue_rds_to_redshift.py:62, bug-corrected per SURVEY §8 B6):
    groupBy(account, holder name, date) → sum(amount).
    """
    return SALES_BY_CUSTOMER.aggregate(joined_sales(spark, sf_dir))


def sales_by_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report B — per (supplier, ship-day) revenue.

    The intended semantics of the reference's subscriptions report
    (glue_rds_to_redshift.py:74, bug-corrected per SURVEY §8 B7):
    groupBy(dimension id, dimension name, date) → sum(amount).
    """
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_shipdate"
    )
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return SALES_BY_SUPPLIER.aggregate(
        lineitem.join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey, "inner")
    )


def merge_report_increment(
    existing: DataFrame, increment: DataFrame, keys: list[str]
) -> DataFrame:
    """Incremental aggregate maintenance: fold a new batch's PARTIAL
    report into the standing report by re-aggregating the union on the
    group keys — sum-of-sums, count-of-counts. This is the reference's
    bookmark idea (glue_rds_to_redshift.py:31 — never reprocess old
    rows) applied to the AGGREGATE layer: each run aggregates only its
    incremental slice, and history is touched only as pre-aggregated
    group rows (O(groups), not O(facts)).

    Works because sum/count are associative-commutative; avg/median
    reports must store (sum, count) parts instead of the ratio. The
    shuffle is keyed on the report's group keys over two report-sized
    inputs — at 100 TB the fact table is never re-read."""
    summable = [c for c in existing.columns if c not in keys]
    return (
        existing.unionByName(increment)
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in summable])
    )
