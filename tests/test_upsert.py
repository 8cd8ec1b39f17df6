from __future__ import annotations

import os

from pyspark.sql import functions as F

from aws_glue_pyspark_incrementality_and_parallelism_spark.operators.upsert import upsert_parquet
from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import load_table

from .conftest import SF_SMALL


def test_upsert_updates_and_inserts(spark, tmp_path):
    target = os.path.join(str(tmp_path), "customers")
    base = load_table(spark, SF_SMALL, "customer")
    upsert_parquet(spark, target, base, keys=["c_custkey"])
    assert spark.read.parquet(target).count() == base.count()

    # update 10 customers' balance, insert 5 new ones
    updates = (
        base.filter(F.col("c_custkey") < 10)
        .withColumn("c_acctbal", F.lit(99999.0))
        .unionByName(
            base.filter(F.col("c_custkey") < 5).withColumn(
                "c_custkey", F.col("c_custkey") + 1_000_000
            )
        )
    )
    upsert_parquet(spark, target, updates, keys=["c_custkey"])

    after = spark.read.parquet(target)
    assert after.count() == base.count() + 5
    assert after.filter(F.col("c_custkey") < 10).filter(F.col("c_acctbal") != 99999.0).count() == 0
    assert after.filter(F.col("c_custkey") >= 1_000_000).count() == 5
    # keys unique after merge
    assert after.groupBy("c_custkey").count().filter(F.col("count") > 1).count() == 0


def test_upsert_idempotent(spark, tmp_path):
    target = os.path.join(str(tmp_path), "t")
    base = load_table(spark, SF_SMALL, "supplier")
    upsert_parquet(spark, target, base, keys=["s_suppkey"])
    upsert_parquet(spark, target, base, keys=["s_suppkey"])
    after = spark.read.parquet(target)
    assert after.count() == base.count()
    assert sorted(map(tuple, after.collect())) == sorted(map(tuple, base.collect()))


def test_cdc_apply_insert_update_delete(spark, tmp_path):
    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators.upsert import (
        apply_cdc_parquet,
        upsert_parquet,
    )

    target = str(tmp_path / "cdc_target")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, name string, v long"
    )
    upsert_parquet(spark, target, base, ["id"])

    changes = spark.createDataFrame(
        [
            (2, "b2", 21, "U", 100),
            (3, None, None, "D", 101),
            (4, "d", 40, "I", 102),
        ],
        "id long, name string, v long, op string, seq long",
    )
    apply_cdc_parquet(spark, target, changes, ["id"], seq_col="seq")
    got = sorted(map(tuple, spark.read.parquet(target).collect()))
    assert got == [(1, "a", 10), (2, "b2", 21), (4, "d", 40)]


def test_cdc_last_change_per_key_wins(spark, tmp_path):
    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators.upsert import (
        apply_cdc_parquet,
    )

    target = str(tmp_path / "cdc_target2")
    # one batch holds the key's full lifecycle: insert -> update -> delete
    changes = spark.createDataFrame(
        [
            (1, "born", 1, "I", 1),
            (1, "grew", 2, "U", 2),
            (1, None, None, "D", 3),
            (2, "x", 9, "I", 4),
            (2, "y", 10, "U", 5),
        ],
        "id long, name string, v long, op string, seq long",
    )
    apply_cdc_parquet(spark, target, changes, ["id"], seq_col="seq")
    got = sorted(map(tuple, spark.read.parquet(target).collect()))
    assert got == [(2, "y", 10)]
