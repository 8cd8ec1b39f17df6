"""``load_table``'s schema cache: a warm read plans exactly as a cold one
and runs no inference job, and any change to the files is seen."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aws_glue_pyspark_incrementality_and_parallelism_spark.sources import io
from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import (
    TABLES,
    load_table,
    table_path,
)

from .conftest import SF_SMALL, optimized_plan


@pytest.mark.parametrize("name", TABLES)
def test_warm_read_plans_as_cold_and_runs_no_job(spark, name):
    sc = spark.sparkContext
    io._SCHEMAS.pop(os.path.abspath(table_path(SF_SMALL, name)), None)
    cold = load_table(spark, SF_SMALL, name)
    group = f"test-schema-cache-{name}-{id(cold)}"
    sc.setJobGroup(group, "warm load_table")
    try:
        warm = load_table(spark, SF_SMALL, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert optimized_plan(warm) == optimized_plan(cold)


def test_rewrite_and_append_are_seen(spark, tmp_path):
    sf_dir = str(tmp_path)
    rows = pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"]})
    single = table_path(sf_dir, "region")
    pq.write_table(rows, single)
    assert load_table(spark, sf_dir, "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(rows.append_column("r_comment", pa.array(["x", "y"])), single)
    again = load_table(spark, sf_dir, "region")
    assert again.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(again.collect()) == [(0, "a", "x"), (1, "b", "y")]

    directory = table_path(sf_dir, "nation")
    os.makedirs(directory)
    pq.write_table(rows, os.path.join(directory, "part-0.parquet"))
    assert load_table(spark, sf_dir, "nation").count() == 2
    entry = io._SCHEMAS[os.path.abspath(directory)]
    pq.write_table(rows, os.path.join(directory, "part-1.parquet"))
    assert load_table(spark, sf_dir, "nation").count() == 4
    assert io._SCHEMAS[os.path.abspath(directory)][0] != entry[0]
