"""Source-format round-trips (CSV/JSON with explicit schemas) and the
CLI entrypoint."""

from __future__ import annotations

import os
import subprocess
import sys

from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import (
    load_table,
    read_csv,
    read_json,
)

from .conftest import REPO_ROOT, SF_SMALL


def test_csv_roundtrip(spark, tmp_path):
    nation = load_table(spark, SF_SMALL, "nation")
    path = str(tmp_path / "nation_csv")
    nation.write.option("header", "true").csv(path)
    back = read_csv(spark, path, nation.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_json_roundtrip(spark, tmp_path):
    region = load_table(spark, SF_SMALL, "region")
    path = str(tmp_path / "region_json")
    region.write.json(path)
    back = read_json(spark, path, region.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, region.collect()))


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import read_orc

    supplier = load_table(spark, SF_SMALL, "supplier")
    path = str(tmp_path / "supplier_orc")
    supplier.write.orc(path)
    back = read_orc(spark, path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, supplier.collect()))
    # pushdown + pruning reach the ORC scan like parquet
    from pyspark.sql import functions as F

    q = read_orc(spark, path).filter(F.col("s_suppkey") > 10).select("s_suppkey", "s_name")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = q._jdf.queryExecution().explainString(mode)
    assert "GreaterThan(s_suppkey,10)" in plan
    assert "ReadSchema: struct<s_suppkey:bigint,s_name:string>" in plan


def test_cli_entrypoint(tmp_path):
    out = str(tmp_path / "reports")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "aws_glue_pyspark_incrementality_and_parallelism_spark",
            "--sf-dir",
            SF_SMALL,
            "--output",
            out,
        ],
        cwd=REPO_ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert os.path.isdir(os.path.join(out, "sales_by_customer"))
    assert os.path.isdir(os.path.join(out, "sales_by_supplier"))
    assert "committed hwm=" in proc.stderr or "committed hwm=" in proc.stdout


def test_json_malformed_record_policies(spark, tmp_path):
    """FAILFAST dies on a bad line; PERMISSIVE quarantines it in
    _corrupt_record (dead-letter pattern); DROPMALFORMED silently skips."""
    import pytest
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from aws_glue_pyspark_incrementality_and_parallelism_spark.sources import io

    p = str(tmp_path / "events.jsonl")
    with open(p, "w") as f:
        f.write('{"event_id": 1, "event_type": "view"}\n')
        f.write("this is not json\n")
        f.write('{"event_id": 2, "event_type": "click"}\n')

    base = [StructField("event_id", LongType()), StructField("event_type", StringType())]
    schema = StructType(base)
    with pytest.raises(Exception):
        io.read_json(spark, p, schema, mode="FAILFAST").collect()

    quarantine = StructType(base + [StructField("_corrupt_record", StringType())])
    rows = io.read_json(spark, p, quarantine, mode="PERMISSIVE").collect()
    assert len(rows) == 3
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(bad) == 1 and bad[0]._corrupt_record.startswith("this is")

    kept = io.read_json(spark, p, schema, mode="DROPMALFORMED").collect()
    assert {r.event_id for r in kept} == {1, 2}


def test_orc_roundtrip(spark, tmp_path):
    """ORC is the other columnar format Spark ships natively; the engine
    reads/writes it with the same schema fidelity as parquet."""
    supplier = load_table(spark, SF_SMALL, "supplier")
    path = str(tmp_path / "supplier_orc")
    supplier.write.orc(path)
    back = spark.read.schema(supplier.schema).orc(path)
    assert back.schema == supplier.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, supplier.collect()))


class TestPythonDataSource:
    """Custom Python Data Source API source (sources/pysource.py)."""

    def _df(self, spark, **opts):
        from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.pysource import (
            register_python_sources,
        )

        register_python_sources(spark)
        reader = spark.read.format("synthetic_events")
        for k, v in opts.items():
            reader = reader.option(k, v)
        return reader.load()

    def test_schema_and_count(self, spark):
        df = self._df(spark, partitions=4, rows_per_partition=250)
        assert df.count() == 1000
        assert [f.name for f in df.schema.fields] == [
            "event_id", "user_id", "event_type", "value",
        ]

    def test_parallel_split_plan(self, spark):
        from pyspark.sql import functions as F

        df = self._df(spark, partitions=5, rows_per_partition=10)
        pids = df.select(F.spark_partition_id().alias("p")).distinct().count()
        assert pids == 5, "reader must parallelize across declared partitions"

    def test_deterministic_under_retry(self, spark):
        a = sorted(map(tuple, self._df(spark, partitions=3, seed=7).collect()))
        b = sorted(map(tuple, self._df(spark, partitions=3, seed=7).collect()))
        assert a == b
        c = sorted(map(tuple, self._df(spark, partitions=3, seed=8).collect()))
        assert a != c

    def test_composes_with_sql(self, spark):
        from pyspark.sql import functions as F

        df = self._df(spark, partitions=2, rows_per_partition=500, n_users=10)
        agg = df.groupBy("event_type").agg(F.count("*").alias("n"))
        assert agg.count() == 4
        assert df.filter(F.col("user_id") < 5).count() > 0
