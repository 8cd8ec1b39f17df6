"""Glue-compat façade: the reference's job code shape (bugs fixed) must
run on this engine through create_dynamic_frame / Join.apply /
SelectFields.apply / write_dynamic_frame, with job bookmarks giving the
no-duplicates incremental guarantee the reference's screenshots
document."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from aws_glue_pyspark_incrementality_and_parallelism_spark import compat
from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import load_table

from .conftest import SF_SMALL


def _run_reference_shaped_job(spark, sf_dir, out_dir):
    """The reference pipeline transposed onto the testdata star schema:
    lineitem (fact) joined to orders and customer, projected, grouped,
    written — glue_rds_to_redshift.py:28-65 with bugs B2-B7 fixed."""
    ctx = compat.GlueCompatContext(spark, sf_dir, out_dir, job_bookmarks=True)
    fact = ctx.create_dynamic_frame.from_catalog(
        database="testdata",
        table_name="lineitem",
        transformation_ctx="src_lineitem",
        additional_options={"jobBookmarkKeys": ["l_orderkey"], "jobBookmarkKeysSortOrder": "asc"},
    )
    orders = ctx.create_dynamic_frame.from_catalog(
        database="testdata", table_name="orders", transformation_ctx="src_orders"
    )
    customer = ctx.create_dynamic_frame.from_catalog(
        database="testdata", table_name="customer", transformation_ctx="src_customer"
    )
    fact = fact.rename_field("l_orderkey", "trn_orderkey")
    joined = compat.Join.apply(
        compat.Join.apply(fact, orders, "trn_orderkey", "o_orderkey"),
        customer,
        "o_custkey",
        "c_custkey",
    )
    selected = compat.SelectFields.apply(
        frame=joined,
        paths=["trn_orderkey", "o_custkey", "c_name", "l_extendedprice", "no_such_column"],
    )
    report = (
        selected.toDF()
        .groupBy("o_custkey", "c_name")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("total"))
    )
    ctx.write_dynamic_frame.from_options(
        compat.DynamicFrameShim.fromDF(report, ctx, "report"),
        connection_options={"dbtable": "sales_report"},
    )
    ctx.commit_bookmarks()
    return report


def test_compat_job_matches_native_join(spark, tmp_path):
    out = str(tmp_path / "out")
    report = _run_reference_shaped_job(spark, SF_SMALL, out)
    got = spark.read.parquet(os.path.join(out, "sales_report"))

    l = load_table(spark, SF_SMALL, "lineitem")
    o = load_table(spark, SF_SMALL, "orders")
    c = load_table(spark, SF_SMALL, "customer")
    expected = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_custkey", "c_name")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("total"))
    )
    assert got.count() == expected.count() > 0
    assert expected.exceptAll(got).count() == 0
    # SelectFields ignored the absent path instead of failing
    assert "no_such_column" not in report.columns


def test_compat_join_keeps_both_keys_and_decollides(spark):
    ctx = compat.GlueCompatContext(spark, SF_SMALL, "/tmp/unused-compat")
    a = compat.DynamicFrameShim(
        spark.createDataFrame([(1, "x")], "k long, name string"), ctx
    )
    b = compat.DynamicFrameShim(
        spark.createDataFrame([(1, "y")], "kk long, name string"), ctx
    )
    j = compat.Join.apply(a, b, "k", "kk").toDF()
    # Glue keeps both key columns; colliding non-key names get _2
    assert set(j.columns) == {"k", "kk", "name", "name_2"}
    row = j.collect()[0]
    assert row.k == row.kk == 1 and row.name == "x" and row.name_2 == "y"


def test_compat_bookmarks_skip_seen_rows(spark, tmp_path):
    """Second run over the same catalog reads zero new fact rows — the
    exact incremental semantic whose absence produced the duplicated
    report rows in the reference's screenshots."""
    out = str(tmp_path / "out")
    _run_reference_shaped_job(spark, SF_SMALL, out)
    first = spark.read.parquet(os.path.join(out, "sales_report")).count()

    ctx2 = compat.GlueCompatContext(spark, SF_SMALL, out, job_bookmarks=True)
    fact2 = ctx2.create_dynamic_frame.from_catalog(
        database="testdata",
        table_name="lineitem",
        transformation_ctx="src_lineitem",
        additional_options={"jobBookmarkKeys": ["l_orderkey"], "jobBookmarkKeysSortOrder": "asc"},
    )
    assert fact2.count() == 0, "bookmarked source must only yield rows past the committed HWM"
    assert first > 0


def test_compat_composite_bookmark_keys(spark, tmp_path):
    """Composite jobBookmarkKeys through the façade: two runs over a
    split source. The second run yields exactly the new rows, and the
    committed bookmark is the (l_orderkey, l_linenumber) pair as a list."""
    import json

    from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import (
        TABLES,
        table_path,
    )

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    for name in TABLES:
        if name != "lineitem":
            os.symlink(os.path.abspath(table_path(SF_SMALL, name)), table_path(sf_dir, name))
    keys = ["l_orderkey", "l_linenumber"]
    li = spark.read.parquet(table_path(SF_SMALL, "lineitem")).select(*keys, "l_quantity")
    cut = li.approxQuantile("l_orderkey", [0.5], 0.01)[0]
    out = str(tmp_path / "out")

    def _run():
        ctx = compat.GlueCompatContext(spark, sf_dir, out, job_bookmarks=True)
        fact = ctx.create_dynamic_frame.from_catalog(
            database="testdata",
            table_name="lineitem",
            transformation_ctx="src_lineitem",
            additional_options={"jobBookmarkKeys": keys, "jobBookmarkKeysSortOrder": "asc"},
        )
        rows = {tuple(r) for r in fact.toDF().select(*keys).collect()}
        ctx.commit_bookmarks()
        return rows

    first = li.filter(F.col("l_orderkey") <= cut)
    first.write.parquet(table_path(sf_dir, "lineitem"))
    run1 = _run()
    assert run1 == {tuple(r) for r in first.select(*keys).collect()}

    li.write.mode("overwrite").parquet(table_path(sf_dir, "lineitem"))
    run2 = _run()
    new = li.filter(F.col("l_orderkey") > cut).select(*keys)
    assert run2 == {tuple(r) for r in new.collect()} and run2
    assert not run1 & run2

    with open(os.path.join(out, "_bookmarks.json")) as f:
        stored = json.load(f)["src_lineitem"]
    assert isinstance(stored, list)
    assert stored == list(max(run2))


def test_choice_type_resolution(spark, tmp_path):
    """SURVEY §1.1 choice types: a mixed int-vs-string column becomes a
    one-hot choice struct, then each Glue resolveChoice action produces
    its documented shape."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark.compat import (
        DynamicFrameShim,
        infer_choice,
    )

    glue_ctx = compat.GlueCompatContext(spark, SF_SMALL, str(tmp_path))
    raw = spark.createDataFrame(
        [(1, "42"), (2, "hello"), (3, "-7"), (4, "3.5")], "id int, v string"
    )
    choice = infer_choice(raw, "v")
    dyf = DynamicFrameShim.fromDF(choice, glue_ctx, "choices")

    # cast:long — numeric variants survive, non-numeric null out
    cast = {r.id: r.v for r in dyf.resolveChoice([("v", "cast:long")]).toDF().collect()}
    assert cast == {1: 42, 2: None, 3: -7, 4: None}

    # project:string — only the string variant remains
    proj = {r.id: r.v for r in dyf.resolveChoice([("v", "project:string")]).toDF().collect()}
    assert proj == {1: None, 2: "hello", 3: None, 4: "3.5"}

    # make_cols — one column per variant
    cols = dyf.resolveChoice([("v", "make_cols")]).toDF()
    assert {"v_long", "v_string"} <= set(cols.columns) and "v" not in cols.columns
    rows = {r.id: (r.v_long, r.v_string) for r in cols.collect()}
    assert rows[1] == (42, None) and rows[2] == (None, "hello")

    # make_struct — identity on the struct encoding
    kept = dyf.resolveChoice([("v", "make_struct")]).toDF()
    assert dict(kept.dtypes)["v"].startswith("struct")

    # non-choice columns are rejected loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not a choice struct"):
        dyf.resolveChoice([("id", "cast:long")])
