"""Incrementality regression — the exact failure mode the reference's
screenshots narrate (duplicate rows in the report when bookmark state is
naive; SURVEY §5 item 3)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.incremental import (
    BookmarkStore,
    incremental_read,
)
from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import load_table

from .conftest import SF_SMALL


def _fact_slices(spark, tmp_path):
    """Ship the fact table as two key-disjoint batches (FIXTURES.md A1)."""
    fact = load_table(spark, SF_SMALL, "lineitem")
    split_key = 750
    src = os.path.join(tmp_path, "src")
    fact.filter(F.col("l_orderkey") <= split_key).write.parquet(src)
    batch2 = fact.filter(F.col("l_orderkey") > split_key)
    return src, batch2, fact


def test_two_runs_equal_one_full_run(spark, tmp_path):
    tmp = str(tmp_path)
    src, batch2, fact = _fact_slices(spark, tmp)
    store = BookmarkStore(os.path.join(tmp, "bookmarks.json"))
    out1, out2 = os.path.join(tmp, "out1"), os.path.join(tmp, "out2")

    # Run 1: no bookmark yet -> full slice 1.
    b1 = incremental_read(spark.read.parquet(src), "l_orderkey", store, "lineitem")
    b1.df.write.parquet(out1)
    b1.commit()
    hwm1 = store.get("lineitem")
    assert hwm1 is not None and hwm1 <= 750

    # Second batch arrives (simulating new source rows).
    batch2.write.mode("append").parquet(src)

    # Run 2: bookmark filter must exclude everything from run 1.
    b2 = incremental_read(spark.read.parquet(src), "l_orderkey", store, "lineitem")
    b2.df.write.parquet(out2)
    b2.commit()

    union = spark.read.parquet(out1).unionByName(spark.read.parquet(out2))
    assert union.count() == fact.count()
    # No duplicate/missing contributions across incremental runs (the
    # reference's "messed" report had transaction_ids appearing twice):
    # the two runs together must be exactly the full table as a multiset.
    assert union.exceptAll(fact).count() == 0
    assert fact.exceptAll(union).count() == 0
    # And the two batches must be key-disjoint.
    overlap = (
        spark.read.parquet(out1)
        .select("l_orderkey")
        .intersect(spark.read.parquet(out2).select("l_orderkey"))
        .count()
    )
    assert overlap == 0


def test_empty_batch_does_not_regress_hwm(spark, tmp_path):
    tmp = str(tmp_path)
    src, _, _ = _fact_slices(spark, tmp)
    store = BookmarkStore(os.path.join(tmp, "bookmarks.json"))
    store.commit("lineitem", 10_000_000)  # everything already seen

    batch = incremental_read(spark.read.parquet(src), "l_orderkey", store, "lineitem")
    assert batch.pending_hwm() is None and batch.rows == 0
    assert batch.commit() is None
    assert store.get("lineitem") == 10_000_000


def test_per_source_state_isolated(tmp_path):
    store = BookmarkStore(os.path.join(str(tmp_path), "not_yet", "bm.json"))
    assert store.get("a") is None
    store.commit("a", 5)
    store.commit("b", 7)
    assert store.get("a") == 5 and store.get("b") == 7
    store.commit("a", 6)
    assert store.get("a") == 6 and store.get("b") == 7


def test_incremental_aggregate_maintenance(spark):
    """Report(old facts) ⊕ Report(new facts) == Report(all facts): the
    standing report is maintained from increment-only aggregation,
    never re-reading history."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators.reports import (
        merge_report_increment,
    )

    lineitem = load_table(spark, SF_SMALL, "lineitem")
    cut = lineitem.agg(F.expr("percentile(l_orderkey, 0.5)")).collect()[0][0]

    def report(df):
        return df.groupBy("l_suppkey").agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("total"),
            F.count("*").alias("n_lines"),
        )

    old = report(lineitem.filter(F.col("l_orderkey") <= cut))
    inc = report(lineitem.filter(F.col("l_orderkey") > cut))
    merged = merge_report_increment(old, inc, ["l_suppkey"])
    full = report(lineitem)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, full.collect()))


def test_composite_key_bookmark_two_runs(spark, tmp_path):
    """Composite jobBookmarkKeys semantic: lexicographic HWM over
    (l_orderkey, l_linenumber). Two runs over a split source cover the
    table exactly once — no duplicates, no gaps — and the second run's
    predicate excludes everything at or below the committed pair."""
    from pyspark.sql import functions as F

    from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.incremental import (
        BookmarkStore,
        incremental_read,
    )
    from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import load_table
    from .conftest import SF_SMALL

    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    cut = li.approxQuantile("l_orderkey", [0.5], 0.01)[0]
    store = BookmarkStore(str(tmp_path / "bm.json"))
    keys = ["l_orderkey", "l_linenumber"]

    # run 1 sees only the first half; commit advances the composite HWM
    first = li.filter(F.col("l_orderkey") <= cut)
    b1 = incremental_read(first, keys, store, "lineitem")
    n1 = b1.df.count()
    assert n1 == first.count()
    hwm = b1.commit()
    assert isinstance(hwm, list) and len(hwm) == 2

    # run 2 sees the whole table but reads only rows above the pair
    b2 = incremental_read(li, keys, store, "lineitem")
    n2 = b2.df.count()
    assert n1 + n2 == li.count()
    # strictness: nothing at or below the committed pair leaks through
    leaked = b2.df.filter(
        (F.col("l_orderkey") < hwm[0])
        | ((F.col("l_orderkey") == hwm[0]) & (F.col("l_linenumber") <= hwm[1]))
    ).count()
    assert leaked == 0
    b2.commit()

    # run 3: nothing new
    b3 = incremental_read(li, keys, store, "lineitem")
    assert b3.df.count() == 0
