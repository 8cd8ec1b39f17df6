"""Source-format interoperability: CSV / JSON / ORC ingestion parity.

The reference pipeline reads exactly one format (JDBC rows from RDS,
glue_rds_to_redshift.py:44-49); a 100 TB lake ingests whatever the
producers emit — CSV drops from legacy systems, JSON event feeds, ORC
from Hive-era warehouses — and the first job is always the same:
normalize every feed into the columnar house format without losing a
row or a digit.  ``source_multiformat_roundtrip`` proves the engine's
text/binary readers are lossless against the parquet ground truth:
the same table is written to CSV (header + explicit schema read-back),
JSON lines, and ORC, re-read through ``sources.io``'s readers, and
each lane is adjudicated on exact integer checksums (row count, cents
checksum, key cardinality, epoch-day sum — no float compare anywhere).

Scale note: all three readers are splittable scans in Spark (CSV/JSON
line-split, ORC stripe-split), so the normalize job is a narrow
per-partition rewrite — no shuffle; the checksum aggregate is one
partial-agg pass.  Schema is supplied explicitly (never inferred) —
at 100 TB schema inference is a full extra scan and a correctness
hazard (a single all-null partition flips a column to string).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..session import scratch_dir
from ..sources.io import load_table, read_csv, read_json, read_orc

#: The integrity surface every lane must reproduce exactly.
_CHECKS = """
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_totalprice_cents,
           COUNT(DISTINCT o_orderkey) AS n_keys,
           CAST(SUM(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS BIGINT)
             AS sum_epoch_day
    FROM orders
"""


def _integrity() -> list:
    return [
        F.count("*").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("sum_totalprice_cents"),
        F.countDistinct("o_orderkey").alias("n_keys"),
        F.sum(F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01")))
        .cast("bigint")
        .alias("sum_epoch_day"),
    ]


@query(
    "source_multiformat_roundtrip",
    oracle=f"""
    WITH s AS ({_CHECKS})
    SELECT f.fmt, s.n_rows, s.sum_totalprice_cents, s.n_keys, s.sum_epoch_day
    FROM (VALUES ('csv'), ('json'), ('orc')) AS f(fmt) CROSS JOIN s
    ORDER BY f.fmt
    """,
)
def q_source_multiformat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write ``orders`` to CSV, JSON-lines, and ORC; re-read each through
    the engine's schema-explicit readers; adjudicate every lane on exact
    integer checksums against the parquet source (the oracle computes the
    same checksums once and expects all three lanes identical)."""
    orders = load_table(spark, sf_dir, "orders")
    schema = orders.schema
    root = scratch_dir("sgq_formats_")

    csv_path = os.path.join(root, "csv")
    json_path = os.path.join(root, "json")
    orc_path = os.path.join(root, "orc")
    orders.write.mode("overwrite").option("header", "true").csv(csv_path)
    orders.write.mode("overwrite").json(json_path)
    orders.write.mode("overwrite").orc(orc_path)

    lanes = [
        ("csv", read_csv(spark, csv_path, schema)),
        ("json", read_json(spark, json_path, schema)),
        ("orc", read_orc(spark, orc_path)),
    ]
    out = None
    for fmt, df in lanes:
        agg = df.agg(*_integrity()).select(F.lit(fmt).alias("fmt"), "*")
        out = agg if out is None else out.unionByName(agg)
    return out.orderBy("fmt")


@query(
    "source_json_corrupt_quarantine",
    oracle="""
    WITH r AS (
      SELECT event_id, props,
             CASE WHEN event_id % 37 = 0
                  THEN substr(props, 1, length(props) - 3)
                  ELSE props END AS raw
      FROM events
    )
    SELECT CASE WHEN json_valid(raw) THEN 'good' ELSE 'quarantine' END AS lane,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN json_valid(raw)
                         THEN CAST(raw ->> 'k' AS BIGINT) ELSE 0 END) AS BIGINT)
             AS k_sum,
           CAST(SUM(length(raw)) AS BIGINT) AS raw_chars
    FROM r
    GROUP BY 1
    """,
)
def q_source_json_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record quarantine at the JSON parse boundary: a
    deterministic ~2.7% of the event payloads arrive truncated
    (``event_id % 37`` loses its last 3 bytes — an unclosed JSON
    object, the classic partial-write corruption), and the parse stage
    routes rows by PARSABILITY through the documented PERMISSIVE-mode
    corrupt-record column: ``from_json`` with
    ``columnNameOfCorruptRecord`` fills that column with the raw bytes
    for malformed input (and NULL for clean rows), which becomes the
    quarantine lane — rows are RETAINED with their raw bytes (the
    ``raw_chars`` checksum proves nothing was dropped), never silently
    nulled into the good lane, and the good lane's ``k_sum`` proves the
    parse recovered real values.

    The oracle adjudicates by actual JSON validity (``json_valid``),
    not by replaying the planting rule — if the corruption ever failed
    to corrupt (or the parser started accepting partial objects), the
    lanes would diverge. Plan: stateless per-row parse + one bounded
    aggregate; at 100 TB the quarantine lane is a partitioned sink
    write and the parse never shuffles."""
    ev = load_table(spark, sf_dir, "events")
    raw = ev.withColumn(
        "raw",
        F.when(
            F.col("event_id") % 37 == 0,
            F.expr("substring(props, 1, length(props) - 3)"),
        ).otherwise(F.col("props")),
    )
    parsed = raw.withColumn(
        "j",
        F.from_json(
            "raw",
            "k BIGINT, _corrupt_record STRING",
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    )
    return (
        parsed.withColumn(
            "lane",
            F.when(
                F.col("j._corrupt_record").isNotNull(), F.lit("quarantine")
            ).otherwise(F.lit("good")),
        )
        .groupBy("lane")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.coalesce(F.col("j.k"), F.lit(0))).alias("k_sum"),
            F.sum(F.length("raw")).alias("raw_chars"),
        )
    )


@query(
    "source_codec_matrix",
    oracle="""
    WITH base AS (
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      FROM orders
    )
    SELECT c.codec, b.n_rows, b.cents, b.key_sum, TRUE AS roundtrip_ok
    FROM base b,
         (VALUES ('gzip'), ('snappy'), ('uncompressed'), ('zstd')) c(codec)
    """,
)
def q_source_codec_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-codec fidelity matrix: the same table written as
    parquet under every production codec (snappy — the default, zstd —
    the 100 TB archival choice, gzip — legacy interchange, and
    uncompressed as the control) and read back, with exact integer
    checksums (rows / cents / key sum) adjudicated per lane plus a
    computed equality boolean against the source aggregates. Codec
    choice is a pure storage trade at 100 TB (zstd ≈ 30-50% smaller
    than snappy for ~2× write CPU); what this pins is that it is ONLY
    a storage trade — bit-identical content through every lane, so a
    mixed-codec lake (old snappy partitions, new zstd) reads uniformly.

    Plan note: each lane is an independent scan→write→scan; the final
    result is a 4-row unionByName, and the checksums reuse the same
    partial-aggregate shape as `source_multiformat_roundtrip`."""
    orders = load_table(spark, sf_dir, "orders")
    src = orders.agg(
        F.count("*").alias("n_rows"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("cents"),
        F.sum("o_orderkey").alias("key_sum"),
    )
    root = scratch_dir("sgq_codec_")
    out = None
    for codec in ["gzip", "snappy", "uncompressed", "zstd"]:
        path = os.path.join(root, codec)
        orders.write.mode("overwrite").option("compression", codec).parquet(path)
        lane = (
            spark.read.parquet(path)
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
                ).alias("cents"),
                F.sum("o_orderkey").alias("key_sum"),
            )
            .crossJoin(src.select(
                F.col("n_rows").alias("_sn"),
                F.col("cents").alias("_sc"),
                F.col("key_sum").alias("_sk"),
            ))
            .select(
                F.lit(codec).alias("codec"),
                "n_rows",
                "cents",
                "key_sum",
                (
                    (F.col("n_rows") == F.col("_sn"))
                    & (F.col("cents") == F.col("_sc"))
                    & (F.col("key_sum") == F.col("_sk"))
                ).alias("roundtrip_ok"),
            )
        )
        out = lane if out is None else out.unionByName(lane)
    return out


@query(
    "source_hive_partitioned_prune",
    oracle="""
    SELECT COUNT(*) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
           (SELECT CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) FROM orders)
               AS n_partitions,
           TRUE AS partition_pruned
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    """,
)
def q_source_hive_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout (``key=value`` directories) with
    STATIC partition pruning — the complement of the DPP query
    (bucketed.py): here the predicate is a literal, so pruning happens
    at PLANNING time from the directory listing alone, before a single
    parquet footer is opened.

    This is the canonical 100 TB lake layout (the reference's Redshift
    sink has no notion of it; Glue catalogs express exactly this via
    partition keys): a filter on the partition column must reduce the
    scan to the matching directories. Three audits ride on the result:

    * ``partition_pruned`` — the physical scan's PartitionFilters
      carries the literal predicate (plan-derived, same mechanism as
      the DPP/bucketed audits).
    * ``n_partitions`` — counted from the REAL directory listing via
      ``inputFiles()`` on the unfiltered read, adjudicated against
      COUNT(DISTINCT) of the partition column.
    * the revenue aggregate — content survives the partitioned
      rewrite byte-exactly (partition values round-trip through
      directory names, including the '1-URGENT' hyphen/digit mix).
    """
    base = scratch_dir("sgq_hivepart_")
    path = os.path.join(base, "orders_by_priority")
    orders_src = load_table(spark, sf_dir, "orders")
    orders_src.write.partitionBy("o_orderpriority").mode("overwrite").parquet(path)

    # explicit schema: a partitionBy write of ZERO rows creates no
    # partition directories — inference would fail on the no-new-data
    # incremental case; the schema is known, state it
    fact = spark.read.schema(orders_src.schema).parquet(path)
    parts = {
        seg
        for f in fact.inputFiles()
        for seg in f.split("/")
        if seg.startswith("o_orderpriority=")
    }
    pruned = fact.filter(F.col("o_orderpriority") == "1-URGENT")

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = pruned._jdf.queryExecution().explainString(mode)
    low = plan.lower()
    has_prune = "partitionfilters" in low and "1-urgent" in low

    return pruned.agg(
        F.count("*").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("revenue_cents"),
    ).select(
        "n_orders",
        "revenue_cents",
        F.lit(len(parts)).cast("bigint").alias("n_partitions"),
        F.lit(has_prune).alias("partition_pruned"),
    )


@query(
    "source_schema_evolution_merge",
    oracle="""
    SELECT CASE WHEN doc_id % 2 = 0 THEN 'missing' ELSE lang END AS lang_bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY 1 ORDER BY 1
    """,
)
def q_source_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution at READ time (``mergeSchema``): an old
    producer wrote (doc_id, n_chars); a new producer added ``lang``.
    One read over both batches must surface the superset schema, with
    NULLs exactly where the old files lack the column — no row lost,
    no value invented.

    ``setop_union_by_name_evolution`` covers the DataFrame-level form;
    this is the SOURCE-level form a 100 TB lake actually hits — readers
    cannot assume every historical file carries today's schema, and
    schema merging must happen from parquet footers, not from user
    code. The even/odd doc split plants both generations at every SF;
    the per-language rollup (old rows bucketed 'missing') adjudicates
    the null placement and the lossless union in one aggregate.

    Scale note: mergeSchema reads a footer per file at planning time —
    at 100 TB you bound that with a catalog schema instead, but the
    read-side semantics pinned here are identical.
    """
    base = scratch_dir("sgq_evolve_")
    p_old = os.path.join(base, "batch_old")
    p_new = os.path.join(base, "batch_new")
    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "n_chars").write.mode(
        "overwrite"
    ).parquet(p_old)
    docs.filter(F.col("doc_id") % 2 != 0).select(
        "doc_id", "n_chars", "lang"
    ).write.mode("overwrite").parquet(p_new)

    merged = spark.read.option("mergeSchema", "true").parquet(p_old, p_new)
    return (
        merged.groupBy(
            F.coalesce(F.col("lang"), F.lit("missing")).alias("lang_bucket")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("lang_bucket")
    )


@query(
    "source_python_datasource_agg",
    oracle="""
    WITH ids AS (SELECT unnest(range(0, 8000)) AS event_id),
    s1 AS (SELECT event_id,
           (xor(CAST(42 AS HUGEINT), CAST(event_id AS HUGEINT))
            + 11400714819323198485::HUGEINT)
             % 18446744073709551616::HUGEINT AS a FROM ids),
    m1 AS (SELECT event_id, xor(a, a >> 30) AS x FROM s1),
    s2 AS (SELECT event_id,
           ((x * 484763065::HUGEINT) % 18446744073709551616::HUGEINT
            + ((x * 3210233709::HUGEINT) % 4294967296::HUGEINT)
              * 4294967296::HUGEINT)
             % 18446744073709551616::HUGEINT AS b FROM m1),
    m2 AS (SELECT event_id, xor(b, b >> 27) AS y FROM s2),
    s3 AS (SELECT event_id,
           ((y * 321982955::HUGEINT) % 18446744073709551616::HUGEINT
            + ((y * 2496678331::HUGEINT) % 4294967296::HUGEINT)
              * 4294967296::HUGEINT)
             % 18446744073709551616::HUGEINT AS c FROM m2),
    rows_ AS (
      SELECT event_id,
             xor(c, c >> 31) AS h
      FROM s3
    ), decoded AS (
      SELECT event_id,
             CAST(h % 100 AS BIGINT) AS user_id,
             (['view', 'click', 'cart', 'purchase'])[CAST((h >> 8) % 4 AS INT) + 1]
               AS event_type,
             CAST((h >> 16) % 10000 AS BIGINT) AS cents
      FROM rows_
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM decoded GROUP BY 1 ORDER BY 1
    """,
)
def q_source_python_datasource_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch read through the PySpark Python Data Source API
    (``spark.read.format("synthetic_events")``, sources/pysource.py) —
    the engine's extension point for sources Spark has no connector
    for.

    The oracle replays the connector's PUBLIC generation contract (row
    i = splitmix64(seed xor i), documented in the module) entirely in
    SQL — 64-bit wrapping arithmetic done in HUGEINT with split 32-bit
    multiplies — so the row adjudicates the actual DataSource
    machinery: registration, ``partitions()`` split planning,
    executor-side ``read()`` generation, Arrow conversion, and the
    exact float contract of the ``value`` column (recovered as integer
    cents via the shared floor rule). sf_dir is deliberately unused:
    the source IS the dataset (options pin partitions=8 x 1000 rows,
    100 users, seed 42).

    Scale: ``partitions()`` declares the split plan, so the scan
    parallelizes like a file read; the driver plans partition ids only
    and never materializes rows — the same discipline a real external
    connector (Kafka admin metadata, REST cursor pages) must keep.
    """
    from ..sources.pysource import register_python_sources

    register_python_sources(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("partitions", 8)
        .option("rows_per_partition", 1000)
        .option("n_users", 100)
        .option("seed", 42)
        .load()
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
        )
        .orderBy("event_type")
    )


@query(
    "source_provenance_input_file",
    oracle="""
    SELECT o_orderpriority AS partition_value,
           COUNT(*) AS n_rows,
           TRUE AS file_matches_partition
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def q_source_provenance_input_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level PROVENANCE via ``input_file_name()``: every row of a
    hive-partitioned read carries the physical file it came from, and
    the audit cross-checks that the partition value PARSED FROM THE
    FILE PATH equals the row's partition column — the lineage primitive
    behind per-file quarantine ("which drop poisoned the table?"),
    reprocessing ledgers, and GDPR evidence trails.

    ``file_matches_partition`` is an aggregate over the REAL per-row
    comparison (count of mismatches == 0 per partition), so a row
    mis-attributed to the wrong file — or a path-parsing regression —
    flips the lane; row counts per partition are adjudicated against
    the logical table. Scale: input_file_name() is metadata the scan
    already holds (zero cost), and the audit is one aggregate.
    """
    base = scratch_dir("sgq_prov_")
    path = os.path.join(base, "orders_by_priority")
    orders_src = load_table(spark, sf_dir, "orders")
    orders_src.write.partitionBy("o_orderpriority").mode("overwrite").parquet(path)
    # explicit schema: zero-row partitionBy writes create no partition
    # dirs — inference fails on the no-new-data incremental case
    fact = spark.read.schema(orders_src.schema).parquet(path).withColumn(
        "from_path",
        F.url_decode(
            F.regexp_extract(F.input_file_name(), r"o_orderpriority=([^/]+)/", 1)
        ),
    )
    return (
        fact.groupBy(F.col("o_orderpriority").alias("partition_value"))
        .agg(
            F.count("*").alias("n_rows"),
            (
                F.sum(
                    F.when(F.col("from_path") != F.col("o_orderpriority"), 1).otherwise(0)
                )
                == 0
            ).alias("file_matches_partition"),
        )
        .orderBy("partition_value")
    )


@query(
    "source_fixed_width_parse",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL
      AND o_totalprice IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
)
def q_source_fixed_width_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXED-WIDTH file ingest — the mainframe/COBOL copybook feed
    format Spark has no native reader for: each record is a padded
    byte-layout line (orderkey 12, status 1, price-cents 12, zero
    padding, no delimiters). The engine writes the feed with
    deterministic formatting, reads it back as ``text`` lines, and
    carves columns by POSITION (substring + cast) — the standard lane:
    ``spark.read.text`` keeps the line splittable, and the positional
    parse is a stateless projection Catalyst fully pipelines.

    Parity is adjudicated on exact integer checksums against the
    parquet ground truth (the [[source_multiformat_roundtrip]]
    contract extended to the one format where a single off-by-one in a
    column offset corrupts EVERY downstream digit — which is exactly
    what the cents/key sums would catch).

    Scale: text-line reads split by newline like CSV; the parse is
    per-row arithmetic with zero shuffles before the checksum
    aggregate. Schema lives in the offsets — version them like code.
    """
    base = scratch_dir("sgq_fixedw_")
    path = os.path.join(base, "orders.fw")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    line = F.concat(
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0"),
        F.col("o_orderstatus"),
        F.lpad(F.col("cents").cast("string"), 12, "0"),
    )
    # a record with a NULL field has no fixed-width representation —
    # skip it at write (concat of NULL is NULL, which the text writer
    # would emit as an empty line); the reader below is additionally
    # defensive with try_cast so a malformed line parses to NULL keys
    # instead of aborting the scan (NULL-corpus robustness)
    o.select(line.alias("value")).filter(
        F.col("value").isNotNull()
    ).write.mode("overwrite").text(path)

    raw = spark.read.text(path)
    parsed = raw.select(
        F.expr("try_cast(substring(value, 1, 12) AS BIGINT)").alias("o_orderkey"),
        F.substring("value", 13, 1).alias("o_orderstatus"),
        F.expr("try_cast(substring(value, 14, 12) AS BIGINT)").alias("cents"),
    )
    return (
        parsed.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("cents"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Ingest validity gate pin (round-9 Exception B — Class F driver row)
# ---------------------------------------------------------------------------

from ..sources.io import (  # noqa: E402
    EMBEDDINGS_GATE_SQL,
    EVENTS_GATE_SQL,
    embeddings_validity_gate,
    events_validity_gate,
)


@query(
    "source_validity_gate_pin",
    oracle=f"""
    WITH eprobe(probe_id, value, ts) AS (VALUES
        (1, 1.5, TIMESTAMP '2024-06-01 12:00:00'),
        (2, CAST(NULL AS DOUBLE), TIMESTAMP '2024-06-01 12:00:00'),
        (3, 'NaN'::DOUBLE, TIMESTAMP '2024-06-01 12:00:00'),
        (4, 'Infinity'::DOUBLE, TIMESTAMP '2024-06-01 12:00:00'),
        (5, '-Infinity'::DOUBLE, TIMESTAMP '2024-06-01 12:00:00'),
        (6, 1e300, TIMESTAMP '2024-06-01 12:00:00'),
        (7, -1e300, TIMESTAMP '2024-06-01 12:00:00'),
        (8, 1e-300, TIMESTAMP '2024-06-01 12:00:00'),
        (9, 1000000000.0, TIMESTAMP '2024-06-01 12:00:00'),
        (10, -1000000000.0, TIMESTAMP '2024-06-01 12:00:00'),
        (11, 1000000001.0, TIMESTAMP '2024-06-01 12:00:00'),
        (12, 1.0, CAST(NULL AS TIMESTAMP)),
        (13, 1.0, TIMESTAMP '1905-03-15 07:30:00'),
        (14, 1.0, TIMESTAMP '1970-01-01 00:00:00'),
        (15, 1.0, TIMESTAMP '1970-01-01 00:00:00.000001'),
        (16, 1.0, TIMESTAMP '2099-12-31 23:59:59.999999'),
        (17, 1.0, TIMESTAMP '2100-01-01 00:00:00'),
        (18, 1.0, TIMESTAMP '9999-12-31 23:59:59.999999')
    ), vprobe(probe_id, embedding) AS (VALUES
        (1, [0.5::FLOAT, -0.25::FLOAT]),
        (2, NULL::FLOAT[]),
        (3, [0.0::FLOAT, 0.0::FLOAT]),
        (4, [1.0::FLOAT, 'NaN'::FLOAT]),
        (5, [1.0::FLOAT, 'Infinity'::FLOAT]),
        (6, [1.0::FLOAT, 2000000000.0::FLOAT]),
        (7, []::FLOAT[]),
        (8, [0.0::FLOAT, 3.0::FLOAT]),
        (9, [1.0::FLOAT, NULL::FLOAT])
    )
    SELECT 'events' AS lane, CAST(probe_id AS BIGINT) AS probe_id
    FROM eprobe WHERE {EVENTS_GATE_SQL}
    UNION ALL
    SELECT 'embeddings' AS lane, CAST(probe_id AS BIGINT) AS probe_id
    FROM vprobe WHERE {EMBEDDINGS_GATE_SQL}
    """,
)
def q_source_validity_gate_pin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row pinning the Class F ingest-gate contract bit-for-bit.

    The engine quarantines out-of-domain measures and malformed
    embedding vectors at the ingest boundary (sources/io.py:
    events_validity_gate / embeddings_validity_gate); the oracle
    harness mirrors the same predicates into its DuckDB views. That
    symmetry rests on one cross-engine convention — both Spark and
    DuckDB order NaN after every other value, so ``NaN <= bound`` is
    FALSE, never an error — and this pin adjudicates exactly that on
    inline probe literals: NaN, ±Inf, ±1e300, the ±1e9 domain boundary
    itself, a subnormal, NULL (kept: missing is data, garbage is not),
    the Class T temporal domain (probes 12–18: NULL ts kept, pre-epoch
    and the exact epoch-0 zeroed-field marker dropped, the first
    microsecond after epoch kept, the 2100 bound exclusive, far-future
    9999 dropped),
    a zero-norm vector, an all-zero-adjacent vector, an empty vector,
    and a NULL-COMPONENT vector — the one case where implicit semantics
    diverge (Spark's ``forall`` propagates the element NULL, DuckDB's
    ``list_filter`` skips it), which is why both gates quarantine it
    explicitly. The probes are literals, not table rows, so the pin runs
    identically on the driver's UNGATED standard views.
    """
    import datetime as _dt

    _mid = _dt.datetime(2024, 6, 1, 12, 0, 0)
    e_rows = [
        (1, 1.5, _mid),
        (2, None, _mid),
        (3, float("nan"), _mid),
        (4, float("inf"), _mid),
        (5, float("-inf"), _mid),
        (6, 1e300, _mid),
        (7, -1e300, _mid),
        (8, 1e-300, _mid),
        (9, 1e9, _mid),
        (10, -1e9, _mid),
        (11, 1000000001.0, _mid),
        (12, 1.0, None),
        (13, 1.0, _dt.datetime(1905, 3, 15, 7, 30, 0)),
        (14, 1.0, _dt.datetime(1970, 1, 1, 0, 0, 0)),
        (15, 1.0, _dt.datetime(1970, 1, 1, 0, 0, 0, 1)),
        (16, 1.0, _dt.datetime(2099, 12, 31, 23, 59, 59, 999999)),
        (17, 1.0, _dt.datetime(2100, 1, 1, 0, 0, 0)),
        (18, 1.0, _dt.datetime(9999, 12, 31, 23, 59, 59, 999999)),
    ]
    v_rows = [
        (1, [0.5, -0.25]),
        (2, None),
        (3, [0.0, 0.0]),
        (4, [1.0, float("nan")]),
        (5, [1.0, float("inf")]),
        (6, [1.0, 2e9]),
        (7, []),
        (8, [0.0, 3.0]),
        (9, [1.0, None]),
    ]
    eprobe = spark.createDataFrame(
        e_rows, "probe_id bigint, value double, ts timestamp"
    )
    vprobe = spark.createDataFrame(v_rows, "probe_id bigint, embedding array<float>")
    kept_e = events_validity_gate(eprobe).select(
        F.lit("events").alias("lane"), "probe_id"
    )
    kept_v = embeddings_validity_gate(vprobe).select(
        F.lit("embeddings").alias("lane"), "probe_id"
    )
    return kept_e.unionAll(kept_v)
