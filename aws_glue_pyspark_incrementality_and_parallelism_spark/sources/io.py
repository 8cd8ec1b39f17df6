"""Columnar sources and sinks.

The reference reads crawled MySQL tables through the Glue Catalog
(/root/reference/glue_rds_to_redshift.py:28-40) and writes to Redshift
via an S3-staged copy (:86-92). The rebuild is columnar-at-rest: parquet
in, parquet out, with the same "register tables, query by name" shape via
Spark temp views. The engine ships no JDBC or XML helpers: a JDBC
source or sink is a plain ``spark.read.format("jdbc")`` /
``df.write.format("jdbc")``, and the driver's testdata is parquet.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: Driver-provided tables (/root/repo/TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Parquet schemas :func:`load_table` inferred, one entry per local path:
#: absolute path -> (key, schema). The key is the file listing's
#: fingerprint plus the ``nanosAsLong`` setting, which changes how
#: ``events.ts`` infers. Inference runs a one-task Spark job per read; a
#: hit replaces it with ``spark.read.schema(schema)``. A rewrite, an
#: appended file or a changed setting changes the key, and the next read
#: infers again. Concurrent readers at worst infer twice; the entry is
#: replaced whole.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _listing(path: str) -> tuple:
    """(relative name, size, mtime) of every file under ``path``, which may
    be a single file or a directory tree."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    files = []
    for root, _, names in os.walk(path):
        for name in names:
            full = os.path.join(root, name)
            st = os.stat(full)
            files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(files))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema taken from
    ``_SCHEMAS`` when the files and the setting are as they were at the
    last inference. Paths not on the local file system are read plainly."""
    if not os.path.exists(path):
        return spark.read.parquet(path)
    key = (_listing(path), spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"))
    hit = _SCHEMAS.get(os.path.abspath(path))
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[os.path.abspath(path)] = (key, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table.

    Plain parquet reads, so Catalyst gets predicate pushdown, column
    pruning, and partition-split planning for free; the schema is
    inferred once per version of the files (``_SCHEMAS``). Never collect
    here; scans must stay lazy so filters written later still reach the
    parquet reader.

    ``events.ts`` arrives as either nanosecond-precision parquet (which
    Spark has no timestamp type for — PARQUET_TYPE_ILLEGAL by default) or
    plain micros, depending on the generator. Handle both: nanos are read
    as long and floor-truncated to micros (the same truncation DuckDB
    applies); micros pass through. Either way the column is normalized to
    a session-TZ timestamp with the session pinned to UTC, so
    date_trunc/window agree with DuckDB's naive reading.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = _read_parquet(spark, table_path(sf_dir, name))
        # Temporal gate FIRST, on the raw physical column, so it pushes
        # into the scan; then normalize; then the measure gate. Exactly
        # equivalent to events_validity_gate(normalize_events_ts(df)) —
        # pinned by test_gate_compositions_are_equivalent — but the
        # post-normalize form compares a CAST column, which Spark cannot
        # push (measured ~+25% on an sf0.1 events scan; at 100 TB an
        # unpushed gate also forfeits row-group pruning of garbage
        # time ranges).
        return events_measure_gate(
            normalize_events_ts(events_ts_domain_prefilter(df))
        )
    if name == "embeddings":
        return embeddings_validity_gate(_read_parquet(spark, table_path(sf_dir, name)))
    return _read_parquet(spark, table_path(sf_dir, name))


#: Validity domain of the ``events.value`` measure and of embedding
#: components, enforced at the ingest boundary (the quarantine lane —
#: Class F in DEGENERATE.md). |value| ≤ 1e9 keeps every downstream exact
#: lane representable: DECIMAL(18,4) holds up to ~1e14, the integer
#: micro-cents lanes (floor(value*1e6) AS BIGINT) up to ~9.2e12 per row.
#: NaN/±Inf are excluded by the same range predicate in BOTH engines
#: because Spark and DuckDB share the "NaN is larger than any other
#: value" comparison convention (so NaN <= bound is false, never an
#: error). In-domain AGGREGATE overflow deliberately stays a loud ANSI
#: error: silently clamping a sum would corrupt statistics, while a
#: per-row domain gate is an auditable ingest contract.
MEASURE_DOMAIN_BOUND = 1e9

#: Validity domain of the ``events.ts`` event time (Class T in
#: DEGENERATE.md). Strictly after epoch 0 — the EXACT instant
#: 1970-01-01 00:00:00 is the classic zeroed-field garbage marker —
#: and strictly before 2100. A 100 TB feed WILL contain garbage event
#: times, and they are uniquely destructive: one far-future row poisons
#: every event-time watermark (all genuine rows become "late" and are
#: silently dropped), and one out-of-range row makes every
#: observed-span grid (sequence(min(h), max(h))) explode — measured:
#: a single 9999-dated row turns a sub-second sf0.001 interpolation
#: grid into a >120 s runaway. NULL ts passes: missing is data,
#: garbage is not. Plain range predicates, so both engines' scans
#: prune on them.
TS_DOMAIN_LO = "1970-01-01 00:00:00"  # exclusive
TS_DOMAIN_HI = "2100-01-01 00:00:00"  # exclusive

#: DuckDB mirror of :func:`events_validity_gate` — the oracle harness
#: (tests/oracle.py) bakes this into its ``events`` view so both engines
#: always see the same post-ingest relation. A plain range predicate, so
#: both Spark's parquet reader (PushedFilters) and DuckDB's zone maps can
#: prune on it.
EVENTS_GATE_SQL = (
    "(value IS NULL OR (value >= -1000000000.0 AND value <= 1000000000.0))"
    " AND (ts IS NULL OR (ts > TIMESTAMP '1970-01-01 00:00:00'"
    " AND ts < TIMESTAMP '2100-01-01 00:00:00'))"
)

#: DuckDB mirror of :func:`embeddings_validity_gate`: no NULL component
#: (a hole in a vector is malformed the same way NaN is — it poisons any
#: dot product; and without the explicit conjunct the two engines would
#: silently disagree, because Spark's ``forall`` propagates the NULL into
#: the filter while ``list_filter`` skips it), every component in domain
#: (NaN/±Inf excluded by the shared comparison convention), and at least
#: one nonzero component (a zero-norm vector has no direction — unusable
#: for cosine math, quarantined as malformed at ingest).
EMBEDDINGS_GATE_SQL = (
    "(embedding IS NULL OR ("
    "len(list_filter(embedding, x -> x IS NULL)) = 0"
    " AND len(list_filter(embedding, x -> NOT (x >= -1000000000.0 AND x <= 1000000000.0))) = 0"
    " AND len(list_filter(embedding, x -> x != 0)) > 0))"
)


def events_validity_gate(df: DataFrame) -> DataFrame:
    """Quarantine out-of-domain measure rows at the events ingest boundary.

    A 100 TB feed WILL contain NaN/±Inf/absurd-magnitude measures (bad
    sensors, serialization bugs, unit mix-ups); without a gate, the first
    such row crashes every ANSI decimal/bigint lane mid-job. Rows whose
    ``value`` is non-NULL and outside ±MEASURE_DOMAIN_BOUND (which by the
    NaN-sorts-last convention includes NaN and ±Inf) are dropped here —
    the same policy, with the same predicate, that the oracle harness
    applies to its DuckDB view (EVENTS_GATE_SQL), so parity is preserved
    by construction. NULL measures pass: missing is data, garbage is not.

    The event TIME is gated the same way (Class T): ``ts`` must lie
    strictly inside (TS_DOMAIN_LO, TS_DOMAIN_HI) or be NULL. The exact
    epoch-0 instant is out of domain on purpose — it is the classic
    zeroed-field marker — and the bounds cap the damage radius of the
    two uniquely-temporal failure modes: watermark poisoning (one
    far-future row silently drops every genuine row as "late") and
    observed-span grid explosion (sequence(min, max) over a 70M-hour
    span). All predicates are plain comparisons, so they push into the
    parquet scan and cost row-group pruning, not compute.
    """
    from pyspark.sql import functions as F

    t = F.col("ts")
    ts_ok = t.isNull() | (
        (t > F.lit(TS_DOMAIN_LO).cast("timestamp"))
        & (t < F.lit(TS_DOMAIN_HI).cast("timestamp"))
    )
    return events_measure_gate(df).filter(ts_ok)


def events_measure_gate(df: DataFrame) -> DataFrame:
    """The measure conjunct of the events gate alone: non-NULL ``value``
    must lie inside ±MEASURE_DOMAIN_BOUND. Split out so ``load_table``
    can compose it with the raw-typed temporal prefilter without paying
    the canonical gate's ts conjunct twice."""
    from pyspark.sql import functions as F

    c = F.col("value")
    return df.filter(
        c.isNull()
        | ((c >= -MEASURE_DOMAIN_BOUND) & (c <= MEASURE_DOMAIN_BOUND))
    )


#: 2100-01-01 00:00:00 UTC in epoch nanoseconds — TS_DOMAIN_HI for the
#: int64-nanos physical variant of events.ts (epoch-0-exclusive lower
#: bound is simply > 0 there).
_TS_DOMAIN_HI_NANOS = 4102444800 * 1_000_000_000


def events_ts_domain_prefilter(df: DataFrame) -> DataFrame:
    """The Class T temporal gate applied to the RAW events frame, in the
    ts column's physical type, BEFORE timestamp normalization.

    Same domain as :func:`events_validity_gate`'s ts conjunct — strictly
    inside (TS_DOMAIN_LO, TS_DOMAIN_HI), NULL passes — but expressed on
    the raw column so the comparison pushes into the parquet scan: the
    post-normalize form compares a CAST column, which Spark cannot push
    (and at 100 TB pushdown is what turns the gate into row-group
    pruning of garbage time ranges instead of per-row compute). With the
    session pinned to UTC the two forms keep exactly the same rows,
    pinned by ``test_gate_compositions_are_equivalent``.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    t = F.col("ts")
    if isinstance(df.schema["ts"].dataType, LongType):
        # int64 epoch-nanos generator variant: epoch-0 exclusive is > 0
        ok = t.isNull() | ((t > F.lit(0)) & (t < F.lit(_TS_DOMAIN_HI_NANOS)))
    else:
        dt = df.schema["ts"].dataType.simpleString()
        ok = t.isNull() | (
            (t > F.lit(TS_DOMAIN_LO).cast(dt)) & (t < F.lit(TS_DOMAIN_HI).cast(dt))
        )
    return df.filter(ok)


def embeddings_validity_gate(df: DataFrame) -> DataFrame:
    """Quarantine malformed embedding vectors at the ingest boundary.

    A vector with a NULL/NaN/Inf/out-of-domain component poisons every
    dot product it touches; a zero-norm vector breaks cosine
    normalization (division by zero). All are quarantined here with the
    exact DuckDB twin predicate (EMBEDDINGS_GATE_SQL). NULL *vectors*
    pass through — downstream lanes already handle missing vectors. The
    NULL-component conjunct is explicit rather than left to ``forall``'s
    three-valued NULL propagation, because the DuckDB twin's
    ``list_filter`` SKIPS null elements — implicit semantics would make
    the engines silently disagree on e.g. ``[1.0, NULL]``. JVM-side
    lambda expressions (forall/exists), no Python in the path.
    """
    from pyspark.sql import functions as F

    e = F.col("embedding")
    no_null = ~F.exists(e, lambda x: x.isNull())
    in_domain = F.forall(
        e,
        lambda x: (x >= F.lit(-MEASURE_DOMAIN_BOUND))
        & (x <= F.lit(MEASURE_DOMAIN_BOUND)),
    )
    nonzero = F.exists(e, lambda x: x != F.lit(0.0))
    return df.filter(e.isNull() | (no_null & in_domain & nonzero))


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a UTC-session ``TIMESTAMP`` regardless of
    how the parquet encoded it (int64 nanos, TIMESTAMP_NTZ micros, or
    already-LTZ). Keeping one output type means every downstream query and
    oracle sees identical values across generator versions."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # int64 nanos → floor-truncate to micros (DuckDB does the same).
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if isinstance(ts_type, T.TimestampNTZType):
        # NTZ micros: reinterpret the naive value as UTC wall-clock (the
        # session TZ is pinned to UTC, so this is value-preserving).
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register every table as a temp view (the rebuild's 'catalog')."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_csv(spark: SparkSession, path: str, schema, header: bool = True) -> DataFrame:
    """CSV source with an explicit schema (never infer at scale — schema
    inference is a full extra pass over the data)."""
    return spark.read.schema(schema).option("header", str(header).lower()).csv(path)


def read_json(
    spark: SparkSession, path: str, schema, mode: str = "FAILFAST"
) -> DataFrame:
    """JSON-lines source with an explicit schema (same no-infer rule).

    ``mode`` is the malformed-record policy: FAILFAST (default — a 100 TB
    load should die loudly, not silently null out), PERMISSIVE (quarantine
    bad lines in ``_corrupt_record`` for a dead-letter sink — the schema
    must include that string column), or DROPMALFORMED."""
    return spark.read.schema(schema).option("mode", mode).json(path)


def read_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC source (the other columnar format a Glue/Hive catalog
    commonly serves). ORC files carry their own schema; pass one only
    to pin/project it. Predicate pushdown and column pruning work the
    same as parquet — the scan honors PushedFilters/ReadSchema."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def swap_parquet(df: DataFrame, path: str) -> None:
    """Replace the parquet directory ``path`` (created if absent) with
    ``df``, copy-on-write: write ``df`` to a staging dir beside ``path``,
    rename the old dir aside, rename the staging dir in, remove the old
    dir. ``df`` may read ``path`` itself; the write materializes it
    before the swap. A write that fails removes its staging dir and
    leaves ``path`` as it was.

    ``path`` is a local file system path: the swap is two ``os.rename``
    calls, each atomic on a posix file system. HDFS has the same rename;
    object stores need a manifest commit instead.
    """
    tag = uuid.uuid4().hex[:8]
    staging, old = f"{path}__staging_{tag}", f"{path}__old_{tag}"
    try:
        df.write.mode("overwrite").parquet(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    replacing = os.path.exists(path)
    if replacing:
        os.rename(path, old)
    os.rename(staging, path)
    if replacing:
        shutil.rmtree(old)
