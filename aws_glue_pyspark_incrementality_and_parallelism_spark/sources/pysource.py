"""Custom source via the PySpark Python Data Source API (Spark 4+).

The reference's only "source connector" is the Glue-Catalog JDBC scan
(glue_rds_to_redshift.py:28-40). Beyond parquet/CSV/JSON/JDBC
(``sources.io``), this module shows the engine's extension point for
sources Spark has no built-in for: subclass ``DataSource`` /
``DataSourceReader``, register once per session, then
``spark.read.format("synthetic_events")`` like any native format.

Scale design: ``partitions()`` declares the split plan, so the read
parallelizes across executors like any file scan — the driver never
materializes rows. Generation is pure arithmetic on (partition id, row
index): deterministic under retries (a re-executed task regenerates
identical rows, keeping the source exactly-once-safe) with no RNG state
shared across workers.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

EVENT_TYPES = ("view", "click", "cart", "purchase")

SYNTHETIC_EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def _mix(x: int) -> int:
    """splitmix64 finalizer — cheap stateless pseudo-randomness."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


class SyntheticEventsDataSource(DataSource):
    """``format("synthetic_events")`` — options: ``partitions`` (default
    8), ``rows_per_partition`` (default 1000), ``n_users`` (default 100),
    ``seed`` (default 42)."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> StructType:
        return SYNTHETIC_EVENTS_SCHEMA

    def reader(self, schema: StructType) -> "SyntheticEventsReader":
        return SyntheticEventsReader(self.options)


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n_partitions = int(options.get("partitions", 8))
        self.rows_per_partition = int(options.get("rows_per_partition", 1000))
        self.n_users = int(options.get("n_users", 100))
        self.seed = int(options.get("seed", 42))

    def partitions(self) -> list[InputPartition]:
        return [InputPartition(i) for i in range(self.n_partitions)]

    def read(self, partition: InputPartition):
        pid = partition.value
        base = pid * self.rows_per_partition
        for i in range(self.rows_per_partition):
            event_id = base + i
            h = _mix(self.seed ^ event_id)
            yield (
                event_id,
                h % self.n_users,
                EVENT_TYPES[(h >> 8) % len(EVENT_TYPES)],
                round(((h >> 16) % 10_000) / 100.0, 2),
            )


def register_python_sources(spark: SparkSession) -> None:
    """Register all custom Python data sources on the session."""
    spark.dataSource.register(SyntheticEventsDataSource)


# DataSource classes ship to Python workers via cloudpickle; the repo
# is not on executor sys.path (worker-closure rule), so this module
# must pickle by value.
from ..session import pickle_module_by_value  # noqa: E402

pickle_module_by_value(__name__)
