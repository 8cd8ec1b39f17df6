"""Custom stateful streaming operator — keyed high-water-mark dedup via
``applyInPandasWithState``.

This is the reference's bookmark semantic (only keys above the last seen
high-water-mark pass; glue_rds_to_redshift.py:31) lifted into a
streaming operator with per-KEY state: for each user, events with an
``event_id`` at or below the user's committed HWM are dropped as
already-processed; the HWM advances per micro-batch and lives in the
state store (checkpointed, exactly-once).

State is one long per user — O(keys), not O(events) — so the operator
runs indefinitely at any scale. GroupStateTimeout is disabled because
the HWM must never expire; a TTL variant would use
``GroupStateTimeout.EventTimeTimeout`` plus a watermark.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from ..session import pickle_module_by_value
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)

STATE_SCHEMA = StructType([StructField("hwm", LongType())])


def dedup_new_events(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Emit only events with event_id strictly above this user's HWM."""
    hwm = state.get[0] if state.exists else -1
    new_hwm = hwm
    for pdf in batches:
        fresh = pdf[pdf["event_id"] > hwm]
        if len(fresh):
            new_hwm = max(new_hwm, int(fresh["event_id"].max()))
            yield fresh[["user_id", "event_id", "event_type", "value"]]
    if new_hwm != hwm:
        state.update((new_hwm,))


def hwm_dedup_stream(events: DataFrame) -> DataFrame:
    """Apply the keyed-HWM dedup over a streaming events frame."""
    return events.groupBy("user_id").applyInPandasWithState(
        dedup_new_events,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# Executor pythons do not have the repo on sys.path; the stateful
# processor must travel by value inside the serialized closure.
pickle_module_by_value(__name__)
