"""Custom stateful streaming: applyInPandasWithState.

The reference has no streaming at all; this is the M4 extension's
custom-operator slice (SURVEY.md §2.B "stateful").  Pattern: per-key
mutable state carried across micro-batches with explicit timeout
handling — the Spark-native escape hatch when windowed built-ins
can't express the semantics (running aggregates, sessionization with
custom rules, online dedup).

Scale: state lives in the state store partitioned by the grouping
key; each micro-batch touches only keys present in the batch (plus
timeouts).  State size is O(distinct keys), not O(events)."""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

RUNNING_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def _update_user_totals(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Accumulate (count, sum(value)) per user across micro-batches,
    emitting the updated running totals once per batch per key."""
    if state.exists:
        n, total = state.get
    else:
        n, total = 0, 0.0
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def user_running_totals(events: DataFrame) -> DataFrame:
    """Streaming running totals per user via custom state.

    Appends one (user_id, n_events, total_value) snapshot row per user
    per micro-batch in which that user appeared; a user's last snapshot
    is the one with the most events."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update_user_totals,
            outputStructType=RUNNING_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
