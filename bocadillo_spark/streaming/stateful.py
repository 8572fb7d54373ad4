"""Custom stateful streaming operator via applyInPandasWithState.

The reference's only long-lived state is the TABLE_MAP registry with
throttled eviction (/root/reference/reader/reader.go:16,128-133). The
Spark-native analog for arbitrary keyed state is applyInPandasWithState:
here, a per-user activity tracker that accumulates event counts/value
across micro-batches and carries a processing-time TTL (the state-eviction
analog, T5 in SURVEY.md §2.7).

Emitted rows are cumulative per (user, batch); the last emission per user
equals the batch-mode groupBy aggregate — that is the test invariant, and
it holds under any micro-batch file ordering (addition commutes).
"""

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

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("batch_events", LongType()),
        StructField("total_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

# The running value total lives in state as INTEGER CENTS: each batch's
# cents sum is a LongType added to a LongType, so no binary float error can
# accumulate across micro-batches (the round-4 advice: dividing back to a
# float dollar total per batch drifted, masked only by round(...,2) at
# output). Division by 100 happens once, at emission.
STATE_SCHEMA = StructType(
    [
        StructField("total_events", LongType()),
        StructField("total_value_cents", LongType()),
    ]
)


def make_tracker(ttl_ms: int | None):
    """Build the stateful per-user tracker function.

    ttl_ms None → no timeout: required for bounded availableNow runs — a
    pending processing-time timeout keeps the query alive indefinitely
    (observed: 100+ empty epochs servicing timeouts). Long-running
    continuous deployments pass a TTL for state eviction (the throttled
    tableMap-clearing analog, /root/reference/reader/reader.go:128-133).
    """

    def track_user(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:  # TTL eviction
            state.remove()
            return
        total_events, total_cents = state.get if state.exists else (0, 0)
        batch_events = 0
        for pdf in pdfs:
            batch_events += len(pdf)
            # exact accumulation: cents-integer arithmetic, no float drift
            total_cents += int(pdf["value"].mul(100).round().sum())
        total_events += batch_events
        state.update((total_events, total_cents))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "batch_events": [batch_events],
                "total_events": [total_events],
                "total_value": [round(total_cents / 100.0, 2)],
            }
        )

    return track_user


def user_activity_stream(events_stream: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """events(user_id, value, ...) stream → cumulative per-user tracker."""
    return (
        events_stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            make_tracker(ttl_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if ttl_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )

