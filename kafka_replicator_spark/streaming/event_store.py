"""Stateful streaming event store (T10) — the reference's last-event-per-
segment map with TTL (pkg/stores/consistent_segment_store.go:323-397) as a
custom Spark stateful operator.

``applyInPandasWithState`` keeps one small state row per segment identity:
the winning (event_type, event_ts) under the A7 resolution rule (newest
wins; REMOVED beats CREATED on a tie).  A processing-time timeout expires
idle entries after ``retention_ms`` — the reference's 1-minute background
sweep, done by the state store instead of a goroutine.  This is the
engine's one keyed-state operator (the Structured Streaming paper's
``mapGroupsWithState``); ``continuity.py`` uses the same one.

Each microbatch emits the keys whose resolved state *changed*, i.e. the
overlay delta that a ConsistentSegmentStore consumer needs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SEG_KEY = ["region", "topic", "partition_id", "level", "start_offset", "end_offset"]

_KEY_FIELDS = [
    StructField("region", StringType()),
    StructField("topic", StringType()),
    StructField("partition_id", IntegerType()),
    StructField("level", IntegerType()),
    StructField("start_offset", LongType()),
    StructField("end_offset", LongType()),
]

OUTPUT_SCHEMA = StructType(
    _KEY_FIELDS
    + [
        StructField("event_type", StringType()),
        StructField("event_ts", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [StructField("event_type", StringType()), StructField("event_ts", LongType())]
)


def _resolve(best_type, best_ts, pdf: pd.DataFrame):
    """A7 resolution over one pandas batch: newest wins; REMOVED beats
    CREATED on a tie."""
    for et, ts in zip(pdf["event_type"], pdf["event_ts"]):
        ts = int(ts)
        if ts > best_ts or (ts == best_ts and et == "REMOVED" and best_type == "CREATED"):
            best_type, best_ts = et, ts
    return best_type, best_ts


def streaming_event_store(
    events: DataFrame, retention_ms: int | None = None
) -> DataFrame:
    """events: streaming DataFrame with SEG_KEY + event_type + event_ts
    (long).  Returns the per-batch state-change stream.

    ``retention_ms`` rides on a processing-time timeout — use it ONLY with
    a ``processingTime`` (or other continuous) trigger: under
    ``availableNow`` a pending timeout makes Spark keep scheduling
    state-cleanup batches and the query never terminates.  Callers poll
    the sink for the expected output and ``stop()`` the query.
    """

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # TTL sweep: drop the idle entry silently (the reference's
            # retention eviction emits nothing either)
            state.remove()
            yield pd.DataFrame(columns=[f.name for f in OUTPUT_SCHEMA.fields])
            return

        best_type, best_ts = (state.get if state.exists else (None, -1))
        for pdf in pdfs:
            best_type, best_ts = _resolve(best_type, best_ts, pdf)
        changed = not state.exists or (state.get != (best_type, best_ts))
        state.update((best_type, best_ts))
        if retention_ms is not None:
            state.setTimeoutDuration(retention_ms)
        if changed:
            yield pd.DataFrame(
                [
                    {
                        **dict(zip(SEG_KEY, key)),
                        "event_type": best_type,
                        "event_ts": best_ts,
                    }
                ]
            )
        else:
            yield pd.DataFrame(columns=[f.name for f in OUTPUT_SCHEMA.fields])

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if retention_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy(*SEG_KEY).applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout_conf,
    )
