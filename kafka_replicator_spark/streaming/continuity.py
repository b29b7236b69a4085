"""Streaming offset-continuity monitor (arbitrary stateful processing).

The reference's ingress sanity checks (F6: non-negative offsets, start ≤
end, monotone delivery — pkg/ingress/worker.go:390-412) run per read batch
with the worker's in-memory position as context.  The streaming-native form
is arbitrary stateful processing: per (topic, partition), state holds the
last delivered offset across microbatches; every batch emits a continuity
report (contiguous? gap size? regression?) without any global scan.  State
is one long per partition — bounded regardless of stream length, the
property that matters at 1000 partitions × unbounded retention.

The operator is ``applyInPandasWithState`` with NoTimeout: the monitor has
no TTL semantics, so the availableNow/ProcessingTimeTimeout trap of
``event_store.streaming_event_store(retention_ms=)`` never applies here,
and state survives idle partitions.

Batch-shape equivalent (window lag over msg_offset) is oracle-checked as
``r_f6_sanity_offsets``; this processor is its cross-batch streaming form.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

#: output schema of the per-batch continuity report
CONTINUITY_SCHEMA = (
    "topic string, partition_id int, batch_lo long, batch_hi long, "
    "n_rows long, n_distinct long, missing_from_last long, "
    "internal_gaps long, regressed boolean"
)


def _report(key, last_offset, offs: pd.Series):
    """Continuity math: one report row + the new last-offset state."""
    lo, hi = int(offs.min()), int(offs.max())
    n, n_distinct = len(offs), int(offs.nunique())
    expected = int(last_offset) + 1 if last_offset is not None else lo
    row = {
        "topic": str(key[0]),
        "partition_id": int(key[1]),
        "batch_lo": lo,
        "batch_hi": hi,
        "n_rows": n,
        "n_distinct": n_distinct,
        "missing_from_last": max(0, lo - expected),
        "internal_gaps": (hi - lo + 1) - n_distinct,
        "regressed": lo < expected,
    }
    return row, max(hi, expected - 1)


def _continuity_fn(key, pdfs, state):
    offs = pd.concat([pdf["msg_offset"] for pdf in pdfs], ignore_index=True)
    last = state.getOption
    row, new_last = _report(key, last[0] if last is not None else None, offs)
    state.update((new_last,))
    yield pd.DataFrame([row])


def offset_continuity_stream(messages: DataFrame) -> DataFrame:
    """Attach the continuity monitor to a (streaming) message frame."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    grouped = messages.select("topic", "partition_id", "msg_offset").groupBy(
        "topic", "partition_id"
    )
    return grouped.applyInPandasWithState(
        _continuity_fn,
        outputStructType=CONTINUITY_SCHEMA,
        stateStructType="last_offset long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
