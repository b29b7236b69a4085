"""Observability (SURVEY.md §2.11): in-plan volume metrics.

The reference meters per-partition counters with go-metrics
(pkg/egress/metrics.go, pkg/ingress/metrics.go); ``Dataset.observe`` gives
the same signals per action or microbatch without touching the data path.
"""

from __future__ import annotations


def observed_volume(df, name: str = "volume", size_col: str | None = "msg_size"):
    """Attach in-plan volume metrics to a (batch or streaming) frame via
    ``Dataset.observe`` — row count plus total payload bytes, collected by
    the engine DURING the action with zero extra passes (the reference's
    per-partition volume meters, pkg/ingress/metrics.go, as plan-native
    accumulators instead of a sidecar counter).

    Batch: returns ``(df, observation)`` — read ``observation.get`` after
    any action.  Streaming: metrics surface per batch in
    ``StreamingQueryProgress.observedMetrics[name]``, read from the query
    handle's progress.
    """
    from pyspark.sql import functions as F

    metrics = [F.count(F.lit(1)).alias("n_rows")]
    if size_col is not None and size_col in df.columns:
        metrics.append(F.sum(F.col(size_col)).cast("long").alias("total_bytes"))
    if df.isStreaming:
        return df.observe(name, *metrics), None
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *metrics), obs
