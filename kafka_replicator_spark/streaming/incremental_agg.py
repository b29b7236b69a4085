"""Incrementally-maintained aggregate state (MERGE/SCD1 emulation).

The guide's CDC pattern without Delta: a per-key aggregate table kept
up-to-date across microbatches by combining the stored state with each
batch's partial aggregates and atomically swapping the state directory
(versioned dirs + a `_CURRENT` pointer — the same two-phase publish
discipline as the segment writer).

Algebraic aggregates only (count/sum/min/max) — they re-combine losslessly,
so each batch costs one partial aggregation of the batch plus a merge join
against state that is proportional to the *key cardinality*, not history.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_COMBINE = {"count": "sum", "sum": "sum", "min": "min", "max": "max"}


class IncrementalAggState:
    """Versioned parquet state for a keyed aggregate."""

    def __init__(self, spark: SparkSession, state_dir: str, keys: list[str]):
        self.spark = spark
        self.state_dir = state_dir
        self.keys = keys
        os.makedirs(state_dir, exist_ok=True)

    def _current_path(self) -> str | None:
        ptr = os.path.join(self.state_dir, "_CURRENT")
        if os.path.exists(ptr):
            with open(ptr) as f:
                return os.path.join(self.state_dir, f.read().strip())
        return None

    def read(self) -> DataFrame | None:
        cur = self._current_path()
        return self.spark.read.parquet(cur) if cur else None

    def update(self, batch: DataFrame, aggs: list[tuple[str, str, str]]) -> DataFrame:
        """Fold one batch into state.  ``aggs``: (column, fn, alias) with
        fn ∈ {count, sum, min, max}.  Returns the new state DataFrame.
        """
        for _c, fn, _a in aggs:
            if fn not in _COMBINE:
                raise ValueError(f"non-algebraic aggregate {fn!r}")
        partial = batch.groupBy(*self.keys).agg(
            *[getattr(F, fn)(c).alias(a) for c, fn, a in aggs]
        )
        current = self.read()
        if current is not None:
            merged = current.unionByName(partial).groupBy(*self.keys).agg(
                *[getattr(F, _COMBINE[fn])(a).alias(a) for _c, fn, a in aggs]
            )
        else:
            merged = partial
        version = 0
        cur = self._current_path()
        if cur is not None:
            version = int(os.path.basename(cur).split("=")[1]) + 1
        new_dir = os.path.join(self.state_dir, f"v={version}")
        merged.write.mode("overwrite").parquet(new_dir)
        tmp = os.path.join(self.state_dir, "_CURRENT.tmp")
        with open(tmp, "w") as f:
            f.write(f"v={version}")
        os.replace(tmp, os.path.join(self.state_dir, "_CURRENT"))  # atomic cutover
        return self.spark.read.parquet(new_dir)


def run_incremental_agg_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: str,
    state_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    aggs: list[tuple[str, str, str]],
    await_termination: bool = True,
):
    """Maintain the keyed aggregate over a file stream — each microbatch
    folds into the versioned state (exactly-once per epoch via the engine
    checkpoint: a replayed epoch rewrites the same next version)."""
    state = IncrementalAggState(spark, state_dir, keys)
    stream = spark.readStream.schema(source_schema).parquet(source_dir)

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        state.update(batch_df, aggs)

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q
