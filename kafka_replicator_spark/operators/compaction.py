"""Compaction — merge N offset-ordered segments into 1 (reference
pkg/compaction/compactor.go; the flagship operator M1 + planner F3/F4/F5/
O1/A8).

Split exactly as the reference splits it:

  * **plan** (``plan_compaction``) — pure metadata DataFrame computation:
    level band (F4), age gate (F5), resume floor from higher-level segments
    (compactor.go:176-191), heap order (O1), superseded-segment pop (F3),
    and the bounded take by cumulative count/size (A8) — one window cumsum,
    no collect until the final (tiny) plan.
  * **merge** (``merge_segments``) — data-scale: read the chosen files,
    trim below the floor, drop duplicate offsets from overlapping inputs,
    assert gap-freeness (compactor.go:219-221 "missing message range"),
    and write ONE output segment per (topic, partition) — or one per
    ``max_output_messages`` chunk — at ``level = max(input levels) + 1``
    (compactor.go:134-150).
  * **delete inputs** only after a successful write (compactor.go:314-351);
    a failed delete is retried implicitly next run via F3.

Scale: each output segment's merge is an independent Spark task that reads
its own input files directly (inputs are already grouped by partition on
storage, so there is NO data shuffle — regrouping by the same key would be
pure network waste at 100 TB).  1000 partitions compact 1000-wide; output
stays one file per partition by construction — the same invariant the
reference has — and its size is bounded by the planner's max_bytes, which
bounds task memory.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_replicator_spark.core.schema import (
    WRITTEN_SEGMENT_SCHEMA,
    conform_segment_data,
    local_frame,
)

#: reference defaults, pkg/compaction/config.go:29-39
DEFAULT_MIN_SEGMENT_COUNT = 10
DEFAULT_MAX_SEGMENT_COUNT = 10_000
DEFAULT_MIN_SEGMENT_BYTES = 1 << 30
DEFAULT_MAX_SEGMENT_BYTES = 4 << 30
DEFAULT_MIN_SEGMENT_AGE = timedelta(hours=1)
#: reference pkg/compaction/compactor.go:27-29
DELETE_PARALLELISM = 16

#: One merge task spec per output segment (``merge_segments``).
MERGE_SPEC_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("out_level", T.IntegerType()),
        T.StructField("chunk_lo", T.LongType()),
        T.StructField("chunk_hi", T.LongType()),
        T.StructField("starts", T.ArrayType(T.LongType())),
        T.StructField("ends", T.ArrayType(T.LongType())),
        T.StructField("levels", T.ArrayType(T.IntegerType())),
        T.StructField("paths", T.ArrayType(T.StringType())),
    ]
)


def plan_compaction(
    segments: DataFrame,
    min_level: int = 0,
    max_level: int = 0,
    min_count: int = DEFAULT_MIN_SEGMENT_COUNT,
    max_count: int = DEFAULT_MAX_SEGMENT_COUNT,
    min_bytes: int = DEFAULT_MIN_SEGMENT_BYTES,
    max_bytes: int = DEFAULT_MAX_SEGMENT_BYTES,
    min_age: timedelta | None = None,
    now: datetime | None = None,
    include_superseded: bool = False,
) -> DataFrame:
    """Select, per (topic, partition), the prefix of segments to compact.

    Returns the selected segments augmented with ``compact_floor`` (the
    resume offset floor derived from already-compacted higher levels) —
    everything the merge step needs, still as a DataFrame.

    ``include_superseded=True`` additionally returns in-band segments whose
    whole range sits below the floor, flagged ``superseded = true`` — they
    are excluded from the merge read but must be deleted after a successful
    compaction of their partition (the reference pops them into the result
    list before the skip, compactor.go:192-203, so its post-merge delete
    covers them; filtering them out entirely would leak storage forever).
    """
    from kafka_replicator_spark.core.validation import validate_compaction_config

    validate_compaction_config(
        min_level, max_level, min_count, max_count, min_bytes, max_bytes, min_age
    )
    in_band = segments.filter(F.col("level").between(min_level, max_level))
    if min_age is not None:
        cutoff = (now or datetime.utcnow()) - min_age
        in_band = in_band.filter(F.col("modified_ts") <= F.lit(cutoff))  # F5

    # resume floor: max end_offset of segments *above* the band, per
    # partition (compactor.go:176-191) — metadata-scale aggregation.
    floors = (
        segments.filter(F.col("level") > max_level)
        .groupBy("topic", "partition_id")
        .agg((F.max("end_offset") + 1).alias("compact_floor"))
    )
    with_floor = in_band.join(F.broadcast(floors), ["topic", "partition_id"], "left").withColumn(
        "compact_floor", F.coalesce(F.col("compact_floor"), F.lit(0))
    )
    # F3: segments fully below the floor (superseded / already compacted)
    # are popped out of the merge set
    planned = with_floor.filter(F.col("end_offset") >= F.col("compact_floor"))

    # O1 heap order + A8 bounded take: include while the running size
    # *before* this segment is < max_bytes and position <= max_count
    # (the threshold-crossing segment is included, compactor.go:205-242).
    w = Window.partitionBy("topic", "partition_id").orderBy(
        F.asc("start_offset"), F.desc("end_offset")
    )
    planned = (
        planned.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "_cum_before",
            F.coalesce(
                F.sum("size_bytes").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .filter((F.col("_rn") <= max_count) & (F.col("_cum_before") < max_bytes))
    )

    # qualification: a partition compacts only when the take reaches the min
    # count AND the min size — the reference skips on either shortfall
    # (compactor.go:226-235: count < MinSegmentCount skips, then
    # totalSize < MinSegmentSize skips).  Computed as unordered WINDOW
    # aggregates over the same planned frame — same partition keys as the
    # heap-order window, so no extra exchange and ONE pipeline, where the
    # former groupBy + broadcast-semi-join build side re-executed the whole
    # listing→floor→window subtree per consumer (a fresh metadata plan paid
    # ~3 redundant sub-executions; per-partition count/sum are the same
    # aggregates, so the selected rows are identical).
    wq = Window.partitionBy("topic", "partition_id")
    qualified = (
        planned.withColumn("_qn", F.count(F.lit(1)).over(wq))
        .withColumn("_qsz", F.sum("size_bytes").over(wq))
        .filter((F.col("_qn") >= min_count) & (F.col("_qsz") >= min_bytes))
    )
    selected = qualified.drop("_rn", "_cum_before", "_qn", "_qsz")
    if not include_superseded:
        return selected
    qual = qualified.select("topic", "partition_id").distinct()
    superseded = with_floor.filter(F.col("end_offset") < F.col("compact_floor")).join(
        F.broadcast(qual), ["topic", "partition_id"], "left_semi"
    )
    return selected.withColumn("superseded", F.lit(False)).unionByName(
        superseded.withColumn("superseded", F.lit(True))
    )


def merge_segments(
    spark: SparkSession, plan: list, root: str, region: str,
    max_output_messages: int | None = None,
) -> DataFrame:
    """M1: execute a compaction plan → one merged segment per partition.

    ``plan`` is the planner's collected rows — the plan is metadata-scale
    (the reference holds the same list in memory), and the caller collects
    it once.

    ``max_output_messages`` (optional) chunks the merged output into
    multiple contiguous segments of at most that many messages.  The
    reference merges strictly N→1 (single-writer per partition); on a
    hot partition that single writer is the skew bottleneck, and chunking
    re-parallelizes it per output segment — same dense-offset invariants,
    same read path, bounded writer-task memory.  Default None = reference-
    exact N→1.

    Execution is shuffle-free: the plan expands on the driver to one task
    spec per output segment, and the specs become a JVM ``LocalRelation``
    (``core.schema.local_frame``), so scheduling the fan-out needs no
    Python worker beyond the merge tasks themselves.  Each task
    pyarrow-reads exactly its input files (row-group pruned to its offset
    chunk), heap-order-dedups overlaps in Arrow, and publishes via the
    shared two-phase commit; no message bytes cross the network
    (compactor.go:219-311 as a distributed task set).  An empty plan
    returns an empty LocalRelation.

    Raises ValueError on an offset gap (reference errors with
    ``missing message range``, compactor.go:219-221); the gapped partition
    publishes nothing.
    """
    if not plan:
        return local_frame(spark, [], WRITTEN_SEGMENT_SCHEMA)
    out_levels = {}  # (topic, partition) -> max input level + 1
    floors = {}
    by_part: dict = {}
    for r in plan:
        k = (r["topic"], r["partition_id"])
        out_levels[k] = max(out_levels.get(k, 0), r["level"] + 1)
        floors[k] = max(floors.get(k, 0), r["compact_floor"])
        by_part.setdefault(k, []).append(
            (r["start_offset"], r["end_offset"], r["level"], r["path"])
        )

    # The merge is deliberately SHUFFLE-FREE: inputs are already grouped by
    # (topic, partition) on storage, so shuffling every message row to
    # regroup by the same key is pure waste — the anti-pattern that breaks
    # at 100 TB.  Instead the (tiny) plan is turned into one task spec per
    # output segment; each task reads exactly its input files/row-groups
    # with pyarrow, merges in Arrow, and publishes — Spark schedules the
    # task fan-out (one task per output segment, exactly like the grouped
    # writer) but no message bytes ever cross the network.  This is the
    # reference's streaming copy loop (compactor.go:219-311) as a
    # distributed task set.
    specs = []  # one per output segment
    for (topic, pid), files in by_part.items():
        floor = floors[(topic, pid)]
        lo = max(floor, min(s for s, _, _, _ in files))
        hi = max(e for _, e, _, _ in files)
        if max_output_messages is None:
            chunks = [(lo, hi)]
        else:
            k = int(max_output_messages)
            first = (lo // k) * k
            chunks = [
                (max(lo, c), min(hi, c + k - 1))
                for c in range(first, hi + 1, k)
            ]
        for c_lo, c_hi in chunks:
            in_files = [
                (s, e, lvl, p) for (s, e, lvl, p) in files if s <= c_hi and e >= c_lo
            ]
            if not in_files:
                continue
            specs.append(
                {
                    "topic": topic,
                    "partition_id": pid,
                    "out_level": out_levels[(topic, pid)],
                    "chunk_lo": c_lo,
                    "chunk_hi": c_hi,
                    "starts": [s for s, _, _, _ in in_files],
                    "ends": [e for _, e, _, _ in in_files],
                    "levels": [lvl for _, _, lvl, _ in in_files],
                    "paths": [p for _, _, _, p in in_files],
                }
            )

    def merge_task(spec_table):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from kafka_replicator_spark.operators.egress import _publish_segment_table

        spec = spec_table.to_pylist()[0]
        c_lo, c_hi = spec["chunk_lo"], spec["chunk_hi"]
        # parts in heap order (start asc, end desc, level asc —
        # utils/heap.go:71-91; path breaks the last ties)
        heap = sorted(
            zip(spec["starts"], spec["ends"], spec["levels"], spec["paths"]),
            key=lambda f: (f[0], -f[1], f[2], f[3]),
        )
        out = pa.concat_tables(
            [
                conform_segment_data(
                    pq.read_table(
                        path, filters=[("msg_offset", ">=", c_lo), ("msg_offset", "<=", c_hi)]
                    )
                )
                for _s, _e, _lvl, path in heap
            ]
        )
        # Strictly increasing offsets (disjoint parts, the steady egress case)
        # are already the merged result.  The test reads the data, not the
        # filename extents, so an extent-lying file takes the sort: a stable
        # sort keeps heap order among the copies of one offset, and the first
        # copy wins.
        offs = out.column("msg_offset").to_numpy()
        if not (offs[1:] > offs[:-1]).all():
            out = out.take(pc.sort_indices(out, sort_keys=[("msg_offset", "ascending")]))
            offs = out.column("msg_offset").to_numpy()
            out = out.filter(pa.array(np.concatenate([[True], offs[1:] != offs[:-1]])))
        return _publish_segment_table(
            out, root=root, region=region, topic=spec["topic"],
            partition_id=int(spec["partition_id"]), level=int(spec["out_level"]),
            require_dense=True,
        )

    spec_df = local_frame(spark, specs, MERGE_SPEC_SCHEMA)
    return (
        spec_df.repartition(len(specs), "topic", "partition_id", "chunk_lo")
        .groupBy("topic", "partition_id", "chunk_lo")
        .applyInArrow(lambda t: merge_task(t), schema=WRITTEN_SEGMENT_SCHEMA)
    )


def delete_segment_files(paths: list[str]) -> list[str]:
    """Delete input objects after a successful merge, bounded-parallel like
    the reference's 16-way delete pool (compactor.go:314-351).  Returns the
    paths that failed (tolerated — F3 skips them next run).
    """
    failed: list[str] = []

    def rm(p: str) -> None:
        try:
            os.remove(p)
        except OSError:
            failed.append(p)

    with ThreadPoolExecutor(max_workers=DELETE_PARALLELISM) as pool:
        list(pool.map(rm, paths))
    return failed


def compact(
    spark: SparkSession,
    root: str,
    region: str,
    max_output_messages: int | None = None,
    **plan_kwargs,
) -> DataFrame:
    """End-to-end compaction run: list → plan → merge → delete inputs.

    Returns the metadata of the newly written segments, materialized before
    deletion (so the pipeline is list-once) and handed back as a
    ``LocalRelation`` that collects without a job.  Fully-superseded in-band
    segments are deleted alongside the merge inputs once their partition's
    compaction succeeds (reference compactor.go:192-203 + 314-351).
    """
    from kafka_replicator_spark.sources.segments import list_segments

    segments = list_segments(spark, root)
    all_rows = plan_compaction(
        segments, include_superseded=True, **plan_kwargs
    ).collect()
    plan_rows = [r for r in all_rows if not r["superseded"]]
    superseded_paths = sorted({r["path"] for r in all_rows if r["superseded"]})
    input_paths = sorted({r["path"] for r in plan_rows} | set(superseded_paths))
    written = merge_segments(
        spark, plan_rows, root=root, region=region,
        max_output_messages=max_output_messages,
    )
    try:
        result = written.collect()  # force the write before deleting inputs
    except Exception as e:  # surface the writer's inline gap check as ValueError
        if "missing message range" in str(e):
            first = next(
                (ln for ln in str(e).splitlines() if "missing message range" in ln),
                "missing message range (offset gap)",
            )
            raise ValueError(first.strip()) from e
        raise
    if result:
        delete_segment_files(input_paths)
    return local_frame(spark, result, WRITTEN_SEGMENT_SCHEMA)
