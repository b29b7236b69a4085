"""Segment listing (S3 metadata scan) and segment reading (S2).

Listing mirrors the reference's prefix-scoped ``ListObjectsV2`` scan
(pkg/stores/s3_segment_store.go:183-221): it is *metadata-scale* work —
thousands of path strings, not data — so it runs on the driver (exactly as
the reference's single LIST loop does) and the rows become a JVM
``LocalRelation`` (``core.schema.local_frame``): collecting, planning over
or broadcasting the listing needs no Python worker, and a ``collect()`` of
it runs no Spark job.  Reading is a plain
``spark.read.parquet`` over the selected files with segment identity
recovered from ``input_file_name()`` — fully distributed, with Catalyst
pushdown into the scan.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_replicator_spark.core.codec import (
    SegmentId,
    parse_segment_path,
    parse_segment_path_cols,
)
from kafka_replicator_spark.core.schema import (
    SEGMENT_DATA_SCHEMA,
    SEGMENT_SCHEMA,
    local_frame,
)


def walk_segments(
    root: str,
    region: str | None = None,
    topic: str | None = None,
    partition_id: int | None = None,
) -> Iterator[tuple[str, SegmentId]]:
    """Yield ``(path, identity)`` of every committed segment file under
    ``root`` whose identity matches every given filter.

    The leading run of given filters narrows the walk prefix like the
    reference's scoped LIST (s3_segment_store.go:212-215) — partition
    pruning at the listing layer; every filter is then also checked on the
    parsed identity, so one given without the level above it (``topic``
    alone, ``region`` + ``partition_id``) still applies.  Files under
    ``temp/`` are uncommitted (two-phase publish) and never yielded.
    """
    want = (region, topic, None if partition_id is None else int(partition_id))
    base = root.rstrip("/")
    for part in want:
        if part is None:
            break
        base = f"{base}/{part}"
    for dirpath, _dirnames, filenames in os.walk(base):
        if os.path.basename(os.path.normpath(dirpath)) == "temp":
            continue
        for fn in filenames:
            path = os.path.join(dirpath, fn)
            try:
                seg = parse_segment_path(path)
            except ValueError:
                continue
            got = (seg.region, seg.topic, seg.partition_id)
            if all(w is None or w == g for w, g in zip(want, got)):
                yield path, seg


def list_segments(
    spark: SparkSession,
    root: str,
    region: str | None = None,
    topic: str | None = None,
    partition_id: int | None = None,
    read_footers: bool = False,
) -> DataFrame:
    """List segment files under ``root`` → SEGMENT_SCHEMA DataFrame, scoped
    by :func:`walk_segments`.

    ``read_footers=True`` also loads messageCount from each parquet footer
    (an extra HEAD-scale read per file; off by default).
    """
    rows = []
    for path, seg in walk_segments(root, region, topic, partition_id):
        st = os.stat(path)
        count = None
        if read_footers:
            import pyarrow.parquet as pq

            meta = pq.ParquetFile(path).metadata.metadata or {}
            raw = meta.get(b"messageCount")
            count = int(raw) if raw is not None else None
        rows.append(
            (
                seg.region,
                seg.topic,
                seg.partition_id,
                seg.level,
                seg.start_offset,
                seg.end_offset,
                count,
                int(st.st_size),
                datetime.fromtimestamp(st.st_mtime, tz=timezone.utc).replace(tzinfo=None),
                path,
            )
        )
    return local_frame(spark, rows, SEGMENT_SCHEMA)


def heap_order(segments: DataFrame) -> DataFrame:
    """The reference's segment processing order: start_offset asc, and on a
    tie the *longer* segment first (min-heap comparator,
    pkg/utils/heap.go:71-91).  Adds ``heap_rank`` per (topic, partition).
    """
    w = Window.partitionBy("topic", "partition_id").orderBy(
        F.asc("start_offset"), F.desc("end_offset")
    )
    return segments.withColumn("heap_rank", F.row_number().over(w))


def read_segment_files(
    spark: SparkSession,
    paths: list[str],
    from_offset: int | None = None,
    dedup_overlaps: bool = True,
) -> DataFrame:
    """Read segment parquet files back into the message stream.

    * segment identity columns are recovered from the file path (P4 codec
      over ``input_file_name()``) — no sidecar lookup;
    * ``from_offset`` applies the resume trim F1 (``msg_offset >= next``)
      as a pushed-down parquet filter (reference pkg/ingress/worker.go:390-396);
    * overlapping segments are deduplicated per (topic, partition, offset)
      keeping the segment that the reference's heap order would deliver
      first (start asc, end desc — pkg/utils/heap.go:71-91), via one
      window row_number (T13).
    """
    if not paths:
        raise ValueError("no segment paths to read")
    df = (
        spark.read.schema(SEGMENT_DATA_SCHEMA)
        .parquet(*paths)
        .select("*", F.input_file_name().alias("__path"))
        .select("*", *parse_segment_path_cols("__path"))
        .drop("__path")
    )
    if from_offset is not None:
        df = df.filter(F.col("msg_offset") >= F.lit(from_offset))
    if dedup_overlaps:
        w = Window.partitionBy("topic", "partition_id", "msg_offset").orderBy(
            F.asc("start_offset"), F.desc("end_offset"), F.asc("level")
        )
        df = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    return df
