"""Custom Spark DataSource for the segment store (Spark 4 Python
DataSource API) — the engine's pluggable-format integration point.

The reference exposes segments through the ``SegmentFormat``/``SegmentStore``
interfaces (pkg/core/core.go:56-87); Spark's analog is the DataSource
format registry, so the segment store registers as a real format:

    spark.dataSource.register(SegmentDataSource)
    df = (spark.read.format("kafka_segments")
          .option("root", "/data/segments")
          .option("topic", "events")          # optional prefix pruning
          .option("from_offset", "1000")      # optional F1 trim
          .load())

Each segment file is one input partition (the same parallelism unit as the
reference's per-segment reads); rows stream back as Arrow batches with the
segment identity columns attached from the path codec — no JVM regexp per
row, the identity is constant per partition.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from kafka_replicator_spark.core.schema import (
    SEGMENT_ROWS_ARROW,
    SEGMENT_ROWS_SCHEMA,
    conform_segment_data,
)
from kafka_replicator_spark.sources.segments import walk_segments


class SegmentInputPartition(InputPartition):
    def __init__(self, path: str, region: str, topic: str, partition_id: int,
                 level: int, start_offset: int, end_offset: int):
        self.path = path
        self.region = region
        self.topic = topic
        self.partition_id = partition_id
        self.level = level
        self.start_offset = start_offset
        self.end_offset = end_offset


class SegmentReader(DataSourceReader):
    def __init__(self, options):
        self.root = options.get("root")
        if not self.root:
            raise ValueError("option 'root' is required for kafka_segments")
        self.region = options.get("region")
        self.topic = options.get("topic")
        part = options.get("partition")
        self.partition_id = int(part) if part is not None else None
        self.from_offset = int(options.get("from_offset", "-1"))

    def partitions(self):
        # driver-side listing — the same walk as list_segments (S3)
        return [
            SegmentInputPartition(
                path, seg.region, seg.topic, seg.partition_id,
                seg.level, seg.start_offset, seg.end_offset,
            )
            for path, seg in walk_segments(
                self.root, self.region, self.topic, self.partition_id
            )
            # F2: fully-delivered segments pruned at plan time
            if self.from_offset < 0 or seg.end_offset >= self.from_offset
        ]

    def read(self, partition: SegmentInputPartition):
        # executor-side: stream the file as Arrow batches with constant
        # identity columns prepended (P4 without per-row regexp)
        import pyarrow as pa
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(partition.path)
        for batch in pf.iter_batches():
            if self.from_offset >= 0:
                mask = pa.compute.greater_equal(
                    batch.column("msg_offset"), pa.scalar(self.from_offset)
                )
                batch = batch.filter(mask)
                if batch.num_rows == 0:
                    continue
            ident = [
                partition.region, partition.topic, partition.partition_id,
                partition.level, partition.start_offset, partition.end_offset,
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([v] * batch.num_rows, field.type)
                    for v, field in zip(ident, SEGMENT_ROWS_ARROW)
                ]
                + conform_segment_data(batch).columns,
                schema=SEGMENT_ROWS_ARROW,
            )


class SegmentDataSource(DataSource):
    """``format("kafka_segments")`` — segment store as a first-class source."""

    @classmethod
    def name(cls) -> str:
        return "kafka_segments"

    def schema(self) -> StructType:
        return SEGMENT_ROWS_SCHEMA

    def reader(self, schema) -> SegmentReader:
        return SegmentReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(SegmentDataSource)


# ------------------------------------------------------------- streaming

from pyspark.sql.datasource import DataSourceStreamReader  # noqa: E402


class SegmentStreamReader(DataSourceStreamReader):
    """Streaming discovery of segment files (S4): the stream offset is the
    set of files already consumed, so restarts resume exactly from the
    engine checkpoint — the notification-feed semantics built from listing
    (SURVEY S4: OSS re-list path), as a real custom streaming source.

    Offsets carry the sorted consumed-path list — metadata-scale (one string
    per segment, the same magnitude the reference's event store holds); a
    production variant would compact to (mtime watermark + recent set).
    """

    def __init__(self, options):
        self._batch = SegmentReader(options)

    def initialOffset(self) -> dict:
        return {"paths": []}

    def latestOffset(self) -> dict:
        current = sorted(p.path for p in self._batch.partitions())
        return {"paths": current}

    def partitions(self, start: dict, end: dict):
        new = sorted(set(end["paths"]) - set(start["paths"]))
        by_path = {p.path: p for p in self._batch.partitions()}
        return [by_path[p] for p in new if p in by_path]

    def read(self, partition: SegmentInputPartition):
        return self._batch.read(partition)

    def commit(self, end: dict) -> None:
        pass


def _stream_reader(self, schema):
    return SegmentStreamReader(self.options)


SegmentDataSource.streamReader = _stream_reader
