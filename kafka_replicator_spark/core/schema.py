"""Canonical schemas of the engine (SURVEY.md §1.2, FIXTURES.md).

The reference's one compiled-in row type is the Kafka ``Message``
(reference pkg/core/messages.proto:68-79; parquet struct
pkg/formats/s3_parquet.go:105-116).  We carry it as a DataFrame with the
stream coordinates (topic, partition) made explicit columns, because Spark
has no ambient "current topic-partition" the way a per-partition goroutine
worker does.

Column-name choices: ``msg_offset`` / ``partition_id`` instead of the
reference's ``offset`` / ``partition`` — both are SQL keywords and the
DuckDB correctness oracle runs plain ANSI SQL over the same data.

Timestamps: the reference stores Unix *nanoseconds* as INT64
(s3_parquet.go:114,323).  Spark's TimestampType is microseconds, so the
canonical schema carries ``ts_ns`` as LongType for lossless parity; derive a
TimestampType view with ``F.timestamp_micros(F.col("ts_ns") / 1000)`` when
event-time semantics (watermarks, windows) are needed.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.column import Column
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

#: One Kafka message, plus its stream coordinates.
#: reference: pkg/core/messages.proto:68-79
MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("msg_offset", T.LongType(), False),  # uint64 in ref; Kafka offsets < 2^63
        T.StructField("msg_key", T.BinaryType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("ts_ns", T.LongType(), True),  # Unix nanos; NULL = timestamp-not-available
        T.StructField(
            "headers",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("key", T.StringType(), True),
                        T.StructField("value", T.BinaryType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)

#: At-rest columns inside a segment parquet file (reference parquet struct
#: pkg/formats/s3_parquet.go:99-116: offset, key, value, timestamp, headers),
#: in the Arrow types every segment writer publishes.  This is the one
#: definition of the at-rest format; the Spark form below is derived from it.
SEGMENT_DATA_ARROW = pa.schema(
    [
        ("msg_offset", pa.int64()),
        ("msg_key", pa.binary()),
        ("payload", pa.binary()),
        ("ts_ns", pa.int64()),
        ("headers", pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))),
    ]
)
SEGMENT_DATA_COLS = SEGMENT_DATA_ARROW.names
#: Readers pass this explicitly so pre-headers files surface NULL headers
#: instead of steering schema inference.
SEGMENT_DATA_SCHEMA = from_arrow_schema(SEGMENT_DATA_ARROW)

#: Identity of a segment object as recovered from its path.
_SEGMENT_ID_ARROW = [
    ("region", pa.string()),
    ("topic", pa.string()),
    ("partition_id", pa.int32()),
    ("level", pa.int32()),
    ("start_offset", pa.int64()),
    ("end_offset", pa.int64()),
]

#: One row per published segment object: the ``applyInArrow`` output of the
#: egress writer and of the compaction merge.
WRITTEN_SEGMENT_ARROW = pa.schema(
    _SEGMENT_ID_ARROW
    + [("message_count", pa.int64()), ("size_bytes", pa.int64()), ("path", pa.string())]
)
WRITTEN_SEGMENT_SCHEMA = from_arrow_schema(WRITTEN_SEGMENT_ARROW)


def conform_segment_data(data, cols: list[str] = SEGMENT_DATA_COLS):
    """``data`` (an Arrow Table or RecordBatch) as exactly the at-rest
    columns ``cols``, in at-rest types.  A column is cast only when its type
    differs (Spark may hand over large_binary); an absent column (files
    written before it existed) becomes nulls.
    """
    schema = pa.schema([SEGMENT_DATA_ARROW.field(c) for c in cols])
    arrays = []
    for field in schema:
        if field.name not in data.schema.names:
            arrays.append(pa.nulls(data.num_rows, field.type))
            continue
        col = data.column(field.name)
        arrays.append(col if col.type == field.type else col.cast(field.type))
    return type(data).from_arrays(arrays, schema=schema)


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """Driver-held metadata ``rows`` (tuples, dicts or Rows in ``schema``
    order) as a DataFrame over a JVM ``LocalRelation``.  ``schema`` is a
    ``StructType`` or a DDL string such as ``"pid int, off long"``.

    The rows travel as one Arrow table, so a job that reads the frame needs
    no Python worker, a ``collect()`` of it runs no job, and a broadcast of
    it builds on the driver — where ``createDataFrame(list)`` /
    ``parallelize`` make every read a Python-worker job.  Values go through
    ``schema.toInternal`` first, exactly as on that path, so a naive
    datetime maps to the same instant in every process time zone.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    internal = [schema.toInternal(r) for r in rows]
    if internal:
        table = pa.Table.from_arrays(
            [pa.array(col, type=f.type) for col, f in zip(zip(*internal), arrow)],
            schema=arrow,
        )
    else:
        table = arrow.empty_table()
    return spark.createDataFrame(table, schema=schema)


#: Segment identity + listing info.
#: reference: pkg/core/messages.proto:28-35 (identity), pkg/core/core.go:90-94
#: (SegmentInfo = identity + LastModified + size).
SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("region", T.StringType(), False),
        T.StructField("topic", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("level", T.IntegerType(), False),  # 0 = streaming; >=1 = compacted
        T.StructField("start_offset", T.LongType(), False),  # inclusive
        T.StructField("end_offset", T.LongType(), False),  # inclusive (core.go:150-152)
        T.StructField("message_count", T.LongType(), True),
        T.StructField("size_bytes", T.LongType(), True),
        T.StructField("modified_ts", T.TimestampType(), True),
        T.StructField("path", T.StringType(), True),
    ]
)

#: Delivery cursor (reference pkg/core/messages.proto:49-55).
CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("region", T.StringType(), False),
        T.StructField("topic", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("msg_offset", T.LongType(), False),
        T.StructField("ts_ns", T.LongType(), True),
    ]
)

#: CREATED/REMOVED segment notification (messages.proto:37-47).
SEGMENT_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType(), False),  # CREATED | REMOVED
        T.StructField("event_ts", T.TimestampType(), False),
        T.StructField("region", T.StringType(), False),
        T.StructField("topic", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("level", T.IntegerType(), False),
        T.StructField("start_offset", T.LongType(), False),
        T.StructField("end_offset", T.LongType(), False),
        T.StructField("size_bytes", T.LongType(), True),
    ]
)

EVENT_CREATED = "CREATED"
EVENT_REMOVED = "REMOVED"


def message_size_col(
    key: str | Column = "msg_key",
    payload: str | Column = "payload",
    headers: str | Column | None = "headers",
) -> Column:
    """Accounting size of a message, exactly as the reference computes it
    against MaxSegmentSize: ``16 + len(key) + len(value) + Σ(len(hk)+len(hv))``
    (reference pkg/core/core.go:136-147).

    Pure column expression → whole-stage codegen, no UDF.
    """
    key = F.col(key) if isinstance(key, str) else key
    payload = F.col(payload) if isinstance(payload, str) else payload
    size = (
        F.lit(16)
        + F.coalesce(F.length(key), F.lit(0))
        + F.coalesce(F.length(payload), F.lit(0))
    )
    if headers is not None:
        headers = F.col(headers) if isinstance(headers, str) else headers
        size = size + F.coalesce(
            F.aggregate(
                headers,
                F.lit(0),
                lambda acc, h: acc
                + F.coalesce(F.length(h["key"]), F.lit(0))
                + F.coalesce(F.length(h["value"]), F.lit(0)),
            ),
            F.lit(0),
        )
    return size.cast(T.LongType())
