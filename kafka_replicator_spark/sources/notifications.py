"""S4: S3-notification → SegmentEvent parsing (reference
pkg/stores/sqs_segment_event_source.go:297-371).

The reference long-polls SQS for S3 bucket-notification JSON and turns each
record into a SegmentEvent for the consistency overlay (J1).  This module
is the Spark-native restatement of the *parse* half — everything after the
transport — as pure JVM-side column expressions (``from_json`` + explode +
path codec), so it runs identically over

  * a batch frame of drained SQS bodies (boto3 dump, Kinesis archive),
  * a streaming frame (``readStream`` of an SQS-to-S3/Kafka bridge)

and feeds :mod:`kafka_replicator_spark.operators.consistent` directly.  The
transport itself (long-poll loop, visibility timeout, DLQ) is delegated to
infra by design — no broker/queue exists in this container; see
streaming/ingress_stream.py for the file-discovery fallback the engine uses
instead.

Reference semantics preserved:

  * only ``eventSource == "aws:s3"`` records count (:308);
  * ``ObjectCreated:*`` / ``ObjectRemoved:*`` prefixes map to
    CREATED/REMOVED, anything else is invalid (:315-323);
  * ``eventTime`` is RFC3339(Nano) (:325);
  * the object key is URL-decoded before the path codec (:334, the
    ``url.QueryUnescape`` + ``parseSegmentKey`` pair — X1/X4);
  * any per-record failure (bad source, bad name, bad time, bad key) skips
    THAT record with an invalid-meter mark, never the whole body
    (:308-346);
  * a message re-received more than ``max_receives`` times is dropped —
    the poison-message guard (getMessageReceiveCount + handling loop,
    :250-270, default 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_replicator_spark.core.codec import segment_path_fields
from kafka_replicator_spark.core.schema import EVENT_CREATED, EVENT_REMOVED

#: the subset of the S3 bucket-notification record the reference reads
#: (sqs_segment_event_source.go s3Event/s3EventRecord structs)
S3_EVENT_SCHEMA = (
    "STRUCT<Records: ARRAY<STRUCT<"
    "eventSource: STRING, eventName: STRING, eventTime: STRING, "
    "s3: STRUCT<object: STRUCT<key: STRING, size: BIGINT>>"
    ">>>"
)


def parse_s3_notification_events(
    bodies: DataFrame,
    body_col: str = "body",
    receive_count_col: str | None = None,
    max_receives: int = 3,
    keep_invalid: bool = False,
) -> DataFrame:
    """Raw notification bodies → SegmentEvent rows for the J1 overlay.

    Output columns match operators/consistent.py's contract: the segment
    identity (region, topic, partition_id, level, start_offset, end_offset),
    ``event_type`` (CREATED/REMOVED), ``event_ts`` (timestamp) and
    ``size_bytes`` (the reference's SegmentSize).  With ``keep_invalid=True`` every record is returned
    with ``valid``/``invalid_reason`` columns instead of being filtered —
    the §2.11 invalid-meter feed.
    """
    src = bodies
    if receive_count_col is not None:
        # poison-message guard: give up after max_receives deliveries
        src = src.filter(F.col(receive_count_col).cast("int") <= F.lit(max_receives))
    rec = (
        src.select(
            F.explode_outer(
                F.from_json(F.col(body_col), S3_EVENT_SCHEMA)["Records"]
            ).alias("r")
        )
        # a body that is not S3-notification JSON (e.g. s3:TestEvent) parses
        # to NULL Records -> one null record row, flagged invalid below
    )
    # try_url_decode: a malformed %-escape invalidates the record, not the
    # job (the reference skips it, :334-338)
    key_dec = F.try_url_decode(F.col("r.s3.object.key"))
    ev_type = (
        F.when(F.col("r.eventName").startswith("ObjectCreated:"), F.lit(EVENT_CREATED))
        .when(F.col("r.eventName").startswith("ObjectRemoved:"), F.lit(EVENT_REMOVED))
        .otherwise(F.lit(None).cast("string"))
    )
    # try_* variants throughout: a malformed record must invalidate itself,
    # not abort the job under ANSI mode (the reference skips per record)
    ev_ts = F.try_to_timestamp(F.col("r.eventTime"))  # RFC3339(Nano)
    region, topic, partition_id, level, start, end = segment_path_fields(key_dec)
    parsed = rec.select(
        ev_type.alias("event_type"),
        ev_ts.alias("event_ts"),
        F.col("r.eventSource").alias("_src"),
        F.col("r.s3.object.size").try_cast("long").alias("size_bytes"),
        key_dec.alias("_key"),
        region.alias("region"),
        topic.alias("topic"),
        partition_id.try_cast("int").alias("partition_id"),
        level.try_cast("int").alias("level"),
        start.try_cast("long").alias("start_offset"),
        end.try_cast("long").alias("end_offset"),
    )
    reason = (
        F.when(F.col("_src").isNull(), F.lit("not_s3_event_json"))
        .when(F.col("_src") != "aws:s3", F.lit("unknown_event_source"))
        .when(F.col("event_type").isNull(), F.lit("unknown_event_name"))
        .when(F.col("event_ts").isNull(), F.lit("invalid_event_time"))
        .when(F.coalesce(F.col("region"), F.lit("")) == "", F.lit("invalid_segment_key"))
        .otherwise(F.lit(None).cast("string"))
    )
    flagged = parsed.withColumn("invalid_reason", reason).withColumn(
        "valid", F.col("invalid_reason").isNull()
    )
    cols = [
        "region", "topic", "partition_id", "level", "start_offset", "end_offset",
        "event_type", "event_ts", "size_bytes",
    ]
    if keep_invalid:
        return flagged.select(*cols, "valid", "invalid_reason")
    return flagged.filter(F.col("valid")).select(*cols)
