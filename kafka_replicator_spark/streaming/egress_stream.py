"""Streaming egress: message stream → parquet segments (reference
pkg/egress/ as a Structured Streaming job).

Mapping of the reference's streaming machinery onto engine guarantees
(SURVEY.md §2.9):

  * T1 rollover window — the microbatch *is* the age window (trigger
    interval ≈ MaxSegmentAge); size/count rollover runs inside the batch via
    the greedy assignment, so one epoch may still emit several segments per
    partition.
  * T2 commit-after-close — Structured Streaming commits the epoch to the
    checkpoint WAL only after ``foreachBatch`` returns; a crash mid-write
    replays the epoch.
  * T3/T4 rewind/discard — replay + the writer's deterministic
    ``start-end`` naming and atomic temp→rename publish make re-writes
    idempotent: the reference's at-least-once upgrades to
    exactly-once-per-file.
  * T15 backpressure — ``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger``.

The source here is a file stream (the test corpus has no live Kafka); with
a real broker, swap ``readStream.parquet`` for
``readStream.format("kafka")`` + the P1 projection — nothing downstream
changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_replicator_spark.core.schema import MESSAGE_SCHEMA
from kafka_replicator_spark.operators.egress import (
    DEFAULT_MAX_SEGMENT_BYTES,
    DEFAULT_MAX_SEGMENT_MESSAGES,
    assign_segments_greedy,
    write_segments,
)


def project_kafka_records(raw: DataFrame) -> DataFrame:
    """P1: Kafka source record → canonical Message (reference
    pkg/egress/worker.go:246-268).  Input shape is the Kafka connector's
    fixed schema (topic, partition, offset, key, value, timestamp, headers);
    pure column projection, testable without a broker.

    The reference models "timestamp not available" as zero-valued
    (worker.go:253-255) — the connector surfaces it as NULL, carried through.
    """
    return raw.select(
        F.col("topic"),
        F.col("partition").alias("partition_id"),
        F.col("offset").alias("msg_offset"),
        F.col("key").alias("msg_key"),
        F.col("value").alias("payload"),
        (F.unix_micros("timestamp") * 1000).alias("ts_ns"),
        F.expr(
            "transform(headers, h -> struct(h.key as key, h.value as value))"
        ).alias("headers"),
    )


def run_egress_stream(
    spark: SparkSession,
    source_dir: str,
    seg_root: str,
    checkpoint_dir: str,
    region: str,
    max_bytes: int = DEFAULT_MAX_SEGMENT_BYTES,
    max_messages: int = DEFAULT_MAX_SEGMENT_MESSAGES,
    max_files_per_trigger: int | None = None,
    await_termination: bool = True,
):
    """Run the egress pipeline over a file-stream of message parquet drops
    until no input remains (``availableNow`` trigger; pass
    ``await_termination=False`` to keep the handle).

    Restart-safe: re-running with the same ``checkpoint_dir`` skips
    committed epochs; replayed epochs rewrite identical segment files.
    """
    reader = spark.readStream.schema(MESSAGE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    #: §2.11 egress meters (reference pkg/egress/metrics.go:24-62):
    #: messagesConsumed / messagesWritten / segmentsWritten per topic
    stats: dict[str, dict[str, int]] = {}

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        tagged = assign_segments_greedy(batch_df, max_bytes=max_bytes, max_messages=max_messages)
        # action inside foreachBatch: segments land before the epoch commits (T2)
        written = write_segments(tagged, root=seg_root, region=region, level=0).collect()
        for seg in written:
            t = stats.setdefault(seg["topic"], {"messagesWritten": 0, "segmentsWritten": 0})
            t["messagesWritten"] += seg["message_count"]
            t["segmentsWritten"] += 1

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    q.egress_stats = stats  # exposed for observability (counters per topic)
    return q
