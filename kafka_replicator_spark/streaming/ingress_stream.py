"""Streaming ingress: parquet segments → ordered delivery (reference
pkg/ingress/ as a Structured Streaming job).

The segment root is consumed as a file stream (S2/S4: new segment files are
the discovery events; with notification infra, swap in that source).  Each
microbatch:

  1. recovers segment identity from file paths (P4 codec),
  2. trims rows at-or-below the delivery checkpoint (F1/T9) and drops
     duplicate offsets from overlapping segments (T13),
  3. delivers per partition in offset order (O3: repartition by the stream
     partition + ``sortWithinPartitions`` — per-task order is what a Kafka
     producer sink preserves),
  4. advances the checkpoint store (T8), persisted atomically driver-side —
     the same metadata scale as the reference's in-memory map backed by a
     compacted topic (S5/K3).

Late/lost policy (T6/T7): offset continuity is checked before delivery; a
gap holds the partition back (late) for up to ``max_gap_retries`` batches,
then is skipped with a ``messages_lost`` count — exactly the reference's
escalation (pkg/ingress/worker.go:110-154), minus the wall-clock backoff
(batch cadence plays that role here).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import timedelta  # noqa: F401  (signature annotations)

from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_replicator_spark.core.codec import parse_segment_path_cols
from kafka_replicator_spark.core.schema import SEGMENT_DATA_SCHEMA, local_frame


def _local_path(p: str) -> str:
    """Normalize ``input_file_name()`` output (``file:///...`` URI) to a plain
    local path so held-back segment paths survive the store → ``os.path.exists``
    → re-read roundtrip (the reference re-lists by object key, worker.go:110-154)."""
    if p.startswith("file:"):
        return unquote(urlparse(p).path)
    return p


#: Driver-held per-partition offsets joined against a batch: the delivery
#: checkpoints (F1/T9 trim) and the delivery frontiers.
CHECKPOINT_TRIM_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("cp_offset", T.LongType()),
    ]
)
FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("frontier", T.LongType()),
    ]
)


def _partition_frame(
    spark: SparkSession, offsets: dict[str, int], schema: T.StructType
) -> DataFrame:
    """``{"topic/partition": offset}`` as a ``schema`` LocalRelation for a
    broadcast join against a batch."""
    rows = []
    for key, offset in offsets.items():
        topic, pid = key.rsplit("/", 1)
        rows.append((topic, int(pid), offset))
    return local_frame(spark, rows, schema)


def _with_identity(files_df: DataFrame) -> DataFrame:
    """A segment-file scan plus each row's file path (``src_path``) and the
    segment identity parsed from it (P4 codec).  The path is projected
    first, so the parse reads a column and its shared subexpressions run
    once per row."""
    return files_df.select("*", F.input_file_name().alias("src_path")).select(
        "*", *parse_segment_path_cols("src_path")
    )


@dataclass
class IngressState:
    """Driver-side delivery state: checkpoint offsets + late/lost tracking.

    Persisted as JSON with atomic replace; the reference keeps the same
    state in a goroutine-local map mirrored to a compacted Kafka topic.
    """

    path: str
    checkpoints: dict[str, int] = field(default_factory=dict)  # "topic/part" -> last offset
    late_counts: dict[str, int] = field(default_factory=dict)
    first_seen_batch: dict[str, int] = field(default_factory=dict)  # T5 gate
    #: wall-clock twins of the batch-cadence gates (reference
    #: pkg/ingress/config.go:32-40 measures both in durations)
    first_seen_ts: dict[str, float] = field(default_factory=dict)  # T5 (seconds)
    gap_since_ts: dict[str, float] = field(default_factory=dict)  # T6→T7 (seconds)
    #: held-back segment files per partition (late/gated) — the file source
    #: surfaces each file exactly once, so anything not delivered in its
    #: arrival batch must be re-read explicitly in later batches (the
    #: reference's late-segment re-list, worker.go:110-154)
    pending_paths: dict[str, list[str]] = field(default_factory=dict)
    batches_run: int = 0
    messages_lost: int = 0
    #: §2.11 per-partition meters (reference pkg/ingress/metrics.go:25-98):
    #: messagesProduced + replication lag (now - min event ts of the batch)
    messages_produced: dict[str, int] = field(default_factory=dict)
    last_lag_ns: dict[str, int] = field(default_factory=dict)
    #: per-partition sink failure counts (reference pkg/core/breaker.go —
    #: the error-rate signal the breaker consumes)
    errors: dict[str, int] = field(default_factory=dict)

    @classmethod
    def load(cls, path: str) -> "IngressState":
        if os.path.exists(path):
            with open(path) as f:
                raw = json.load(f)
            return cls(
                path=path,
                checkpoints=raw.get("checkpoints", {}),
                late_counts=raw.get("late_counts", {}),
                first_seen_batch=raw.get("first_seen_batch", {}),
                first_seen_ts=raw.get("first_seen_ts", {}),
                gap_since_ts=raw.get("gap_since_ts", {}),
                pending_paths=raw.get("pending_paths", {}),
                batches_run=raw.get("batches_run", 0),
                messages_lost=raw.get("messages_lost", 0),
                messages_produced=raw.get("messages_produced", {}),
                last_lag_ns=raw.get("last_lag_ns", {}),
                errors=raw.get("errors", {}),
            )
        return cls(path=path)

    def save(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "checkpoints": self.checkpoints,
                    "late_counts": self.late_counts,
                    "first_seen_batch": self.first_seen_batch,
                    "first_seen_ts": self.first_seen_ts,
                    "gap_since_ts": self.gap_since_ts,
                    "pending_paths": self.pending_paths,
                    "batches_run": self.batches_run,
                    "messages_lost": self.messages_lost,
                    "messages_produced": self.messages_produced,
                    "last_lag_ns": self.last_lag_ns,
                    "errors": self.errors,
                },
                f,
            )
        os.replace(tmp, self.path)

    def snapshot(self) -> dict:
        """Meter snapshot (§2.11): produced / lag / late / lost / errors —
        the same counter families the reference exports via go-metrics."""
        return {
            "messages_produced": dict(self.messages_produced),
            "last_lag_ns": dict(self.last_lag_ns),
            "late_counts": dict(self.late_counts),
            "messages_lost": self.messages_lost,
            "errors": dict(self.errors),
            "batches_run": self.batches_run,
        }


def run_ingress_stream(
    spark: SparkSession,
    seg_root: str,
    sink_dir: str,
    checkpoint_dir: str,
    state_path: str,
    max_gap_retries: int = 3,
    first_segment_delay_batches: int = 0,
    first_segment_delay: "timedelta | None" = None,
    lost_segment_timeout: "timedelta | None" = None,
    await_termination: bool = True,
    breaker=None,
    clock=None,
):
    """Replay segments to an ordered per-partition sink until no new files
    remain.  Restart-safe via (engine checkpoint ∧ delivery state): replayed
    epochs re-trim against the delivery checkpoint, so nothing is delivered
    twice at-or-below it.

    ``first_segment_delay_batches`` is T5 (FirstSegmentDelay, reference
    pkg/ingress/worker.go:98-108): a partition first seen at batch b is not
    delivered before batch b + delay — the reference's 30-minute guard
    against listing lag on eventually-consistent stores, measured in batch
    cadence here.

    ``first_segment_delay`` / ``lost_segment_timeout`` are the wall-clock
    twins matching the reference's operating envelope exactly
    (pkg/ingress/config.go:32-40 — durations, defaults 30 min / 24 h):
    a partition first seen at wall time t delivers no earlier than
    t + first_segment_delay, and a partition held back on an offset gap
    since wall time g escalates late → lost once now - g exceeds
    lost_segment_timeout (overriding the batch-count escalation).  Both
    compose with a processing-time trigger; under availableNow replays the
    batch-cadence knobs are usually the better fit.  ``clock`` (defaults to
    ``time.time``) is injectable for deterministic tests.

    ``breaker`` (a :class:`~kafka_replicator_spark.core.breaker.ThresholdBreaker`)
    is marked once per partition on a sink failure — the reference's
    error-rate signal (pkg/core/breaker.go:34-64).
    """
    import time as _time_mod

    from kafka_replicator_spark.core.validation import validate_ingress_config

    validate_ingress_config(
        max_gap_retries,
        first_segment_delay_batches,
        first_segment_delay,
        lost_segment_timeout,
    )
    if clock is None:
        clock = _time_mod.time
    delay_s = first_segment_delay.total_seconds() if first_segment_delay else 0.0
    lost_timeout_s = (
        lost_segment_timeout.total_seconds() if lost_segment_timeout else None
    )
    stream = (
        spark.readStream.schema(SEGMENT_DATA_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(seg_root)
    )

    def deliver(batch_df: DataFrame, epoch_id: int) -> None:
        state = IngressState.load(state_path)
        df = _with_identity(batch_df)
        # re-read files held back in earlier batches (late/gated) — the file
        # source will never surface them again
        held = sorted(
            {_local_path(p) for ps in state.pending_paths.values() for p in ps}
        )
        held = [p for p in held if os.path.exists(p)]
        if held:
            df = df.unionByName(
                _with_identity(spark.read.schema(SEGMENT_DATA_SCHEMA).parquet(*held))
            )
        # F1/T9 trim vs delivery checkpoints (broadcast metadata join) —
        # BEFORE the dedup exchange (guide §2.3, filter before the shuffle):
        # a replayed epoch re-surfaces everything below the checkpoint, so
        # trimming first can empty the dedup shuffle outright.  Order is
        # output-identical: the trim predicate depends only on the dedup key
        # (topic, partition, offset), so the surviving KEY set is the same
        # either way and the kept instance is arbitrary in both orders.
        if state.checkpoints:
            cps = _partition_frame(spark, state.checkpoints, CHECKPOINT_TRIM_SCHEMA)
            df = (
                df.join(F.broadcast(cps), ["topic", "partition_id"], "left")
                .filter(F.col("cp_offset").isNull() | (F.col("msg_offset") > F.col("cp_offset")))
                .drop("cp_offset")
            )

        # T13 overlap dedup within the batch; cached — the ranges collect
        # and the delivery write both read this frame, and the dedup shuffle
        # must not run twice per batch.  r14 (guide §2.4, subset rule): the
        # batch is hash-partitioned by (topic, partition_id) FIRST — that
        # one exchange then satisfies the dedup's (topic, partition,
        # offset) clustering, the ranges groupBy, AND the O3 delivery
        # layout, so the write below needs no second exchange.
        df = (
            df.repartition("topic", "partition_id")
            .dropDuplicates(["topic", "partition_id", "msg_offset"])
            .cache()
        )
        try:
            # per-partition file ranges (metadata-scale): the continuity walk
            # runs over segment extents, not rows, so an *internal* gap inside a
            # batch holds back exactly the files above the gap (O1 heap order,
            # reference worker.go:110-154)
            # per-file row count + min event ts ride the same aggregate: the
            # §2.11 meters can then be derived driver-side (below) instead of a
            # separate per-batch collect job over the delivered frame
            ranges = (
                df.groupBy("topic", "partition_id", "src_path")
                .agg(
                    F.min("msg_offset").alias("lo"),
                    F.max("msg_offset").alias("hi"),
                    F.count(F.lit(1)).alias("n_rows"),
                    F.min("ts_ns").alias("min_ts"),
                )
                .collect()
            )
            by_part: dict[str, list] = {}
            for r in ranges:
                by_part.setdefault(f"{r['topic']}/{r['partition_id']}", []).append(r)

            state.batches_run += 1
            now_s = clock()
            frontiers: dict[str, int] = {}
            pending: dict[str, list[str]] = {}
            for key, rs in by_part.items():
                # T5 first-segment delay gate (batch cadence AND/OR wall clock)
                if key not in state.first_seen_batch:
                    state.first_seen_batch[key] = state.batches_run
                if key not in state.first_seen_ts:
                    state.first_seen_ts[key] = now_s
                gated = (
                    state.batches_run - state.first_seen_batch[key]
                    < first_segment_delay_batches
                ) or (now_s - state.first_seen_ts[key] < delay_s)
                if gated:
                    pending[key] = [_local_path(r["src_path"]) for r in rs]
                    continue
                rs.sort(key=lambda r: (r["lo"], -r["hi"]))
                next_needed = state.checkpoints.get(key, -1) + 1
                frontier = next_needed - 1
                held_paths: list[str] = []
                lost_skip_used = False
                bumped = False  # one late-retry tick per partition per batch
                for r in rs:
                    if r["lo"] <= frontier + 1:
                        frontier = max(frontier, r["hi"])
                        continue
                    # gap before this file: late → hold, or lost → skip once
                    if not bumped:
                        state.late_counts[key] = state.late_counts.get(key, 0) + 1
                        state.gap_since_ts.setdefault(key, now_s)
                        bumped = True
                    # after a lost-skip both readings are cleared, so a second
                    # gap in the batch reads as fresh and is held
                    escalate = (
                        now_s - state.gap_since_ts.get(key, now_s) > lost_timeout_s
                        if lost_timeout_s is not None
                        else state.late_counts.get(key, 0) > max_gap_retries
                    )
                    if escalate and not lost_skip_used:
                        state.messages_lost += r["lo"] - (frontier + 1)  # T7
                        state.late_counts.pop(key, None)
                        state.gap_since_ts.pop(key, None)
                        lost_skip_used = True
                        frontier = r["hi"]
                        continue
                    held_paths.append(_local_path(r["src_path"]))  # T6: retry next batch
                if held_paths:
                    pending[key] = held_paths
                else:
                    state.late_counts.pop(key, None)
                    state.gap_since_ts.pop(key, None)
                if frontier >= next_needed:
                    frontiers[key] = frontier
                    state.checkpoints[key] = int(frontier)

            state.pending_paths = pending
            if frontiers:
                fr = _partition_frame(spark, frontiers, FRONTIER_SCHEMA)
                out = df.join(F.broadcast(fr), ["topic", "partition_id"]).filter(
                    F.col("msg_offset") <= F.col("frontier")
                )
                # O3: per-partition offset order into the sink (K2 analog) —
                # the batch frame is already hash-partitioned by
                # (topic, partition_id) above, and the broadcast join + filter
                # preserve that layout, so only the in-partition sort remains
                try:
                    (
                        out.sortWithinPartitions("msg_offset")
                        .withColumn("epoch_id", F.lit(int(epoch_id)))
                        .drop("frontier", "src_path")
                        .write.mode("append")
                        .partitionBy("topic", "partition_id")
                        .parquet(sink_dir)
                    )
                except Exception:
                    # error meters + breaker marks, persisted WITHOUT the advanced
                    # checkpoints (a failed delivery must replay, not skip) — the
                    # reference marks its Kafka breaker per produce error
                    # (pkg/core/breaker.go) and leaves the checkpoint untouched.
                    err_state = IngressState.load(state_path)
                    for key in frontiers:
                        err_state.errors[key] = err_state.errors.get(key, 0) + 1
                        if breaker is not None:
                            breaker.mark()
                    err_state.save()
                    raise
                # §2.11 meters: produced count + replication lag per partition
                # (A3 min-ts over the produced batch, reference worker.go:438-448),
                # summed from ``ranges``.  Exact: ``ranges`` groups the
                # deduplicated batch, so its files partition the delivered rows,
                # and the walk never leaves a file straddling the frontier
                # (absorbed files end at or below it, held files start above it,
                # a lost-skip moves it to the skipped file's ``hi``).
                now_ns = _time_mod.time_ns()
                for key, frontier in frontiers.items():
                    delivered = [r for r in by_part[key] if r["hi"] <= frontier]
                    state.messages_produced[key] = state.messages_produced.get(key, 0) + sum(
                        r["n_rows"] for r in delivered
                    )
                    ts = [r["min_ts"] for r in delivered if r["min_ts"] is not None]
                    if ts:
                        state.last_lag_ns[key] = now_ns - int(min(ts))
            state.save()  # T8 checkpoint-per-batch
        finally:
            # release the batch cache on every path, including a failure
            # before the sink write (an unreadable segment file first
            # surfaces in the ranges collect)
            df.unpersist()

    q = (
        stream.writeStream.foreachBatch(deliver)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def kafka_sink_frame(delivered: DataFrame) -> DataFrame:
    """K2 projection contract (reference pkg/kafka/producer.go:156-218):

    * ``partition`` — the explicit stream partition (the reference produces
      to the exact source partition, never the default partitioner);
    * ``timestamp`` — restored only when the source timestamp is non-zero
      (producer.go's restore-if-nonzero; zero/NULL lets the broker assign);
    * key/payload pass through as Kafka ``key``/``value`` bytes;
    * ``headers`` forwarded when present (producer.go:185-193; the Spark
      Kafka sink picks up the optional headers column natively).

    Pure projection — no exchange — so the caller's per-task order (the O3
    ``sortWithinPartitions`` contract) reaches the producer intact.
    """
    cols = [
        F.col("msg_key").alias("key"),
        F.col("payload").alias("value"),
        F.col("partition_id").cast("int").alias("partition"),
        F.when(
            F.col("ts_ns") > 0, F.timestamp_micros(F.expr("ts_ns div 1000"))
        ).alias("timestamp"),
    ]
    if "headers" in delivered.columns:
        cols.append(F.col("headers"))
    return delivered.select(*cols)


def kafka_sink_options(brokers: str, topic: str) -> dict[str, str]:
    """The full DataFrameWriter option set for the producer sink; idempotent
    produce mirrors the reference's ``enable.idempotence=true``
    (producer.go:107-111)."""
    return {
        "kafka.bootstrap.servers": brokers,
        "topic": topic,
        "kafka.enable.idempotence": "true",
        # the Java client requires acks=all with idempotence (librdkafka
        # implies it; Spark's producer passthrough does not)
        "kafka.acks": "all",
    }


def kafka_producer_sink(delivered: DataFrame, brokers: str, topic: str):
    """K2: produce the ordered per-partition stream to Kafka, preserving
    key/value/partition/timestamp (reference pkg/kafka/producer.go:156-218).

    The frame must already be repartitioned by the stream partition and
    sorted within partitions (as run_ingress_stream's delivery path does) —
    the Kafka sink preserves per-task row order, which is then per-partition
    order.

    Requires the spark-sql-kafka connector jar; this container has no
    broker, so the projection + option contract is pinned by tests instead.
    """
    writer = kafka_sink_frame(delivered).write.format("kafka")
    for k, v in kafka_sink_options(brokers, topic).items():
        writer = writer.option(k, v)
    return writer
