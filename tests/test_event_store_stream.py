"""Stateful streaming event store (T10): state carries across microbatches,
resolution follows A7, only changes are emitted."""

from pyspark.sql import functions as F

from kafka_replicator_spark.streaming.event_store import streaming_event_store

EVENT_SCHEMA = (
    "region string, topic string, partition_id int, level int, "
    "start_offset long, end_offset long, event_type string, event_ts long"
)

SEG_A = ("r", "t", 0, 0, 0, 9)
SEG_B = ("r", "t", 0, 0, 10, 19)


def test_event_store_state_across_batches(spark, tmp_path):
    src = str(tmp_path / "events_src")
    # batch 1: CREATED for both segments
    spark.createDataFrame(
        [(*SEG_A, "CREATED", 5), (*SEG_B, "CREATED", 6)], schema=EVENT_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    # batch 2 (same drop dir, second file): stale REMOVED for A (loses),
    # fresh REMOVED for B (wins), duplicate CREATED for A (no change)
    spark.createDataFrame(
        [(*SEG_A, "REMOVED", 3), (*SEG_A, "CREATED", 5), (*SEG_B, "REMOVED", 9)],
        schema=EVENT_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force one file per microbatch
        .parquet(src)
    )
    out = streaming_event_store(stream)  # no TTL: availableNow must terminate
    q = (
        out.writeStream.format("memory")
        .queryName("event_store_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM event_store_out").collect()
    # emitted changes: batch1 CREATED A + CREATED B; batch2 REMOVED B only
    by_seg = {}
    for r in rows:
        by_seg.setdefault(r["start_offset"], []).append((r["event_type"], r["event_ts"]))
    assert ("CREATED", 5) in by_seg[0]
    assert by_seg[10][-1] == ("REMOVED", 9)
    # A's stale REMOVED and duplicate CREATED emitted no extra change row
    assert len(by_seg[0]) == 1


def test_event_store_state_survives_restart(spark, tmp_path):
    """A7 last-writer state RECOVERY: run 1 stores CREATED for both
    segments and stops; run 2 (same checkpoint) delivers a STALE
    REMOVED for A and a fresh REMOVED for B.  Rejecting the stale
    event requires A's stored (event_ts=5) to have been recovered —
    append-mode restart needs a file sink (the memory sink refuses
    checkpoint recovery)."""
    src = str(tmp_path / "events_src_r")
    outdir = str(tmp_path / "events_out_r")
    cpdir = str(tmp_path / "events_cp_r")

    def run_once():
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
        q = (
            streaming_event_store(stream)
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", cpdir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(
        [(*SEG_A, "CREATED", 5), (*SEG_B, "CREATED", 6)], schema=EVENT_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    spark.createDataFrame(
        [(*SEG_A, "REMOVED", 3), (*SEG_B, "REMOVED", 9)], schema=EVENT_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()

    rows = spark.read.parquet(outdir).collect()
    by_seg = {}
    for r in rows:
        by_seg.setdefault(r["start_offset"], []).append(
            (r["event_type"], r["event_ts"])
        )
    # A: CREATED emitted in run 1; the stale REMOVED (ts=3 < stored 5)
    # was rejected in run 2 — no second emission
    assert sorted(by_seg[SEG_A[4]]) == [("CREATED", 5)]
    # B: CREATED in run 1, then the fresh REMOVED won in run 2
    assert sorted(by_seg[SEG_B[4]]) == [("CREATED", 6), ("REMOVED", 9)]



def test_event_store_retention_evicts_idle_state(spark, tmp_path):
    """``retention_ms`` expires an idle segment's state: after A's CREATED
    (ts=5) has been stored and the retention has passed, a STALE REMOVED
    (ts=3) for A is emitted — possible only if A's state was evicted (the
    no-retention control, where the stale event is rejected, is
    test_event_store_state_survives_restart).  A pending processing-time
    timeout never lets an availableNow query terminate, so this runs on
    a processingTime trigger, polls the sink and stops the query."""
    import time

    src = str(tmp_path / "events_src_ttl")
    spark.createDataFrame(
        [(*SEG_A, "CREATED", 5)], schema=EVENT_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    q = (
        streaming_event_store(stream, retention_ms=2_000)
        .writeStream.format("memory")
        .queryName("event_store_ttl_out")
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )

    def poll(n):
        deadline = time.time() + 120
        while True:
            rows = sorted(
                (r["event_type"], r["event_ts"])
                for r in spark.sql("SELECT * FROM event_store_ttl_out").collect()
            )
            if len(rows) >= n or time.time() > deadline:
                return rows
            time.sleep(0.5)

    try:
        assert poll(1) == [("CREATED", 5)]
        time.sleep(5)  # past the 2 s retention: no-data batches evict A
        spark.createDataFrame(
            [(*SEG_A, "REMOVED", 3)], schema=EVENT_SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)
        rows = poll(2)
    finally:
        q.stop()
    assert rows == [("CREATED", 5), ("REMOVED", 3)], rows
