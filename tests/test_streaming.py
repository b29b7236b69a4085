"""Streaming egress/ingress tests — the reference's failure-injection
matrix translated to kill-and-restart against the same checkpointLocation
(FIXTURES.md invariants 2 and 3).
"""

import os

import pytest
from pyspark.sql import functions as F

from kafka_replicator_spark.sources.segments import list_segments, read_segment_files
from kafka_replicator_spark.streaming.egress_stream import run_egress_stream
from kafka_replicator_spark.streaming.ingress_stream import IngressState, run_ingress_stream

REGION = "stream-region"


def _stage_message_drops(spark, messages, src_dir, n_drops=3):
    """Stage the message stream as n parquet 'drops' (poll batches)."""
    bounds = [(0, 80), (81, 170), (171, 10**9)]
    for i, (lo, hi) in enumerate(bounds[:n_drops]):
        (
            messages.filter(F.col("msg_offset").between(lo, hi))
            .select("topic", "partition_id", "msg_offset", "msg_key", "payload", "ts_ns")
            .withColumn("msg_key", F.col("msg_key").cast("binary"))
            .withColumn("payload", F.col("payload").cast("binary"))
            .withColumn("headers", F.lit(None).cast(
                "array<struct<key:string,value:binary>>"))
            .coalesce(1)
            .write.mode("append")
            .parquet(src_dir)
        )


@pytest.fixture(scope="module")
def staged(spark, messages, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("drops"))
    _stage_message_drops(spark, messages, src)
    return src


def test_egress_stream_writes_all_segments(spark, messages, staged, tmp_path):
    seg_root = str(tmp_path / "segments")
    cp = str(tmp_path / "cp")
    run_egress_stream(
        spark, staged, seg_root, cp, region=REGION, max_bytes=4096, max_messages=100
    )
    listed = list_segments(spark, seg_root, read_footers=True)
    total = listed.agg(F.sum("message_count")).collect()[0][0]
    assert total == messages.count()
    # offsets gap-free per partition across all segments
    back = read_segment_files(spark, [r["path"] for r in listed.collect()])
    stats = back.groupBy("partition_id").agg(
        F.count(F.lit(1)).alias("n"), F.min("msg_offset").alias("lo"), F.max("msg_offset").alias("hi")
    )
    for r in stats.collect():
        assert r["lo"] == 0 and r["n"] == r["hi"] + 1


def test_egress_stream_restart_is_idempotent(spark, messages, staged, tmp_path):
    """Invariant 2: restart from the same checkpoint neither loses nor
    duplicates (exactly-once-per-file via deterministic naming)."""
    seg_root = str(tmp_path / "segments")
    cp = str(tmp_path / "cp")
    run_egress_stream(spark, staged, seg_root, cp, region=REGION, max_bytes=4096, max_messages=100)
    first = sorted(r["path"] for r in list_segments(spark, seg_root).collect())
    # "restart": same checkpoint — no new input, no new files
    run_egress_stream(spark, staged, seg_root, cp, region=REGION, max_bytes=4096, max_messages=100)
    second = sorted(r["path"] for r in list_segments(spark, seg_root).collect())
    assert first == second
    # crash simulation: wipe the engine checkpoint (full replay) — files are
    # rewritten in place, still no duplicates in the read-back stream
    import shutil

    shutil.rmtree(cp)
    run_egress_stream(spark, staged, seg_root, cp, region=REGION, max_bytes=4096, max_messages=100)
    back = read_segment_files(spark, [r["path"] for r in list_segments(spark, seg_root).collect()])
    assert back.count() == messages.count()


def test_ingress_stream_delivers_in_order(spark, messages, staged, tmp_path):
    seg_root = str(tmp_path / "segments")
    run_egress_stream(
        spark, staged, seg_root, str(tmp_path / "cp1"), region=REGION,
        max_bytes=4096, max_messages=100,
    )
    sink = str(tmp_path / "sink")
    state_path = str(tmp_path / "state.json")
    run_ingress_stream(
        spark, seg_root, sink, str(tmp_path / "cp2"), state_path
    )
    delivered = spark.read.parquet(sink)
    assert delivered.count() == messages.count()
    # invariant 1: per-partition delivered offsets dense from 0
    stats = delivered.groupBy("partition_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("msg_offset").alias("hi")
    )
    for r in stats.collect():
        assert r["n"] == r["hi"] + 1
    state = IngressState.load(state_path)
    assert state.messages_lost == 0
    assert all(v >= 0 for v in state.checkpoints.values())


def test_ingress_resume_delivers_only_above_checkpoint(spark, messages, staged, tmp_path):
    """Invariant 3: replay from checkpoint k delivers exactly offsets >= k+1."""
    seg_root = str(tmp_path / "segments")
    run_egress_stream(
        spark, staged, seg_root, str(tmp_path / "cp1"), region=REGION,
        max_bytes=4096, max_messages=100,
    )
    sink = str(tmp_path / "sink")
    state_path = str(tmp_path / "state.json")
    # pre-seed delivery state: partition 0 already delivered through 150
    state = IngressState(path=state_path, checkpoints={"events/0": 150})
    state.save()
    run_ingress_stream(spark, seg_root, sink, str(tmp_path / "cp2"), state_path)
    delivered = spark.read.parquet(sink)
    p0_min = (
        delivered.filter(F.col("partition_id") == 0).agg(F.min("msg_offset")).collect()[0][0]
    )
    assert p0_min == 151


def test_ingress_lost_segment_policy(spark, messages, staged, tmp_path):
    """T6/T7: a leading gap (missing segment file) holds delivery back for
    max_gap_retries batches, then skips with messages_lost accounting."""
    seg_root = str(tmp_path / "segments")
    run_egress_stream(
        spark, staged, seg_root, str(tmp_path / "cp1"), region=REGION,
        max_bytes=4096, max_messages=100,
    )
    # destroy the first segment of partition 0 → offsets [0..k] missing
    segs = list_segments(spark, seg_root, partition_id=None).collect()
    first_p0 = min(
        (r for r in segs if r["partition_id"] == 0), key=lambda r: r["start_offset"]
    )
    os.remove(first_p0["path"])
    sink = str(tmp_path / "sink")
    state_path = str(tmp_path / "state.json")
    run_ingress_stream(
        spark, seg_root, sink, str(tmp_path / "cp2"), state_path, max_gap_retries=0
    )
    state = IngressState.load(state_path)
    assert state.messages_lost == first_p0["end_offset"] - first_p0["start_offset"] + 1
    delivered = spark.read.parquet(sink)
    p0_min = (
        delivered.filter(F.col("partition_id") == 0).agg(F.min("msg_offset")).collect()[0][0]
    )
    assert p0_min == first_p0["end_offset"] + 1


def test_first_segment_delay_gate(spark, messages, staged, tmp_path):
    """T5: a partition first seen at batch b is not delivered before
    batch b + delay (reference FirstSegmentDelay, ingress worker.go:98-108)."""
    seg_root = str(tmp_path / "segments")
    run_egress_stream(
        spark, staged, seg_root, str(tmp_path / "cp1"), region=REGION,
        max_bytes=4096, max_messages=100,
    )
    sink = str(tmp_path / "sink")
    state_path = str(tmp_path / "state.json")
    # first run: everything is newly seen -> gated, nothing delivered
    run_ingress_stream(
        spark, seg_root, sink, str(tmp_path / "cp2a"), state_path,
        first_segment_delay_batches=1,
    )
    assert not os.path.exists(sink) or spark.read.parquet(sink).count() == 0
    state = IngressState.load(state_path)
    assert state.batches_run >= 1 and state.first_seen_batch
    # second run (fresh engine checkpoint replays the files; delivery state
    # carries the first-seen batch): now past the delay -> delivered
    run_ingress_stream(
        spark, seg_root, sink, str(tmp_path / "cp2b"), state_path,
        first_segment_delay_batches=1,
    )
    assert spark.read.parquet(sink).count() == messages.count()


def test_out_of_order_file_arrival_within_run(spark, messages, tmp_path):
    """Internal-gap correctness: a segment arriving before its predecessor
    (separate microbatches in ONE run) is held as pending and delivered once
    the gap closes — nothing lost, nothing out of order."""
    import shutil

    seg_root = str(tmp_path / "segs")
    stash = str(tmp_path / "stash")
    os.makedirs(stash)
    # build segments then hide the FIRST one of partition 0
    src = str(tmp_path / "drops")
    _stage_message_drops(spark, messages, src)
    run_egress_stream(
        spark, src, seg_root, str(tmp_path / "cp1"), region=REGION,
        max_bytes=4096, max_messages=100,
    )
    segs = sorted(
        (r for r in list_segments(spark, seg_root).collect() if r["partition_id"] == 0),
        key=lambda r: r["start_offset"],
    )
    first = segs[0]
    hidden = os.path.join(stash, os.path.basename(first["path"]))
    shutil.move(first["path"], hidden)

    sink = str(tmp_path / "sink")
    state_path = str(tmp_path / "state.json")
    # run 1: later segments of p0 arrive without the first -> held pending
    run_ingress_stream(
        spark, seg_root, sink, str(tmp_path / "cp2"), state_path, max_gap_retries=99
    )
    state = IngressState.load(state_path)
    assert any(k.endswith("/0") for k in state.pending_paths), state.pending_paths
    if os.path.exists(sink):
        assert spark.read.parquet(sink).filter(F.col("partition_id") == 0).count() == 0
    # the missing segment appears; SAME engine stream continues (new files
    # only) and must merge pending with the new arrival
    shutil.move(hidden, first["path"])
    run_ingress_stream(
        spark, seg_root, sink, str(tmp_path / "cp2"), state_path, max_gap_retries=99
    )
    delivered = spark.read.parquet(sink).filter(F.col("partition_id") == 0)
    n = delivered.count()
    hi = delivered.agg(F.max("msg_offset")).collect()[0][0]
    # the held-back (later) segments must actually land, not just the
    # gap-filling first segment — compare against the partition's full count
    expected = messages.filter(F.col("partition_id") == 0).count()
    assert n == expected, (n, expected)
    assert n == hi + 1  # dense from 0: pending segments all delivered
    state = IngressState.load(state_path)
    assert state.messages_lost == 0 and not state.pending_paths


def test_full_pipeline_egress_compact_ingress(spark, messages, staged, tmp_path):
    """Capstone: the reference's deployment end-to-end — streaming egress
    into level-0 segments, background compaction to level 1, streaming
    ingress delivering the compacted stream densely and in order."""
    from kafka_replicator_spark.operators.compaction import compact

    seg_root = str(tmp_path / "segs")
    run_egress_stream(
        spark, staged, seg_root, str(tmp_path / "cp1"), region=REGION,
        max_bytes=4096, max_messages=100,
    )
    n_level0 = list_segments(spark, seg_root).count()
    compacted = compact(spark, seg_root, region=REGION, min_count=2, min_bytes=1).collect()
    assert len(compacted) > 0
    levels = [r["level"] for r in list_segments(spark, seg_root).collect()]
    assert set(levels) == {1} and len(levels) < n_level0

    sink = str(tmp_path / "sink")
    run_ingress_stream(
        spark, seg_root, sink, str(tmp_path / "cp2"), str(tmp_path / "state.json")
    )
    delivered = spark.read.parquet(sink)
    assert delivered.count() == messages.count()
    stats = delivered.groupBy("partition_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("msg_offset").alias("hi")
    )
    for r in stats.collect():
        assert r["n"] == r["hi"] + 1  # dense from 0 through the whole pipeline
    state = IngressState.load(str(tmp_path / "state.json"))
    assert state.messages_lost == 0


def test_ingress_sink_failure_then_retry_no_loss_no_dup(spark, messages, staged, tmp_path):
    """Failure-retry matrix analog (reference ingress_test.go:518-685): the
    delivery batch crashes mid-write; a restart against the same
    checkpoints replays the epoch and delivers exactly once."""
    import kafka_replicator_spark.streaming.ingress_stream as ing

    seg_root = str(tmp_path / "segs")
    run_egress_stream(
        spark, staged, seg_root, str(tmp_path / "cp1"), region=REGION,
        max_bytes=4096, max_messages=100,
    )
    sink = str(tmp_path / "sink")
    state_path = str(tmp_path / "state.json")

    # poison the first delivery attempt: fail after the trim join is built
    original = ing.parse_segment_path_cols
    calls = {"n": 0}

    def poisoned(*a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected sink failure")
        return original(*a, **k)

    ing.parse_segment_path_cols = poisoned
    try:
        import pytest as _pytest

        with _pytest.raises(Exception, match="injected sink failure"):
            run_ingress_stream(
                spark, seg_root, sink, str(tmp_path / "cp2"), state_path
            )
    finally:
        ing.parse_segment_path_cols = original

    # nothing was delivered, no checkpoint advanced
    state = ing.IngressState.load(state_path)
    assert state.checkpoints == {}
    # retry with the SAME engine checkpoint: epoch replays, delivers all
    run_ingress_stream(spark, seg_root, sink, str(tmp_path / "cp2"), state_path)
    delivered = spark.read.parquet(sink)
    assert delivered.count() == messages.count()
    assert delivered.select("partition_id", "msg_offset").distinct().count() == messages.count()


def test_first_segment_delay_wall_clock(spark, messages, staged, tmp_path):
    """T5 duration semantics (reference pkg/ingress/config.go:32-36 — the
    30-minute FirstSegmentDelay is a wall-clock duration): a partition first
    seen at wall time t is gated until t + delay, independent of how many
    batches run in between."""
    from datetime import timedelta

    seg_root = str(tmp_path / "segments")
    run_egress_stream(
        spark, staged, seg_root, str(tmp_path / "cp1"), region=REGION,
        max_bytes=4096, max_messages=100,
    )
    sink = str(tmp_path / "sink")
    state_path = str(tmp_path / "state.json")
    fake_now = [1_000_000.0]
    delay = timedelta(minutes=30)
    # run 1 at t0: everything newly seen -> gated, nothing delivered
    run_ingress_stream(
        spark, seg_root, sink, str(tmp_path / "cp2a"), state_path,
        first_segment_delay=delay, clock=lambda: fake_now[0],
    )
    assert not os.path.exists(sink) or spark.read.parquet(sink).count() == 0
    # run 2 at t0 + 1s (fresh engine checkpoint replays the files): still
    # inside the delay window -> still gated, even though batches advanced
    fake_now[0] += 1.0
    run_ingress_stream(
        spark, seg_root, sink, str(tmp_path / "cp2b"), state_path,
        first_segment_delay=delay, clock=lambda: fake_now[0],
    )
    assert not os.path.exists(sink) or spark.read.parquet(sink).count() == 0
    # run 3 past the delay -> delivered in full
    fake_now[0] += delay.total_seconds()
    run_ingress_stream(
        spark, seg_root, sink, str(tmp_path / "cp2c"), state_path,
        first_segment_delay=delay, clock=lambda: fake_now[0],
    )
    assert spark.read.parquet(sink).count() == messages.count()


def test_lost_segment_timeout_wall_clock(spark, messages, staged, tmp_path):
    """T6/T7 duration semantics (reference pkg/ingress/config.go:37-40 — the
    24 h LostSegmentTimeout): a gap held since wall time g escalates
    late → lost only once now - g exceeds the timeout, overriding the
    batch-count escalation (max_gap_retries=0 must NOT skip while the
    wall-clock timeout is configured and unexpired)."""
    from datetime import timedelta

    seg_root = str(tmp_path / "segments")
    run_egress_stream(
        spark, staged, seg_root, str(tmp_path / "cp1"), region=REGION,
        max_bytes=4096, max_messages=100,
    )
    segs = list_segments(spark, seg_root).collect()
    first_p0 = min(
        (r for r in segs if r["partition_id"] == 0), key=lambda r: r["start_offset"]
    )
    os.remove(first_p0["path"])
    sink = str(tmp_path / "sink")
    state_path = str(tmp_path / "state.json")
    fake_now = [2_000_000.0]
    timeout = timedelta(hours=24)
    # run 1: gap is fresh -> held back (despite max_gap_retries=0), 0 lost
    run_ingress_stream(
        spark, seg_root, sink, str(tmp_path / "cp2a"), state_path,
        max_gap_retries=0, lost_segment_timeout=timeout,
        clock=lambda: fake_now[0],
    )
    state = IngressState.load(state_path)
    assert state.messages_lost == 0
    assert any(k.endswith("/0") for k in state.pending_paths), state.pending_paths
    if os.path.exists(sink):
        assert spark.read.parquet(sink).filter(F.col("partition_id") == 0).count() == 0
    # run 2 past the timeout: escalates to lost, skips the missing range
    fake_now[0] += timeout.total_seconds() + 1.0
    run_ingress_stream(
        spark, seg_root, sink, str(tmp_path / "cp2b"), state_path,
        max_gap_retries=0, lost_segment_timeout=timeout,
        clock=lambda: fake_now[0],
    )
    state = IngressState.load(state_path)
    expected_lost = first_p0["end_offset"] - first_p0["start_offset"] + 1
    assert state.messages_lost == expected_lost
    delivered = spark.read.parquet(sink).filter(F.col("partition_id") == 0)
    assert delivered.agg(F.min("msg_offset")).collect()[0][0] == first_p0["end_offset"] + 1


def _write_segment(seg_root, partition_id, start, end, offsets):
    """Hand-write one level-0 segment file named ``start-end`` that holds
    exactly ``offsets`` (at-rest columns, no footer)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_replicator_spark.core.codec import SegmentId, format_segment_path
    from kafka_replicator_spark.core.schema import SEGMENT_DATA_ARROW

    path = format_segment_path(
        seg_root, SegmentId(REGION, "events", partition_id, 0, start, end)
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.table(
        {
            "msg_offset": offsets,
            "msg_key": [f"k{o}".encode() for o in offsets],
            "payload": [f"v{partition_id}-{o}".encode() for o in offsets],
            "ts_ns": [1_700_000_000_000_000_000 + o for o in offsets],
            "headers": [None] * len(offsets),
        },
        schema=SEGMENT_DATA_ARROW,
    )
    pq.write_table(table, path)
    return path


def test_ingress_failure_before_sink_write_releases_batch_cache(spark, tmp_path):
    """A batch that fails after its dedup frame is cached — here a truncated
    segment file, which first surfaces in the ranges collect — must not
    leave that frame pinned in the session cache; a rerun after the file is
    repaired delivers every offset exactly once."""
    seg_root = str(tmp_path / "segs")
    _write_segment(seg_root, 0, 0, 49, list(range(50)))
    victim = _write_segment(seg_root, 0, 50, 99, list(range(50, 100)))
    _write_segment(seg_root, 1, 0, 29, list(range(30)))
    with open(victim, "rb") as f:
        valid = f.read()
    with open(victim, "wb") as f:
        f.write(valid[: len(valid) // 2])

    sink = str(tmp_path / "sink")
    cp, state_path = str(tmp_path / "cp"), str(tmp_path / "state.json")
    cache = spark._jsparkSession.sharedState().cacheManager()
    cached_before = cache.numCachedEntries()
    with pytest.raises(Exception):
        run_ingress_stream(spark, seg_root, sink, cp, state_path)
    assert cache.numCachedEntries() == cached_before
    assert IngressState.load(state_path).checkpoints == {}

    with open(victim, "wb") as f:
        f.write(valid)
    run_ingress_stream(spark, seg_root, sink, cp, state_path)
    assert cache.numCachedEntries() == cached_before
    got = sorted(
        (r["partition_id"], r["msg_offset"])
        for r in spark.read.parquet(sink).select("partition_id", "msg_offset").collect()
    )
    assert got == [(0, o) for o in range(100)] + [(1, o) for o in range(30)]


#: the gap layout shared by the held-gap and lost-skip cases: 50-59 missing
_GAPPED = {(0, 0, 49): range(50), (0, 60, 99): range(60, 100), (1, 0, 29): range(30)}


@pytest.mark.parametrize(
    "layout, kwargs, sink_rows",
    [
        (
            {(0, 0, 49): range(50), (0, 50, 99): range(50, 100), (1, 0, 29): range(30)},
            {},
            {0: 100, 1: 30},
        ),
        # no shared offsets, but the extents 0-99 and 50-149 overlap
        (
            {
                (0, 0, 99): [*range(50), *range(60, 100)],
                (0, 50, 149): [*range(50, 60), *range(100, 150)],
                (1, 0, 29): range(30),
            },
            {},
            {0: 150, 1: 30},
        ),
        # a true rewind: offsets 40-59 are in both files, and either copy
        # may survive the dedup, so the post-dedup extents can overlap
        (
            {(0, 0, 59): range(60), (0, 40, 99): range(40, 100), (1, 0, 29): range(30)},
            {},
            {0: 100, 1: 30},
        ),
        # partial delivery: the file above the gap is held for a retry
        (_GAPPED, {}, {0: 50, 1: 30}),
        # the gap is skipped as lost on the first retry
        (_GAPPED, {"max_gap_retries": 0}, {0: 90, 1: 30}),
        # two gaps: the first is skipped as lost, the second is held
        (
            {(0, 0, 9): range(10), (0, 20, 29): range(20, 30), (0, 40, 49): range(40, 50)},
            {"max_gap_retries": 0},
            {0: 20},
        ),
    ],
    ids=[
        "driver_derived", "overlapping_extents", "shared_offsets", "held_gap", "lost_skip",
        "lost_skip_then_held",
    ],
)
def test_ingress_meters_conserve_delivered_rows(spark, tmp_path, layout, kwargs, sink_rows):
    """``messages_produced`` equals the rows the sink received per
    partition, and every delivered partition has a lag reading, whatever
    the file layout: overlapping extents, shared offsets, a held gap or a
    lost-skip."""
    seg_root = str(tmp_path / "segs")
    for (pid, start, end), offsets in layout.items():
        _write_segment(seg_root, pid, start, end, list(offsets))
    sink, state_path = str(tmp_path / "sink"), str(tmp_path / "state.json")
    run_ingress_stream(spark, seg_root, sink, str(tmp_path / "cp"), state_path, **kwargs)

    delivered = spark.read.parquet(sink)
    sink_counts = {
        f"events/{r['partition_id']}": r["count"]
        for r in delivered.groupBy("partition_id").count().collect()
    }
    assert sink_counts == {f"events/{pid}": n for pid, n in sink_rows.items()}
    assert delivered.select("partition_id", "msg_offset").distinct().count() == sum(
        sink_rows.values()
    )
    state = IngressState.load(state_path)
    assert state.messages_produced == sink_counts
    assert set(state.last_lag_ns) == set(sink_counts)
    assert all(v > 0 for v in state.last_lag_ns.values())
