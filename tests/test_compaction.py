"""Compaction scenario corpus — mirrors the reference's
tests/compaction_test.go coverage: golden merge flow, overlap dedup
(partial / complete / previously-compacted), gap detection, level/age/
count/size threshold gating (FIXTURES.md invariant 4).
"""

import time
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from kafka_replicator_spark.core.schema import SEGMENT_SCHEMA
from kafka_replicator_spark.operators.compaction import (
    compact,
    merge_segments,
    plan_compaction,
)
from kafka_replicator_spark.operators.egress import assign_segments_by_count, write_segments
from kafka_replicator_spark.sources.segments import list_segments, read_segment_files

REGION = "test-region"


def _write_range(spark, root, partition_id, start, end, level=0, topic="t"):
    """Write one segment covering offsets [start, end] on one partition."""
    rows = [
        (topic, partition_id, o, f"key_{o}".encode(), f"value_{o}".encode(), 1_553_000_000_000 + o)
        for o in range(start, end + 1)
    ]
    df = spark.createDataFrame(
        rows, schema="topic string, partition_id int, msg_offset long, "
        "msg_key binary, payload binary, ts_ns long"
    ).withColumn("segment_seq", F.lit(start))
    return write_segments(df, root=root, region=REGION, level=level).collect()


def _seg_df(spark, rows):
    return spark.createDataFrame(rows, schema=SEGMENT_SCHEMA)


def test_golden_flow_merge_metadata_delete(spark, tmp_path):
    """compaction_test.go:335-389: N contiguous segments → 1, level=max+1,
    inputs deleted, metadata exact."""
    root = str(tmp_path)
    for s, e in [(0, 9), (10, 19), (20, 29), (30, 34)]:
        _write_range(spark, root, 0, s, e)
    out = compact(spark, root, region=REGION, min_count=2, min_bytes=1).collect()
    assert len(out) == 1
    seg = out[0]
    assert (seg["start_offset"], seg["end_offset"], seg["level"]) == (0, 34, 1)
    assert seg["message_count"] == 35
    listed = list_segments(spark, root).collect()
    assert len(listed) == 1 and listed[0]["level"] == 1  # inputs deleted
    back = read_segment_files(spark, [seg["path"]])
    offs = [r["msg_offset"] for r in back.orderBy("msg_offset").collect()]
    assert offs == list(range(35))


def test_partial_and_complete_overlap_dedup(spark, tmp_path):
    """compaction_test.go:505-665: overlapping inputs dedup to one copy of
    each offset."""
    root = str(tmp_path)
    _write_range(spark, root, 0, 0, 14)
    _write_range(spark, root, 0, 10, 24)  # partial overlap
    _write_range(spark, root, 0, 12, 20)  # complete overlap (subsumed)
    _write_range(spark, root, 0, 25, 30)
    out = compact(spark, root, region=REGION, min_count=2, min_bytes=1).collect()
    assert len(out) == 1
    assert (out[0]["start_offset"], out[0]["end_offset"]) == (0, 30)
    assert out[0]["message_count"] == 31


def test_gap_raises_and_nothing_written(spark, tmp_path):
    """compaction_test.go:450-504: a missing offset range aborts the merge."""
    root = str(tmp_path)
    _write_range(spark, root, 0, 0, 9)
    _write_range(spark, root, 0, 20, 29)  # gap [10..19]
    with pytest.raises(ValueError, match="missing message range"):
        compact(spark, root, region=REGION, min_count=2, min_bytes=1)
    listed = list_segments(spark, root).collect()
    assert sorted(r["level"] for r in listed) == [0, 0]  # nothing deleted/added


def test_previously_compacted_resume_floor(spark, tmp_path):
    """Leftover level-0 segments below an existing level-1 segment are
    superseded (F3): compaction resumes above the floor."""
    root = str(tmp_path)
    _write_range(spark, root, 0, 0, 19, level=1)  # earlier compaction output
    _write_range(spark, root, 0, 10, 19)          # leftover input (superseded)
    _write_range(spark, root, 0, 20, 29)
    _write_range(spark, root, 0, 30, 39)
    out = compact(spark, root, region=REGION, min_count=2, min_bytes=1).collect()
    assert len(out) == 1
    assert (out[0]["start_offset"], out[0]["end_offset"], out[0]["level"]) == (20, 39, 1)


def test_overlap_across_floor_is_trimmed(spark, tmp_path):
    """A segment straddling the floor contributes only offsets >= floor
    (compactor.go:272-281 head trim)."""
    root = str(tmp_path)
    _write_range(spark, root, 0, 0, 24, level=1)
    _write_range(spark, root, 0, 20, 34)  # straddles floor=25
    _write_range(spark, root, 0, 35, 44)
    out = compact(spark, root, region=REGION, min_count=2, min_bytes=1).collect()
    assert (out[0]["start_offset"], out[0]["end_offset"]) == (25, 44)
    assert out[0]["message_count"] == 20


def test_level_band_gating(spark, tmp_path):
    """compaction_test.go:666-828: only segments inside [min_level,
    max_level] are inputs."""
    now = datetime(2026, 1, 1)
    segs = _seg_df(
        spark,
        [
            ("r", "t", 0, 0, 0, 9, 10, 100, now, "l0-a"),
            ("r", "t", 0, 0, 10, 19, 10, 100, now, "l0-b"),
            ("r", "t", 0, 1, 20, 39, 20, 200, now, "l1"),
            ("r", "t", 0, 5, 40, 99, 60, 600, now, "l5"),
        ],
    )
    plan = plan_compaction(segs, min_level=0, max_level=0, min_count=2, min_bytes=1)
    assert sorted(r["path"] for r in plan.collect()) == []  # floor from l1/l5 supersedes l0
    plan = plan_compaction(segs, min_level=1, max_level=1, min_count=1, min_bytes=1)
    assert [r["path"] for r in plan.collect()] == []  # l5 floor (end 99) supersedes l1


def test_age_gating(spark):
    now = datetime(2026, 1, 1, 12, 0, 0)
    fresh = now - timedelta(minutes=10)
    old = now - timedelta(hours=2)
    segs = _seg_df(
        spark,
        [
            ("r", "t", 0, 0, 0, 9, 10, 100, old, "old-a"),
            ("r", "t", 0, 0, 10, 19, 10, 100, old, "old-b"),
            ("r", "t", 0, 0, 20, 29, 10, 100, fresh, "fresh"),
        ],
    )
    plan = plan_compaction(
        segs, min_count=2, min_bytes=1, min_age=timedelta(hours=1), now=now
    )
    assert sorted(r["path"] for r in plan.collect()) == ["old-a", "old-b"]


def test_bounded_take_by_count_and_size(spark):
    now = datetime(2026, 1, 1)
    segs = _seg_df(
        spark,
        [("r", "t", 0, 0, i * 10, i * 10 + 9, 10, 100, now, f"s{i}") for i in range(10)],
    )
    plan = plan_compaction(segs, min_count=2, min_bytes=1, max_count=3)
    assert sorted(r["path"] for r in plan.collect()) == ["s0", "s1", "s2"]
    # size bound: crossing segment included (compactor.go:205-242)
    plan = plan_compaction(segs, min_count=2, min_bytes=1, max_bytes=250)
    assert sorted(r["path"] for r in plan.collect()) == ["s0", "s1", "s2"]


def test_min_thresholds_skip(spark):
    """Both thresholds must be met: the reference skips when count <
    MinSegmentCount and ALSO when totalSize < MinSegmentSize
    (compactor.go:226-235) — falling short on either skips the partition."""
    now = datetime(2026, 1, 1)
    segs = _seg_df(
        spark,
        [
            ("r", "t", 0, 0, 0, 9, 10, 100, now, "a"),
            ("r", "t", 0, 0, 10, 19, 10, 100, now, "b"),
        ],
    )
    assert plan_compaction(segs, min_count=5, min_bytes=10**9).count() == 0
    assert plan_compaction(segs, min_count=5, min_bytes=150).count() == 0  # count short
    assert plan_compaction(segs, min_count=2, min_bytes=10**9).count() == 0  # size short
    assert plan_compaction(segs, min_count=2, min_bytes=150).count() == 2  # both met


def test_chunked_merge_output(spark, tmp_path):
    """max_output_messages chunks the merged output into multiple contiguous
    segments (hot-partition skew control; default stays reference-exact N→1):
    same rows, same dense coverage, parallel writer tasks."""
    root = str(tmp_path)
    for s, e in [(0, 9), (10, 19), (20, 29), (30, 34)]:
        _write_range(spark, root, 0, s, e)
    out = sorted(
        compact(
            spark, root, region=REGION, min_count=2, min_bytes=1,
            max_output_messages=10,
        ).collect(),
        key=lambda r: r["start_offset"],
    )
    assert len(out) == 4  # 35 msgs / 10 per chunk
    assert all(r["level"] == 1 for r in out)
    assert [(r["start_offset"], r["end_offset"]) for r in out] == [
        (0, 9), (10, 19), (20, 29), (30, 34),
    ]
    back = read_segment_files(spark, [r["path"] for r in out])
    assert [r["msg_offset"] for r in back.orderBy("msg_offset").collect()] == list(range(35))


def test_superseded_segments_deleted_after_merge(spark, tmp_path):
    """F3 cleanup: segments fully below the floor are excluded from the
    merge read but deleted with the inputs once their partition compacts
    (reference pops them into the delete list, compactor.go:192-203) —
    otherwise they leak storage forever."""
    import os

    root = str(tmp_path)
    _write_range(spark, root, 0, 0, 19, level=1)  # earlier compaction output
    sup = _write_range(spark, root, 0, 10, 19)    # fully below floor=20
    _write_range(spark, root, 0, 20, 29)
    _write_range(spark, root, 0, 30, 39)
    out = compact(spark, root, region=REGION, min_count=2, min_bytes=1).collect()
    assert len(out) == 1
    assert (out[0]["start_offset"], out[0]["end_offset"]) == (20, 39)
    assert not os.path.exists(sup[0]["path"])  # superseded leftover removed
    assert sorted(r["level"] for r in list_segments(spark, root).collect()) == [1, 1]


def test_superseded_kept_when_partition_skips(spark, tmp_path):
    """No compaction → no deletion: superseded segments outlive a skipped
    run (deletes happen only after a successful merge, compactor.go:314-351)."""
    import os

    root = str(tmp_path)
    _write_range(spark, root, 0, 0, 19, level=1)
    sup = _write_range(spark, root, 0, 10, 19)
    _write_range(spark, root, 0, 20, 29)  # single in-band segment < min_count
    out = compact(spark, root, region=REGION, min_count=2, min_bytes=1).collect()
    assert out == []
    assert os.path.exists(sup[0]["path"])


def test_failed_input_delete_is_superseded_next_run(spark, tmp_path, monkeypatch):
    """A merge input that cannot be deleted (compactor.go:314-351 tolerates
    it) leaves an overlap that reads dedup away, and the next compaction of
    its partition deletes it as superseded (F3)."""
    import os

    root = str(tmp_path)
    written = [_write_range(spark, root, 0, s, e)[0] for s, e in [(0, 9), (10, 19), (20, 29)]]
    stuck = written[1]["path"]
    real_remove = os.remove

    def remove(path, *args, **kwargs):
        if path == stuck:
            raise PermissionError(f"cannot delete {path}")
        return real_remove(path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(os, "remove", remove)
        out = compact(spark, root, region=REGION, min_count=2, min_bytes=1).collect()
    assert [(r["start_offset"], r["end_offset"], r["level"]) for r in out] == [(0, 29, 1)]
    listed = list_segments(spark, root).collect()
    assert sorted(r["path"] for r in listed) == sorted([out[0]["path"], stuck])
    back = read_segment_files(spark, [r["path"] for r in listed], dedup_overlaps=True)
    assert sorted(r["msg_offset"] for r in back.select("msg_offset").collect()) == list(range(30))

    # the partition qualifies again once new level-0 input arrives; the
    # leftover sits below the level-1 floor and goes with the inputs
    for s, e in [(30, 39), (40, 49)]:
        _write_range(spark, root, 0, s, e)
    out2 = compact(spark, root, region=REGION, min_count=2, min_bytes=1).collect()
    assert [(r["start_offset"], r["end_offset"]) for r in out2] == [(30, 49)]
    assert not os.path.exists(stuck)
    assert sorted(
        (r["start_offset"], r["end_offset"], r["level"])
        for r in list_segments(spark, root).collect()
    ) == [(0, 29, 1), (30, 49, 1)]


def test_multi_partition_independent_merge(spark, tmp_path):
    root = str(tmp_path)
    for p in (0, 1, 2):
        _write_range(spark, root, p, 0, 9)
        _write_range(spark, root, p, 10, 19 + p)
    out = compact(spark, root, region=REGION, min_count=2, min_bytes=1).collect()
    assert len(out) == 3
    by_part = {r["partition_id"]: r for r in out}
    for p in (0, 1, 2):
        assert (by_part[p]["start_offset"], by_part[p]["end_offset"]) == (0, 19 + p)


def test_cascading_levels(spark, tmp_path):
    """Leveled design: level-0 segments merge to level 1; a later pass over
    the level-1 band merges to level 2, with the floor honoring level-2
    outputs (the reference's MinLevel/MaxLevel cascade, compaction
    config.go:117-207)."""
    root = str(tmp_path)
    for s, e in [(0, 9), (10, 19), (20, 29), (30, 39)]:
        _write_range(spark, root, 0, s, e)
    # pass 1: 0 -> 1, bounded to two inputs per run
    out1 = compact(
        spark, root, region=REGION, min_count=2, min_bytes=1, max_count=2
    ).collect()
    assert len(out1) == 1 and out1[0]["level"] == 1
    assert (out1[0]["start_offset"], out1[0]["end_offset"]) == (0, 19)
    # remaining level-0 segments merge next run (floor from level 1)
    out1b = compact(
        spark, root, region=REGION, min_count=2, min_bytes=1, max_count=2
    ).collect()
    assert len(out1b) == 1 and out1b[0]["level"] == 1
    assert (out1b[0]["start_offset"], out1b[0]["end_offset"]) == (20, 39)
    # pass 2: the level-1 band merges to level 2 covering everything
    out2 = compact(
        spark, root, region=REGION, min_level=1, max_level=1, min_count=2, min_bytes=1
    ).collect()
    assert len(out2) == 1 and out2[0]["level"] == 2
    assert (out2[0]["start_offset"], out2[0]["end_offset"]) == (0, 39)
    listed = list_segments(spark, root).collect()
    assert [r["level"] for r in listed] == [2]
    back = read_segment_files(spark, [out2[0]["path"]])
    assert back.count() == 40


def test_disjoint_merge_physical_order_and_payloads(spark, tmp_path):
    """r13 opt pin: disjoint inputs take the concat fast path (no heap-key
    sort) — the written segment's PHYSICAL row order must still be strictly
    offset-ascending with every payload on its own offset, identical to
    what the heap-order path produces for disjoint extents."""
    import pyarrow.parquet as pq

    root = str(tmp_path)
    # interleaved creation order; extents disjoint
    for s, e in [(20, 29), (0, 9), (30, 34), (10, 19)]:
        _write_range(spark, root, 0, s, e)
    out = compact(spark, root, region=REGION, min_count=2, min_bytes=1).collect()
    assert len(out) == 1 and out[0]["message_count"] == 35
    t = pq.read_table(out[0]["path"])  # raw physical order, no re-sort
    offs = t.column("msg_offset").to_pylist()
    assert offs == list(range(35))  # strictly ascending, dense
    payloads = t.column("payload").to_pylist()
    assert payloads == [f"value_{o}".encode() for o in range(35)]
    footer = {
        k.decode(): v.decode() for k, v in (t.schema.metadata or {}).items()
        if k != b"ARROW:schema"
    }
    # the reference's full SegmentMetadata key set (s3_parquet.go:379-397)
    created = footer.pop("createdTimestamp")
    assert footer == {
        "region": REGION, "topic": "t", "partition": "0", "level": "1",
        "startOffset": "0", "endOffset": "34", "messageCount": "35",
    }
    assert abs(int(created) - time.time_ns()) < 3600 * 10**9


def test_disjoint_fast_path_rejects_extent_lying_file(spark, tmp_path):
    """ADVICE r13: the concat fast path must verify disjointness on the
    DATA, not just the filename-derived extents — a legacy/foreign segment
    whose rows exceed its named extent would otherwise slip duplicate
    offsets (with a compensating gap passing the dense-count check) through
    the concat.  A file named 0-9 but holding offsets 0-12 overlaps the
    10-19 file: the merge must fall back to the heap-order path and dedup
    to exactly one copy per offset."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_replicator_spark.core.schema import SEGMENT_DATA_ARROW

    root = str(tmp_path)
    _write_range(spark, root, 0, 10, 19)  # honest file
    # forged file: named 0-9, actually holds 0-12 (duplicating 10-12)
    types = {f.name: f.type for f in SEGMENT_DATA_ARROW}
    offs = list(range(0, 13))
    forged = pa.Table.from_arrays(
        [
            pa.array(offs, types["msg_offset"]),
            pa.array([f"key_{o}".encode() for o in offs], types["msg_key"]),
            pa.array([f"forged_{o}".encode() for o in offs], types["payload"]),
            pa.array([1_553_000_000_000 + o for o in offs], types["ts_ns"]),
            pa.array([None] * len(offs), types["headers"]),
        ],
        schema=SEGMENT_DATA_ARROW,
    )
    seg_dir = os.path.join(root, REGION, "t", "0", "0")
    pq.write_table(
        forged, os.path.join(seg_dir, f"{0:020d}-{9:020d}.parquet"),
        compression="snappy",
    )
    out = compact(spark, root, region=REGION, min_count=2, min_bytes=1).collect()
    assert len(out) == 1 and out[0]["message_count"] == 20
    t = pq.read_table(out[0]["path"])
    offs_out = t.column("msg_offset").to_pylist()
    assert offs_out == list(range(20))  # one copy per offset, ascending
    # heap order (start asc) makes the forged file win its overlap range
    payloads = t.column("payload").to_pylist()
    assert payloads[:13] == [f"forged_{o}".encode() for o in range(13)]
    assert payloads[13:] == [f"value_{o}".encode() for o in range(13, 20)]


def test_overlap_winner_is_heap_order_on_distinct_payloads(spark, tmp_path):
    """Each input file carries its own payloads, so the merged output shows
    which copy of an offset won: on a shared start the longer file, on
    identical extents the lower level (utils/heap.go:71-91) — the same
    winner ``read_segment_files(dedup_overlaps=True)`` picks."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_replicator_spark.core.codec import SegmentId, format_segment_path
    from kafka_replicator_spark.core.schema import SEGMENT_DATA_ARROW

    root = str(tmp_path)
    inputs = []
    for tag, level, start, end in [
        ("short", 0, 0, 9), ("long", 0, 0, 14), ("low", 0, 15, 24), ("high", 1, 15, 24),
    ]:
        offs = list(range(start, end + 1))
        path = format_segment_path(root, SegmentId(REGION, "t", 0, level, start, end))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "msg_offset": offs,
                    "msg_key": [f"key_{o}".encode() for o in offs],
                    "payload": [f"{tag}_{o}".encode() for o in offs],
                    "ts_ns": [1_553_000_000_000 + o for o in offs],
                    "headers": [None] * len(offs),
                },
                schema=SEGMENT_DATA_ARROW,
            ),
            path,
        )
        inputs.append(path)
    expected = [
        r["payload"]
        for r in read_segment_files(spark, inputs, dedup_overlaps=True)
        .orderBy("msg_offset").select("payload").collect()
    ]
    assert expected == [f"long_{o}".encode() for o in range(15)] + [
        f"low_{o}".encode() for o in range(15, 25)
    ]

    out = compact(spark, root, region=REGION, max_level=1, min_count=2, min_bytes=1).collect()
    assert len(out) == 1 and out[0]["level"] == 2 and out[0]["message_count"] == 25
    t = pq.read_table(out[0]["path"])
    assert t.column("msg_offset").to_pylist() == list(range(25))
    assert t.column("payload").to_pylist() == expected


def test_writer_fallback_sorts_shuffled_group(tmp_path):
    """ADVICE r13: the segment writer's sort is skipped when the group
    arrives strictly offset-ascending — this pins the FALLBACK branch (an
    out-of-order group must still be written offset-sorted), which the
    suite otherwise never exercises because shuffled groups usually arrive
    ordered."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_replicator_spark.core.schema import SEGMENT_DATA_ARROW, SEGMENT_DATA_COLS
    from kafka_replicator_spark.operators.egress import _write_one_segment_arrow

    types = {f.name: f.type for f in SEGMENT_DATA_ARROW}
    offs = [5, 2, 9, 0, 7, 1, 8, 3, 6, 4]  # shuffled, dense 0..9
    group = pa.Table.from_arrays(
        [
            pa.array(["t"] * len(offs), pa.string()),
            pa.array([0] * len(offs), pa.int32()),
            pa.array(offs, types["msg_offset"]),
            pa.array([f"key_{o}".encode() for o in offs], types["msg_key"]),
            pa.array([f"value_{o}".encode() for o in offs], types["payload"]),
            pa.array([1_553_000_000_000 + o for o in offs], types["ts_ns"]),
            pa.array([None] * len(offs), types["headers"]),
        ],
        names=["topic", "partition_id"] + SEGMENT_DATA_COLS,
    )
    res = _write_one_segment_arrow(
        group, root=str(tmp_path), region=REGION, level=0,
        data_cols=SEGMENT_DATA_COLS,
    )
    row = res.to_pylist()[0]
    assert (row["start_offset"], row["end_offset"], row["message_count"]) == (0, 9, 10)
    t = pq.read_table(row["path"])  # raw physical order, no re-sort
    assert t.column("msg_offset").to_pylist() == list(range(10))
    assert t.column("payload").to_pylist() == [
        f"value_{o}".encode() for o in range(10)
    ]
