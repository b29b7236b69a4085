"""End-to-end slice (SURVEY.md §7 step 2): write segments from the events
message stream, list them, read them back, and verify the stream is
byte-identical and ordered — FIXTURES.md invariants 1, 4, 5, 6.
"""

import pytest
from pyspark.sql import functions as F

from kafka_replicator_spark.operators.egress import (
    assign_segments_by_count,
    assign_segments_greedy,
    segment_bounds,
    write_segments,
)
from kafka_replicator_spark.sources.segments import heap_order, list_segments, read_segment_files

REGION = "test-region"


@pytest.fixture(scope="module")
def seg_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("segments"))


@pytest.fixture(scope="module")
def written(spark, messages, seg_root):
    tagged = assign_segments_by_count(messages, max_messages=100)
    meta = write_segments(tagged, root=seg_root, region=REGION, level=0).collect()
    return meta


def test_write_produces_expected_segments(spark, messages, written):
    n_msgs = messages.count()
    assert sum(r["message_count"] for r in written) == n_msgs
    # dense offsets from 0 → every segment but the last per partition has 100 rows
    for r in written:
        assert r["end_offset"] - r["start_offset"] + 1 == r["message_count"]
        assert r["level"] == 0
        assert r["region"] == REGION


def test_listing_matches_write_metadata(spark, seg_root, written):
    import time

    import pyarrow.parquet as pq

    listed = list_segments(spark, seg_root, read_footers=True).collect()
    assert len(listed) == len(written)
    by_path = {r["path"]: r for r in written}
    for seg in listed:
        w = by_path[seg["path"]]
        assert (seg["start_offset"], seg["end_offset"]) == (w["start_offset"], w["end_offset"])
        assert seg["message_count"] == w["message_count"]  # footer KV metadata
        assert seg["size_bytes"] > 0
        # the reference's full SegmentMetadata key set (s3_parquet.go:379-397)
        footer = {
            k.decode(): v.decode()
            for k, v in pq.ParquetFile(seg["path"]).metadata.metadata.items()
            if k != b"ARROW:schema"
        }
        created = footer.pop("createdTimestamp")
        assert footer == {
            "region": REGION,
            "topic": w["topic"],
            "partition": str(w["partition_id"]),
            "level": "0",
            "startOffset": str(w["start_offset"]),
            "endOffset": str(w["end_offset"]),
            "messageCount": str(w["message_count"]),
        }
        assert abs(int(created) - time.time_ns()) < 3600 * 10**9


def test_roundtrip_stream_identical(spark, messages, seg_root, written):
    paths = [r["path"] for r in written]
    back = read_segment_files(spark, paths)
    orig = messages.select(
        "topic", "partition_id", "msg_offset",
        F.col("msg_key").cast("binary").alias("msg_key"),
        F.col("payload").cast("binary").alias("payload"),
        "ts_ns",
    )
    got = back.select("topic", "partition_id", "msg_offset", "msg_key", "payload", "ts_ns")
    assert got.count() == orig.count()
    assert got.exceptAll(orig).count() == 0
    assert orig.exceptAll(got).count() == 0


def test_per_partition_order_preserved(spark, seg_root, written):
    """Invariant 1: reading in heap order yields strictly increasing offsets."""
    paths = [r["path"] for r in written]
    back = read_segment_files(spark, paths)
    from pyspark.sql import Window

    w = Window.partitionBy("topic", "partition_id").orderBy("msg_offset")
    gaps = (
        back.withColumn("prev", F.lag("msg_offset").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("msg_offset") != F.col("prev") + 1))
        .count()
    )
    assert gaps == 0


def test_resume_trim(spark, seg_root, written):
    paths = [r["path"] for r in written]
    back = read_segment_files(spark, paths, from_offset=150)
    assert back.agg(F.min("msg_offset")).collect()[0][0] == 150


def test_greedy_size_rollover(spark, messages, tmp_path):
    """Reference semantics: segment closes at the row where size crosses the
    threshold (pkg/egress/worker.go:51-56)."""
    tagged = assign_segments_greedy(messages, max_bytes=2000, max_messages=50)
    bounds = segment_bounds(tagged, region=REGION).collect()
    for r in bounds:
        assert r["message_count"] <= 50
    # every non-final segment must have crossed one of the thresholds
    import collections

    per_part = collections.defaultdict(list)
    for r in bounds:
        per_part[(r["topic"], r["partition_id"])].append(r)
    for segs in per_part.values():
        segs.sort(key=lambda r: r["start_offset"])
        for r in segs[:-1]:
            assert r["size_bytes"] >= 2000 or r["message_count"] == 50
        # contiguity across segments
        for a, b in zip(segs, segs[1:]):
            assert b["start_offset"] == a["end_offset"] + 1


def test_heap_order_prefers_longer_on_tie(spark):
    rows = [
        ("r", "t", 0, 0, 0, 9, 10, 100, None, "a"),
        ("r", "t", 0, 0, 0, 99, 100, 1000, None, "b"),
        ("r", "t", 0, 0, 100, 199, 100, 1000, None, "c"),
    ]
    from kafka_replicator_spark.core.schema import SEGMENT_SCHEMA

    df = spark.createDataFrame(rows, schema=SEGMENT_SCHEMA)
    ordered = heap_order(df).orderBy("heap_rank").select("path").collect()
    assert [r["path"] for r in ordered] == ["b", "a", "c"]


def test_headers_survive_lifecycle(spark, messages, tmp_path):
    """K1 headers: messages carrying Kafka headers keep them byte-identical
    through egress → compact → replay (reference parquet struct
    pkg/formats/s3_parquet.go:99-116; every reference egress scenario carries
    a header, tests/utils.go:124-149)."""
    from kafka_replicator_spark.operators.compaction import compact

    root = str(tmp_path / "segs")
    with_headers = messages.withColumn(
        "headers",
        F.array(
            F.struct(
                F.lit("source").alias("key"),
                F.col("msg_key").cast("binary").alias("value"),
            ),
            F.struct(
                F.lit("seq").alias("key"),
                F.col("msg_offset").cast("string").cast("binary").alias("value"),
            ),
        ),
    )
    tagged = assign_segments_greedy(with_headers, max_bytes=4096, max_messages=100)
    write_segments(tagged, root=root, region=REGION, level=0).collect()
    out = compact(spark, root, region=REGION, min_count=2, min_bytes=1).collect()
    back = read_segment_files(spark, [r["path"] for r in out])
    orig = with_headers.select("topic", "partition_id", "msg_offset", "headers")
    got = back.select("topic", "partition_id", "msg_offset", "headers")
    assert got.count() == orig.count()
    assert got.exceptAll(orig).count() == 0
    assert orig.exceptAll(got).count() == 0


def test_headerless_segments_read_as_null_headers(spark, seg_root, written):
    """Pre-headers segment files stay readable: explicit reader schema
    surfaces NULL headers instead of failing or dropping the column."""
    back = read_segment_files(spark, [r["path"] for r in written])
    assert "headers" in back.columns
    assert back.filter(F.col("headers").isNotNull()).count() == 0


def test_message_size_includes_headers(spark):
    """X6 size accounting: 16 + len(key) + len(value) + Σ(len(hk)+len(hv))
    (reference pkg/core/core.go:136-147)."""
    from kafka_replicator_spark.core.schema import message_size_col

    df = spark.createDataFrame(
        [("k", b"pay", [("h1", b"v1"), ("hdr2", b"vv22")])],
        schema="msg_key string, payload binary, "
        "headers array<struct<key:string,value:binary>>",
    )
    got = df.select(message_size_col().alias("sz")).collect()[0]["sz"]
    assert got == 16 + 1 + 3 + (2 + 2) + (4 + 4)


@pytest.fixture(scope="module")
def scoped_root(spark, tmp_path_factory):
    """Region r1 holds topics a, b × partitions 0, 1; region r2 holds a/0."""
    root = str(tmp_path_factory.mktemp("scoped"))
    for region, parts in (("r1", [("a", 0), ("a", 1), ("b", 0), ("b", 1)]), ("r2", [("a", 0)])):
        rows = [(t, p, o, b"k", b"v", 0) for t, p in parts for o in range(3)]
        df = spark.createDataFrame(
            rows, "topic string, partition_id int, msg_offset long, "
            "msg_key binary, payload binary, ts_ns long",
        ).withColumn("segment_seq", F.lit(0))
        write_segments(df, root=root, region=region, level=0).collect()
    return root


@pytest.mark.parametrize("via", ["list_segments"])
@pytest.mark.parametrize(
    "filters, expected",
    [
        ({"region": "r2"}, {("r2", "a", 0)}),
        ({"region": "r1", "topic": "b"}, {("r1", "b", 0), ("r1", "b", 1)}),
        ({"topic": "a"}, {("r1", "a", 0), ("r1", "a", 1), ("r2", "a", 0)}),
        ({"partition": 1}, {("r1", "a", 1), ("r1", "b", 1)}),
        ({"region": "r1", "partition": 1}, {("r1", "a", 1), ("r1", "b", 1)}),
        ({"topic": "a", "partition": 0}, {("r1", "a", 0), ("r2", "a", 0)}),
    ],
    ids=["region", "region+topic", "topic", "partition", "region+partition", "topic+partition"],
)
def test_scope_filters_apply_without_the_level_above(spark, scoped_root, via, filters, expected):
    """Every given scope filter applies, also one given without the level
    above it (the walk prefix covers only the leading run of filters)."""
    kwargs = {("partition_id" if k == "partition" else k): v for k, v in filters.items()}
    df = list_segments(spark, scoped_root, **kwargs)
    got = {tuple(r) for r in df.select("region", "topic", "partition_id").distinct().collect()}
    assert got == expected
