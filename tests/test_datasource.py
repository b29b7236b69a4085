"""Custom kafka_segments DataSource: format-registry read path equals the
library read path; option-based pruning works."""

import pytest
from pyspark.sql import functions as F

from kafka_replicator_spark.operators.egress import assign_segments_by_count, write_segments
from kafka_replicator_spark.sources import datasource
from kafka_replicator_spark.sources.segments import read_segment_files, list_segments


def test_format_read_matches_library_read(spark, messages, tmp_path):
    root = str(tmp_path)
    tagged = assign_segments_by_count(messages, max_messages=100)
    written = write_segments(tagged, root=root, region="dsrc", level=0).collect()

    datasource.register(spark)
    via_format = (
        spark.read.format("kafka_segments").option("root", root).load()
    )
    via_lib = read_segment_files(spark, [r["path"] for r in written])
    cols = ["topic", "partition_id", "msg_offset", "msg_key", "payload", "ts_ns"]
    assert via_format.count() == via_lib.count() == messages.count()
    assert via_format.select(cols).exceptAll(via_lib.select(cols)).count() == 0
    # identity columns attached per partition
    ident = via_format.select("region", "level").distinct().collect()
    assert [(r["region"], r["level"]) for r in ident] == [("dsrc", 0)]


def test_format_from_offset_prunes_segments(spark, messages, tmp_path):
    root = str(tmp_path)
    tagged = assign_segments_by_count(messages, max_messages=100)
    write_segments(tagged, root=root, region="dsrc", level=0).collect()
    datasource.register(spark)
    df = (
        spark.read.format("kafka_segments")
        .option("root", root)
        .option("from_offset", "150")
        .load()
    )
    assert df.agg(F.min("msg_offset")).collect()[0][0] == 150
    # segments entirely below the offset never become input partitions
    assert df.select("start_offset").distinct().filter(F.col("start_offset") < 100).count() == 0


def test_streaming_source_discovers_incrementally(spark, messages, tmp_path):
    """readStream.format('kafka_segments'): files consumed exactly once
    across microbatches; late-arriving segments picked up by later offsets."""
    root = str(tmp_path)
    tagged = assign_segments_by_count(messages, max_messages=100)
    all_meta = write_segments(tagged, root=root, region="dsrc", level=0).collect()

    datasource.register(spark)
    stream = spark.readStream.format("kafka_segments").option("root", root).load()
    q = (
        stream.writeStream.format("memory")
        .queryName("seg_stream_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        n1 = spark.sql("SELECT count(*) c FROM seg_stream_out").collect()[0]["c"]
        assert n1 == messages.count()
        # a newly compacted segment arrives -> only the new file is read
        from kafka_replicator_spark.operators.compaction import compact

        compact(spark, root, region="dsrc", min_count=2, min_bytes=1, delete_inputs=False)
        q.processAllAvailable()
        n2 = spark.sql("SELECT count(*) c FROM seg_stream_out").collect()[0]["c"]
        assert n2 == 2 * messages.count()  # level-1 copies arrived exactly once
        levels = spark.sql(
            "SELECT level, count(*) n FROM seg_stream_out GROUP BY level ORDER BY level"
        ).collect()
        assert [(r["level"], r["n"]) for r in levels] == [
            (0, messages.count()), (1, messages.count()),
        ]
    finally:
        q.stop()


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


@pytest.mark.parametrize("via", ["list_segments", "kafka_segments"])
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
    if via == "list_segments":
        kwargs = {("partition_id" if k == "partition" else k): v for k, v in filters.items()}
        df = list_segments(spark, scoped_root, **kwargs)
    else:
        datasource.register(spark)
        reader = spark.read.format("kafka_segments").option("root", scoped_root)
        for k, v in filters.items():
            reader = reader.option(k, str(v))
        df = reader.load()
    got = {tuple(r) for r in df.select("region", "topic", "partition_id").distinct().collect()}
    assert got == expected
