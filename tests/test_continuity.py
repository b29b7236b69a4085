"""Streaming continuity monitor (applyInPandasWithState): cross-batch state
must carry the last offset between microbatches and flag the injected gap.
"""

import pytest
from pyspark.sql import functions as F

from kafka_replicator_spark.streaming.continuity import offset_continuity_stream


@pytest.fixture()
def staged_gappy(spark, messages, tmp_path):
    """Three drops for partition 0: [0..80], [81..150], then a GAP (151..199
    withheld) followed by [200..hi] — the third batch must report
    missing_from_last > 0.
    """
    src = str(tmp_path / "gappy")
    m0 = messages.filter(F.col("partition_id") == 0)
    hi = m0.agg(F.max("msg_offset")).collect()[0][0]
    assert hi > 220, "fixture needs enough offsets to stage a gap"
    bounds = [(0, 80), (81, 150), (200, hi)]
    for lo, b_hi in bounds:
        (
            m0.filter(F.col("msg_offset").between(lo, b_hi))
            .select("topic", "partition_id", "msg_offset")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    return src


def test_continuity_monitor_flags_gap_across_batches(spark, staged_gappy, tmp_path):
    stream = (
        spark.readStream.schema("topic string, partition_id int, msg_offset long")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_gappy)
    )
    out = offset_continuity_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("continuity_out")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = sorted(
        spark.table("continuity_out").collect(), key=lambda r: r["batch_lo"]
    )
    assert len(rows) == 3, rows
    first, second, third = rows
    assert first["batch_lo"] == 0 and first["missing_from_last"] == 0
    assert second["batch_lo"] == 81 and second["missing_from_last"] == 0
    assert third["batch_lo"] == 200 and third["missing_from_last"] == 49
    assert all(not r["regressed"] for r in rows)
    assert all(r["internal_gaps"] == 0 for r in rows)
