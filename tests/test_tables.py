"""``sources.tables.load_table``'s schema memo.

The first read of a table file infers its schema (a Spark job); later reads
pass the memoized schema and run none.  Pins that the memoized read is the
plain read — same schema, same rows in the same order — for every table,
that a rewritten file is inferred again, and that a repeat load runs no job.
"""

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kafka_replicator_spark.sources import tables
from kafka_replicator_spark.sources.tables import TABLES, load_table
from tests.test_local_frame import _jobs_launched


@pytest.mark.parametrize("name", TABLES)
def test_memoized_read_matches_plain_read(spark, sf_dir, name):
    load_table(spark, sf_dir, name)  # infers, or hits an earlier test's memo
    with _jobs_launched(spark) as n:
        memo = load_table(spark, sf_dir, name)
    assert n == [0]
    plain = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        plain = tables._normalize_event_ts(plain)
    assert memo.schema == plain.schema
    # a single-file scan returns rows in file order on both paths
    assert memo.collect() == plain.collect()


def test_rewritten_file_is_inferred_again(spark, sf_dir, tmp_path):
    shutil.copy(f"{sf_dir}/region.parquet", tmp_path / "region.parquet")
    first = load_table(spark, str(tmp_path), "region")
    with _jobs_launched(spark) as n:
        assert load_table(spark, str(tmp_path), "region").schema == first.schema
    assert n == [0]

    t = pq.read_table(tmp_path / "region.parquet")
    t = t.append_column("r_comment", pa.array(["c"] * t.num_rows))
    pq.write_table(t, tmp_path / "region.parquet")
    with _jobs_launched(spark) as n:
        second = load_table(spark, str(tmp_path), "region")
    assert n == [1]  # the inference job
    assert second.columns == first.columns + ["r_comment"]
    assert [r["r_comment"] for r in second.collect()] == ["c"] * t.num_rows
