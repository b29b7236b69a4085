"""``core.schema.local_frame`` — driver-held metadata rows as a JVM
LocalRelation.

Pins the Arrow construction against the Python-RDD construction it
replaced (``spark.createDataFrame(rows, schema)``) for every schema it
serves, in a UTC and a non-UTC process time zone, and pins the structural
gain: collecting a listing, a compaction result or a driver-built k-means
model runs no Spark job.  A static check keeps every other list-built
frame out of the package.
"""

import ast
import os
import time
import uuid
from contextlib import contextmanager
from datetime import date, datetime, timedelta
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from kafka_replicator_spark.cacheutil import release_cached
from kafka_replicator_spark.core.schema import (
    SEGMENT_SCHEMA,
    WRITTEN_SEGMENT_SCHEMA,
    local_frame,
)
from kafka_replicator_spark.functions import similarity as sim
from kafka_replicator_spark.operators.compaction import (
    MERGE_SPEC_SCHEMA,
    compact,
    plan_compaction,
)
from kafka_replicator_spark.queries.pipeline_r13 import RETRAIN_DECISION_SCHEMA
from kafka_replicator_spark.sources.segments import list_segments
from kafka_replicator_spark.sources.tables import load_table
from kafka_replicator_spark.streaming.ingress_stream import (
    CHECKPOINT_TRIM_SCHEMA,
    FRONTIER_SCHEMA,
)
from tests.test_compaction import REGION, _write_range


@pytest.fixture(params=["UTC", "America/New_York"])
def process_tz(request, monkeypatch):
    """Run the test with the Python process in the given time zone (naive
    datetimes convert through ``time.mktime``, i.e. the process zone)."""
    monkeypatch.setenv("TZ", request.param)
    time.tzset()
    yield request.param
    monkeypatch.undo()
    time.tzset()


def _listing_rows():
    """A SEGMENT_SCHEMA listing: three partitions, a level-1 segment that
    sets a resume floor on partition 0, null message counts, and naive
    modification times on both sides of a summer/winter offset change."""
    rows = []
    for pid in range(3):
        for i in range(6):
            month = 1 if i % 2 else 7
            rows.append(
                (
                    "r", "t", pid, 0, i * 10, i * 10 + 9,
                    None if i % 3 == 0 else 10,
                    100 + i,
                    datetime(2026, month, 1 + i, 12, 30, i, 123),
                    f"/seg/{pid}/0/{i}",
                )
            )
    rows.append(("r", "t", 0, 1, 0, 19, 20, 400, datetime(2026, 3, 8, 2, 30), "/seg/0/1/0"))
    return rows


def _spec_rows():
    """Merge task specs, as ``merge_segments`` builds them."""
    return [
        {
            "topic": "t", "partition_id": 0, "out_level": 1, "chunk_lo": 0,
            "chunk_hi": 99, "starts": [0, 50], "ends": [49, 99],
            "levels": [0, 0], "paths": ["/seg/a", "/seg/b"],
        },
        {
            "topic": "u", "partition_id": 3, "out_level": 2, "chunk_lo": 100,
            "chunk_hi": 100, "starts": [100], "ends": [100],
            "levels": [1], "paths": ["/seg/c"],
        },
    ]


CASES = {
    "segment": (SEGMENT_SCHEMA, _listing_rows()),
    "written": (
        WRITTEN_SEGMENT_SCHEMA,
        [("r", "t", 0, 1, 0, 99, 100, 2048, "/seg/x"), ("r", "t", 1, 2, 5, 5, 1, 90, "/seg/y")],
    ),
    "merge_spec": (MERGE_SPEC_SCHEMA, _spec_rows()),
    "checkpoint_trim": (CHECKPOINT_TRIM_SCHEMA, [("t", 0, 41), ("u/v", 7, 0)]),
    "frontier": (FRONTIER_SCHEMA, [("t", 0, 99)]),
    "kmeans_model": (
        sim.KMEANS_MODEL_SCHEMA,
        [(0, [0.123456, -1e-06, 2.5]), (7, [0.1 + 0.2, -0.0, 1e300])],
    ),
    "kmeans_train": (
        sim.KMEANS_TRAIN_SCHEMA,
        [(0, 1, 123456, 40), (0, 2, -7, 40), (3, 64, 2**40, 1)],
    ),
    "retrain_decision": (
        RETRAIN_DECISION_SCHEMA,
        [(0, 31, 1250, 1), (5, 0, 0, 0)],
    ),
    # the DDL strings the query-side call sites pass, with rows shaped like
    # theirs (the single-column threshold frames share two shapes)
    "rank_offsets": ("pid int, off long", [(0, 0), (3, 12345678901)]),
    "cc_members": ("node long, comp long", [(5, 1), (2**40, 2**40)]),
    "pack_entries": (
        "source string, __pid int, eb long, estarts long, eempty boolean",
        [("web", 0, 10, 2, True), ("news", 3, -1, 0, False)],
    ),
    "stitch_decimal": (
        "__pid int, __prefix decimal(38,2), __sprefix bigint",
        [(0, Decimal(0), 0), (1, Decimal("12.34"), 7), (2, None, 7)],
    ),
    "stitch_double": ("__pid int, __prefix double", [(0, None), (1, -0.0), (2, 1e300)]),
    "stitch_timestamp": (
        "__pid int, __prefix timestamp",
        [(0, None), (1, datetime(2026, 3, 8, 2, 30)), (2, datetime(2026, 7, 1, 12, 0, 0, 5))],
    ),
    "grouped_prefix": (
        "__pid int, g date, __rprefix bigint, __sprefix decimal(38,0), __nnprefix bigint",
        [(0, date(1995, 3, 15), 0, Decimal(0), 0), (1, date(2026, 11, 1), 9, Decimal(-41), 8)],
    ),
    "threshold_int": ("thr int", [(1,), (500,), (2**31 - 1,)]),
    "threshold_long": ("k long", [(1,), (8,)]),
    "checkpoints": (
        "region string, topic string, partition_id int, msg_offset long, ts_ns long",
        [("src", "events", 0, 100, 0), ("src", "events", 1, 50, 0)],
    ),
    "checkpoint_matrix": (
        "part string, region string, topic string, partition_id int, "
        "msg_offset long, ts_ns long",
        [("matrix", "local", "matrix", 0, 0, 0), ("matrix", "local", "matrix", 1, 2**63 - 1, 7)],
    ),
    "checkpoint_lookup": (
        "topic string, partition_id int, cp_offset long",
        [("events", 0, 100), ("events", 1, 50)],
    ),
    "bfs_rounds": ("round int, n_reached bigint, n_new bigint", [(1, 12, 11), (2, 12, 0)]),
    "kcore_rounds": ("round long, n_alive long, n_edges long", [(1, 40, 300), (2, 0, 0)]),
    "coverage": (
        "sel_rank long, doc_id long, gain long, covered_total long",
        [(1, 17, 120, 120), (2, 3, 40, 160)],
    ),
    "mmr": (
        "sel_rank long, vec_id long, rel long, maxsim long",
        [(1, 5, 900, -1), (2, 9, 850, 12)],
    ),
    "label_rounds": ("round long, n_changed long, n_communities long", [(1, 30, 7)]),
}


@pytest.mark.parametrize("case", sorted(CASES))
@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
def test_local_frame_matches_python_rows(spark, process_tz, case, empty):
    schema, rows = CASES[case]
    rows = [] if empty else rows
    # the replaced construction: tuples for the spec dicts, as it passed them
    old_rows = [tuple(r.values()) if isinstance(r, dict) else r for r in rows]
    old = spark.createDataFrame(old_rows, schema=schema)
    new = local_frame(spark, rows, schema)
    assert new.select("*").schema == old.select("*").schema
    assert new.collect() == old.collect()
    for f in old.schema:
        if f.dataType.typeName() == "timestamp":
            # the same instant, not just the same wall time read back
            micros = F.unix_micros(f.name)
            assert new.select(micros).collect() == old.select(micros).collect()


def test_no_list_built_frames_outside_local_frame():
    """Every driver-built frame goes through ``local_frame``: the package
    holds no other ``createDataFrame(...)`` or ``.parallelize(...)`` call."""
    root = Path(__file__).resolve().parents[1] / "kafka_replicator_spark"
    calls = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("createDataFrame", "parallelize")
            ):
                calls.append((str(path.relative_to(root)), node.lineno))
    fn = next(
        n
        for n in ast.walk(ast.parse((root / "core" / "schema.py").read_text()))
        if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
    )
    assert len(calls) == 1, calls
    rel, line = calls[0]
    assert rel == "core/schema.py" and fn.lineno <= line <= fn.end_lineno, calls


def test_age_gate_selects_the_same_rows(spark, process_tz):
    rows = _listing_rows()
    kwargs = dict(
        min_count=1, min_bytes=1, include_superseded=True,
        min_age=timedelta(days=30), now=datetime(2026, 7, 2, 0, 0),
    )
    old = plan_compaction(spark.createDataFrame(rows, SEGMENT_SCHEMA), **kwargs).collect()
    new = plan_compaction(local_frame(spark, rows, SEGMENT_SCHEMA), **kwargs).collect()
    assert sorted(new) == sorted(old)
    # the gate actually splits the listing: some rows are too young
    assert 0 < len(new) < len(rows)


@contextmanager
def _jobs_launched(spark):
    """Count the Spark jobs launched inside the block (its own job group)."""
    sc = spark.sparkContext
    group = f"local-frame-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    launched = []
    try:
        yield launched
    finally:
        launched.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_listing_and_compaction_result_collect_without_jobs(spark, tmp_path):
    root = str(tmp_path)
    for start in (0, 10, 20):
        _write_range(spark, root, 0, start, start + 9)
    with _jobs_launched(spark) as n:
        listed = list_segments(spark, root).collect()
    assert len(listed) == 3 and n == [0]

    out = compact(spark, root, region=REGION, min_count=2, min_bytes=1)
    with _jobs_launched(spark) as n:
        written = out.collect()
    assert n == [0]
    assert [(r["start_offset"], r["end_offset"], r["level"]) for r in written] == [(0, 29, 1)]
    assert os.path.exists(written[0]["path"])


def test_kmeans_model_frames_collect_without_jobs(spark, sf_dir, tmp_path):
    """Every driver-built k-means frame is a LocalRelation: once built,
    reading its rows back (what the inline consumers do) runs no job."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    model = sim.kmeans_model(emb, n_clusters=8, iters=2)
    path = str(tmp_path / "kmeans")
    sim.save_kmeans_model(model, path, n_clusters=8, iters=2, dim=64)
    frames = {
        "kmeans_train": sim.kmeans_train(emb, k=8, iters=2),
        "kmeans_model": model,
        "load_kmeans_model": sim.load_kmeans_model(spark, path)[0],
    }
    for i, m in enumerate(sim.kmeans_models_fused(emb, [F.col("vec_id") % 2 == 0, None])):
        frames[f"kmeans_models_fused[{i}]"] = m
    for i, m in enumerate(sim.kmeans_models_prefix(emb, [1, 2])):
        frames[f"kmeans_models_prefix[{i}]"] = m
    release_cached()
    for name, df in frames.items():
        with _jobs_launched(spark) as n:
            rows = df.collect()
        assert rows and n == [0], (name, n)
