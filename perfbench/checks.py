"""Output checks.  They run outside every timed section; each failed check
is one failed operation in the result line.

* ``check_sink`` — the ingress sink holds every generated
  (partition, offset) exactly once, ascending within each sink file.
* ``check_compacted`` — the compacted listing read back through
  ``read_segment_files(..., dedup_overlaps=True)`` equals the generated
  distinct set (count plus an order-insensitive checksum).
* ``check_query`` — one query against its DuckDB oracle with an exact
  compare, as ``tools/sweep.py`` does.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

from gen import offset_checksum


def _sink_files(sink_dir: str):
    """(partition_id, path) of every data file under a sink written with
    ``partitionBy("topic", "partition_id")``."""
    for dirpath, _dirs, files in os.walk(sink_dir):
        for fn in files:
            if fn.endswith(".parquet"):
                leaf = os.path.basename(dirpath)
                if not leaf.startswith("partition_id="):
                    raise ValueError(f"unexpected sink layout: {dirpath}")
                yield int(leaf.split("=", 1)[1]), os.path.join(dirpath, fn)


def check_sink(sink_dir: str, per_partition: dict[int, int]) -> list[str]:
    """Problems found in the sink; empty when it is exact."""
    problems = []
    seen: dict[int, list[np.ndarray]] = {}
    for pid, path in sorted(_sink_files(sink_dir)):
        off = pq.read_table(path, columns=["msg_offset"]).column("msg_offset").to_numpy()
        if len(off) > 1 and not (off[1:] > off[:-1]).all():
            problems.append(f"offsets not ascending in {os.path.relpath(path, sink_dir)}")
        seen.setdefault(pid, []).append(off)
    for pid in sorted(set(seen) | set(per_partition)):
        got = np.sort(np.concatenate(seen.get(pid, [np.empty(0, np.int64)])))
        want = per_partition.get(pid, 0)
        if len(got) != want or (want and not (got == np.arange(want)).all()):
            dup = int((got[1:] == got[:-1]).sum()) if len(got) > 1 else 0
            problems.append(
                f"partition {pid}: {len(got)} rows for {want} offsets ({dup} duplicated)"
            )
    return problems


def check_compacted(spark, paths: list[str], distinct: int, checksum: int) -> list[str]:
    from kafka_replicator_spark.sources.segments import read_segment_files

    t = (
        read_segment_files(spark, paths, dedup_overlaps=True)
        .select("partition_id", "msg_offset")
        .toArrow()
    )
    got_sum = offset_checksum(
        t.column("partition_id").to_numpy(), t.column("msg_offset").to_numpy()
    )
    if t.num_rows != distinct or got_sum != checksum:
        return [f"compacted listing: {t.num_rows} rows for {distinct}, checksum match {got_sum == checksum}"]
    return []


def check_query(con, name: str, oracle: str | None, got) -> list[str]:
    """Exact compare of a query's rows against its oracle SQL."""
    from tests.oracle_utils import assert_frames_match

    if oracle is None:
        return []
    try:
        assert_frames_match(got, con.execute(oracle).fetchdf(), name, float_tol=0.0)
    except AssertionError as e:
        return [str(e)[:300]]
    return []
