#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py          # generator and checker tests, seconds
    python3 perfbench/selftest.py --spark  # also one traced run per workload, minutes

Run from the root of a checkout.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from checks import check_sink  # noqa: E402

SPARK = "--spark" in sys.argv


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-selftest-")

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def _dirs(self, *names):
        return [os.path.join(self.tmp, n) for n in names]

    def test_drops_are_byte_identical_per_seed(self):
        spec = gen.DropSpec(n_drops=3, msgs_per_drop=2_000, hot_share=0.9, rewind=0.25)
        a, b, c = self._dirs("a", "b", "c")
        meta_a = gen.write_drops(a, spec, 7)
        self.assertEqual(meta_a, gen.write_drops(b, spec, 7))
        gen.write_drops(c, spec, 8)
        self.assertTrue(_same_tree(a, b))
        self.assertFalse(_same_tree(a, c))

    def test_rewind_reemits_only_partition_zero(self):
        spec = gen.DropSpec(n_drops=2, msgs_per_drop=1_000, hot_share=0.9, rewind=0.25)
        (d,) = self._dirs("d")
        meta = gen.write_drops(d, spec, 1)
        t = pq.read_table(d)
        keys = list(zip(t.column("partition_id").to_pylist(), t.column("msg_offset").to_pylist()))
        dups = len(keys) - len(set(keys))
        self.assertGreater(dups, 0)
        self.assertEqual(meta["emitted"] - meta["distinct"], dups)
        self.assertEqual({p for p, _ in keys if keys.count((p, _)) > 1}, {0})

    def test_tables_are_byte_identical_per_seed(self):
        a, b = self._dirs("a", "b")
        gen.write_tables(a, 0.001, 3)
        gen.write_tables(b, 0.001, 3)
        self.assertTrue(_same_tree(a, b))


class SinkCheckTest(unittest.TestCase):
    """check_sink must accept an exact sink and reject each defect."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-selftest-")

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def _sink(self, files: dict[int, list[list[int]]]) -> str:
        root = os.path.join(self.tmp, "sink")
        for pid, chunks in files.items():
            d = os.path.join(root, "topic=t", f"partition_id={pid}")
            os.makedirs(d)
            for i, offs in enumerate(chunks):
                pq.write_table(pa.table({"msg_offset": pa.array(offs, pa.int64())}), f"{d}/part-{i}.parquet")
        return root

    def test_exact_sink_passes(self):
        self.assertEqual(check_sink(self._sink({0: [[0, 1, 2], [3, 4]], 1: [[0, 1]]}), {0: 5, 1: 2}), [])

    def test_dropped_offset_fails(self):
        self.assertTrue(check_sink(self._sink({0: [[0, 1, 2], [4]], 1: [[0, 1]]}), {0: 5, 1: 2}))

    def test_duplicated_offset_fails(self):
        self.assertTrue(check_sink(self._sink({0: [[0, 1, 2], [2, 3, 4]], 1: [[0, 1]]}), {0: 5, 1: 2}))

    def test_out_of_order_offset_fails(self):
        self.assertTrue(check_sink(self._sink({0: [[0, 2, 1], [3, 4]], 1: [[0, 1]]}), {0: 5, 1: 2}))

    def test_checksum_is_order_insensitive(self):
        part = np.array([0, 0, 1, 1]), np.array([0, 1, 0, 1])
        self.assertEqual(gen.offset_checksum(*part), gen.expected_checksum({0: 2, 1: 2}))
        self.assertEqual(gen.offset_checksum(part[0][::-1], part[1][::-1]), gen.expected_checksum({0: 2, 1: 2}))
        self.assertNotEqual(gen.offset_checksum(part[0][:3], part[1][:3]), gen.expected_checksum({0: 2, 1: 2}))


class ContractTest(unittest.TestCase):
    def test_refuses_to_run_without_the_package(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(HERE, os.path.join(d, "perfbench"))
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
                 "--seconds", "1", "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=60,
            )
        self.assertNotEqual(proc.returncode, 0)
        self.assertEqual(proc.stdout, "")


@unittest.skipUnless(SPARK, "needs --spark")
class TracedRunTest(unittest.TestCase):
    """One traced run per workload: it must pass its output checks, and the
    per-layer job counts must add up to the cycle's total job count."""

    def _traced(self, workload: str) -> dict:
        with tempfile.NamedTemporaryFile(suffix=".jsonl") as out:
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
                 "--seconds", "1", "--trace", "1", "--out", out.name],
                capture_output=True, text=True, timeout=300,
            )
            self.assertEqual(proc.returncode, 0, proc.stderr[-2000:])
        return json.loads(proc.stdout.strip().splitlines()[-1])

    def _assert_ledger_sums(self, res: dict) -> dict:
        self.assertTrue(res["correct"], res)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        import ledger

        self.assertEqual(sum(m[f"{layer}.jobs"] for layer in ledger.JOB_LAYERS), m["spark.jobs"])
        self.assertGreater(m["spark.jobs"], 0)
        return m

    def test_lifecycle_steady(self):
        m = self._assert_ledger_sums(self._traced("lifecycle_steady"))
        self.assertEqual(m["streaming.ingress_stream.dup_dropped"], 0)
        self.assertEqual(m["operators.compaction.rows_deduped"], 0)

    def test_lifecycle_rewind_hot(self):
        m = self._assert_ledger_sums(self._traced("lifecycle_rewind_hot"))
        self.assertGreater(m["streaming.ingress_stream.dup_dropped"], 0)
        self.assertGreater(m["operators.compaction.rows_deduped"], 0)
        self.assertEqual(m["queries.construct_jobs"], 0)

    def test_query_mix(self):
        m = self._assert_ledger_sums(self._traced("query_mix"))
        self.assertGreater(m["queries.construct_jobs"], 0)
        self.assertEqual(m["streaming.egress_stream.jobs"], 0)


if __name__ == "__main__":
    unittest.main(argv=[a for a in sys.argv if a != "--spark"])
