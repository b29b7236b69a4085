#!/usr/bin/env python3
"""Replicator-lifecycle and query-mix benchmark.

    python3 perfbench/run.py --workload lifecycle_steady --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout.  All load comes from this one driver
process on ``local[4]``, in a closed loop: each stage is called after the
previous one returns.  Inputs are generated from ``--seed`` before any
timing starts, and the package sees only the generated files.

Workloads:

* ``lifecycle_steady`` / ``lifecycle_rewind_hot`` — one cycle is the
  replicator's production order over a set of message drops:
  ``run_egress_stream`` (one epoch per drop) → ``run_ingress_stream`` over
  the level-0 segments into a parquet sink → ``compact`` with chunked
  output → ``list_segments`` of what is stored.
* ``query_mix`` — one cycle materializes 6 of ``bench.HEADLINE``'s
  queries to the noop sink, on a generated sf0.01 corpus shaped like the
  test corpus (``--tables DIR`` runs them on an existing corpus instead).

Setup — input generation, session start and one untimed warm-up cycle —
is timed as ``setup_s``; a cold JVM runs its first cycle about twice as
slow.  The lifecycle warms up on a one-eighth-size stream of the same
shape.  Cycles then repeat until ``--seconds`` of timed work is done, and
``wall_s`` is their median.  Output checks (see ``checks.py``) are excluded
from every timing: the lifecycle is checked after each timed cycle, and the
query mix's warm-up pass compares each query with its DuckDB oracle.

``--trace 1`` alternates untraced and traced cycles and reports the
per-layer ledger from the traced ones (see ``ledger.py``), plus
``trace.overhead_s`` = traced − untraced median cycle wall.  Spans go to
``.bench_out/spans-<workload>-<seed>.jsonl``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the same line, tagged
with workload, seed and trace, is appended to ``--out``
(default ``.bench_out/results.jsonl``) for ``compare.py``.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import resource
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

import gen  # noqa: E402
import ledger  # noqa: E402

CPUS = 4
REGION = "bench"
SEG_MAX_MESSAGES = 2_000  # egress rollover
MERGE_CHUNK = 5_000  # compaction's max_output_messages
QUERY_SF = 0.01

#: sized to fit the run budget: at this size per-stage fixed costs (query
#: start, triggers, commits) are still about two thirds of a cycle's wall
#: time; a traced run's per-layer job and batch times show the rest
LIFECYCLE = {
    "lifecycle_steady": gen.DropSpec(n_drops=2, msgs_per_drop=20_000),
    "lifecycle_rewind_hot": gen.DropSpec(n_drops=2, msgs_per_drop=20_000, hot_share=0.9, rewind=0.25),
}
WARMUP_DIVISOR = 8
#: names only; the query definitions come from bench.HEADLINE's registry.
#: Two segment-metadata queries, one relational join, one action-bound
#: multi-job pipeline query, and two whose time is mostly eager
#: construct-time jobs.
QUERY_MIX = (
    "r_t1_segment_plan", "r_t9_resume_replay", "a_q5_region_revenue",
    "p_histogram_quantiles", "p_kcore_peel", "p_model_retrain_decision",
)
WORKLOADS = (*LIFECYCLE, "query_mix")


def declared_metrics(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares; the run reports exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


class Ops:
    """Attempted / failed operation counts (stage calls, queries, checks)
    and the time spent in checks, which every timing excludes."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.check_s = 0.0

    def check(self, what: str, fn, *args) -> None:
        t0 = time.perf_counter()
        try:
            problems = fn(*args)
        except Exception as e:
            problems = [f"{type(e).__name__}: {e}"]
        self.check_s += time.perf_counter() - t0
        self.attempted += 1
        if problems:
            self.failed += 1
            for p in problems:
                print(f"# CHECK FAILED [{what}]: {p}", file=sys.stderr)


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------


def start_session(work: str):
    from kafka_replicator_spark import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.local.dir": tmp,
            # keep the JVM's scratch files (and its perf-data file) inside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (the py4j gateway process)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    try:
        proc.stdin.close()
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()


# --------------------------------------------------------------------------
# lifecycle workloads
# --------------------------------------------------------------------------


def _walk(root: str, level: int | None = None) -> list[str]:
    """Segment files under ``root`` (temp objects excluded), optionally of
    one level only."""
    out = []
    for dirpath, _dirs, files in os.walk(root):
        parts = dirpath.split(os.sep)
        if "temp" in parts or (level is not None and parts[-1] != str(level)):
            continue
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".parquet")]
    return out


def lifecycle_cycle(spark, tracer, drops: str, cyc: str, meta: dict, ops: Ops) -> dict:
    """One closed-loop cycle: egress → ingress → compaction → listing.
    Returns the stage walls and the layer counters."""
    import pyarrow.parquet as pq

    from kafka_replicator_spark.operators.compaction import compact
    from kafka_replicator_spark.sources.segments import list_segments
    from kafka_replicator_spark.streaming.egress_stream import run_egress_stream
    from kafka_replicator_spark.streaming.ingress_stream import IngressState, run_ingress_stream

    seg_root = os.path.join(cyc, "segs")
    sink, state_path = os.path.join(cyc, "sink"), os.path.join(cyc, "ingress_state.json")
    ops.attempted += 4
    with tracer.span("streaming.egress_stream") as sp_e:
        q_e = run_egress_stream(
            spark, drops, seg_root, os.path.join(cyc, "cp_egress"), REGION,
            max_messages=SEG_MAX_MESSAGES, max_files_per_trigger=1,
        )
    level0 = _walk(seg_root, level=0)
    rows_in = sum(pq.ParquetFile(p).metadata.num_rows for p in level0)
    bytes_in = sum(os.path.getsize(p) for p in level0)
    with tracer.span("streaming.ingress_stream") as sp_i:
        q_i = run_ingress_stream(
            spark, os.path.join(seg_root, REGION), sink, os.path.join(cyc, "cp_ingress"), state_path
        )
    with tracer.span("operators.compaction") as sp_c:
        out = compact(
            spark, seg_root, region=REGION, min_count=2, min_bytes=1,
            max_output_messages=MERGE_CHUNK,
        ).collect()
    with tracer.span("sources.segments") as sp_l:
        listing = list_segments(spark, seg_root).collect()

    print(
        f"# cycle: egress {sp_e.seconds:.2f}s ingress {sp_i.seconds:.2f}s "
        f"compaction {sp_c.seconds:.2f}s listing {sp_l.seconds:.2f}s",
        file=sys.stderr,
    )
    st = IngressState.load(state_path)
    delivered = sum(st.messages_produced.values())
    c = {
        "wall_s": sp_e.seconds + sp_i.seconds + sp_c.seconds + sp_l.seconds,
        "streaming.egress_stream.msgs_per_s": meta["emitted"] / sp_e.seconds,
        "operators.egress.segments": len(level0),
        "operators.egress.bytes_written": bytes_in,
        "streaming.ingress_stream.msgs_per_s": delivered / sp_i.seconds,
        "streaming.ingress_stream.delivered": delivered,
        "streaming.ingress_stream.late": sum(st.late_counts.values()),
        "streaming.ingress_stream.lost": st.messages_lost,
        "streaming.ingress_stream.errors": sum(st.errors.values()),
        "operators.compaction.s": sp_c.seconds,
        "operators.compaction.segments_in": len(level0),
        "operators.compaction.segments_out": len(out),
        "operators.compaction.bytes_out": sum(r["size_bytes"] for r in out),
        "operators.compaction.rows_deduped": rows_in - sum(r["message_count"] for r in out),
        "operators.compaction.inputs_left": len(_walk(seg_root, level=0)),
        "operators.compaction.bytes_per_msg": sum(r["size_bytes"] for r in listing) / meta["distinct"],
        "sources.segments.files_listed": len(listing),
        "sources.segments.temp_orphans": sum(
            len(files) for d, _, files in os.walk(seg_root) if os.path.basename(d) == "temp"
        ),
        "_sink": sink,
        "_paths": [r["path"] for r in listing],
    }
    if tracer.traced:
        tracer.bind_stream(q_e, sp_e)
        tracer.bind_stream(q_i, sp_i)
        for name, sp in (("streaming.egress_stream", sp_e), ("streaming.ingress_stream", sp_i)):
            c.update({f"{name}.{k}": v for k, v in sp.counts.items()})
        c["streaming.ingress_stream.dup_dropped"] = c.pop("streaming.ingress_stream.input_rows") - delivered
    return c


def lifecycle_checks(spark, c: dict, meta: dict, ops: Ops) -> None:
    from checks import check_compacted, check_sink

    ops.check("sink", check_sink, c["_sink"], meta["per_partition"])
    ops.check("compacted", check_compacted, spark, c["_paths"], meta["distinct"], meta["checksum"])
    ops.check(
        "storage",
        lambda: [f"{k} = {c[k]}" for k in ("sources.segments.temp_orphans", "operators.compaction.inputs_left") if c[k]],
    )
    ops.check(
        "ingress meters",
        lambda: [
            f"{k} = {c[f'streaming.ingress_stream.{k}']}, expected {want}"
            for k, want in (("delivered", meta["distinct"]), ("lost", 0), ("errors", 0))
            if c[f"streaming.ingress_stream.{k}"] != want
        ],
    )


# --------------------------------------------------------------------------
# query mix
# --------------------------------------------------------------------------


def query_registry() -> dict:
    import bench
    from kafka_replicator_spark.queries import all_queries

    missing = [n for n in QUERY_MIX if n not in bench.HEADLINE]
    if missing:
        raise SystemExit(f"query_mix names not in bench.HEADLINE: {missing}")
    registry = all_queries()
    return {n: registry[n] for n in QUERY_MIX}


def query_check_pass(spark, registry: dict, sf_dir: str, ops: Ops) -> None:
    """The warm-up pass, which doubles as the once-per-process oracle check:
    each query is collected and compared exactly against its DuckDB SQL."""
    from tests.oracle_utils import duck_connection

    from checks import check_query
    from kafka_replicator_spark.cacheutil import release_cached

    con = duck_connection(sf_dir)
    for name, q in registry.items():
        ops.attempted += 1
        try:
            got = q.fn(spark, sf_dir).toPandas()
        except Exception:
            traceback.print_exc()
            ops.failed += 1
            continue
        finally:
            release_cached()
        ops.check(name, check_query, con, name, q.oracle, got)
    con.close()


def query_cycle(spark, tracer, registry: dict, sf_dir: str, ops: Ops) -> dict:
    """One pass over the mix: construct each query, then materialize it to
    the noop sink."""
    from kafka_replicator_spark.cacheutil import release_cached

    c: dict = {}
    construct = action = 0.0
    phases = dict.fromkeys(ledger.CATALYST_PHASES, 0.0)
    for name, q in registry.items():
        ops.attempted += 1
        with tracer.span(f"queries.{name}", layer="queries"):
            with tracer.span("queries.construct", layer="queries") as sp_c:
                df = q.fn(spark, sf_dir)
            with tracer.span("queries.action", layer="queries") as sp_a:
                df.write.format("noop").mode("overwrite").save()
        construct += sp_c.seconds
        action += sp_a.seconds
        c[f"queries.{name}.s"] = sp_c.seconds + sp_a.seconds
        if tracer.traced:
            for p, ms in ledger.catalyst_phases(df).items():
                phases[p] += ms
        release_cached()
    c.update(
        {
            "wall_s": construct + action,
            "queries.construct_s": construct,
            "queries.action_s": action,
            "queries.construct_share": construct / (construct + action),
        }
    )
    if tracer.traced:
        c.update({f"plans.{p}_ms": v for p, v in phases.items()})
    return c


# --------------------------------------------------------------------------
# driver
# --------------------------------------------------------------------------


def traced_layer_metrics(spark, tracer, cycle_spans: list) -> list[dict]:
    """Per traced cycle: the Spark-record metrics of every job layer, the
    cycle's job total and its between-job floor."""
    ledger.wait_for_idle(spark)
    jobs = ledger.read_jobs(spark, min(s.start for s in cycle_spans), max(s.end for s in cycle_spans))
    by_span = ledger.attribute(tracer, jobs)
    out = []
    for cyc in cycle_spans:
        spans = {s.span_id: s for s in tracer.spans if s.run_id == cyc.run_id}
        stages = [s for s in spans.values() if s.parent == cyc.span_id]
        mine = [j for sid, js in by_span.items() if sid in spans for j in js]
        m = {
            "spark.jobs": sum(cyc.start - 0.002 <= j.submit <= cyc.end + 0.002 for j in jobs),
            "spark.floor_s": sum(s.seconds - ledger.busy_seconds(mine, s.start, s.end) for s in stages),
        }
        for layer in ledger.JOB_LAYERS:
            lj = [j for sid, js in by_span.items() if sid in spans and spans[sid].layer == layer for j in js]
            m.update({f"{layer}.{k}": v for k, v in ledger.spark_layer_metrics(lj).items()})
        for kind in ("construct", "action"):
            m[f"queries.{kind}_jobs"] = sum(
                len(js) for sid, js in by_span.items() if sid in spans and spans[sid].name == f"queries.{kind}"
            )
        out.append(m)
    return out


def run(args) -> dict:
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    ops = Ops()
    per_layer: dict = {}

    t_setup = time.perf_counter()
    inputs = os.path.join(work, "inputs")
    if args.workload == "query_mix":
        if args.tables:
            inputs = os.path.abspath(args.tables)
        else:
            gen.write_tables(inputs, QUERY_SF, args.seed)
    else:
        spec = LIFECYCLE[args.workload]
        meta = gen.write_drops(inputs, spec, args.seed)
        meta["checksum"] = gen.expected_checksum(meta["per_partition"])
        warm_spec = dataclasses.replace(spec, msgs_per_drop=spec.msgs_per_drop // WARMUP_DIVISOR)
        warm_inputs = os.path.join(work, "warmup-inputs")
        warm_meta = gen.write_drops(warm_inputs, warm_spec, args.seed)
    t0 = time.perf_counter()
    spark = start_session(work)
    per_layer["session.start_s"] = time.perf_counter() - t0
    try:
        tracer = ledger.Tracer(spark, traced=False)
        if args.workload == "query_mix":
            registry = query_registry()
            query_check_pass(spark, registry, inputs, ops)

            def cycle(k: int) -> dict:
                return query_cycle(spark, tracer, registry, inputs, ops)

            def check(c: dict) -> None:
                pass
        else:

            def cycle(k: int) -> dict:
                return lifecycle_cycle(spark, tracer, inputs, os.path.join(work, f"cycle-{k}"), meta, ops)

            def check(c: dict) -> None:
                lifecycle_checks(spark, c, meta, ops)

            # warm-up on the small stream; the timed cycles are the ones checked
            lifecycle_cycle(spark, tracer, warm_inputs, os.path.join(work, "warmup"), warm_meta, ops)
            shutil.rmtree(os.path.join(work, "warmup"), ignore_errors=True)
        setup_s = time.perf_counter() - t_setup - ops.check_s

        results: dict[bool, list[dict]] = {False: [], True: []}
        cycle_spans = []
        timed, k = 0.0, 0
        # a traced run brackets each traced cycle with untraced ones (U T U ...),
        # so the JVM's continued warming does not bias trace.overhead_s
        while timed < args.seconds or len(results[False]) < 1 + args.trace or len(results[True]) < args.trace:
            traced = bool(args.trace) and k % 2 == 1
            tracer.traced = traced
            tracer.run_id = f"{args.workload}-{args.seed}-{k}"
            try:
                with tracer.span("cycle", layer="bench") as sp:
                    c = cycle(k)
            except Exception:
                traceback.print_exc()
                ops.failed += 1
                break
            finally:
                tracer.traced = False
            check(c)
            shutil.rmtree(os.path.join(work, f"cycle-{k}"), ignore_errors=True)
            timed += sp.seconds
            results[traced].append(c)
            if traced:
                cycle_spans.append(sp)
            k += 1

        per_layer["process.peak_rss_mb"] = (
            jvm_peak_rss_mb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
        if cycle_spans:
            for c, m in zip(results[True], traced_layer_metrics(spark, tracer, cycle_spans)):
                c.update(m)
                layer_jobs = sum(m[f"{layer}.jobs"] for layer in ledger.JOB_LAYERS)
                ops.check(
                    "ledger", lambda: [] if layer_jobs == m["spark.jobs"]
                    else [f"layer jobs sum to {layer_jobs}, cycle ran {m['spark.jobs']}"],
                )
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    def med(rows: list[dict], name: str) -> float:
        return ledger.median([c.get(name, 0) for c in rows])

    if args.trace:
        traced = results[True]
        units = declared_metrics("per_layer")
        for name in units:
            per_layer.setdefault(name, med(traced, name))
        per_layer["trace.overhead_s"] = med(traced, "wall_s") - med(results[False], "wall_s")
        per_layer["bench.error_rate"] = ops.failed / max(1, ops.attempted)
        values = per_layer
    else:
        values = {"setup_s": setup_s, "wall_s": med(results[False], "wall_s")}
        units = declared_metrics("end_to_end")
    return {
        "correct": ops.failed == 0,
        "attempted": max(1, ops.attempted),
        "failed": ops.failed,
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in units.items()},
        "cycles": len(results[False]) + len(results[True]),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=None, help="result file to append to")
    ap.add_argument("--tables", default=None, help="query_mix: run on this corpus instead of generating one")
    args = ap.parse_args()
    if not (
        os.path.isfile(os.path.join(ROOT, "kafka_replicator_spark", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "bench.py"))
    ):
        print("perfbench: run from the root of a checkout (kafka_replicator_spark/ and bench.py not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    res = run(args)
    tagged = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "cycles": res.pop("cycles")}
    with open(args.out or os.path.join(ROOT, ".bench_out", "results.jsonl"), "a") as fh:
        fh.write(json.dumps({**tagged, **res}) + "\n")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
