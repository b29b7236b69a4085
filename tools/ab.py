#!/usr/bin/env python3
"""Commit-to-commit A/B of the declared benchmark, and a per-query job ledger.

    python3 tools/ab.py BASE [CHANGE] --seeds 61-70
    python3 tools/ab.py --ledger [REV]

A/B: BASE, and CHANGE when given, is checked out as a detached ``git
worktree`` under a scratch directory; without CHANGE the change side is
this working tree, uncommitted edits included.  Both sides run the CHANGE
side's ``perfbench/run.py`` (identical benchmark code on both sides), each
with its working directory set to its own tree, from which run.py imports
the package.  For every workload in BENCHMARK.json it runs one untraced
pair per seed with ``--seconds run_seconds``, odd seeds BASE first, so the
order alternates; then ``perfbench/compare.py`` over the two result files,
and one traced pair on the first seed, printed as per-layer deltas.  The
seed range must hold ``PAIRS`` seeds; take seeds not used while writing
the change.  Result files and run logs stay in the scratch directory
(``$TMPDIR``), whose path is printed; the worktrees are removed.

Ledger: one session on the corpus at ``$SPARK_GRAFT_SF_DIR`` (REV's tree,
or this working tree) runs one untraced warm pass over every
``bench.HEADLINE`` query, then one traced pass, each query constructed and
written to the noop sink.  It prints one line per query: the jobs run while
constructing and while writing, their summed job seconds, and the Catalyst
analysis / optimization / planning ms, read with perfbench's ledger.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import traceback
from contextlib import ExitStack, contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: untraced pairs per workload
PAIRS = 10


def seed_range(text: str) -> range:
    """``A-B`` → seeds A..B inclusive."""
    lo, _, hi = text.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def pair_schedule(seeds: range) -> list[tuple[int, tuple[str, str]]]:
    """(seed, run order) per pair: odd seeds run BASE first, even seeds
    CHANGE first, so consecutive seeds alternate."""
    if len(seeds) != PAIRS:
        raise ValueError(f"the protocol runs {PAIRS} pairs; got {len(seeds)} seeds")
    return [(s, ("base", "change") if s % 2 else ("change", "base")) for s in seeds]


@contextmanager
def worktree(rev: str, scratch: str, repo: str = REPO):
    """A detached checkout of ``rev`` under ``scratch``, removed on exit."""
    path = tempfile.mkdtemp(prefix="tree-", dir=scratch)
    subprocess.run(
        ["git", "-C", repo, "worktree", "add", "--quiet", "--detach", path, rev], check=True
    )
    try:
        yield path
    finally:
        subprocess.run(["git", "-C", repo, "worktree", "remove", "--force", path], check=True)


def perf_run(runner: str, tree: str, workload: str, seed: int, seconds: float, trace: int,
             out: str, log: str) -> dict | None:
    """One ``run.py`` run in ``tree``; its result line, or None when it
    exits non-zero (its stderr is in ``log``)."""
    cmd = [sys.executable, runner, "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--out", out]
    with open(log, "a") as fh:
        p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=fh, text=True)
    if p.returncode:
        return None
    return json.loads(p.stdout.strip().splitlines()[-1])


def ab(base: str, change: str | None, seeds: range) -> int:
    schedule = pair_schedule(seeds)
    scratch = tempfile.mkdtemp(prefix="ab-")
    failures = 0
    with ExitStack() as stack:
        trees = {"base": stack.enter_context(worktree(base, scratch))}
        trees["change"] = stack.enter_context(worktree(change, scratch)) if change else REPO
        runner = os.path.join(trees["change"], "perfbench", "run.py")
        bench_json = os.path.join(trees["change"], "BENCHMARK.json")
        with open(bench_json) as fh:
            bench = json.load(fh)
        layer_names = [m["name"] for m in bench["per_layer"]]

        def run(workload: str, seed: int, side: str, trace: int) -> dict | None:
            nonlocal failures
            stem = os.path.join(scratch, f"{workload}-{side}" + ("-traced" if trace else ""))
            res = perf_run(runner, trees[side], workload, seed, bench["run_seconds"], trace,
                           stem + ".jsonl", stem + ".log")
            if res is None or res["failed"]:
                failures += 1
            shown = "" if res is None or trace else " ".join(
                f"{k} {m['value']:.2f}" for k, m in res["metrics"].items()
            )
            status = f"exit != 0, see {stem}.log" if res is None else f"failed {res['failed']}"
            print(f"{workload:<22} seed {seed:>4} {side:<6} {shown} {status}", flush=True)
            return res

        for w in (wl["name"] for wl in bench["workloads"]):
            for seed, order in schedule:
                for side in order:
                    run(w, seed, side, 0)
            subprocess.run(
                [sys.executable, os.path.join(trees["change"], "perfbench", "compare.py"),
                 os.path.join(scratch, f"{w}-base.jsonl"), os.path.join(scratch, f"{w}-change.jsonl"),
                 "--benchmark", bench_json],
                check=False,
            )
            seed, order = schedule[0]
            traced = {side: run(w, seed, side, 1) for side in order}
            if None in traced.values():
                continue
            print(f"{w + ' traced, seed ' + str(seed):<44} {'base':>12} {'change':>12} {'delta':>8}")
            for name in layer_names:
                b, c = (traced[s]["metrics"].get(name, {}).get("value") for s in ("base", "change"))
                if b is None or c is None or b == c == 0:
                    continue
                delta = f"{(c - b) / abs(b):+8.1%}" if b else f"{'':>8}"
                print(f"{name:<44} {b:>12.4g} {c:>12.4g} {delta}", flush=True)
    print(f"results and logs: {scratch}")
    return 1 if failures else 0


def ledger(tree: str, sf_dir: str, work: str) -> int:
    """The per-query ledger of the package in ``tree`` (see the module doc).
    The process's working directory is ``tree`` from here on, so the Spark
    workers import the same package; ``work`` holds the session's scratch."""
    os.chdir(tree)
    sys.path[:0] = [tree, os.path.join(REPO, "perfbench")]
    import bench
    import ledger as perf_ledger
    import run as perfbench_run

    from kafka_replicator_spark.cacheutil import release_cached
    from kafka_replicator_spark.queries import all_queries

    spark = perfbench_run.start_session(work)
    try:
        registry = all_queries()
        tracer = perf_ledger.Tracer(spark, traced=False)
        for traced in (False, True):
            tracer.traced = traced
            spans: dict[str, tuple | None] = {}
            for name in bench.HEADLINE:
                try:
                    with tracer.span(f"queries.{name}", layer="queries"):
                        with tracer.span("queries.construct", layer="queries") as sp_c:
                            df = registry[name].fn(spark, sf_dir)
                        with tracer.span("queries.action", layer="queries") as sp_a:
                            df.write.format("noop").mode("overwrite").save()
                    spans[name] = (sp_c, sp_a, perf_ledger.catalyst_phases(df) if traced else {})
                except Exception:
                    traceback.print_exc()
                    spans[name] = None
                finally:
                    release_cached()
        tracer.traced = False
        perf_ledger.wait_for_idle(spark)
        done = [s for s in spans.values() if s is not None]
        jobs = perf_ledger.read_jobs(
            spark, min(s[0].start for s in done), max(s[1].end for s in done)
        ) if done else []
        by_span = perf_ledger.attribute(tracer, jobs)
    finally:
        perfbench_run.stop_session(spark)

    phases = perf_ledger.CATALYST_PHASES
    print(f"{'query':<40} {'construct_jobs':>14} {'action_jobs':>11} {'job_s':>7} "
          + " ".join(f"{p + '_ms':>15}" for p in phases))
    totals = [0, 0, 0.0]
    for name, s in spans.items():
        if s is None:
            print(f"{name:<40} ERROR")
            continue
        cj, aj = by_span.get(s[0].span_id, []), by_span.get(s[1].span_id, [])
        job_s = perf_ledger.spark_layer_metrics(cj + aj)["job_s"]
        totals = [totals[0] + len(cj), totals[1] + len(aj), totals[2] + job_s]
        print(f"{name:<40} {len(cj):>14} {len(aj):>11} {job_s:>7.2f} "
              + " ".join(f"{s[2].get(p, 0.0):>15.1f}" for p in phases))
    print(f"{'total':<40} {totals[0]:>14} {totals[1]:>11} {totals[2]:>7.2f}")
    return 1 if None in spans.values() else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", nargs="?", help="A/B: the base revision")
    ap.add_argument("change", nargs="?", help="A/B: the change revision (default: this working tree)")
    ap.add_argument("--seeds", type=seed_range, help=f"A/B: {PAIRS} seeds, e.g. 61-70")
    ap.add_argument("--ledger", nargs="?", const="", metavar="REV",
                    help="per-query ledger of REV (default: this working tree)")
    args = ap.parse_args()
    if args.ledger is not None:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
        if not sf_dir or args.base:
            ap.error("--ledger takes at most REV and needs $SPARK_GRAFT_SF_DIR")
        with tempfile.TemporaryDirectory(prefix="ab-") as scratch, ExitStack() as stack:
            tree = stack.enter_context(worktree(args.ledger, scratch)) if args.ledger else REPO
            return ledger(tree, os.path.abspath(sf_dir), scratch)
    if not args.base or args.seeds is None:
        ap.error("an A/B needs BASE and --seeds")
    try:
        pair_schedule(args.seeds)
    except ValueError as e:
        ap.error(str(e))
    return ab(args.base, args.change, args.seeds)


if __name__ == "__main__":
    sys.exit(main())
