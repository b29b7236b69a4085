#!/usr/bin/env python3
"""Compare two result files written by ``run.py --out``.

    python3 perfbench/compare.py base.jsonl change.jsonl [--benchmark BENCHMARK.json]

For every workload and metric present on both sides it prints each side's
median and quartiles over its runs, and the change in the median as a share
of the base median.  A metric whose spread on either side — the distance
between the quartiles as a share of the median — exceeds the metric's bound
in BENCHMARK.json is marked ``unresolved``: its delta says nothing.
Per-layer metrics have no bound and are never marked.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys


def load(path: str) -> dict[tuple[str, str], list[float]]:
    """(workload, metric) -> values, one per run."""
    out: dict[tuple[str, str], list[float]] = {}
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            rec = json.loads(line)
            for name, m in rec["metrics"].items():
                out.setdefault((rec["workload"], name), []).append(float(m["value"]))
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def spread(values: list[float]) -> float:
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else float("inf")


def compare(base: dict, change: dict, bounds: dict[str, float]) -> list[dict]:
    rows = []
    for key in sorted(set(base) & set(change)):
        workload, metric = key
        b, c = base[key], change[key]
        bq, cq = quartiles(b), quartiles(c)
        bound = bounds.get(metric)
        unresolved = bound is not None and max(spread(b), spread(c)) > bound
        rows.append(
            {
                "workload": workload,
                "metric": metric,
                "base": bq,
                "change": cq,
                "n": (len(b), len(c)),
                "delta": (cq[1] - bq[1]) / abs(bq[1]) if bq[1] else float("nan"),
                "unresolved": unresolved,
            }
        )
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    args = ap.parse_args()
    with open(args.benchmark) as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    rows = compare(load(args.base), load(args.change), bounds)
    if not rows:
        print("no (workload, metric) pair in common", file=sys.stderr)
        return 1
    print(f"{'workload':<22} {'metric':<44} {'base q1/med/q3':>26} {'change q1/med/q3':>26} {'n':>7} {'delta':>8}")
    for r in rows:
        fmt = "/".join(f"{v:.4g}" for v in r["base"]), "/".join(f"{v:.4g}" for v in r["change"])
        print(
            f"{r['workload']:<22} {r['metric']:<44} {fmt[0]:>26} {fmt[1]:>26} "
            f"{r['n'][0]:>3}/{r['n'][1]:<3} {r['delta']:>+8.1%}" + ("  unresolved" if r["unresolved"] else "")
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
