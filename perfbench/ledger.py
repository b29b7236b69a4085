"""Traced-run collector: spans around each layer call, plus Spark's own job,
stage and streaming-progress records read at the same boundaries.

Spans are recorded by the benchmark's code around its calls into the
package, kept in memory and written out at the end.  Spark jobs are
attributed to layers by job group: a plain layer call runs under a job
group naming its span, and a streaming query's jobs run under the group
Spark gives them, the query's ``runId``, which is mapped to the span that
started the query.  A job whose group is unknown is left unattributed, so
the per-layer job counts then fall short of the cycle's total.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: layers that launch Spark jobs; each gets the SPARK_METRICS below
JOB_LAYERS = (
    "streaming.egress_stream",
    "streaming.ingress_stream",
    "operators.compaction",
    "sources.segments",
    "queries",
)
SPARK_METRICS = (
    "jobs",
    "stages",
    "tasks",
    "job_s",
    "executor_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "input_bytes",
    "task_skew",
)


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    run_id: str  # one per cycle: spans of one cycle share it
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``traced=True`` also tags Spark jobs by span."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._group_to_span: dict[str, int] = {}
        self.run_id = ""

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(len(self.spans), name, layer or name, self.run_id, parent, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        if self.traced:
            group = f"perfbench-{sp.span_id}"
            self._group_to_span[group] = sp.span_id
            self.spark.sparkContext.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.traced:
                sc = self.spark.sparkContext
                if self._stack:
                    sc.setJobGroup(f"perfbench-{self._stack[-1].span_id}", self._stack[-1].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def bind_stream(self, query, sp: Span) -> None:
        """Attribute a streaming query's jobs (group = its runId) to ``sp``
        and record its progress counters on the span."""
        self._group_to_span[str(query.runId)] = sp.span_id
        sp.counts.update(stream_progress(query))

    def span_of_group(self, group: str | None) -> int | None:
        return self._group_to_span.get(group) if group else None

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


def stream_progress(query) -> dict:
    """Batches and time split of a finished streaming query, from
    ``recentProgress``: overhead = Σ triggerExecution − addBatch."""
    progress = [p for p in query.recentProgress if p.numInputRows > 0]
    add = sum(p.durationMs.get("addBatch", 0) for p in progress) / 1000.0
    trig = sum(p.durationMs.get("triggerExecution", 0) for p in progress) / 1000.0
    return {
        "batches": len(progress),
        "add_batch_s": add,
        "overhead_s": trig - add,
        "input_rows": sum(p.numInputRows for p in progress),
    }


CATALYST_PHASES = ("analysis", "optimization", "planning")


def catalyst_phases(df) -> dict[str, float]:
    """Milliseconds per Catalyst phase from the query's own tracker.  A noop
    write plans a copy of the query, so this plans the original too."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    tracked = qe.tracker().phases()
    out = {}
    for p in CATALYST_PHASES:
        phase = _opt(tracked.get(p))
        if phase is not None:
            out[p] = float(phase.durationMs())
    return out


# --------------------------------------------------------------------------
# Spark status-store records
# --------------------------------------------------------------------------


@dataclass
class JobRecord:
    job_id: int
    group: str | None
    submit: float  # epoch seconds
    end: float
    stages: list[dict]


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(jvm, s) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(s))


def wait_for_idle(spark, timeout: float = 5.0) -> None:
    """The status store is fed by the listener bus; wait until it has seen
    every job finish."""
    store = spark.sparkContext._jsc.sc().statusStore()
    deadline = time.time() + timeout
    jvm = spark.sparkContext._jvm
    while time.time() < deadline:
        jobs = _seq(jvm, store.jobsList(None))
        if all(str(j.status()) != "RUNNING" for j in jobs):
            return
        time.sleep(0.05)


def read_jobs(spark, since: float, until: float) -> list[JobRecord]:
    """Every job submitted in [since, until] with its executed stages'
    metrics and the max/median task time of each stage."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    quant = sc._gateway.new_array(jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0
    no_quant = sc._gateway.new_array(jvm.double, 0)
    stage_cache: dict[int, dict] = {}
    out = []
    for j in _seq(jvm, store.jobsList(None)):
        sub = _opt(j.submissionTime())
        if sub is None:
            continue
        t_sub = sub.getTime() / 1000.0
        if not (since - 0.002 <= t_sub <= until + 0.002):
            continue
        done = _opt(j.completionTime())
        stages = []
        for sid in _seq(jvm, j.stageIds()):
            sid = int(sid)
            if sid not in stage_cache:
                stage_cache[sid] = _stage(jvm, store, sid, quant, no_quant)
            if stage_cache[sid] is not None:
                stages.append(stage_cache[sid])
        out.append(
            JobRecord(
                int(j.jobId()), _opt(j.jobGroup()), t_sub,
                done.getTime() / 1000.0 if done is not None else t_sub, stages,
            )
        )
    return out


def _stage(jvm, store, sid: int, quant, no_quant) -> dict | None:
    """Metrics of the executed attempt of stage ``sid``; None when skipped."""
    attempts = [
        a for a in _seq(jvm, store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_quant))
        if str(a.status()) == "COMPLETE"
    ]
    if not attempts:
        return None
    a = attempts[-1]
    skew = 1.0
    summary = _opt(store.taskSummary(sid, a.attemptId(), quant))
    if summary is not None:
        med, mx = list(_seq(jvm, summary.duration()))
        skew = mx / med if med > 0 else 1.0
    return {
        "stage_id": sid,
        "tasks": int(a.numCompleteTasks()),
        "run_s": a.executorRunTime() / 1000.0,
        "cpu_s": a.executorCpuTime() / 1e9,
        "input_bytes": int(a.inputBytes()),
        "shuffle_read_bytes": int(a.shuffleReadBytes()),
        "shuffle_write_bytes": int(a.shuffleWriteBytes()),
        "task_skew": skew,
    }


def attribute(tracer: Tracer, jobs: list[JobRecord]) -> dict[int, list[JobRecord]]:
    """span_id -> jobs, by job group only; jobs of an unknown group are
    left out."""
    by_span: dict[int, list[JobRecord]] = {}
    for job in jobs:
        sid = tracer.span_of_group(job.group)
        if sid is not None:
            by_span.setdefault(sid, []).append(job)
    return by_span


def spark_layer_metrics(jobs: list[JobRecord]) -> dict[str, float]:
    """The SPARK_METRICS of one layer over its jobs.  A stage shared by two
    jobs of the layer is counted once."""
    stages = {s["stage_id"]: s for j in jobs for s in j.stages}
    longest = max(stages.values(), key=lambda s: s["run_s"], default=None)
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages.values()),
        "job_s": sum(j.end - j.submit for j in jobs),
        "executor_cpu_s": sum(s["cpu_s"] for s in stages.values()),
        "shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages.values()),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages.values()),
        "input_bytes": sum(s["input_bytes"] for s in stages.values()),
        "task_skew": longest["task_skew"] if longest else 0.0,
    }


def busy_seconds(jobs: list[JobRecord], lo: float, hi: float) -> float:
    """Length of the union of job intervals, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(lo, j.submit), min(hi, j.end)) for j in jobs):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0
