"""Range-partition prefix stitch — the shared scaffold of the engine's
exact global-order operators (2-D skyline, token-budget shard planner;
curriculum_buckets predates it with a rank-count variant).

Shape: range-partition on the order key, sort within partitions, tag rows
with their partition id, then give every partition the fold (max/sum) of
the value column over all STRICTLY earlier partitions via one driver-side
pass over per-partition aggregates (metadata-scale: one value per
partition) and a broadcast join — never a global single-partition window.

Invariant carried here once, for every caller: the tagged frame is cached
(cacheutil.track_cached) BEFORE the per-partition aggregates are collected,
because the final plan's correctness depends on the SAME range placement
the stitch observed — an uncached recompute could resample range boundaries.
Callers must keep using the returned frame (not rebuild it) and release via
cacheutil.release_cached() after their output action.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_replicator_spark.cacheutil import track_cached
from kafka_replicator_spark.core.schema import local_frame


def range_prefix_stitch(
    df: DataFrame,
    order_col: str,
    value_col: str,
    agg: str = "max",
    partitions: int | None = None,
    extra_sum_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns ``(tagged, prefix)``:

    * ``tagged`` — ``df`` range-partitioned and sorted on ``order_col``,
      with a ``__pid`` partition-id column, cached and registered for
      release.
    * ``prefix`` — one row per partition: ``__pid`` plus ``__prefix``, the
      ``agg`` ("max" or "sum") of ``value_col`` over all earlier
      partitions (NULL / 0 for the first partition respectively), typed
      like ``value_col`` so non-integer value columns work unchanged.
      With ``extra_sum_col`` set, the prefix also carries ``__sprefix``,
      the running SUM of that column over earlier partitions — computed in
      the SAME per-partition collect (one job, not two), for consumers
      that need both a rank offset and a value running total (e.g. Lorenz
      cuts).
    """
    if agg not in ("max", "sum"):
        raise ValueError(f"agg must be max|sum, got {agg!r}")
    # default to the session's shuffle width — a fixed literal caps
    # parallelism at scale; the stitched output is partition-count-invariant
    if partitions is None:
        partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    def _is_float(col: str) -> bool:
        return df.schema[col].dataType.simpleString() in ("double", "float")

    # float SUMS change with the partition count (accumulation order) —
    # the invariance contract only holds for integer/DECIMAL folds; max is
    # order-free, so float value columns stay allowed for agg="max"
    if agg == "sum" and _is_float(value_col):
        raise ValueError(
            f"value_col {value_col!r} is floating-point; agg='sum' requires "
            "an integer/DECIMAL column (quantize the measure first)"
        )
    if extra_sum_col is not None and _is_float(extra_sum_col):
        raise ValueError(
            f"extra_sum_col {extra_sum_col!r} is floating-point; running "
            "sums require an integer/DECIMAL column (quantize first)"
        )
    tagged = track_cached(
        df.repartitionByRange(partitions, order_col)
        .sortWithinPartitions(order_col)
        .select("*", F.spark_partition_id().alias("__pid"))
    )
    aggfn = F.max if agg == "max" else F.sum
    aggs = [aggfn(value_col).alias("v")]
    if extra_sum_col is not None:
        aggs.append(F.sum(extra_sum_col).alias("s"))
    per_pid = {
        r["__pid"]: r for r in tagged.groupBy("__pid").agg(*aggs).collect()
    }

    # zero of the column's own Python type (float SUMS are rejected above;
    # float value columns only reach here under agg="max", whose
    # accumulator starts as None)
    def _zero(col: str):
        if tagged.schema[col].dataType.simpleString().startswith("decimal"):
            from decimal import Decimal

            return Decimal(0)
        return 0

    rows, acc = [], (None if agg == "max" else _zero(value_col))
    sacc = _zero(extra_sum_col) if extra_sum_col is not None else 0
    for pid in sorted(per_pid):
        rows.append((pid, acc, sacc) if extra_sum_col is not None else (pid, acc))
        v = per_pid[pid]["v"]
        # a range partition whose value_col is all NULL aggregates to NULL —
        # contribute nothing (max) / zero (sum), like SQL (ADVICE r06)
        if agg == "max":
            if v is not None:
                acc = v if acc is None else max(acc, v)
        else:
            acc += v if v is not None else _zero(value_col)
        if extra_sum_col is not None:
            # an all-NULL partition sums to NULL; contribute 0, like SQL SUM
            sacc += per_pid[pid]["s"] or 0
    dtype = tagged.schema[value_col].dataType.simpleString()
    schema = f"__pid int, __prefix {dtype}"
    if extra_sum_col is not None:
        sdtype = tagged.schema[extra_sum_col].dataType.simpleString()
        schema += f", __sprefix {sdtype}"
    prefix = local_frame(tagged.sparkSession, rows, schema)
    return tagged, prefix


def grouped_rank_cumsum(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    sum_col: str | None = None,
    partitions: int | None = None,
    keep_pid: bool = False,
) -> DataFrame:
    """Exact per-group ``row_number`` (``__grank``, 1-based, ordered by
    ``order_cols``) and, with ``sum_col`` set, the inclusive per-group
    running sum (``__gcumsum``) — WITHOUT ``Window.partitionBy(group_col)``.

    A per-group global window serializes each group onto one task; when the
    group is a corpus source (O(10-100) values over the whole corpus) each
    window partition is a multi-TB single-task sort at scale.  This variant
    applies the range-prefix-stitch recipe at group grain instead: range
    partition on (group, *order) so each group occupies a contiguous run of
    bounded partitions, compute per-(partition, group) counts/sums (metadata
    scale: ≤ partitions + groups rows), accumulate exclusive prefixes per
    group on the driver in partition order, and add them to partition-LOCAL
    windows keyed by (__pid, group) — every window partition is at most one
    range partition's slice of one group, never a whole group.

    Counts and integer sums are exact, so the output is bit-identical to
    the per-group global window it replaces (the oracle parity pins it).
    Reference anchor: the engine's bounded prefix-sum take
    (pkg/compaction/compactor.go:205-242) applied at corpus scale — the
    reference never lets one worker sort another partition's data.

    The returned frame rides the stitch cache invariant: the tagged frame
    is cached before the per-partition aggregates are collected (the final
    plan must see the SAME range placement); release via
    cacheutil.release_cached() after the output action.

    ``partitions`` defaults to the session's ``spark.sql.shuffle.partitions``
    — a fixed literal would cap parallelism (corpus/16 rows through one
    sort task is itself the single-task bottleneck this helper exists to
    remove); the output is partition-count-invariant (exact integer
    counts/sums), so a cluster tunes this freely.
    """
    if partitions is None:
        partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if sum_col is not None and df.schema[sum_col].dataType.simpleString() in (
        "double",
        "float",
    ):
        # float accumulation order varies with the partition count, which
        # would break BOTH the bit-identical-to-global-window contract and
        # the partition-count invariance — fail fast, don't drift silently
        raise ValueError(
            f"sum_col {sum_col!r} is floating-point; grouped_rank_cumsum "
            "guarantees exact partition-invariant sums for integer/DECIMAL "
            "columns only (quantize the measure first)"
        )
    tagged = track_cached(
        df.repartitionByRange(partitions, group_col, *order_cols)
        .sortWithinPartitions(group_col, *order_cols)
        .select("*", F.spark_partition_id().alias("__pid"))
    )
    aggs = [F.count(F.lit(1)).alias("c")]
    if sum_col is not None:
        # the non-null count rides along so the stitched running sum can
        # reproduce SQL window-SUM's NULL-until-first-value semantics
        aggs.extend([F.sum(sum_col).alias("s"), F.count(F.col(sum_col)).alias("nn")])
    per_pid_group = tagged.groupBy("__pid", group_col).agg(*aggs).collect()

    def _zero(col: str):
        # zero of the column's own Python type (float sum_cols are rejected
        # above, so only DECIMAL needs special handling here)
        if tagged.schema[col].dataType.simpleString().startswith("decimal"):
            from decimal import Decimal

            return Decimal(0)
        return 0

    by_group: dict = defaultdict(list)
    for r in per_pid_group:
        if r[group_col] is None:
            # the prefix join on [__pid, group_col] is null-UNSAFE — NULL
            # group rows would silently vanish from the output, while the
            # Window.partitionBy(group) this helper is bit-identical to
            # keeps them as their own partition.  Fail fast (mirroring the
            # float-sum guard) rather than drop rows; detection rides the
            # metadata collect, so this costs no extra job (ADVICE r09).
            raise ValueError(
                f"group_col {group_col!r} contains NULL values; "
                "grouped_rank_cumsum's prefix join is null-unsafe and would "
                "drop those rows — filter or sentinel-map NULL groups first"
            )
        by_group[r[group_col]].append(r)
    rows = []
    for g, rs in by_group.items():
        rs.sort(key=lambda r: r["__pid"])
        racc = 0
        sacc = _zero(sum_col) if sum_col is not None else 0
        nnacc = 0
        for r in rs:
            rows.append(
                (r["__pid"], g, racc, sacc, nnacc)
                if sum_col is not None
                else (r["__pid"], g, racc)
            )
            racc += r["c"]
            if sum_col is not None:
                # an all-NULL slice sums to NULL; contribute 0, like SQL SUM
                sacc += r["s"] if r["s"] is not None else _zero(sum_col)
                nnacc += r["nn"]
    gtype = tagged.schema[group_col].dataType.simpleString()
    schema = f"__pid int, {group_col} {gtype}, __rprefix bigint"
    if sum_col is not None:
        schema += f", __sprefix {tagged.schema[sum_col].dataType.simpleString()}"
        schema += ", __nnprefix bigint"
    prefix = local_frame(tagged.sparkSession, rows, schema)
    w = Window.partitionBy("__pid", group_col).orderBy(*order_cols)
    out = tagged.join(F.broadcast(prefix), ["__pid", group_col]).withColumn(
        "__grank", (F.row_number().over(w) + F.col("__rprefix")).cast("long")
    )
    if sum_col is not None:
        cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        stype = tagged.schema[sum_col].dataType.simpleString()
        local_sum = F.sum(sum_col).over(cum)
        local_nn = F.count(F.col(sum_col)).over(cum)
        out = out.withColumn(
            "__gcumsum",
            F.when(local_nn + F.col("__nnprefix") == 0, F.lit(None).cast(stype)).otherwise(
                F.coalesce(local_sum, F.lit(0).cast(stype)) + F.col("__sprefix")
            ),
        )
    drop = ["__rprefix", "__sprefix", "__nnprefix"]
    if not keep_pid:
        # ``keep_pid=True`` retains the stitch's range-partition id for
        # callers that shard further sequential work per (__pid, group)
        # slice (the pack boundary walk) — the cached tagged frame pins the
        # placement, so __pid is stable across the caller's later passes
        drop.append("__pid")
    return out.drop(*drop)
