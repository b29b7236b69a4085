"""Round-13 pipeline queries.

First entry: the drift-triggered RETRAIN DECISION over a persisted
coarse-quantizer model (VERDICT r12 #2 — the index-build vs serve split).
A production 100 TB continuously-ingesting index trains its kmeans model
ONCE at build time (here: on the index-build-time half of the corpus, the
vectors with vec_id below the midpoint) and persists it; the serve side
loads the frozen artifact, assigns ALL current vectors against it, and
periodically asks "has the corpus drifted enough under each frozen cell
that the cell should retrain?".  The drift statistic is the
centroid-shift recipe (p_dedup_centroid_shift / p_split_centroid_shift)
applied per cell: squared L2 between the frozen centroid and the cell's
CURRENT member mean, both in exact integer micro-units.  The policy is a
literal-threshold relative gate — retrain the cells whose drift exceeds
1.2x the mean cell drift (pure integer comparison:
``10 * shift * K > 12 * total``) — with the absolute statistic shipped
alongside so an absolute gate can be calibrated from the same output.

The Spark side drives the REAL persisted path end-to-end: kmeans_train →
save_kmeans_model (self-describing parquet artifact) → load_kmeans_model
→ ivf_assign_trained(model=loaded) — save→load→assign is bit-identical
to assigning from the in-lineage frame (the artifact stores the exact
micro-derived doubles), so the DuckDB oracle replays the whole chain
relationally with the shared kmeans/assignment builders.
"""

from __future__ import annotations

import hashlib
import math
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_replicator_spark.cacheutil import track_cached
from kafka_replicator_spark.core.schema import local_frame
from kafka_replicator_spark.functions import similarity as _sim
from kafka_replicator_spark.queries import register
from kafka_replicator_spark.sources.tables import load_table

# ------------------------------------------ persisted-model retrain gate

#: the index-build-time corpus: vectors below the vec_id midpoint
#: (lo + span // 2 with span = hi - lo + 1 — the incremental family's
#: integer-division bound rule, replayed by the scalar subquery below)
_HALF_REL = (
    "(SELECT vec_id, embedding FROM embeddings WHERE vec_id < "
    "(SELECT min(vec_id) + ((max(vec_id) - min(vec_id) + 1) // 2) "
    "FROM embeddings))"
)

_RETRAIN_K = 8
_RETRAIN_ITERS = 2

#: p_model_retrain_decision's result: one row per frozen cell.
RETRAIN_DECISION_SCHEMA = T.StructType(
    [
        T.StructField("cluster", T.LongType()),
        T.StructField("n_members_now", T.LongType()),
        T.StructField("shift_sq_micro2", T.LongType()),
        T.StructField("retrain", T.IntegerType()),
    ]
)


def _half_model_assign_block() -> str:
    """Open WITH block: half-corpus kmeans model + FULL-corpus assignment
    against the frozen half model, ending in ``assigned`` = (vec_id, e,
    centroid_id) — delegated entirely to the shared trained-assignment
    generator (assign_rel=, the serve-path form) so the argmin rule has
    ONE text across the retrain-decision / reassignment-delta /
    stale-recall oracles and every other trained consumer."""
    return _sim.ivf_assign_trained_sql_ctes(
        _RETRAIN_K, _RETRAIN_ITERS, rel=_HALF_REL, assign_rel="embeddings"
    )


def _retrain_decision_sql() -> str:
    """Half-corpus frozen-model assignment + per-cell centroid-shift +
    the relative retrain gate."""
    return f"""
{_half_model_assign_block()},
frozen AS (
  SELECT cluster, dim,
         CAST(floor(s_micro / CAST(n_members AS DOUBLE) + 0.5) AS BIGINT) AS mu_frozen
  FROM s{_RETRAIN_ITERS}
),
cur AS (
  SELECT centroid_id, CAST(t.dim AS BIGINT) AS dim,
         CAST(floor(sum(CAST(floor(e[t.dim] * 1e6 + 0.5) AS BIGINT))
                    / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT) AS mu_cur,
         count(*) AS n
  FROM assigned, range(1, 65) t(dim)
  GROUP BY 1, 2
),
per AS MATERIALIZED (
  SELECT c.centroid_id AS cluster, CAST(min(c.n) AS BIGINT) AS n_members_now,
         CAST(sum((c.mu_cur - f.mu_frozen) * (c.mu_cur - f.mu_frozen)) AS BIGINT)
           AS shift_sq_micro2
  FROM cur c JOIN frozen f ON f.cluster = c.centroid_id AND f.dim = c.dim
  GROUP BY 1
),
tot AS (SELECT sum(shift_sq_micro2) AS t FROM per)
SELECT cluster, n_members_now, shift_sq_micro2,
       CAST(CASE WHEN 10 * shift_sq_micro2 * {_RETRAIN_K} > 12 * t
            THEN 1 ELSE 0 END AS INTEGER) AS retrain
FROM per, tot
"""


@register(
    "p_model_retrain_decision",
    _retrain_decision_sql(),
    tags=("pipeline", "similarity", "model"),
    doc="drift-triggered retrain/keep decision over a PERSISTED kmeans "
    "coarse-quantizer model (VERDICT r12 #2): train on the index-build-"
    "time half of the corpus (vec_id below the integer midpoint), "
    "save_kmeans_model → load_kmeans_model (the Spark side runs the real "
    "parquet artifact roundtrip — bit-identical by the micro-derived-"
    "double contract), assign the FULL corpus against the frozen model, "
    "then per cell: squared-L2 centroid shift between the frozen "
    "centroid and the cell's current member mean in exact integer "
    "micro-units, and a literal relative gate (retrain iff "
    "10*shift*K > 12*total — drift above 1.2x the mean cell drift; both "
    "branches fire at every tested scale).  The absolute statistic "
    "ships alongside the flag so an absolute gate can be calibrated "
    "(functions/similarity.save_kmeans_model, .load_kmeans_model; the "
    "reference has no model lifecycle — this is the 100 TB serve-path "
    "addition the north-star mandate calls for)",
)
def q_model_retrain_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).collect()[0]
    mid = int(lo) + (int(hi) - int(lo) + 1) // 2
    half = emb.filter(F.col("vec_id") < mid)
    # at K=8 kmeans_train returns a k·dim-row local_frame — no cache
    # needed, collects run no job
    kt = _sim.kmeans_train(half, k=_RETRAIN_K, iters=_RETRAIN_ITERS)
    # the REAL persisted path: save the trained model, load it back, and
    # assign from the LOADED frame (the artifact dir must outlive this
    # function — the returned frame is lazy, so no cleanup here; k rows).
    # Path is deterministic per (process, corpus): repeated invocations in
    # one process (sweeps, bench passes) overwrite one artifact instead of
    # leaking temp dirs, while the pid keeps concurrent processes (a
    # driver pass overlapping a local sweep) from overwrite-racing each
    # other's mid-read artifact.
    path = (
        tempfile.gettempdir()
        + f"/krs_model_{os.getpid()}_"
        + f"{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}/kmeans"
    )
    _sim.save_kmeans_model(
        _sim.kmeans_model_from_train(kt), path,
        n_clusters=_RETRAIN_K, iters=_RETRAIN_ITERS, dim=64,
    )
    loaded, meta = _sim.load_kmeans_model(spark, path)
    assert meta["n_clusters"] == _RETRAIN_K
    assigned = _sim.ivf_assign_trained(
        emb, n_clusters=_RETRAIN_K, model=loaded
    )
    # r14 (fresh-plan floor): the drift statistic folds driver-side from
    # the per-(cell, dim) component sums — k·dim rows of METADATA
    # collected once (the same posexplode + map-side-combined groupBy text
    # the Lloyd update uses; a 64-wide-agg-column flavor was measured and
    # rejected — see similarity._micro_sum_rows).  The ROUNDING mean
    # floor(s/n + 0.5) uses math.floor(float(s)/float(n) + 0.5) — the
    # exact IEEE twin of the column expression (both operands converted to
    # double first), the same rule mu_frozen uses (kmeans_train's
    # centroid_micro), so an unchanged cell reports shift EXACTLY zero.
    # The frozen components are the trainer's rows (one collect of the
    # local_frame), and the squared shift, the total, and the relative
    # gate are pure Python ints — the per-cell join, the 8-row cache, and
    # the total crossJoin disappear from the plan.
    cur_rows = _sim._micro_sum_rows(
        assigned.select(F.col("centroid_id").alias("cluster"), "e"), ["cluster"]
    )
    frozen: dict[int, dict[int, int]] = {}
    for c, d, m in kt.select("cluster", "dim", "centroid_micro").collect():
        frozen.setdefault(int(c), {})[int(d)] = int(m)
    # mirror the replaced inner join + min(n) exactly: (cluster, dim)
    # pairs with no frozen component drop from BOTH aggregates (the join
    # would not match them), and n_members_now is the MIN over the
    # cluster's matched per-dim counts (equal on this corpus's fixed-dim
    # arrays, but the old F.min('n') semantics must not silently become
    # collect-order-dependent)
    shift_by_c: dict[int, int] = {}
    n_by_c: dict[int, int] = {}
    for c, d, s, n in cur_rows:
        fz = frozen.get(c)
        if fz is None or d not in fz:
            continue
        mu = math.floor(float(s) / float(n) + 0.5)
        dlt = mu - fz[d]
        shift_by_c[c] = shift_by_c.get(c, 0) + dlt * dlt
        n_by_c[c] = min(n_by_c.get(c, n), n)
    per = [(c, n_by_c[c], shift_by_c[c]) for c in sorted(shift_by_c)]
    tot = sum(s for _c, _n, s in per)
    return local_frame(
        spark,
        [
            (c, n, s, 1 if 10 * s * _RETRAIN_K > 12 * tot else 0)
            for c, n, s in per
        ],
        RETRAIN_DECISION_SCHEMA,
    )


# --------------------------- compacted-topic mirror of the dedup state

_DS_TAU = 0.40  # inside the corpus cosine range — the drop branch fires
_DS_STRIDE = 250


def _dedup_state_compacted_sql() -> str:
    """Oracle: the one-shot frozen-centroid scan (bit-identical to the
    2-batch fold by the driver-verified batch-split invariance) filtered
    to survivors, with the version count derived from the publish
    schedule (batch-2 keys are published twice — the redelivery)."""
    scan = _sim.semantic_dedup_incremental_sql(
        tau=_DS_TAU, centroid_stride=_DS_STRIDE, n_batches=1
    )
    return f"""
WITH scan AS MATERIALIZED (
  SELECT vec_id, centroid_id, n_near, kept FROM ({scan})
),
bounds AS (
  SELECT min(vec_id) AS lo, max(vec_id) - min(vec_id) + 1 AS span
  FROM embeddings
)
SELECT s.vec_id, s.centroid_id, CAST(s.n_near AS INTEGER) AS n_near,
       CAST(CASE WHEN s.vec_id >= b.lo + b.span // 2 THEN 2 ELSE 1 END
            AS BIGINT) AS n_versions
FROM scan s, bounds b
WHERE s.kept = 1
"""


@register(
    "r_dedup_state_compacted",
    _dedup_state_compacted_sql(),
    tags=("parity", "pipeline", "dedup", "incremental"),
    doc="S5-style compacted-topic mirror of the SEMANTIC DEDUP STATE "
    "table (VERDICT r12 #7 — ties the LLM-pipeline state to the "
    "replicator machinery): the 2-batch incremental ingest publishes "
    "each batch's new state rows as keyed messages (offset = "
    "generation*span + vec_id-lo; DROPPED vectors publish as TOMBSTONES "
    "— null value columns, checkpoint_store.go:187-190), batch 2 is "
    "published TWICE (foreachBatch redelivery after a checkpoint "
    "restart — T13 duplicate tolerance, the deterministic re-emission "
    "the streaming ingest test proves), and the REAL "
    "compacted_topic_state operator replays the log: LWW per vec_id, "
    "tombstoned keys absent from the live state.  Output = live "
    "survivors with their per-key version count (batch-2 keys exactly "
    "2).  The oracle replays the one-shot scan — bit-identical to the "
    "fold by the driver-verified batch-split invariance — and derives "
    "versions from the publish schedule (operators/checkpoints.py:51; "
    "functions/similarity.semantic_dedup_ingest)",
)
def q_dedup_state_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.operators.checkpoints import compacted_topic_state

    emb = track_cached(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).collect()[0]
    lo, hi = int(lo), int(hi)
    span = hi - lo + 1
    mid = lo + span // 2
    centroids = emb.filter(F.col("vec_id") % _DS_STRIDE == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").cast("array<double>").alias("ce"),
    )
    b1 = emb.filter(F.col("vec_id") < mid)
    b2 = emb.filter(F.col("vec_id") >= mid)
    s1 = track_cached(_sim.semantic_dedup_ingest(None, b1, centroids, tau=_DS_TAU))
    s2 = track_cached(_sim.semantic_dedup_ingest(s1, b2, centroids, tau=_DS_TAU))

    def _publish(state: DataFrame, gen: int) -> DataFrame:
        # kept=0 rows publish as tombstones: every value column null
        return state.select(
            "vec_id",
            (F.lit(gen) * F.lit(span) + F.col("vec_id") - F.lit(lo)).alias("offset"),
            F.when(F.col("kept") == 1, F.col("centroid_id")).alias("centroid_id"),
            F.when(F.col("kept") == 1, F.col("n_near")).alias("n_near"),
        )

    new2 = s2.filter(F.col("vec_id") >= mid)
    log = (
        _publish(s1, 0)
        .unionByName(_publish(new2, 1))
        .unionByName(_publish(new2, 2))  # redelivery after restart
    )
    live = compacted_topic_state(
        log, key_cols=["vec_id"], order_col="offset",
        value_cols=["centroid_id", "n_near"],
    )
    versions = log.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_versions")
    )
    return live.join(versions, "vec_id").select(
        "vec_id",
        "centroid_id",
        F.col("n_near").cast("int").alias("n_near"),
        "n_versions",
    )


# ---------------------------------------- T1 age-axis rollover ladder

#: age-window divisors (A = partition ts-span // div) — the T1 age axis
#: had no ladder; size/count got theirs in r11/r12
_AGE_DIVS = (8, 2)


def _age_grid_ctes() -> str:
    """The age-grid CTE body (messages → per-partition spans → age-window
    tags → within-window count rollover), ending in ``seq`` — THE one
    generator of the T1 age-axis model's text, shared by the ladder and
    the compaction-chain oracles."""
    from kafka_replicator_spark.sources.messages import MESSAGES_ORACLE_CTE

    return f"""messages AS MATERIALIZED ({MESSAGES_ORACLE_CTE}),
pm AS MATERIALIZED (
  SELECT topic, partition_id, min(ts_us) AS lo_ts,
         max(ts_us) - min(ts_us) + 1 AS span_ts,
         count(*) AS n
  FROM messages GROUP BY topic, partition_id
),
tagged AS (
  SELECT a.age_div, m.topic, m.partition_id,
         (m.ts_us - p.lo_ts) // greatest(p.span_ts // a.age_div, 1)
           AS age_bucket,
         p.n // 16 + 1 AS max_count,
         m.msg_offset, m.ts_us, m.msg_size
  FROM messages m
  JOIN pm p USING (topic, partition_id),
       (VALUES ({_AGE_DIVS[0]}), ({_AGE_DIVS[1]})) a(age_div)
),
seq AS (
  SELECT age_div, topic, partition_id, age_bucket,
         (row_number() OVER (
            PARTITION BY age_div, topic, partition_id, age_bucket
            ORDER BY msg_offset) - 1) // max_count AS seg_seq,
         msg_offset, ts_us, msg_size
  FROM tagged
)"""


def _t1_age_ladder_sql() -> str:
    return f"""
WITH {_age_grid_ctes()}
SELECT CAST(age_div AS BIGINT) AS age_div, topic, partition_id,
       CAST(age_bucket AS BIGINT) AS age_bucket,
       CAST(seg_seq AS BIGINT) AS seg_seq,
       CAST(count(*) AS BIGINT) AS message_count,
       min(msg_offset) AS start_offset, max(msg_offset) AS end_offset,
       min(ts_us) AS first_ts_us, max(ts_us) AS last_ts_us,
       CAST(sum(msg_size) AS BIGINT) AS size_bytes
FROM seq
GROUP BY 1, 2, 3, 4, 5
"""


def _age_grid_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :func:`_age_grid_ctes`: the tagged message frame
    (age_div, topic, partition_id, age_bucket, seg_seq, msg_offset,
    ts_us, msg_size) — shared by the ladder and the compaction chain."""
    from pyspark.sql import Window

    from kafka_replicator_spark.sources.messages import events_as_messages

    msgs = events_as_messages(spark, sf_dir).select(
        "topic", "partition_id", "msg_offset", "ts_us", "msg_size"
    )
    pm = msgs.groupBy("topic", "partition_id").agg(
        F.min("ts_us").alias("lo_ts"),
        (F.max("ts_us") - F.min("ts_us") + F.lit(1)).alias("span_ts"),
        F.count(F.lit(1)).alias("n"),
    )
    arms = None
    for div in _AGE_DIVS:
        arm = msgs.join(F.broadcast(pm), ["topic", "partition_id"]).select(
            F.lit(div).cast("long").alias("age_div"),
            "topic",
            "partition_id",
            F.expr(
                f"(ts_us - lo_ts) div greatest(span_ts div {div}, 1)"
            ).alias("age_bucket"),
            F.expr("n div 16 + 1").alias("max_count"),
            "msg_offset",
            "ts_us",
            "msg_size",
        )
        arms = arm if arms is None else arms.unionByName(arm)
    w = Window.partitionBy("age_div", "topic", "partition_id", "age_bucket").orderBy(
        "msg_offset"
    )
    seq = arms.select(
        "age_div",
        "topic",
        "partition_id",
        F.col("age_bucket").cast("long").alias("age_bucket"),
        "msg_offset",
        "ts_us",
        "msg_size",
        (F.row_number().over(w) - 1).cast("long").alias("rn0"),
        F.col("max_count"),
    ).select(
        "age_div",
        "topic",
        "partition_id",
        "age_bucket",
        "msg_offset",
        "ts_us",
        "msg_size",
        F.expr("rn0 div max_count").cast("long").alias("seg_seq"),
    )
    return seq


@register(
    "r_t1_age_ladder",
    _t1_age_ladder_sql(),
    tags=("parity", "aggregation", "streaming-model"),
    doc="T1 MaxSegmentAge rollover LADDER (VERDICT r12 #7 — the age axis "
    "had no ladder, unlike size r11/count r12): the streaming egress "
    "models the age timer as the microbatch window (streaming/"
    "egress_stream.py:7-9 — trigger interval ~ MaxSegmentAge; reference "
    "pkg/egress/worker.go:139-141), so the batch replay tags each "
    "message with its span-relative age window (A = partition ts-span "
    "// div, div 8 vs 2) anchored at the partition's first event time, "
    "then the count rollover runs INSIDE each window (row_number per "
    "(partition, window) // (n//16+1) — both thresholds span-/count-"
    "relative so BOTH axes bite at every scale).  Output = per-segment "
    "count/extent/bytes per arm — the segment-count-vs-age frontier the "
    "T1 knob trades (more, smaller segments at div 8)",
)
def q_t1_age_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = _age_grid_frame(spark, sf_dir)
    return seq.groupBy("age_div", "topic", "partition_id", "age_bucket", "seg_seq").agg(
        F.count(F.lit(1)).cast("long").alias("message_count"),
        F.min("msg_offset").alias("start_offset"),
        F.max("msg_offset").alias("end_offset"),
        F.min("ts_us").alias("first_ts_us"),
        F.max("ts_us").alias("last_ts_us"),
        F.sum("msg_size").cast("long").alias("size_bytes"),
    )


# ------------------------------ trained-flavor pair-budget (ppv) ladder


def _trained_ppv_sweep_sql() -> str:
    from kafka_replicator_spark.queries.pipeline_r12 import _ppv_sweep_sql_from

    return _ppv_sweep_sql_from(
        _sim.ivf_assign_trained_sql_ctes(16, 2, 64)[len("WITH ") :]
    )


@register(
    "p_trained_ppv_sweep",
    _trained_ppv_sweep_sql(),
    tags=("pipeline", "dedup", "sweep"),
    doc="pair-budget ladder for the fully LINEAR SemDeDup flavor "
    "(completes the sweep symmetry — the auto-G flavor got "
    "p_planes_budget_sweep in r12): at pairs_per_vec = (16, 64, 256) "
    "over the TRAINED fixed-K assignment, the derived plane count (the "
    "ladder reacts to the fixed-K Sum(c^2) = N^2/K growth with "
    "p ~ log2(N/(K*ppv))), the actual candidate-pair volume, and the "
    "drop count at the audit tau — the accuracy/cost dial VERDICT r12 "
    "priced at ~6 s of scan per plane at 100x.  ONE shared trained "
    "assignment + ONE 16-plane bucket frame feed all arms; the ladder "
    "text is the r12 single-source generator, so the two sweeps can "
    "never fork the metric (queries/pipeline_r12._ppv_sweep_sql_from)",
)
def q_trained_ppv_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.queries.pipeline_r12 import _ppv_sweep_frame

    emb = track_cached(load_table(spark, sf_dir, "embeddings"))
    assigned = track_cached(
        _sim.ivf_assign_trained(emb, n_clusters=16, iters=2)
    )
    return _ppv_sweep_frame(emb, assigned)


# ----------------------------- retrain reassignment delta (reindex cost)


def _retrain_delta_sql() -> str:
    """Frozen half-model assignment (the shared block) vs a FULL-corpus
    retrained assignment, nested as sibling derived tables (the kmeans
    builder owns fixed CTE aliases, so the two training bodies cannot be
    siblings in one WITH — sibling NESTED scopes are the r10-note-legal
    shape)."""
    return f"""
WITH ha AS MATERIALIZED (
  SELECT vec_id, centroid_id FROM (
    {_half_model_assign_block()}
    SELECT vec_id, centroid_id FROM assigned
  )
),
fa AS MATERIALIZED (
  SELECT vec_id, centroid_id FROM (
    {_sim.ivf_assign_trained_sql_ctes(_RETRAIN_K, _RETRAIN_ITERS)}
    SELECT vec_id, centroid_id FROM assigned
  )
),
j AS (
  SELECT h.vec_id, h.centroid_id AS h_cell, f.centroid_id AS f_cell
  FROM ha h JOIN fa f ON f.vec_id = h.vec_id
)
SELECT h_cell AS cluster,
       CAST(count(*) AS BIGINT) AS n_members_frozen,
       CAST(sum(CASE WHEN f_cell <> h_cell THEN 1 ELSE 0 END) AS BIGINT)
         AS n_moved,
       CAST(1000000 * sum(CASE WHEN f_cell <> h_cell THEN 1 ELSE 0 END)
            // count(*) AS BIGINT) AS moved_ppm
FROM j GROUP BY 1
"""


@register(
    "p_retrain_reassignment_delta",
    _retrain_delta_sql(),
    tags=("pipeline", "similarity", "model"),
    doc="the REINDEX COST the retrain decision implies: per frozen cell, "
    "how many vectors change cells when the half-corpus serve model is "
    "retrained on the full corpus (same first-k init lineage, so cluster "
    "ids correspond).  The churn statistic is what a production index "
    "weighs against p_model_retrain_decision's drift gate — retraining "
    "a cell whose members all stay is pure cost, moving members must be "
    "re-scanned by the dedup state (the semantic_dedup_ingest docstring's "
    "'changing the model is a reindex' priced per cell).  Both "
    "assignments replayed relationally; both moved/stayed branches "
    "nonzero at every tested scale (functions/similarity."
    "ivf_assign_trained, .kmeans_model)",
)
def q_retrain_reassignment_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = track_cached(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).collect()[0]
    mid = int(lo) + (int(hi) - int(lo) + 1) // 2
    # r13-opt: the frozen half-corpus model and the full-corpus model
    # train over ONE shared cached scan with the per-iteration sum jobs
    # fused across arms (bit-identical per arm — associative integer
    # sums; pinned by test_kmeans_models_fused_matches_separate), and
    # the full arm assigns from its fused model instead of re-training
    # in-lineage (same centroids — the model rows ARE the final sums)
    m_half, m_full = _sim.kmeans_models_fused(
        emb,
        [F.col("vec_id") < mid, None],
        n_clusters=_RETRAIN_K,
        iters=_RETRAIN_ITERS,
    )
    ha = _sim.ivf_assign_trained(
        emb, n_clusters=_RETRAIN_K, model=m_half
    ).select("vec_id", F.col("centroid_id").alias("h_cell"))
    fa = _sim.ivf_assign_trained(
        emb, n_clusters=_RETRAIN_K, model=m_full
    ).select("vec_id", F.col("centroid_id").alias("f_cell"))
    return (
        ha.join(fa, "vec_id")
        .groupBy(F.col("h_cell").alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members_frozen"),
            F.sum(F.when(F.col("f_cell") != F.col("h_cell"), 1).otherwise(0))
            .cast("long")
            .alias("n_moved"),
            F.expr(
                "CAST(1000000 * sum(CASE WHEN f_cell <> h_cell THEN 1 ELSE 0 END)"
                " div count(1) AS BIGINT)"
            ).alias("moved_ppm"),
        )
    )


# ------------------- egress(age grid) -> REAL compaction chain (T1 x A8)

#: fan-in for the age-chain compaction round (min_count = max_count —
#: the exact-window discipline of the steady-state family)
_AC_FANIN = 3


def _age_chain_sql() -> str:
    """Age-grid segments → the O1 heap-order first-F window per
    partition, per age arm — the closed form of ONE plan_compaction
    round (min_count = max_count = F, no size gate) over the grid's
    listing."""
    return f"""
WITH {_age_grid_ctes()},
segs AS MATERIALIZED (
  SELECT age_div, topic, partition_id,
         min(msg_offset) AS start_offset, max(msg_offset) AS end_offset,
         CAST(count(*) AS BIGINT) AS message_count,
         CAST(sum(msg_size) AS BIGINT) AS size_bytes
  FROM seq GROUP BY age_div, topic, partition_id, age_bucket, seg_seq
),
rk AS (
  SELECT *, row_number() OVER (
           PARTITION BY age_div, topic, partition_id
           ORDER BY start_offset ASC, end_offset DESC) AS rn
  FROM segs
)
SELECT CAST(age_div AS BIGINT) AS age_div, topic, partition_id,
       CAST(count(*) AS BIGINT) AS n_merged,
       min(start_offset) AS lo_offset, max(end_offset) AS hi_offset,
       CAST(sum(message_count) AS BIGINT) AS n_msgs,
       CAST(sum(size_bytes) AS BIGINT) AS merged_bytes
FROM rk WHERE rn <= {_AC_FANIN}
GROUP BY 1, 2, 3
HAVING count(*) = {_AC_FANIN}
"""


@register(
    "r_age_chain_compaction",
    _age_chain_sql(),
    tags=("parity", "compaction", "streaming-model"),
    doc="egress→compaction chain at TWO MaxSegmentAge points (VERDICT "
    "r12 #7's second half): the T1 age-grid segment plan (the shared "
    "age-ladder generator, div 8 vs 2) feeds the REAL plan_compaction "
    "for one exact-fan-in round per arm (min_count = max_count = "
    f"{_AC_FANIN}).  Age-windowed segments' OFFSET extents can overlap "
    "(windows cut by event time, offsets interleave), so this "
    "specifically exercises the O1 heap order (start asc, end desc) on "
    "a listing the count/size axes never produce; the oracle replays "
    "the first-F window closed form over the same grid "
    "(operators/compaction.py:48; the A8 bounded take against T1 age "
    "segments)",
)
def q_age_chain_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.operators.compaction import plan_compaction

    seq = track_cached(_age_grid_frame(spark, sf_dir))
    out = None
    for div in _AGE_DIVS:
        listing = (
            seq.filter(F.col("age_div") == div)
            .groupBy("topic", "partition_id", "age_bucket", "seg_seq")
            .agg(
                F.min("msg_offset").alias("start_offset"),
                F.max("msg_offset").alias("end_offset"),
                F.count(F.lit(1)).cast("long").alias("message_count"),
                F.sum("msg_size").cast("long").alias("size_bytes"),
            )
            .select(
                F.lit("local").alias("region"),
                "topic",
                "partition_id",
                F.lit(0).cast("int").alias("level"),
                "start_offset",
                "end_offset",
                "message_count",
                "size_bytes",
            )
        )
        plan = plan_compaction(
            listing,
            min_level=0,
            max_level=0,
            min_count=_AC_FANIN,
            max_count=_AC_FANIN,
            min_bytes=1,
            max_bytes=1 << 60,
        )
        arm = (
            plan.groupBy("topic", "partition_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_merged"),
                F.min("start_offset").alias("lo_offset"),
                F.max("end_offset").alias("hi_offset"),
                F.sum("message_count").cast("long").alias("n_msgs"),
                F.sum("size_bytes").cast("long").alias("merged_bytes"),
            )
            .select(
                F.lit(div).cast("long").alias("age_div"),
                "topic",
                "partition_id",
                "n_merged",
                "lo_offset",
                "hi_offset",
                "n_msgs",
                "merged_bytes",
            )
        )
        out = arm if out is None else out.unionByName(arm)
    return out


# -------------------------- serve-path staleness cost (recall vs model age)

_SR_PROBES = [0, 1, 2, 3, 4, 5, 6, 7]
_SR_K = 5
_SR_NPROBE = 2


def _stale_model_recall_sql() -> str:
    """Two self-contained multiprobe arms (frozen half-corpus model vs a
    model retrained on the full corpus) sharing the r12 tail generator,
    joined against the brute-force cosine ground truth."""
    tail = _sim.trained_multiprobe_tail_sql(_SR_PROBES, _SR_K, _SR_NPROBE)
    half_arm = f"""{_half_model_assign_block()},
{tail}"""
    full_arm = f"""
{_sim.ivf_assign_trained_sql_ctes(_RETRAIN_K, _RETRAIN_ITERS)},{tail}"""
    denom = len(_SR_PROBES) * _SR_K
    return f"""
WITH bf AS MATERIALIZED (
  SELECT probe_id, neighbor_id
  FROM ({_sim.brute_force_topk_sql(_SR_PROBES, k=_SR_K)})
),
ha AS MATERIALIZED (
  SELECT probe_id, neighbor_id FROM ({half_arm})
),
fa AS MATERIALIZED (
  SELECT probe_id, neighbor_id FROM ({full_arm})
)
SELECT arm, n_hits,
       CAST((1000000 * n_hits) // {denom} AS BIGINT) AS recall_ppm
FROM (
  SELECT 'frozen_half' AS arm, CAST(count(*) AS BIGINT) AS n_hits
  FROM ha JOIN bf USING (probe_id, neighbor_id)
  UNION ALL
  SELECT 'retrained_full' AS arm, CAST(count(*) AS BIGINT) AS n_hits
  FROM fa JOIN bf USING (probe_id, neighbor_id)
)
"""


@register(
    "p_stale_model_recall",
    _stale_model_recall_sql(),
    tags=("pipeline", "similarity", "model", "eval"),
    doc="the serve-path STALENESS COST: multiprobe recall@5 (nprobe=2, "
    "vs the brute-force cosine baseline) under the frozen index-build-"
    "time model (trained on the vec_id-lower half) vs a model retrained "
    "on the full corpus — what p_model_retrain_decision's drift gate is "
    "actually protecting.  The stale arm serves BOTH probe-cell ranking "
    "and assignment from the old model (the persisted-artifact serve "
    "path via trained_multiprobe_scored(model=)); both arms share the "
    "r12 multiprobe tail generator and the same ground truth, so the "
    "delta is purely the model's age (functions/similarity."
    "trained_multiprobe_tail_sql)",
)
def q_stale_model_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = track_cached(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).collect()[0]
    mid = int(lo) + (int(hi) - int(lo) + 1) // 2
    # r13-opt: both arms' models train over ONE shared cached scan with
    # the per-iteration sum jobs fused (bit-identical per arm; the
    # retrained arm's explicit model= is the same local relation the
    # in-lineage path would fold — identical centroids)
    m_half, m_full = _sim.kmeans_models_fused(
        emb,
        [F.col("vec_id") < mid, None],
        n_clusters=_RETRAIN_K,
        iters=_RETRAIN_ITERS,
    )
    bf = track_cached(
        _sim.brute_force_topk(emb, _SR_PROBES, k=_SR_K).select(
            "probe_id", "neighbor_id"
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    denom = len(_SR_PROBES) * _SR_K
    out = None
    for arm_name, model in (("frozen_half", m_half), ("retrained_full", m_full)):
        scored = _sim.trained_multiprobe_scored(
            emb,
            _SR_PROBES,
            nprobe=_SR_NPROBE,
            n_clusters=_RETRAIN_K,
            iters=_RETRAIN_ITERS,
            model=model,
        )
        topk = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= _SR_K)
            .select("probe_id", "neighbor_id")
        )
        frame = topk.join(bf, ["probe_id", "neighbor_id"]).agg(
            F.lit(arm_name).alias("arm"),
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.expr(f"CAST((1000000 * count(1)) div {denom} AS BIGINT)").alias(
                "recall_ppm"
            ),
        )
        out = frame if out is None else out.unionByName(frame)
    return out


# ----------------------- incremental-ingest touched-cells cost audit

_TC_BATCHES = 8
_TC_STRIDE = 5


@register(
    "p_ingest_touched_cells",
    _sim.semantic_dedup_incremental_sql(
        tau=_DS_TAU, centroid_stride=_TC_STRIDE, n_batches=_TC_BATCHES, audit=True
    ),
    tags=("pipeline", "dedup", "incremental", "audit"),
    doc="the incremental ingest's COST CONTRACT driver-verified: per "
    f"batch of the {_TC_BATCHES}-batch fold, the batch size, the "
    "distinct cells it touches, the prior state rows the near-scan "
    "actually reads (only rows in touched cells — cand minus the "
    "batch's own rows), and the total prior state size.  'Each batch "
    "scans only the cells it touches, never a corpus rescan' was a "
    "docstring claim; this makes it a hashed statistic — batch 0 scans "
    "zero prior rows, and the stride/batch sizing (cells > batch size, "
    "pigeonhole) forces every later batch to leave occupied cells "
    "untouched, so prior_rows_scanned < prior_rows_total: the subset "
    "branch is structurally exercised at every scale.  The oracle "
    "shares EVERY "
    "CTE with the ingest oracle via audit=True — the audit can never "
    "diverge from the ingest it audits (functions/similarity."
    "semantic_dedup_incremental_sql)",
)
def q_ingest_touched_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = track_cached(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    centroids = track_cached(
        emb.filter(F.col("vec_id") % _TC_STRIDE == 0).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").cast("array<double>").alias("ce"),
        )
    )
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).collect()[0]
    lo, hi = int(lo), int(hi)
    span = hi - lo + 1
    state = None
    out = None
    for k in range(_TC_BATCHES):
        b_lo = lo + (span * k) // _TC_BATCHES
        b_hi = lo + (span * (k + 1)) // _TC_BATCHES
        batch = emb.filter((F.col("vec_id") >= b_lo) & (F.col("vec_id") < b_hi))
        # ONE ingest per batch; the batch's assignment stats come from the
        # ingest's OWN new state rows (they carry centroid_id, and prior
        # rows are frozen so the batch's rows are exactly the id range) —
        # no second ivf_assign_frozen pass.  8 iterated folds nest the
        # ingest's joins/unions: caching does NOT truncate the LOGICAL
        # plan and Catalyst analysis explodes with depth (the r12
        # steady-state lesson) — localCheckpoint cuts lineage to a leaf
        # each fold; state rows are corpus-bounded.
        prev = state
        state = _sim.semantic_dedup_ingest(
            prev, batch, centroids, tau=_DS_TAU
        ).localCheckpoint()
        newrows = state.filter(
            (F.col("vec_id") >= b_lo) & (F.col("vec_id") < b_hi)
        )
        stats = newrows.agg(
            F.lit(k).cast("long").alias("batch"),
            F.count(F.lit(1)).cast("long").alias("batch_size"),
            F.countDistinct("centroid_id").cast("long").alias("touched_cells"),
        )
        if prev is None:
            frame = stats.select(
                "batch",
                "batch_size",
                "touched_cells",
                F.lit(0).cast("long").alias("prior_rows_scanned"),
                F.lit(0).cast("long").alias("prior_rows_total"),
            )
        else:
            touched = newrows.select("centroid_id").distinct()
            scanned = (
                prev.join(F.broadcast(touched), "centroid_id", "left_semi")
                .agg(F.count(F.lit(1)).cast("long").alias("prior_rows_scanned"))
            )
            total = prev.agg(
                F.count(F.lit(1)).cast("long").alias("prior_rows_total")
            )
            frame = stats.crossJoin(F.broadcast(scanned)).crossJoin(
                F.broadcast(total)
            )
        out = frame if out is None else out.unionByName(frame)
    return out


@register(
    "p_ingest_touched_groups_bucketed",
    _sim.semantic_dedup_incremental_sql(
        tau=_DS_TAU, centroid_stride=_TC_STRIDE, n_batches=_TC_BATCHES,
        n_planes=4, audit=True,
    ),
    tags=("pipeline", "dedup", "incremental", "audit"),
    doc="the touched-cells cost audit for the BUCKETED ingest — the "
    "production shape (each batch scans only the (cell, LSH bucket) "
    "groups it touches): per batch, size, distinct touched (cell, "
    "bucket) groups, prior state rows actually read under the tuple-"
    "EXISTS filter, and total prior state.  Bucketing splits each "
    "touched cell across 2^4 buckets, so the scanned share drops below "
    "the unbucketed audit's at the same stride — the bucket's "
    "contribution to ingest cost, measured.  Every CTE shared with the "
    "bucketed ingest oracle via audit=True "
    "(functions/similarity.semantic_dedup_incremental_sql)",
)
def q_ingest_touched_groups_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = track_cached(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    centroids = track_cached(
        emb.filter(F.col("vec_id") % _TC_STRIDE == 0).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").cast("array<double>").alias("ce"),
        )
    )
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).collect()[0]
    lo, hi = int(lo), int(hi)
    span = hi - lo + 1
    state = None
    out = None
    for k in range(_TC_BATCHES):
        b_lo = lo + (span * k) // _TC_BATCHES
        b_hi = lo + (span * (k + 1)) // _TC_BATCHES
        batch = emb.filter((F.col("vec_id") >= b_lo) & (F.col("vec_id") < b_hi))
        prev = state
        state = _sim.semantic_dedup_ingest(
            prev, batch, centroids, tau=_DS_TAU, n_planes=4
        ).localCheckpoint()
        newrows = state.filter(
            (F.col("vec_id") >= b_lo) & (F.col("vec_id") < b_hi)
        )
        stats = newrows.agg(
            F.lit(k).cast("long").alias("batch"),
            F.count(F.lit(1)).cast("long").alias("batch_size"),
            F.countDistinct("centroid_id", "bucket")
            .cast("long")
            .alias("touched_groups"),
        )
        if prev is None:
            frame = stats.select(
                "batch",
                "batch_size",
                "touched_groups",
                F.lit(0).cast("long").alias("prior_rows_scanned"),
                F.lit(0).cast("long").alias("prior_rows_total"),
            )
        else:
            touched = newrows.select("centroid_id", "bucket").distinct()
            scanned = (
                prev.join(
                    F.broadcast(touched), ["centroid_id", "bucket"], "left_semi"
                )
                .agg(F.count(F.lit(1)).cast("long").alias("prior_rows_scanned"))
            )
            total = prev.agg(
                F.count(F.lit(1)).cast("long").alias("prior_rows_total")
            )
            frame = stats.crossJoin(F.broadcast(scanned)).crossJoin(
                F.broadcast(total)
            )
        out = frame if out is None else out.unionByName(frame)
    return out
