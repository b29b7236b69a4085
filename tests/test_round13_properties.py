"""Round-13 property tests: ADVICE r12 guards and the persisted-model
(index-build vs serve split) machinery."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_replicator_spark.cacheutil import release_cached
from kafka_replicator_spark.functions import similarity as sim
from kafka_replicator_spark.sources.tables import load_table
from tests.oracle_utils import oracle_rows
from tests.test_local_frame import _jobs_launched


@pytest.fixture(autouse=True)
def _release():
    yield
    release_cached()


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def test_ingest_validate_rejects_nonmonotone_batch(spark, sf_dir):
    """ADVICE r12 #4: the eager monotonicity guard — feeding a batch whose
    ids do NOT all exceed the state's must raise, not silently freeze
    stale (n_near, kept) on prior rows."""
    emb = _emb(spark, sf_dir)
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).collect()[0]
    mid = (int(lo) + int(hi)) // 2
    centroids = emb.filter(F.col("vec_id") % 250 == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").cast("array<double>").alias("ce"),
    )
    first = emb.filter(F.col("vec_id") <= mid)
    state = sim.semantic_dedup_ingest(
        None, first, centroids, tau=0.40, validate=True
    )
    # a VALID second batch passes under the guard …
    second = emb.filter(F.col("vec_id") > mid)
    sim.semantic_dedup_ingest(state, second, centroids, tau=0.40, validate=True)
    # … while replaying an overlapping batch raises
    with pytest.raises(ValueError, match="monotonicity contract"):
        sim.semantic_dedup_ingest(state, first, centroids, tau=0.40, validate=True)


def test_kmeans_model_save_load_roundtrip(spark, sf_dir, tmp_path):
    """VERDICT r12 #2: the persisted-model artifact roundtrips
    bit-exactly — save → load returns the identical (cluster, cd) rows
    and the training metadata, and assignment from the LOADED frame is
    bit-identical to assignment from the in-lineage frame.  The artifact
    is one part file, and the load reads it with its fixed schema in one
    job (no schema-inference job)."""
    emb = _emb(spark, sf_dir)
    model = sim.kmeans_model(emb, n_clusters=8, iters=2)
    path = str(tmp_path / "kmeans")
    sim.save_kmeans_model(model, path, n_clusters=8, iters=2, dim=64)
    assert len(list((tmp_path / "kmeans").glob("part-*"))) == 1
    with _jobs_launched(spark) as n:
        loaded, meta = sim.load_kmeans_model(spark, path)
    assert n == [1]
    assert meta == {"n_clusters": 8, "iters": 2, "dim": 64}
    want = sorted((r["cluster"], tuple(r["cd"])) for r in model.collect())
    got = sorted((r["cluster"], tuple(r["cd"])) for r in loaded.collect())
    assert got == want  # exact float equality — doubles roundtrip parquet
    a_mem = sorted(
        (r["vec_id"], r["centroid_id"])
        for r in sim.ivf_assign_trained(emb, n_clusters=8, model=model).collect()
    )
    a_load = sorted(
        (r["vec_id"], r["centroid_id"])
        for r in sim.ivf_assign_trained(emb, n_clusters=8, model=loaded).collect()
    )
    assert a_load == a_mem


def test_kmeans_model_save_rejects_bad_shape(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    model = sim.kmeans_model(emb, n_clusters=8, iters=1)
    with pytest.raises(ValueError, match="expected 4 clusters"):
        sim.save_kmeans_model(model, str(tmp_path / "m"), n_clusters=4, iters=1, dim=64)
    with pytest.raises(ValueError, match="dim 32"):
        sim.save_kmeans_model(model, str(tmp_path / "m"), n_clusters=8, iters=1, dim=32)


def test_load_kmeans_model_rejects_mixed_artifact(spark, sf_dir, tmp_path):
    """A mixed-write artifact (two models appended into one dir) must
    fail at load, not silently mis-assign at serve time."""
    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "m")
    sim.save_kmeans_model(
        sim.kmeans_model(emb, n_clusters=8, iters=1), path,
        n_clusters=8, iters=1, dim=64,
    )
    # corrupt: append a second save's rows with different metadata
    second = (
        sim.kmeans_model(emb, n_clusters=4, iters=1)
        .select(
            F.col("cluster").cast("long"),
            F.col("cd").cast("array<double>"),
            F.lit(4).cast("int").alias("k"),
            F.lit(1).cast("int").alias("iters"),
            F.lit(64).cast("int").alias("dim"),
        )
    )
    second.write.mode("append").parquet(path)
    with pytest.raises(ValueError, match="distinct metadata"):
        sim.load_kmeans_model(spark, path)


def test_derive_n_planes_sql_empty_relation_matches_spark(spark):
    """ADVICE r12 #2: an EMPTY assignment relation must derive min_planes
    on BOTH engines (Spark: 0 <= 0 on the first ladder arm; SQL: the sums
    are coalesced to 0 — a NULL-falling ladder would land on max_planes)."""
    import duckdb

    empty = spark.createDataFrame([], "vec_id long, centroid_id long")
    assert sim.derive_n_planes(empty, pairs_per_vec=64) == 4
    sql = sim.derive_n_planes_case_sql(64)
    con = duckdb.connect()
    got = con.execute(
        f"WITH cellsz AS (SELECT count(*) AS c FROM (SELECT 1 AS x WHERE false) GROUP BY x) {sql}"
    ).fetchone()[0]
    con.close()
    assert got == 4


def test_ivf_assign_trained_inline_matches_join_path(spark, sf_dir):
    """The scalar-subquery argmin (model read once, zero exchanges) must
    equal the DuckDB oracle's cross-join + row_number assignment row for
    row — same fold chain, same (dist, cluster) tie-break — both over a
    supplied model frame and with in-lineage training."""
    emb = _emb(spark, sf_dir)
    model = sim.kmeans_model(emb, n_clusters=16, iters=2)

    def assign(**kw):
        return sorted(
            (r["vec_id"], r["centroid_id"])
            for r in sim.ivf_assign_trained(emb, n_clusters=16, iters=2, **kw).collect()
        )

    want = sorted(
        oracle_rows(
            sf_dir,
            sim.ivf_assign_trained_sql_ctes(16, 2, 64)
            + "\nSELECT vec_id, centroid_id FROM assigned",
        )
    )
    assert assign(model=model) == assign() == want and len(want) > 0


def test_kmeans_train_inline_matches_window_path(spark, sf_dir):
    """The per-iteration argmin (centroids collected per round) must
    reproduce the DuckDB oracle's N*K row_number window bit-for-bit,
    including the next-round integer micro-mean."""
    emb = _emb(spark, sf_dir)
    got = sorted(tuple(r) for r in sim.kmeans_train(emb, k=8, iters=2).collect())
    want = sorted(oracle_rows(sf_dir, sim.kmeans_train_sql(k=8, iters=2, dim=64)))
    assert got == want and len(got) == 8 * 64


def test_kmeans_past_plan_literal_scale_matches_oracle(spark):
    """k·dim past what plan literals once carried (65,536): k=520 over 600
    seeded vectors of dim 128.  The scalar-subquery model has no size
    limit — kmeans_train and the assignment equal the DuckDB oracle row
    for row, and the assignment plan has no join."""
    import duckdb
    import numpy as np
    import pyarrow as pa

    from kafka_replicator_spark.core.schema import local_frame
    from kafka_replicator_spark.plans.explain import physical_plan

    n, dim, k = 600, 128, 520
    # float32 values, so both engines read the identical components
    vecs = np.random.default_rng(20261019).uniform(-1, 1, (n, dim)).astype(np.float32)
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    synth = local_frame(spark, rows, "vec_id bigint, embedding array<float>")
    con = duckdb.connect()
    con.register(
        "synth",
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array([v for _, v in rows], pa.list_(pa.float32())),
            }
        ),
    )
    try:
        want_train = sorted(
            con.execute(sim.kmeans_train_sql(k, 1, dim, rel="synth")).fetchall()
        )
        want_assign = sorted(
            con.execute(
                sim.ivf_assign_trained_sql_ctes(k, 1, dim, rel="synth")
                + "\nSELECT vec_id, centroid_id FROM assigned"
            ).fetchall()
        )
    finally:
        con.close()
    got_train = sorted(tuple(r) for r in sim.kmeans_train(synth, k=k, iters=1).collect())
    assert got_train == want_train and len(got_train) > k * dim // 2
    assigned = sim.ivf_assign_trained(synth, n_clusters=k, iters=1)
    assert "Join" not in physical_plan(assigned)
    got_assign = sorted(
        (r["vec_id"], r["centroid_id"]) for r in assigned.collect()
    )
    assert got_assign == want_assign and len(got_assign) == n


def test_kmeans_rejects_iters_below_one(spark, sf_dir):
    """iters < 1 has no model: every trainer raises the same error instead
    of returning an empty model or crashing."""
    emb = _emb(spark, sf_dir)
    calls = [
        lambda: sim.kmeans_train(emb, k=8, iters=0),
        lambda: sim.kmeans_model(emb, n_clusters=8, iters=0),
        lambda: sim.kmeans_models_fused(emb, [None], n_clusters=8, iters=0),
        lambda: sim.kmeans_models_prefix(emb, [0, 2], n_clusters=8),
        lambda: sim.ivf_assign_trained(emb, n_clusters=8, iters=-1),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="iters >= 1"):
            call()


def test_kmeans_empty_corpus_gives_empty_frames(spark, sf_dir):
    """An empty corpus has no centroids: training, the model and the
    assignment return empty frames with their declared columns."""
    empty = _emb(spark, sf_dir).limit(0)
    frames = {
        ("cluster", "dim", "centroid_micro", "n_members"): sim.kmeans_train(empty),
        ("cluster", "cd"): sim.kmeans_model(empty),
        ("vec_id", "e", "centroid_id"): sim.ivf_assign_trained(empty),
    }
    for cols, df in frames.items():
        assert tuple(df.columns) == cols
        assert df.collect() == []


def test_ivf_assign_trained_inline_plan_has_no_join_or_shuffle(spark, sf_dir):
    """The serve-path plan: per-vector argmin is ONE map expression over
    the scalar-subquery model — no join of any kind, no aggregate
    exchange, no window.
    (The only exchange allowed is spread()'s round-robin input spread.)"""
    from kafka_replicator_spark.plans.explain import physical_plan

    emb = _emb(spark, sf_dir)
    model = sim.kmeans_model(emb, n_clusters=8, iters=1)
    plan = physical_plan(sim.ivf_assign_trained(emb, n_clusters=8, model=model))
    for banned in ("Join", "Window", "HashAggregate", "SortAggregate"):
        assert banned not in plan, f"{banned} in inline assignment plan:\n{plan}"
    import re

    hash_ex = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert not hash_ex, hash_ex


def test_multiprobe_from_persisted_model_matches_in_lineage(spark, sf_dir, tmp_path):
    """The full serve path over the persisted artifact: multiprobe top-k
    driven from a load_kmeans_model frame must be bit-identical to the
    in-lineage model (model= serves BOTH probe-cell ranking and
    assignment)."""
    emb = _emb(spark, sf_dir)
    model = sim.kmeans_model(emb, n_clusters=8, iters=2)
    path = str(tmp_path / "m")
    sim.save_kmeans_model(model, path, n_clusters=8, iters=2, dim=64)
    loaded, _ = sim.load_kmeans_model(spark, path)
    probes = [0, 1, 2, 3]

    def topk(m):
        scored = sim.trained_multiprobe_scored(
            emb, probes, nprobe=2, n_clusters=8, iters=2, model=m
        )
        from pyspark.sql import Window

        w = Window.partitionBy("probe_id").orderBy(
            F.desc("cos"), F.asc("neighbor_id")
        )
        return sorted(
            (r["probe_id"], r["neighbor_id"], r["rank"])
            for r in scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("probe_id", "neighbor_id", "rank")
            .collect()
        )

    got, want = topk(loaded), topk(model)
    assert got == want and len(got) == 20


def test_kmeans_models_fused_matches_separate(spark, sf_dir):
    """r13-opt: kmeans_models_fused trains every filter-arm's model over
    ONE shared cached scan with the per-iteration component-sum jobs
    fused across arms — each arm's model must be BIT-IDENTICAL (exact
    float equality) to its own kmeans_model call, the bit-identity the
    retrain-audit queries' oracles rely on."""
    emb = _emb(spark, sf_dir)
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).collect()[0]
    mid = int(lo) + (int(hi) - int(lo) + 1) // 2
    arms = [F.col("vec_id") < mid, None]
    fused = sim.kmeans_models_fused(emb, arms, n_clusters=8, iters=2)
    sep = [
        sim.kmeans_model(emb.filter(arms[0]), n_clusters=8, iters=2),
        sim.kmeans_model(emb, n_clusters=8, iters=2),
    ]
    for f, s in zip(fused, sep):
        got = sorted((r["cluster"], tuple(r["cd"])) for r in f.collect())
        want = sorted((r["cluster"], tuple(r["cd"])) for r in s.collect())
        assert len(got) == 8
        assert got == want  # exact float equality — same ints, same folds


def test_kmeans_models_fused_empty_arm_falls_back(spark, sf_dir):
    """An empty filter-arm gets kmeans_model's empty output, while
    sibling arms still train fused."""
    emb = _emb(spark, sf_dir)
    lo = int(emb.agg(F.min("vec_id")).collect()[0][0])
    fused = sim.kmeans_models_fused(
        emb, [F.col("vec_id") < lo, None], n_clusters=8, iters=2
    )
    assert fused[0].count() == 0
    assert fused[1].count() == 8


def test_kmeans_models_prefix_matches_separate(spark, sf_dir):
    """r13-opt: kmeans_models_prefix folds each rung's model from the
    deepest run's per-iteration snapshot — every rung must be
    BIT-IDENTICAL (exact float equality) to its own kmeans_model call at
    that iteration count (Lloyd prefixes are exact)."""
    emb = _emb(spark, sf_dir)
    prefix = sim.kmeans_models_prefix(emb, [1, 2], n_clusters=8)
    for m, i in zip(prefix, (1, 2)):
        sep = sim.kmeans_model(emb, n_clusters=8, iters=i)
        got = sorted((r["cluster"], tuple(r["cd"])) for r in m.collect())
        want = sorted((r["cluster"], tuple(r["cd"])) for r in sep.collect())
        assert len(got) == 8
        assert got == want


def test_coreset_select_fused_agg_matches_window_reference(spark, sf_dir):
    """r13-opt: coreset_select's two rank windows + size join collapsed
    into two max(struct) aggregates — the output must be BIT-IDENTICAL
    to the window-based reference (same (ccos DESC, id ASC) tie-breaks),
    and the plan must carry no Window and no Join."""
    from pyspark.sql import Window

    from kafka_replicator_spark.functions.similarity import (
        _dbl,
        _spread_emb,
        coreset_select,
        dot_col,
    )
    from kafka_replicator_spark.plans.explain import physical_plan

    emb = _emb(spark, sf_dir)
    got_df = coreset_select(emb)
    plan = physical_plan(got_df)
    assert "Window" not in plan, plan
    # the only join left is the broadcast assignment scan — the
    # reps-to-sizes shuffle join is gone
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan

    # window-based reference: the pre-r13 shape, inline
    e = _spread_emb(emb).select("vec_id", _dbl("embedding").alias("e")).withColumn(
        "en", F.sqrt(dot_col(F.col("e"), F.col("e")))
    )
    cents = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("e").alias("ce"),
        F.col("en").alias("cn"),
    )
    scored = e.join(F.broadcast(cents)).select(
        "vec_id",
        "centroid_id",
        (dot_col(F.col("e"), F.col("ce")) / (F.col("en") * F.col("cn"))).alias("ccos"),
    )
    wa = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("centroid_id"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", "centroid_id", "ccos")
    )
    wc = Window.partitionBy("centroid_id").orderBy(F.desc("ccos"), F.asc("vec_id"))
    want_df = (
        assigned.withColumn("rep_rn", F.row_number().over(wc))
        .filter(F.col("rep_rn") == 1)
        .join(
            assigned.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n_members")),
            "centroid_id",
        )
        .select(
            "centroid_id",
            F.col("vec_id").alias("representative_id"),
            F.round("ccos", 6).alias("rep_cos"),
            "n_members",
        )
    )
    got = sorted(tuple(r) for r in got_df.collect())
    want = sorted(tuple(r) for r in want_df.collect())
    assert got == want  # exact equality, doubles included


def test_dedup_best_quality_fused_agg_matches_window_reference(spark, sf_dir):
    """r13-opt: dedup_best_quality's survivor window + count join fused
    into ONE aggregate — bit-identical to the window reference, no
    Window and no content-hash join in the plan (the only join left is
    the doc⋈quality-score build)."""
    from pyspark.sql import Window

    from kafka_replicator_spark.functions.dedup import dedup_best_quality
    from kafka_replicator_spark.functions.text import quality_score
    from kafka_replicator_spark.plans.explain import physical_plan

    docs = load_table(spark, sf_dir, "documents")
    got_df = dedup_best_quality(docs)
    assert "Window" not in physical_plan(got_df)

    q = quality_score(docs).select("doc_id", "quality_score")
    d = docs.select("doc_id", F.md5(F.col("text")).alias("content_hash")).join(
        q, "doc_id"
    )
    w = Window.partitionBy("content_hash").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    want_df = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(
            d.groupBy("content_hash").agg(F.count(F.lit(1)).alias("n_copies")),
            "content_hash",
        )
        .select(
            "content_hash",
            F.col("doc_id").alias("survivor_id"),
            F.col("quality_score").alias("survivor_quality"),
            "n_copies",
        )
    )
    got = sorted(tuple(r) for r in got_df.collect())
    want = sorted(tuple(r) for r in want_df.collect())
    assert got == want
