"""Round-14 optimization property tests: the driver-side fast paths must be
bit-identical to the distributed paths or the oracles they replace."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_replicator_spark.cacheutil import release_cached
from kafka_replicator_spark.functions import similarity as sim
from kafka_replicator_spark.sources.tables import load_table
from tests.oracle_utils import oracle_rows


@pytest.fixture(autouse=True)
def _release():
    yield
    release_cached()


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def _probes(emb, n=4):
    return [
        int(r["vec_id"])
        for r in emb.select("vec_id").orderBy("vec_id").limit(n).collect()
    ]


def test_multiprobe_inline_probe_cells_matches_join(spark, sf_dir):
    """trained_multiprobe_scored's array_sort probe-cell ranking over the
    scalar-subquery model must reproduce the DuckDB oracle's probes x
    model join + row_number window: the multiprobe top-k equals the
    oracle row for row, rounded cos_sim included."""
    emb = _emb(spark, sf_dir)
    probes = _probes(emb)
    got = sorted(
        tuple(r)
        for r in sim.ivf_topk_trained_multiprobe(emb, probes, k=5, nprobe=2).collect()
    )
    want = sorted(
        oracle_rows(sf_dir, sim.ivf_topk_trained_multiprobe_sql(probes, k=5, nprobe=2))
    )
    assert got == want and got


def test_multiprobe_inline_nprobe_past_k(spark, sf_dir):
    """nprobe beyond the cluster count: slice() past the array end must
    keep all k cells, as the oracle's rn <= nprobe does — every other
    vector is a candidate, the rank caps at k, and the top-k equals the
    oracle's."""
    emb = _emb(spark, sf_dir)
    model = sim.kmeans_model(emb, n_clusters=4, iters=1)
    probes = _probes(emb, n=2)
    scored = sim.trained_multiprobe_scored(
        emb, probes, nprobe=9, n_clusters=4, iters=1, model=model
    ).collect()
    assert len(scored) == len(probes) * (emb.count() - 1)
    assert max(r["cell_rank"] for r in scored) == 4  # rank caps at k
    got = sorted(
        tuple(r)
        for r in sim.ivf_topk_trained_multiprobe(
            emb, probes, k=5, nprobe=9, n_clusters=4, iters=1
        ).collect()
    )
    want = sorted(
        oracle_rows(
            sf_dir,
            sim.ivf_topk_trained_multiprobe_sql(probes, k=5, nprobe=9, n_clusters=4, iters=1),
        )
    )
    assert got == want and got


def test_attribute_rows_validation_still_fires(spark, sf_dir):
    """The model= k-mismatch guard fires on the model's collected rows."""
    emb = _emb(spark, sf_dir)
    model = sim.kmeans_model(emb, n_clusters=4, iters=1)
    with pytest.raises(ValueError, match="expects a 8-row"):
        sim.ivf_assign_trained(emb, n_clusters=8, iters=2, model=model)


def test_submodular_replay_matches_distributed(spark, sf_dir):
    """The CELF-pool driver replay of p_submodular_coverage must be
    bit-identical to the exact distributed greedy loop it replaced (the
    fallback path) — picks, gains, and running covered totals.  The
    fallback is BLOCKED during the fast run so the comparison can never
    go vacuous (distributed vs itself) if a corpus change breaks the
    pool bound's certification."""
    from kafka_replicator_spark.cacheutil import release_cached, track_cached
    from kafka_replicator_spark.functions import dedup as dd
    from kafka_replicator_spark.queries import all_queries
    import kafka_replicator_spark.queries.pipeline_r6 as r6
    from kafka_replicator_spark.queries.pipeline_r6 import _coverage_distributed
    from kafka_replicator_spark.sources.tables import load_table

    def _no_fallback(*_a, **_k):
        raise AssertionError(
            "p_submodular_coverage fell back to the distributed loop at "
            "test scale — the CELF pool no longer certifies every pick"
        )

    orig = r6._coverage_distributed
    r6._coverage_distributed = _no_fallback
    try:
        fast = sorted(
            tuple(r)
            for r in all_queries()["p_submodular_coverage"].fn(spark, sf_dir).collect()
        )
    finally:
        r6._coverage_distributed = orig
    release_cached()
    sh = track_cached(
        dd.word_ngrams(load_table(spark, sf_dir, "documents"), n=3).select("doc_id", "h")
    )
    slow = sorted(tuple(r) for r in _coverage_distributed(spark, sh).collect())
    release_cached()
    assert fast == slow and len(fast) == 5


@pytest.mark.parametrize("pool", [1, 4])
def test_submodular_pool_fallback_matches_default(spark, sf_dir, monkeypatch, pool):
    """A CELF pool too narrow to certify every pick must hand the query to
    the exact distributed loop exactly once, and the rows must equal the
    default run's bit-for-bit.  On the sf0.001 test corpus pool=1 falls
    back through the "no in-pool gain left" branch (round 2) and pool=4
    through the bound comparison (round 3).  The fallback resumes from the
    t-1 certified picks: it runs only rounds t.._COV_SELECT."""
    import kafka_replicator_spark.queries.pipeline_r6 as r6
    from kafka_replicator_spark.queries import all_queries

    calls = []
    rounds = []
    distributed = r6._coverage_distributed
    argmax = r6._coverage_argmax

    def counting(spark, sh, certified=None):
        calls.append(len(certified or ()) + 1)  # the round that fell back
        return distributed(spark, sh, certified)

    def counting_argmax(*a, **k):
        rounds.append(1)
        return argmax(*a, **k)

    monkeypatch.setattr(r6, "_coverage_distributed", counting)
    monkeypatch.setattr(r6, "_coverage_argmax", counting_argmax)
    query = all_queries()["p_submodular_coverage"]

    def run():
        rows = sorted(tuple(r) for r in query.fn(spark, sf_dir).collect())
        release_cached()
        return rows

    default = run()
    assert not calls and not rounds and len(default) == 5
    monkeypatch.setattr(r6, "_COV_POOL", pool)
    assert run() == default
    t = {1: 2, 4: 3}[pool]
    assert calls == [t]
    assert len(rounds) == r6._COV_SELECT - t + 1


def test_funnel_fused_stage_aggregates(spark, sf_dir):
    """r14 fused funnel: the dedup-stage and quality-stage aggregates ride
    ONE conditional pass over a single cached gate frame (the survivors
    cache is gone — _qual_docs tracks exactly one frame), and the fused
    columns equal independently recomputed per-stage aggregates (the old
    unfused form)."""
    from pyspark.sql import Window

    from kafka_replicator_spark.cacheutil import _TRACKED
    from kafka_replicator_spark.functions.curation import gopher_quality
    from kafka_replicator_spark.queries import all_queries

    release_cached()
    df = all_queries()["p_e2e_curation_funnel"].fn(spark, sf_dir)
    # exactly two tracked caches: the gate frame (_qual_docs) and
    # corpus_mix's internal stitch frame — the bare survivors cache
    # (doc_id, source, text and nothing else) must be gone
    assert len(_TRACKED) == 2, [str(t) for t in _TRACKED]
    assert not any(
        set(t.columns) == {"doc_id", "source", "text"} for t in _TRACKED
    ), [t.columns for t in _TRACKED]
    got = {r["source"]: r for r in df.collect()}
    release_cached()

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    tok = F.size(F.split(F.col("text"), " ")).cast("long")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    survivors = (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    dedup = {
        r["source"]: r
        for r in survivors.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(tok).alias("t"))
        .collect()
    }
    qual = {
        r["source"]: r
        for r in gopher_quality(survivors, keep=("source",))
        .filter(F.col("passes") == 1)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("word_count").alias("t"))
        .collect()
    }
    assert set(dedup) <= set(got)
    for src, row in got.items():
        d = dedup.get(src)
        q = qual.get(src)
        assert row["n_dedup"] == (d["n"] if d else 0), src
        assert row["tok_dedup"] == (d["t"] if d else 0), src
        assert row["n_quality"] == (q["n"] if q else 0), src
        assert row["tok_quality"] == (q["t"] if q else 0), src
    release_cached()


def test_pq_topk_keyed_spread_matches_roundrobin(spark, sf_dir):
    """The vec_id key-spread in pq_topk's subvector front half (r14) must
    be bit-identical to the round-robin form it replaced, and the plan
    must no longer re-exchange the exploded scored stream for the
    (vec_id, s) code-assign window."""
    emb = _emb(spark, sf_dir)
    probes = _probes(emb)

    keyed = sim.pq_topk(emb, probes, k=5)
    rr_subs = sim.pq_subvectors(emb, by_key=False)
    keyed_subs = sim.pq_subvectors(emb, by_key=True)
    # same rows either way (partitioning only)
    assert sorted(map(tuple, rr_subs.collect())) == sorted(
        map(tuple, keyed_subs.collect())
    )
    # full-operator identity vs a round-robin replica
    orig = sim.pq_subvectors
    sim.pq_subvectors = lambda e, m=8, dim=64, by_key=False: orig(
        e, m=m, dim=dim, by_key=False
    )
    try:
        rr_topk = sim.pq_topk(emb, probes, k=5)
        assert (
            keyed.orderBy("probe_id", "rank").collect()
            == rr_topk.orderBy("probe_id", "rank").collect()
        )
    finally:
        sim.pq_subvectors = orig
    # plan pin: no ENSURE_REQUIREMENTS hash exchange on (vec_id, s) —
    # the subset rule satisfies the code-assign window from the keyed
    # spread of the compact rows
    plan = keyed._jdf.queryExecution().executedPlan().toString()
    import re

    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line and "ENSURE_REQUIREMENTS" in line:
            assert not re.search(r"vec_id#\d+L?, s#\d+", line), line


def test_dsir_bucket_preaggregate_matches_token_grain(spark, sf_dir):
    """dsir_weights' (doc, source, bucket) pre-aggregate (r14) must be
    bit-identical to the token-grain form it replaced: the weighted
    DECIMAL fold sum(dc * lr) equals the per-occurrence sum(lr), and
    n_tokens equals the occurrence count."""
    from kafka_replicator_spark.functions.corpus import dsir_weights
    from kafka_replicator_spark.functions.hashing import portable_hash32, spread
    from kafka_replicator_spark.functions.text import tokens_col
    from kafka_replicator_spark.cacheutil import track_cached
    from kafka_replicator_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_buckets, target_source = 1024, "src0"

    toks = track_cached(
        spread(docs.select("doc_id", "source", F.explode(tokens_col()).alias("tok")))
        .select("doc_id", "source", (portable_hash32("tok") % n_buckets).alias("b"))
    )
    buckets = toks.groupBy("b").agg(
        F.count(F.lit(1)).alias("r"),
        F.count_if(F.col("source") == target_source).alias("t"),
    )
    totals = buckets.agg(F.sum("r").alias("tot_r"), F.sum("t").alias("tot_t"))
    ratio = buckets.join(F.broadcast(totals)).select(
        "b",
        F.round(
            F.log((F.col("t") + 1).cast("double") / (F.col("tot_t") + n_buckets).cast("double"))
            - F.log((F.col("r") + 1).cast("double") / (F.col("tot_r") + n_buckets).cast("double")),
            9,
        ).cast("decimal(18,9)").alias("lr"),
    )
    old = (
        toks.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("lr").alias("s"))
        .select(
            "doc_id",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.round(F.col("s").cast("double") / F.col("n_tokens"), 6).alias("dsir_logweight"),
        )
    )
    assert (
        old.orderBy("doc_id").collect()
        == dsir_weights(docs).orderBy("doc_id").collect()
    )


def test_rare_token_share_preaggregate_matches_token_grain(spark, sf_dir):
    """q_rare_token_share's (doc, source, tok) pre-aggregate (r14): the
    plain count per tok over the pre-aggregate equals the old
    countDistinct(doc_id) (one row per (doc, tok) by construction), and
    the dc-weighted source fold equals the per-occurrence counts."""
    from kafka_replicator_spark.functions.hashing import spread
    from kafka_replicator_spark.queries.pipeline_r8 import (
        _RARE_DF_MAX,
        q_rare_token_share,
    )
    from kafka_replicator_spark.cacheutil import track_cached
    from kafka_replicator_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = track_cached(
        spread(docs).select(
            "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
        )
    )
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").cast("long").alias("df"))
    rare = df.filter(F.col("df") <= _RARE_DF_MAX).select("tok", F.lit(1).alias("is_rare"))
    old = (
        toks.join(rare, "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("total_tokens"),
            F.sum(F.coalesce(F.col("is_rare"), F.lit(0))).cast("long").alias("rare_tokens"),
        )
        .select(
            "source", "total_tokens", "rare_tokens",
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * rare_tokens)"
                " div total_tokens AS BIGINT)"
            ).alias("rare_ppm"),
        )
        .orderBy("source")
    )
    assert old.collect() == q_rare_token_share(spark, sf_dir).collect()


def test_histogram_quantiles_midpoint_matches_percentile(spark, sf_dir):
    """The bucket-narrowed exact-p50 (r14 change: the two middle order
    statistics located via the cumulative histogram, interpolated as
    (min+max)/2) must be bit-identical to the global percentile(v, 0.5)
    aggregate it replaced — on the real corpus AND on an even/odd-n pair
    of synthetic frames that force interpolation between two distinct
    middle values across a bucket boundary."""
    from kafka_replicator_spark.functions.sketches import histogram_quantiles

    def old_exact(df, col="l_extendedprice"):
        return (
            df.select(F.expr(f"CAST(round({col} * 100) AS BIGINT)").alias("v"))
            .agg(F.round(F.expr("percentile(v, 0.5D) / 100.0"), 6))
            .collect()[0][0]
        )

    li = load_table(spark, sf_dir, "lineitem")
    got = {
        r["quantile_pct"]: r["exact_value"]
        for r in histogram_quantiles(li).collect()
    }
    release_cached()
    assert got[50] == old_exact(li)
    assert got[90] is None

    # synthetic: skewed values so the middle pair can straddle buckets;
    # even n (interpolates) and odd n (single middle element)
    for n in (10_000, 10_001):
        df = spark.range(n).select(
            ((F.col("id") * F.col("id") % 70_001 + 3) / F.lit(100.0)).alias(
                "l_extendedprice"
            )
        )
        got = {
            r["quantile_pct"]: r["exact_value"]
            for r in histogram_quantiles(df).collect()
        }
        release_cached()
        assert got[50] == old_exact(df), f"n={n}"
