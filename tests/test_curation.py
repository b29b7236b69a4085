"""Unit tests for the curation operators (functions/curation.py) and
duplicate clustering (functions/dedup.py::duplicate_clusters) — semantics on
hand-built inputs; cross-engine parity is covered by test_oracle_parity.
"""

from pyspark.sql import functions as F

from kafka_replicator_spark.functions import curation, dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_duplicate_clusters_chain_and_singleton(spark):
    """A chain a-b, b-c must collapse into ONE cluster (transitivity — the
    property pairwise dedup output lacks); untouched docs stay singletons."""
    docs = _docs(
        spark,
        [(1, "x", "en", "s"), (2, "x", "en", "s"), (3, "x", "en", "s"), (9, "y", "en", "s")],
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    out = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in dedup.duplicate_clusters(docs, pairs=pairs).collect()
    }
    assert out[1] == (1, 3, 1)
    assert out[2] == (1, 3, 0)
    assert out[3] == (1, 3, 0)
    assert out[9] == (9, 1, 1)


def test_duplicate_clusters_long_chain_converges(spark):
    """Propagation needs diameter rounds — a 10-hop chain exercises the
    convergence loop well past one iteration."""
    n = 11
    docs = _docs(spark, [(i, "x", "en", "s") for i in range(n)])
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    out = dedup.duplicate_clusters(docs, pairs=pairs).collect()
    assert all(r["cluster_id"] == 0 and r["cluster_size"] == n for r in out)
    assert sum(r["is_canonical"] for r in out) == 1


def test_gopher_quality_single_word_doc(spark):
    """One-word docs must not crash on the descending sequence(1,0) trap and
    count as maximally repetitive (top_bigram_frac = 1.0)."""
    docs = _docs(spark, [(1, "word", "en", "s")])
    row = curation.gopher_quality(docs).collect()[0]
    assert row["word_count"] == 1
    assert row["top_bigram_frac"] == 1.0
    assert row["passes"] == 0  # fails min_words


def test_gopher_quality_repetition_flag(spark):
    """A degenerate 'spam spam spam ...' doc trips the repetition rule even
    when its other stats look fine."""
    spam = " ".join(["the", "of"] * 40)  # bigram 'of the' dominates
    docs = _docs(spark, [(1, spam, "en", "s")])
    row = curation.gopher_quality(docs).collect()[0]
    assert row["flag_word_count"] == 1 and row["flag_stopwords"] == 1
    assert row["flag_repetition"] == 0 and row["passes"] == 0


def test_pii_scrub_redacts_injected_spans(spark):
    """Redaction must remove every detected span: the redacted text of a doc
    with all three injections contains the placeholders, not the PII."""
    docs = _docs(spark, [(0, "hello world", "en", "s"), (7, "plain text", "en", "s")])
    aug = docs.select(
        "doc_id",
        curation._augment_with_pii(F.col("text"), F.col("doc_id")).alias("aug"),
    )
    red = aug.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("aug", curation.EMAIL_RE, "<EMAIL>"),
                curation.PHONE_RE,
                "<PHONE>",
            ),
            curation.IP_RE,
            "<IP>",
        ).alias("red"),
    )
    by_id = {r["doc_id"]: r["red"] for r in red.collect()}
    assert by_id[0] == "hello world contact <EMAIL> call <PHONE> host <IP>"
    assert by_id[7] == "plain text"  # no injection, identity
    counts = {r["doc_id"]: (r["n_emails"], r["n_phones"], r["n_ips"]) for r in
              curation.pii_scrub(docs).collect()}
    assert counts[0] == (1, 1, 1) and counts[7] == (0, 0, 0)


def test_stratified_sample_deterministic_and_stratified(spark):
    """Same input → identical sample (hash gate, no RNG), and the gated
    language is thinned while default-rate languages pass whole at rate
    1000."""
    rows = [(i, "t", "en" if i % 2 == 0 else "fr", f"src{i % 4}") for i in range(400)]
    docs = _docs(spark, rows)
    s1 = sorted(r["doc_id"] for r in curation.stratified_sample(docs).collect())
    s2 = sorted(r["doc_id"] for r in curation.stratified_sample(docs).collect())
    assert s1 == s2
    kept = curation.stratified_sample(docs).groupBy("lang").count().collect()
    by_lang = {r["lang"]: r["count"] for r in kept}
    assert by_lang["fr"] == 200  # default rate keeps everything
    assert 50 < by_lang["en"] < 150  # ~50% hash-gated


def test_kmeans_recovers_blobs(spark):
    """Two well-separated blobs, k=2: after 2 Lloyd rounds each blob is its
    own cluster even though the seed centroids both start inside blob A."""
    from kafka_replicator_spark.functions.similarity import kmeans_train

    rows = [
        (0, [0.0, 0.0]), (1, [0.1, 0.0]),
        (2, [10.0, 10.0]), (3, [10.1, 10.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    model = kmeans_train(emb, k=2, iters=2).collect()
    by_cluster = {}
    for r in model:
        by_cluster.setdefault(r["cluster"], r["n_members"])
    assert by_cluster == {0: 2, 1: 2}
    # cluster 0's dim-1 centroid is the blob-A mean (0.05 → 50000 micro)
    c0d1 = [r for r in model if r["cluster"] == 0 and r["dim"] == 1][0]
    assert c0d1["centroid_micro"] == 50000


import pytest
from hypothesis import given, settings
from hypothesis import strategies as st


@pytest.fixture(scope="module")
def spark_global(spark):
    return spark


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 19), st.integers(0, 19)).filter(lambda e: e[0] != e[1]),
        min_size=0,
        max_size=30,
    )
)
@settings(max_examples=15, deadline=None)
def test_duplicate_clusters_matches_union_find(spark_global, edges):
    """Min-label propagation over random pair graphs must equal a plain
    union-find: same components, same min-id cluster labels, singletons
    included."""
    spark = spark_global
    n = 20
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in range(n)}

    from kafka_replicator_spark.functions.dedup import duplicate_clusters

    docs = spark.createDataFrame(
        [(i, "t", "en", "s") for i in range(n)],
        "doc_id long, text string, lang string, source string",
    )
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "doc_a long, doc_b long"
    )
    if not edges:
        pairs = pairs.filter("doc_a <> doc_b")  # empty edge set
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters(docs, pairs=pairs).collect()
    }
    assert got == expected


def test_two_phase_cc_adversarial_chain_logarithmic_rounds(spark, monkeypatch):
    """Kiveris et al. 2014 upper bound in practice: a 10k-node path graph
    (diameter 9 999 — min-label propagation's worst case) must converge in
    ≤ 2·log2(n) large+small rounds and still label every node with the
    component minimum."""
    import math

    n = 10_000
    edges = spark.range(n - 1).selectExpr("id AS a", "id + 1 AS b")
    # a guard of 0 forces the distributed contraction path (the round
    # bound is the subject; the default would union-find this graph)
    monkeypatch.setattr(dedup, "_SMALL_GRAPH_EDGES", 0)
    members, rounds = dedup._two_phase_cc(edges, max_iters=40)
    assert 0 < rounds <= 2 * math.log2(n), f"{rounds} rounds for n={n}"
    got = members.groupBy("comp").agg(F.count(F.lit(1)).alias("c")).collect()
    assert len(got) == 1 and got[0]["comp"] == 0 and got[0]["c"] == n


def test_two_phase_cc_guard_boundary_agrees(spark, monkeypatch):
    """At a guard equal to the graph's edge count the components come from
    the driver union-find in exactly one Spark job (the guard's
    ``limit + collect``, nothing checkpointed); one below it, the
    distributed contraction runs.  Same membership."""
    from tests.test_local_frame import _jobs_launched

    # 32 disjoint 8-node paths, one input partition and no shuffle, so the
    # guard's limit-collect scans the whole frame in one job
    edges = spark.range(0, 256, 1, 1).filter("id % 8 <> 7").selectExpr(
        "id AS a", "id + 1 AS b"
    )
    n_edges = 256 - 32
    got = {}
    for guard, driver in ((n_edges, True), (n_edges - 1, False)):
        monkeypatch.setattr(dedup, "_SMALL_GRAPH_EDGES", guard)
        with _jobs_launched(spark) as n:
            members, rounds = dedup._two_phase_cc(edges)
        assert (rounds == 0) == driver, (guard, rounds)
        if driver:
            assert n == [1], n
        got[driver] = sorted(tuple(r) for r in members.select("node", "comp").collect())
    assert got[True] == got[False]
    assert got[True] == [(v, v - v % 8) for v in range(256)]
