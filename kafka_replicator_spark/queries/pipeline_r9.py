"""Round-9 pipeline queries.

First entry: the auto-scaled two-level SemDeDup (VERDICT r08 #4) — the
fixed ``coarse_factor=16`` variant measured 22.8x wall at 100x corpus
because per-cell fine scans grow as C/G when G is constant while C ∝ N;
``coarse_factor=None`` derives G = floor(sqrt(C)+0.5) from a one-job count
of the fine set on BOTH engines (IEEE sqrt is correctly rounded, an exact
half is impossible for integer C), holding the assignment at ~N^1.5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_replicator_spark.core.schema import local_frame
from kafka_replicator_spark.functions.hashing import portable_hash60, portable_hash60_sql
from kafka_replicator_spark.functions.packing import (
    DEFAULT_PACK_BUDGET,
    corpus_mix,
    corpus_mix_sql,
    pack_sequences,
    pack_sequences_sql,
    split_assign_col,
    split_assign_sql,
)
from kafka_replicator_spark.functions.similarity import semantic_dedup_2level_sql
from kafka_replicator_spark.queries import register
from kafka_replicator_spark.sources.tables import load_table


@register(
    "p_semantic_dedup_auto",
    semantic_dedup_2level_sql(coarse_factor=None),
    tags=("pipeline", "dedup"),
    doc="SemDeDup over the two-level IVF assignment with the coarse factor "
    "auto-scaled as G = floor(sqrt(C)+0.5) from the fine-centroid count — "
    "the fixed-G variant's per-cell scans grow as C/G (superlinear past "
    "30x corpus, measured); sqrt-scaling holds N^1.5 at any size, and the "
    "oracle derives the identical G from the same count.  SCALE NOTE "
    "(honest r11 re-measurement): the within-cell all-pairs NEAR SCAN is "
    "58.8x wall at 100x — the scale path is the LSH-bucketed scan with "
    "the auto-derived plane count (p_semantic_dedup_bucketed_auto, "
    "functions/similarity.semantic_dedup_bucketed)",
)
def q_semantic_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions import similarity

    return similarity.semantic_dedup_2level(
        load_table(spark, sf_dir, "embeddings"), coarse_factor=None
    )


# --------------------------------------------------- mix -> pack composition

#: the mix survivors as a relation for the pack oracle — nested WITH inside
#: a FROM-subquery is fine in DuckDB (CLAUDE.md r08 note)
_MIX_SURVIVORS_REL = (
    "(SELECT d.doc_id, d.source, d.text FROM documents d "
    f"WHERE d.doc_id IN (SELECT doc_id FROM ({corpus_mix_sql(rel='documents')})))"
)


@register(
    "p_e2e_mix_pack",
    f"""
SELECT source,
       count(*) AS n_docs,
       CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(max(pack_tokens) AS BIGINT) AS max_pack_tokens,
       CAST((CAST(sum(n_tokens) AS HUGEINT) * 1000000)
            // (count(DISTINCT pack_id) * {DEFAULT_PACK_BUDGET}) AS BIGINT)
           AS fill_ppm
FROM ({pack_sequences_sql(DEFAULT_PACK_BUDGET, rel=_MIX_SURVIVORS_REL)})
GROUP BY source
ORDER BY source
""",
    tags=("pipeline", "compose"),
    doc="the two round-9 stitched operators chained end to end: the "
    "token-budget corpus mix selects the training subset, sequence packing "
    "bins the SURVIVORS — pack boundaries land on post-selection doc ranks, "
    "which neither single-stage query exercises; per-source manifest with "
    "the DECIMAL-lifted fill ppm.  Both stages ride the grouped "
    "range-prefix stitch (no per-source global windows)",
)
def q_e2e_mix_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    mix = corpus_mix(docs)
    surv = docs.join(mix.select("doc_id"), "doc_id", "left_semi").select(
        "doc_id", "source", "text"
    )
    pack = pack_sequences(surv, budget=DEFAULT_PACK_BUDGET)
    return (
        pack.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("pack_id").cast("long").alias("n_packs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.max("pack_tokens").alias("max_pack_tokens"),
        )
        .withColumn(
            "fill_ppm",
            F.expr(
                f"CAST((CAST(total_tokens AS DECIMAL(38,0)) * 1000000)"
                f" div (n_packs * {DEFAULT_PACK_BUDGET}) AS BIGINT)"
            ),
        )
        .orderBy("source")
    )


# ------------------------------------------- split -> held-out LM perplexity

@register(
    "p_e2e_heldout_perplexity",
    f"""
WITH assigned AS (
  SELECT doc_id, text,
         {split_assign_sql("doc_id")} AS split,
         string_split(text, ' ') AS tk
  FROM documents
), bg AS (
  SELECT split, w1, w2, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT split, tk[i] AS w1, tk[i+1] AS w2
        FROM (SELECT split, tk, unnest(range(1, len(tk))) AS i
              FROM assigned WHERE len(tk) >= 2))
  GROUP BY split, w1, w2
), tr_bg AS (
  SELECT w1, w2, CAST(sum(c) AS BIGINT) AS c12 FROM bg WHERE split = 'train'
  GROUP BY w1, w2
), tr_w1 AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM tr_bg GROUP BY w1
), vocab AS (
  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
  FROM (SELECT unnest(tk) AS tok FROM assigned WHERE split = 'train')
), ev AS (
  SELECT b.split, b.c AS n_occ,
         coalesce(t.c12, 0) AS c12, coalesce(u.c1, 0) AS c1
  FROM bg b LEFT JOIN tr_bg t USING (w1, w2) LEFT JOIN tr_w1 u USING (w1)
  WHERE b.split <> 'train'
), q AS (
  SELECT split, n_occ, c12,
         CAST(floor(-ln(CAST(c12 + 1 AS DOUBLE)
                        / (c1 + (SELECT v FROM vocab))) * 1000000000 + 0.5)
              AS BIGINT) AS nll_nano
  FROM ev
)
SELECT split,
       CAST(sum(n_occ) AS BIGINT) AS n_bigrams,
       CAST(sum(CASE WHEN c12 = 0 THEN n_occ ELSE 0 END) AS BIGINT) AS oov_bigrams,
       CAST(CAST(sum(nll_nano::HUGEINT * n_occ) AS HUGEINT)
            // sum(n_occ) AS BIGINT) AS avg_nll_nano
FROM q GROUP BY split ORDER BY split
""",
    tags=("pipeline", "compose", "quality"),
    doc="held-out LM evaluation end to end: the deterministic 98/1/1 hash "
    "split (p_dataset_split's rule) trains an add-one-smoothed bigram LM "
    "on 'train' and scores 'val'/'test' bigrams — the data-quality loop "
    "every corpus release runs (does the new mix improve held-out "
    "surprise?).  Per distinct eval bigram the nll is ln of one exact "
    "integer ratio quantized to nano-nats BEFORE the occurrence-weighted "
    "fold (the JM-smoothing rule); OOV = eval bigrams unseen in train.  "
    "Bigram-keyed joins only; no windows",
)
def q_e2e_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    split = split_assign_col("doc_id")
    toks = F.col("tk")
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + F.lit(1)).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    assigned = docs.select(
        split.alias("split"), F.split(F.col("text"), " ").alias("tk")
    )
    bg = (
        assigned.select("split", F.explode(grams).alias("g"))
        .groupBy("split", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    from kafka_replicator_spark.cacheutil import track_cached

    bg = track_cached(bg)  # feeds train counts AND the eval side
    tr_bg = (
        bg.filter(F.col("split") == "train")
        .groupBy("w1", "w2")
        .agg(F.sum("c").cast("long").alias("c12"))
    )
    tr_w1 = tr_bg.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    vocab = (
        assigned.filter(F.col("split") == "train")
        .select(F.explode("tk").alias("tok"))
        .agg(F.countDistinct("tok").cast("long").alias("v"))
    )
    ev = (
        bg.filter(F.col("split") != "train")
        .join(tr_bg, ["w1", "w2"], "left")
        .join(tr_w1, ["w1"], "left")
        .join(F.broadcast(vocab))
        .select(
            "split",
            F.col("c").alias("n_occ"),
            F.coalesce("c12", F.lit(0)).alias("c12"),
            F.coalesce("c1", F.lit(0)).alias("c1"),
            "v",
        )
    )
    q = ev.withColumn(
        "nll_nano",
        F.floor(
            -F.log((F.col("c12") + F.lit(1)).cast("double") / (F.col("c1") + F.col("v")))
            * F.lit(1_000_000_000.0)
            + F.lit(0.5)
        ).cast("long"),
    )
    return (
        q.groupBy("split")
        .agg(
            F.sum("n_occ").cast("long").alias("n_bigrams"),
            F.sum(F.when(F.col("c12") == 0, F.col("n_occ")).otherwise(0))
            .cast("long")
            .alias("oov_bigrams"),
            F.expr(
                "CAST(sum(CAST(nll_nano AS DECIMAL(38,0)) * n_occ)"
                " div sum(n_occ) AS BIGINT)"
            ).alias("avg_nll_nano"),
        )
        .orderBy("split")
    )


# --------------------------------------------------- minhash mergeability

_MM_K = 16


def _mergeability_oracle() -> str:
    from kafka_replicator_spark.functions.dedup import word_ngrams_sql
    from kafka_replicator_spark.functions.hashing import hash_family_params, hash_family_sql

    params = hash_family_params(_MM_K)
    mins = ", ".join(
        f"min({hash_family_sql('h', a, b)}) AS sig_{i}" for i, (a, b) in enumerate(params)
    )
    merge_mins = ", ".join(f"min(sig_{i}) AS sig_{i}" for i in range(_MM_K))
    diff = " OR ".join(f"m.sig_{i} <> f.sig_{i}" for i in range(_MM_K))
    return f"""
WITH sh AS MATERIALIZED ({word_ngrams_sql(3)}),
hs AS (SELECT doc_id, h % 2 AS p, {mins} FROM sh GROUP BY doc_id, h % 2),
merged AS (SELECT doc_id, {merge_mins} FROM hs GROUP BY doc_id),
fullsig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
cmp AS (
  SELECT f.doc_id, CASE WHEN {diff} THEN 1 ELSE 0 END AS mismatch
  FROM fullsig f JOIN merged m USING (doc_id)
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(mismatch) AS BIGINT) AS n_mismatched
FROM cmp JOIN documents d USING (doc_id)
GROUP BY d.source ORDER BY d.source
"""


@register(
    "p_minhash_mergeability",
    _mergeability_oracle(),
    tags=("pipeline", "dedup", "audit"),
    doc="incremental-ingest contract of the MinHash signatures: a document "
    "whose shingles arrive in two batches (split here by shingle-hash "
    "parity) must merge its per-batch signatures (elementwise min) into "
    "EXACTLY the full-corpus signature — the property that lets a 100 TB "
    "pipeline maintain signatures incrementally (p_incremental_dedup's "
    "premise) instead of re-shingling the corpus per delivery.  "
    "n_mismatched must be 0 per source; a nonzero is a hash-family or "
    "merge-plumbing regression.  Two grouped passes over one cached "
    "shingle frame, doc-keyed joins only",
)
def q_minhash_mergeability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from kafka_replicator_spark.cacheutil import track_cached
    from kafka_replicator_spark.functions.dedup import minhash_signatures, word_ngrams
    from kafka_replicator_spark.functions.hashing import hash_family_col, hash_family_params

    docs = load_table(spark, sf_dir, "documents")
    sh = track_cached(word_ngrams(docs, n=3))
    params = hash_family_params(_MM_K)
    half_aggs = [
        F.min(hash_family_col(F.col("h"), a, b)).alias(f"sig_{i}")
        for i, (a, b) in enumerate(params)
    ]
    hs = sh.withColumn("p", F.expr("h % 2")).groupBy("doc_id", "p").agg(*half_aggs)
    merged = hs.groupBy("doc_id").agg(
        *[F.min(f"sig_{i}").alias(f"m_{i}") for i in range(_MM_K)]
    )
    full = minhash_signatures(docs, k=_MM_K, n=3, shingles=sh)
    joined = full.join(merged, "doc_id")
    mismatch = reduce(
        lambda x, y: x | y,
        [F.col(f"m_{i}") != F.col(f"sig_{i}") for i in range(_MM_K)],
    )
    cmp = joined.select("doc_id", F.when(mismatch, 1).otherwise(0).alias("mismatch"))
    return (
        cmp.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("mismatch").cast("long").alias("n_mismatched"),
        )
        .orderBy("source")
    )


# --------------------------------------------- band-agreement histogram

_BA_K, _BA_BANDS = 16, 4


def _band_agreement_oracle() -> str:
    from kafka_replicator_spark.functions.dedup import (
        minhash_bands_cte_sql,
        minhash_signatures_sql,
    )

    return f"""
WITH sig AS MATERIALIZED ({minhash_signatures_sql(_BA_K, 3)}),
banded AS MATERIALIZED ({minhash_bands_cte_sql(_BA_K, _BA_BANDS)}),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_agree
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT n_agree AS n_agree_bands,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY n_agree ORDER BY n_agree_bands
"""


@register(
    "p_band_agreement_histogram",
    _band_agreement_oracle(),
    tags=("pipeline", "dedup", "audit"),
    doc="distribution of agreeing-band counts over the LSH candidate pairs: "
    "1 agreeing band is the capture threshold, 4/4 agreement means the "
    "full signatures collide (near-certain duplicates) — the histogram "
    "separates borderline candidates from hard dups BEFORE any exact "
    "verification pass, sizing the verify stage's workload.  Same "
    "banded equi-join as p_lsh_candidate_pairs (never all-pairs) plus "
    "one pair-grain count; bounded output (≤ bands rows)",
)
def q_band_agreement_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.cacheutil import track_cached
    from kafka_replicator_spark.functions.dedup import minhash_bands

    docs = load_table(spark, sf_dir, "documents")
    banded = track_cached(minhash_bands(docs, k=_BA_K, n=3, bands=_BA_BANDS))
    a = banded.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    pairs = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_agree"))
    )
    return (
        pairs.groupBy(F.col("n_agree").alias("n_agree_bands"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("n_agree_bands")
    )


# ------------------------------------- simhash-vs-jaccard correlation

def _hamming_jaccard_oracle() -> str:
    from kafka_replicator_spark.functions.dedup import (
        lsh_candidate_pairs_sql,
        simhash_sql,
        word_ngrams_sql,
    )

    return f"""
WITH pairs AS MATERIALIZED ({lsh_candidate_pairs_sql()}),
sh AS MATERIALIZED ({word_ngrams_sql(3)}),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS n_int
  FROM pairs p JOIN sh a ON a.doc_id = p.doc_a
               JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
  GROUP BY p.doc_a, p.doc_b
),
fp AS MATERIALIZED ({simhash_sql()}),
xy AS (
  SELECT (1000000 * coalesce(i.n_int, 0))
           // (sa.n_sh + sb.n_sh - coalesce(i.n_int, 0)) AS x,
         bit_count(xor(fa.simhash, fb.simhash)) AS y
  FROM pairs p
  LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
  JOIN sizes sa ON sa.doc_id = p.doc_a
  JOIN sizes sb ON sb.doc_id = p.doc_b
  JOIN fp fa ON fa.doc_id = p.doc_a
  JOIN fp fb ON fb.doc_id = p.doc_b
),
m AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x::HUGEINT) AS HUGEINT) AS sx,
         CAST(sum(y::HUGEINT) AS HUGEINT) AS sy,
         CAST(sum(x::HUGEINT * y) AS HUGEINT) AS sxy,
         CAST(sum(x::HUGEINT * x) AS HUGEINT) AS sxx,
         CAST(sum(y::HUGEINT * y) AS HUGEINT) AS syy
  FROM xy
)
SELECT CAST(n AS BIGINT) AS n_pairs,
       CAST(floor((n * sxy - sx * sy)::DOUBLE
                  / nullif(sqrt((n * sxx - sx * sx)::DOUBLE)
                           * sqrt((n * syy - sy * sy)::DOUBLE), 0.0)
                  * 1000000000 + 0.5) AS BIGINT) AS r_nano
FROM m
"""


@register(
    "p_hamming_jaccard_corr",
    _hamming_jaccard_oracle(),
    tags=("pipeline", "dedup", "audit"),
    doc="Pearson correlation (nano-quantized) between the two cheap "
    "near-dup signals over the LSH candidate pairs: exact shingle Jaccard "
    "(integer ppm) vs 32-bit SimHash Hamming distance — strongly negative "
    "r validates SimHash as the cheaper screen; a weak r on a corpus "
    "slice says the token-frequency fingerprint is missing what the "
    "shingle sets see.  Candidate pairs only (never all-pairs); moments "
    "are HUGEINT/DECIMAL-exact, the single final r computed in double "
    "from exact integers on a 1-row frame (the partial-corr recipe)",
)
def q_hamming_jaccard_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.cacheutil import track_cached
    from kafka_replicator_spark.functions.dedup import (
        lsh_candidate_pairs,
        simhash,
        word_ngrams,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = track_cached(word_ngrams(docs, n=3))
    pairs = track_cached(lsh_candidate_pairs(docs, shingles=sh))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        pairs.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_int"))
    )
    fp = track_cached(simhash(docs))
    xy = (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
        .join(fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fa")), "doc_a")
        .join(fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fb")), "doc_b")
        .select(
            F.expr("(1000000 * coalesce(n_int, 0)) div (na + nb - coalesce(n_int, 0))").alias("x"),
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("long").alias("y"),
        )
    )
    m = xy.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x").cast("decimal(38,0)") * F.col("y"))).alias("sxy"),
        F.sum((F.col("x").cast("decimal(38,0)") * F.col("x"))).alias("sxx"),
        F.sum((F.col("y").cast("decimal(38,0)") * F.col("y"))).alias("syy"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.expr(
            "CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)"
            " / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
            "          * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0.0D)"
            " * 1000000000 + 0.5) AS BIGINT)"
        ).alias("r_nano"),
    )


# ------------------------------------------- cosine-vs-dot rank agreement

_CDA_PROBES = list(range(8))
_CDA_K = 5


def _cosine_dot_oracle() -> str:
    from kafka_replicator_spark.functions.similarity import (
        brute_force_topk_sql,
        dot_topk_sql,
    )

    return f"""
WITH ctop AS MATERIALIZED ({brute_force_topk_sql(_CDA_PROBES, _CDA_K)}),
dtop AS MATERIALIZED ({dot_topk_sql(_CDA_PROBES, _CDA_K)}),
probes AS (SELECT DISTINCT probe_id FROM ctop),
hits AS (
  SELECT c.probe_id, CAST(count(*) AS BIGINT) AS n_overlap
  FROM ctop c JOIN dtop d
    ON c.probe_id = d.probe_id AND c.neighbor_id = d.neighbor_id
  GROUP BY c.probe_id
)
SELECT p.probe_id,
       coalesce(h.n_overlap, 0) AS n_overlap,
       CAST((1000000 * coalesce(h.n_overlap, 0)) // {_CDA_K} AS BIGINT)
         AS overlap_ppm
FROM probes p LEFT JOIN hits h USING (probe_id)
ORDER BY p.probe_id
"""


@register(
    "p_cosine_dot_agreement",
    _cosine_dot_oracle(),
    tags=("pipeline", "similarity", "audit"),
    doc="per-probe top-5 overlap between cosine ranking and raw "
    "dot-product (MIPS) ranking — the norm-effect audit: where the two "
    "disagree, vector norms (not directions) decide retrieval, so cosine "
    "vs dot is a REAL modeling choice on that slice, not a convention.  "
    "Composes the brute-force kernel and its new norm-sensitive twin "
    "(similarity.dot_topk); two ≤40-row top-k frames, one intersection "
    "join, left join keeps zero-overlap probes",
)
def q_cosine_dot_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.cacheutil import track_cached
    from kafka_replicator_spark.functions import similarity

    emb = track_cached(load_table(spark, sf_dir, "embeddings"))
    ctop = similarity.brute_force_topk(emb, _CDA_PROBES, k=_CDA_K).select(
        "probe_id", "neighbor_id"
    )
    dtop = similarity.dot_topk(emb, _CDA_PROBES, k=_CDA_K).select(
        "probe_id", "neighbor_id"
    )
    probes = ctop.select("probe_id").distinct()
    hits = ctop.join(dtop, ["probe_id", "neighbor_id"]).groupBy("probe_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap")
    )
    return (
        probes.join(hits, "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            F.expr(
                f"CAST((1000000 * coalesce(n_overlap, 0)) div {_CDA_K} AS BIGINT)"
            ).alias("overlap_ppm"),
        )
        .orderBy("probe_id")
    )


# ------------------------------------------------------- BFS reachability

_BFS_ROUNDS = 3


def _bfs_oracle() -> str:
    from kafka_replicator_spark.functions.similarity import label_knn_graph_sql

    ctes = [
        f"g AS MATERIALIZED ({label_knn_graph_sql()})",
        "e AS MATERIALIZED (SELECT vec_id AS u, neighbor_id AS v FROM g"
        " UNION SELECT neighbor_id, vec_id FROM g)",
        "r0 AS (SELECT CAST(0 AS BIGINT) AS node)",
    ]
    for r in range(1, _BFS_ROUNDS + 1):
        ctes.append(
            f"r{r} AS MATERIALIZED (SELECT node FROM r{r-1}"
            f" UNION SELECT e.v FROM e JOIN r{r-1} p ON e.u = p.node)"
        )
    rows = " UNION ALL ".join(
        f"SELECT {r} AS round,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM r{r}) AS n_reached,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM r{r})"
        f" - (SELECT CAST(count(*) AS BIGINT) FROM r{r-1}) AS n_new"
        for r in range(1, _BFS_ROUNDS + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT CAST(round AS INTEGER) AS round, n_reached, n_new"
        + f" FROM ({rows}) ORDER BY round"
    )


@register(
    "p_bfs_reachability",
    _bfs_oracle(),
    tags=("pipeline", "graph"),
    doc="breadth-first reach counts from vector 0 over the undirected "
    "label-blocked kNN graph, 3 unrolled rounds — the ball-growth profile "
    "that says how fast near-duplicate influence propagates (a small "
    "graph diameter means one bad seed document contaminates its whole "
    "block in a few hops).  Each round is one join + distinct with an "
    "eager count truncating lineage (the LPA/k-core recipe); the oracle "
    "unrolls the same rounds as MATERIALIZED CTEs",
)
def q_bfs_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.cacheutil import track_cached
    from kafka_replicator_spark.functions import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    g = similarity.label_knn_graph(emb)
    e = track_cached(
        g.select(F.col("vec_id").alias("u"), F.col("neighbor_id").alias("v"))
        .unionByName(
            g.select(F.col("neighbor_id").alias("u"), F.col("vec_id").alias("v"))
        )
        .distinct()
    )
    spark_sess = emb.sparkSession
    reached = track_cached(local_frame(spark_sess, [(0,)], "node bigint"))
    prev_n = 1
    rows = []
    for r in range(1, _BFS_ROUNDS + 1):
        reached = track_cached(
            reached.unionByName(
                e.join(reached, e.u == reached.node).select(F.col("v").alias("node"))
            ).distinct()
        )
        n = reached.count()  # eager: truncates lineage per round
        rows.append((r, n, n - prev_n))
        prev_n = n
    return local_frame(spark_sess, rows, "round int, n_reached bigint, n_new bigint")


# ------------------------------------------- split token-distribution JS

_SJS_BUCKETS = 1024


def _split_js_oracle() -> str:
    from kafka_replicator_spark.functions.hashing import portable_hash32_sql

    h = portable_hash32_sql("tok")
    js_term = "(CASE WHEN p > 0 THEN p * ln(p / m) ELSE 0 END + q * ln(q / m))"
    return f"""
WITH toks AS (
  SELECT split, ({h} % {_SJS_BUCKETS}) AS b
  FROM (SELECT {split_assign_sql("doc_id")} AS split, unnest(string_split(text, ' ')) AS tok
        FROM documents)
),
sb AS (SELECT split, b, CAST(count(*) AS BIGINT) AS csb FROM toks GROUP BY split, b),
cb AS (SELECT b, CAST(sum(csb) AS BIGINT) AS cb FROM sb GROUP BY b),
ns AS (SELECT split, CAST(sum(csb) AS BIGINT) AS n_s FROM sb GROUP BY split),
tot AS (SELECT CAST(sum(cb) AS BIGINT) AS n FROM cb),
grid AS (
  SELECT ns.split, cb.b, ns.n_s, cb.cb, coalesce(sb.csb, 0) AS csb
  FROM ns CROSS JOIN cb
  LEFT JOIN sb ON sb.split = ns.split AND sb.b = cb.b
),
terms AS (
  SELECT split, n_s,
         CAST(floor({js_term} * 1000000000 + 0.5) AS BIGINT) AS t_nano
  FROM (
    SELECT split, n_s,
           CAST(csb AS DOUBLE) / n_s AS p,
           CAST(cb AS DOUBLE) / n AS q,
           (CAST(csb AS DOUBLE) / n_s + CAST(cb AS DOUBLE) / n) / 2 AS m
    FROM grid CROSS JOIN tot
  )
)
SELECT split, any_value(n_s) AS n_tokens,
       CAST(greatest(sum(t_nano), 0) // 2000 AS BIGINT) AS js_micro
FROM terms GROUP BY split ORDER BY split
"""


@register(
    "p_split_token_js",
    _split_js_oracle(),
    tags=("pipeline", "compose", "drift", "audit"),
    doc="Jensen-Shannon divergence of each SPLIT's hashed-unigram "
    "distribution from the corpus mixture (the p_source_token_js recipe "
    "composed over the deterministic 98/1/1 hash split): the "
    "representativeness audit of held-out evaluation — a val/test split "
    "distributionally far from train invalidates the held-out perplexity "
    "readout (p_e2e_heldout_perplexity's premise).  Per-bucket KL terms "
    "nano-quantized before the fold; grid = 3 splits x 1024 buckets",
)
def q_split_token_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.cacheutil import track_cached
    from kafka_replicator_spark.functions.hashing import portable_hash32, spread

    docs = load_table(spark, sf_dir, "documents")
    toks = (
        spread(docs.select(split_assign_col("doc_id").alias("split"), "text"))
        .select("split", F.explode(F.split("text", " ")).alias("tok"))
        .select("split", (portable_hash32("tok") % _SJS_BUCKETS).alias("b"))
    )
    sb = track_cached(
        toks.groupBy("split", "b").agg(F.count(F.lit(1)).alias("csb"))
    )
    cb = sb.groupBy("b").agg(F.sum("csb").alias("cb"))
    ns = sb.groupBy("split").agg(F.sum("csb").alias("n_s"))
    tot = cb.agg(F.sum("cb").alias("n"))
    grid = (
        ns.join(F.broadcast(cb))
        .join(sb, ["split", "b"], "left")
        .select("split", "b", "n_s", "cb", F.coalesce("csb", F.lit(0)).alias("csb"))
    )
    pqm = grid.join(F.broadcast(tot)).select(
        "split",
        "n_s",
        (F.col("csb").cast("double") / F.col("n_s")).alias("p"),
        (F.col("cb").cast("double") / F.col("n")).alias("q"),
        (
            (F.col("csb").cast("double") / F.col("n_s") + F.col("cb").cast("double") / F.col("n"))
            / 2
        ).alias("m"),
    )
    js_term = "(CASE WHEN p > 0 THEN p * ln(p / m) ELSE 0 END + q * ln(q / m))"
    terms = pqm.select(
        "split",
        "n_s",
        F.expr(f"CAST(floor({js_term} * 1000000000 + 0.5) AS BIGINT)").alias("t_nano"),
    )
    return (
        terms.groupBy("split")
        .agg(
            F.first("n_s").cast("long").alias("n_tokens"),
            F.expr("CAST(greatest(sum(t_nano), 0) div 2000 AS BIGINT)").alias(
                "js_micro"
            ),
        )
        .orderBy("split")
    )


# ------------------------------------------- split label stratification

@register(
    "p_split_label_chi2",
    f"""
WITH assigned AS (
  SELECT {split_assign_sql("vec_id")} AS split,
         CAST(label AS INTEGER) AS label
  FROM embeddings
),
obs AS (SELECT split, label, CAST(count(*) AS BIGINT) AS o
        FROM assigned GROUP BY split, label),
rs AS (SELECT split, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY split),
cs AS (SELECT label, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY label),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
grid AS (
  SELECT rs.split, cs.label, rs.r, cs.c, coalesce(obs.o, 0) AS o
  FROM rs CROSS JOIN cs
  LEFT JOIN obs ON obs.split = rs.split AND obs.label = cs.label
),
terms AS (
  SELECT split,
         CAST(floor((o::DOUBLE - (r::HUGEINT * c)::DOUBLE / n)
                    * (o::DOUBLE - (r::HUGEINT * c)::DOUBLE / n)
                    / ((r::HUGEINT * c)::DOUBLE / n)
                    * 1000000000 + 0.5) AS BIGINT) AS t_nano
  FROM grid CROSS JOIN tot
)
SELECT split, CAST(sum(t_nano) AS BIGINT) AS chi2_nano
FROM terms GROUP BY split ORDER BY split
""",
    tags=("pipeline", "compose", "audit"),
    doc="chi-squared stratification audit of the deterministic hash split "
    "against the embedding labels: per-(split, label) observed counts vs "
    "the independence expectation r*c/n — a large per-split chi2 says the "
    "hash split is NOT label-stratified and per-class eval metrics will "
    "be noisy.  Per-cell terms are doubles over exact integers quantized "
    "to nano before the fold (the categorical-drift recipe at split "
    "grain); grid = 3 splits x ~8 labels",
)
def q_split_label_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = emb.select(
        split_assign_col("vec_id").alias("split"),
        F.col("label").cast("int").alias("label"),
    )
    obs = assigned.groupBy("split", "label").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    from kafka_replicator_spark.cacheutil import track_cached

    obs = track_cached(obs)
    rs = obs.groupBy("split").agg(F.sum("o").cast("long").alias("r"))
    cs = obs.groupBy("label").agg(F.sum("o").cast("long").alias("c"))
    tot = obs.agg(F.sum("o").cast("long").alias("n"))
    grid = (
        rs.join(F.broadcast(cs))
        .join(obs, ["split", "label"], "left")
        .select("split", "label", "r", "c", F.coalesce("o", F.lit(0)).alias("o"))
        .join(F.broadcast(tot))
    )
    terms = grid.select(
        "split",
        F.expr(
            "CAST(floor((CAST(o AS DOUBLE) - CAST(CAST(r AS DECIMAL(38,0)) * c AS DOUBLE) / n)"
            " * (CAST(o AS DOUBLE) - CAST(CAST(r AS DECIMAL(38,0)) * c AS DOUBLE) / n)"
            " / (CAST(CAST(r AS DECIMAL(38,0)) * c AS DOUBLE) / n)"
            " * 1000000000 + 0.5) AS BIGINT)"
        ).alias("t_nano"),
    )
    return (
        terms.groupBy("split")
        .agg(F.sum("t_nano").cast("long").alias("chi2_nano"))
        .orderBy("split")
    )


# --------------------------------------------- pack attention-waste audit

@register(
    "p_pack_attention_audit",
    f"""
WITH packed AS ({pack_sequences_sql(DEFAULT_PACK_BUDGET)}),
per_pack AS (
  SELECT source, pack_id,
         any_value(pack_tokens) AS pt,
         CAST(sum(n_tokens::HUGEINT * n_tokens) AS HUGEINT) AS self_sq
  FROM packed GROUP BY source, pack_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_packs,
       CAST(sum(pt::HUGEINT * pt) AS BIGINT) AS total_sq,
       CAST(sum(pt::HUGEINT * pt - self_sq) AS BIGINT) AS cross_sq,
       CAST((1000000 * sum(pt::HUGEINT * pt - self_sq))
            // sum(pt::HUGEINT * pt) AS BIGINT) AS cross_ppm
FROM per_pack GROUP BY source ORDER BY source
""",
    tags=("pipeline", "audit"),
    doc="cross-document attention share per source under naive (unmasked) "
    "causal attention over the packed sequences: a pack of docs sized "
    "n_1..n_k spends Σn_i² of its (Σn_i)² attention pairs within "
    "documents — the rest is cross-document leakage unless the trainer "
    "masks pack boundaries; cross_ppm is the exact integer fraction, the "
    "number that decides whether boundary masking is worth the kernel "
    "complexity.  Pure integer arithmetic over the pack manifest",
)
def q_pack_attention_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pack = pack_sequences(docs, budget=DEFAULT_PACK_BUDGET)
    per_pack = pack.groupBy("source", "pack_id").agg(
        F.first("pack_tokens").alias("pt"),
        F.expr("sum(CAST(n_tokens AS DECIMAL(38,0)) * n_tokens)").alias("self_sq"),
    )
    return (
        per_pack.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_packs"),
            F.expr("CAST(sum(CAST(pt AS DECIMAL(38,0)) * pt) AS BIGINT)").alias(
                "total_sq"
            ),
            F.expr(
                "CAST(sum(CAST(pt AS DECIMAL(38,0)) * pt - self_sq) AS BIGINT)"
            ).alias("cross_sq"),
            F.expr(
                "CAST((1000000 * sum(CAST(pt AS DECIMAL(38,0)) * pt - self_sq))"
                " div sum(CAST(pt AS DECIMAL(38,0)) * pt) AS BIGINT)"
            ).alias("cross_ppm"),
        )
        .orderBy("source")
    )


# ------------------------------------------- quality-gate agreement kappa

def _gate_kappa_oracle() -> str:
    from kafka_replicator_spark.functions.curation import gopher_quality_sql
    from kafka_replicator_spark.functions.scoring import quality_classifier_sql

    return f"""
WITH g AS ({gopher_quality_sql()}),
c AS ({quality_classifier_sql()}),
cls AS (
  SELECT g.passes AS a_flag, c.keep AS b_flag
  FROM g JOIN c USING (doc_id)
),
ct AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(CASE WHEN a_flag = 1 AND b_flag = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS a,
         CAST(sum(CASE WHEN a_flag = 1 AND b_flag = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS b,
         CAST(sum(CASE WHEN a_flag = 0 AND b_flag = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS c,
         CAST(sum(CASE WHEN a_flag = 0 AND b_flag = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS d
  FROM cls
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(a AS BIGINT) AS both_keep,
       CAST(d AS BIGINT) AS both_drop,
       CAST((1000000 * (n * (a + d) - ((a + b) * (a + c) + (c + d) * (b + d))))
            // nullif(n * n - ((a + b) * (a + c) + (c + d) * (b + d)), 0)
            AS BIGINT) AS kappa_ppm
FROM ct
"""


@register(
    "p_quality_gate_kappa",
    _gate_kappa_oracle(),
    tags=("pipeline", "quality", "audit"),
    doc="Cohen's kappa between the two quality gates the curation surface "
    "ships — the Gopher heuristic rules and the hashed-BoW classifier: "
    "chance-corrected agreement says whether the classifier adds signal "
    "beyond the heuristics (kappa near 1 means it can replace them; near "
    "0 means they disagree and the funnel order matters).  Same cleared "
    "integer-ratio kappa as a_cohen_kappa_priority; one doc-keyed join "
    "of the two per-doc gate frames",
)
def q_quality_gate_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions.curation import gopher_quality
    from kafka_replicator_spark.functions.scoring import quality_classifier

    docs = load_table(spark, sf_dir, "documents")
    g = gopher_quality(docs).select("doc_id", F.col("passes").alias("a_flag"))
    c = quality_classifier(docs).select("doc_id", F.col("keep").alias("b_flag"))
    cls = g.join(c, "doc_id")
    ct = cls.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.when((F.col("a_flag") == 1) & (F.col("b_flag") == 1), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("a"),
        F.sum(F.when((F.col("a_flag") == 1) & (F.col("b_flag") == 0), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("b"),
        F.sum(F.when((F.col("a_flag") == 0) & (F.col("b_flag") == 1), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("c"),
        F.sum(F.when((F.col("a_flag") == 0) & (F.col("b_flag") == 0), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("d"),
    )
    return ct.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("a").cast("long").alias("both_keep"),
        F.col("d").cast("long").alias("both_drop"),
        F.expr(
            "CAST((1000000 * (n * (a + d) - ((a + b) * (a + c) + (c + d) * (b + d))))"
            " div nullif(n * n - ((a + b) * (a + c) + (c + d) * (b + d)),"
            " CAST(0 AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("kappa_ppm"),
    )


# ------------------------------------------------------- PII by source

def _pii_by_source_oracle() -> str:
    from kafka_replicator_spark.functions.curation import pii_scrub_sql

    return f"""
WITH p AS ({pii_scrub_sql()})
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p.n_emails) AS BIGINT) AS n_emails,
       CAST(sum(p.n_phones) AS BIGINT) AS n_phones,
       CAST(sum(p.n_ips) AS BIGINT) AS n_ips,
       CAST(sum(CASE WHEN p.n_emails + p.n_phones + p.n_ips > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii
FROM p JOIN documents d USING (doc_id)
GROUP BY d.source ORDER BY d.source
"""


@register(
    "p_pii_by_source",
    _pii_by_source_oracle(),
    tags=("pipeline", "quality", "audit"),
    doc="PII incidence profile per source over the scrubber's detection "
    "counts (emails / phone fragments / IPv4) — the compliance readout "
    "that decides which sources need the redaction pass on the critical "
    "path vs a spot-check; composes functions/curation.pii_scrub with one "
    "source-grain aggregation",
)
def q_pii_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions.curation import pii_scrub

    docs = load_table(spark, sf_dir, "documents")
    p = pii_scrub(docs)
    return (
        p.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_emails").cast("long").alias("n_emails"),
            F.sum("n_phones").cast("long").alias("n_phones"),
            F.sum("n_ips").cast("long").alias("n_ips"),
            F.sum(
                F.when(
                    F.col("n_emails") + F.col("n_phones") + F.col("n_ips") > 0, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_docs_with_pii"),
        )
        .orderBy("source")
    )


# ------------------------------------------- two-NN intrinsic dimension

def _intrinsic_dim_oracle() -> str:
    from kafka_replicator_spark.functions.similarity import label_knn_graph_sql

    return f"""
WITH g AS MATERIALIZED ({label_knn_graph_sql()}),
nn AS (
  SELECT vec_id,
         max(CASE WHEN nn_rank = 1 THEN d2 END) AS d1sq,
         max(CASE WHEN nn_rank = 2 THEN d2 END) AS d2sq
  FROM g WHERE nn_rank <= 2 GROUP BY vec_id
),
mu AS (
  SELECT CAST(floor(ln(CAST(d2sq AS DOUBLE) / d1sq) * 1000000000 + 0.5)
              AS BIGINT) AS ln_nano
  FROM nn WHERE d1sq > 0 AND d2sq IS NOT NULL
)
SELECT CAST(count(*) AS BIGINT) AS n_used,
       CAST((CAST(2000 * count(*) AS HUGEINT) * 1000000000)
            // nullif(sum(ln_nano), 0) AS BIGINT) AS dim_milli
FROM mu
"""
    # 2·n/Σ ln(d2²/d1²) == n/Σ ln(d2/d1) — the squared-distance form needs
    # no sqrt, so the per-row ln argument stays an exact integer ratio


@register(
    "p_intrinsic_dim_2nn",
    _intrinsic_dim_oracle(),
    tags=("pipeline", "similarity", "audit"),
    doc="two-NN intrinsic-dimension estimate (Facco et al.) of the "
    "embedding corpus: d = n / Σ ln(r2/r1) over each vector's two nearest "
    "same-label neighbors — computed on SQUARED integer micro-distances "
    "(2n/Σ ln(d2²/d1²), no sqrt, the ln argument an exact integer ratio "
    "quantized to nano before the fold).  Duplicate vectors (d1=0) are "
    "excluded, as the estimator requires.  A much lower d than the "
    "ambient 64 says the embeddings sit on a thin manifold and aggressive "
    "PQ/truncation is safe; composes the kNN-graph kernel",
)
def q_intrinsic_dim_2nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    g = similarity.label_knn_graph(emb)
    nn = (
        g.filter(F.col("nn_rank") <= 2)
        .groupBy("vec_id")
        .agg(
            F.max(F.when(F.col("nn_rank") == 1, F.col("d2"))).alias("d1sq"),
            F.max(F.when(F.col("nn_rank") == 2, F.col("d2"))).alias("d2sq"),
        )
    )
    mu = nn.filter((F.col("d1sq") > 0) & F.col("d2sq").isNotNull()).select(
        F.expr(
            "CAST(floor(ln(CAST(d2sq AS DOUBLE) / d1sq) * 1000000000 + 0.5) AS BIGINT)"
        ).alias("ln_nano")
    )
    return mu.agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        F.expr(
            "CAST((CAST(2000 * count(1) AS DECIMAL(38,0)) * 1000000000)"
            " div nullif(sum(ln_nano), 0) AS BIGINT)"
        ).alias("dim_milli"),
    )


# ------------------------------------------------ HNSW level-assignment model

_HNSW_BITS = 20


def _hnsw_level_case(k_expr: str) -> str:
    """Integer CASE ladder for level = floor(-log2((k+1)/2^bits)) — literal
    power-of-two thresholds, identical text on both engines (float log2 at
    exact powers of two is NOT trusted cross-engine; the p_df_histogram
    lesson)."""
    whens = [
        f"WHEN {k_expr} + 1 > {1 << (_HNSW_BITS - 1 - lvl)} THEN {lvl}"
        for lvl in range(_HNSW_BITS)
    ]
    return "CASE " + " ".join(whens) + f" ELSE {_HNSW_BITS} END"


def _hnsw_oracle() -> str:
    h = portable_hash60_sql("CAST(vec_id AS VARCHAR)")
    lvl = _hnsw_level_case(f"(({h}) % {1 << _HNSW_BITS})")
    return f"""
WITH lv AS (SELECT {lvl} AS level FROM embeddings),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_vec FROM lv)
SELECT CAST(level AS INTEGER) AS level,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST((SELECT n_vec FROM n) // (CAST(2 AS BIGINT) << level) AS BIGINT)
         AS expected_n
FROM lv GROUP BY level ORDER BY level
"""


@register(
    "p_hnsw_level_model",
    _hnsw_oracle(),
    tags=("pipeline", "similarity"),
    doc="HNSW layer-assignment model: level = floor(-log2(u)) with u drawn "
    "deterministically from the portable vector-id hash (mL = 1/ln2, the "
    "paper's default) — under the integer construction P(level >= L) is "
    "EXACTLY 2^-L, so the observed histogram against expected_n = "
    "n/2^(L+1) validates both the hash uniformity and the layer budget an "
    "HNSW build would allocate (upper-layer node counts ARE the index's "
    "memory plan).  Map-only CASE ladder with literal power-of-two "
    "thresholds; one bounded groupBy",
)
def q_hnsw_level_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    k = portable_hash60(F.col("vec_id").cast("string")) % (1 << _HNSW_BITS)
    # ladder applied over a named column so the CASE text is identical to
    # the oracle's (one generator builds both)
    lv = emb.select(k.alias("k")).select(F.expr(_hnsw_level_case("k")).alias("level"))
    n = lv.agg(F.count(F.lit(1)).cast("long").alias("n_vec"))
    return (
        lv.groupBy("level")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
        .join(F.broadcast(n))
        .select(
            F.col("level").cast("int").alias("level"),
            "n_vectors",
            F.expr("CAST(n_vec div (CAST(2 AS BIGINT) << level) AS BIGINT)").alias(
                "expected_n"
            ),
        )
        .orderBy("level")
    )


# --------------------------------------------- chunk-level dedup interaction

def _chunk_dedup_oracle() -> str:
    from kafka_replicator_spark.functions.text import chunk_documents_sql

    return f"""
WITH chunks AS MATERIALIZED (
  SELECT doc_id, md5(chunk_text) AS ch FROM ({chunk_documents_sql()})
),
freq AS (SELECT ch, CAST(count(*) AS BIGINT) AS n FROM chunks GROUP BY ch)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT c.ch) AS BIGINT) AS n_distinct_chunks,
       CAST(sum(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       CAST((1000000 * sum(CASE WHEN f.n > 1 THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS dup_chunk_ppm
FROM chunks c JOIN freq f USING (ch)
JOIN documents d USING (doc_id)
GROUP BY d.source ORDER BY d.source
"""


@register(
    "p_e2e_chunk_dedup",
    _chunk_dedup_oracle(),
    tags=("pipeline", "compose", "dedup"),
    doc="chunk-grain duplication audit: the overlapping training-window "
    "chunker (functions/text.chunk_documents) composed with exact hash "
    "dedup — document-level dedup misses boilerplate that repeats at "
    "WINDOW grain across distinct documents, and dup_chunk_ppm per source "
    "is exactly the redundancy a chunk-trained model re-sees.  One "
    "chunk-hash groupBy + a frequency join back; no windows, no pairs",
)
def q_e2e_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.cacheutil import track_cached
    from kafka_replicator_spark.functions.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    chunks = track_cached(
        chunk_documents(docs).select("doc_id", F.md5("chunk_text").alias("ch"))
    )
    freq = chunks.groupBy("ch").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        chunks.join(freq, "ch")
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.countDistinct("ch").cast("long").alias("n_distinct_chunks"),
            F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).cast("long").alias(
                "n_dup_chunks"
            ),
            F.expr(
                "CAST((1000000 * sum(CASE WHEN n > 1 THEN 1 ELSE 0 END))"
                " div count(1) AS BIGINT)"
            ).alias("dup_chunk_ppm"),
        )
        .orderBy("source")
    )
