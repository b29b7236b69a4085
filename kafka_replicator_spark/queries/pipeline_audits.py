"""Pipeline self-audit queries: packer efficiency, context-budget
truncation loss, dedup-detector agreement, candidate cosine distribution,
PQ codebook distortion.

Reference parity: none — the "audit the pipeline's own machinery" family:
every operator here measures another operator the engine ships
(pack_sequences, the MinHash vs SimHash detectors, the embedding LSH
bucketer, the PQ codebook), so regressions in those operators surface as
data, not just test failures.

Determinism: exact integer ppm/milli, per-row fixed doubles rounded to
6 dp, floor-based bucketing (floor on doubles is bit-identical across
engines; round is not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_replicator_spark.core.schema import local_frame
from kafka_replicator_spark.functions import dedup, packing, similarity
from kafka_replicator_spark.queries import register
from kafka_replicator_spark.sources.tables import load_table

#: context-length budgets audited by p_truncation_loss
_TRUNC_LIMITS = (256, 512, 1024)


# ------------------------------------------------------ pack efficiency

@register(
    "p_pack_efficiency",
    f"""
WITH packed AS ({packing.pack_sequences_sql()}),
pack_grain AS (
  SELECT source, pack_id, any_value(pack_tokens) AS pack_tokens
  FROM packed GROUP BY source, pack_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_packs,
       CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
       CAST((1000000 * sum(pack_tokens))
            // (count(*) * {packing.DEFAULT_PACK_BUDGET}) AS BIGINT) AS mean_fill_ppm,
       CAST((1000000 * min(pack_tokens)) // {packing.DEFAULT_PACK_BUDGET} AS BIGINT)
         AS min_fill_ppm
FROM pack_grain GROUP BY source
""",
    tags=("pipeline", "packing", "audit"),
    doc="sequence-packer efficiency audit: per-source pack count, mean and "
    "worst bin fill in exact ppm of the token budget — the wasted-compute "
    "metric of p_pack_sequences' greedy close-before-exceed packer; "
    "pack-grain rollup of the packer's own output, source-cardinality "
    "output rows",
)
def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    packed = packing.pack_sequences(load_table(spark, sf_dir, "documents"))
    pack_grain = packed.groupBy("source", "pack_id").agg(
        F.first("pack_tokens").alias("pack_tokens")
    )
    budget = packing.DEFAULT_PACK_BUDGET
    return pack_grain.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_packs"),
        F.sum("pack_tokens").cast("long").alias("total_tokens"),
        # DECIMAL lift before the x1e6: the per-source token sum passes
        # ~9e12 at the design scale and the int64 product would wrap
        F.expr(
            f"CAST((CAST(1000000 AS DECIMAL(38,0)) * sum(pack_tokens))"
            f" div (CAST(count(1) AS DECIMAL(38,0)) * {budget}) AS BIGINT)"
        ).alias("mean_fill_ppm"),
        F.expr(f"(1000000 * min(pack_tokens)) div {budget}")
        .cast("long")
        .alias("min_fill_ppm"),
    )


# -------------------------------------------------- truncation loss

@register(
    "p_truncation_loss",
    f"""
WITH dl AS (
  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents
),
lim AS (SELECT unnest(ARRAY{list(_TRUNC_LIMITS)}) AS max_len)
SELECT source, CAST(max_len AS BIGINT) AS max_len,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN nt > max_len THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
       CAST(sum(greatest(nt - max_len, 0)) AS BIGINT) AS tokens_lost,
       CAST((1000000 * sum(greatest(nt - max_len, 0))) // sum(nt) AS BIGINT)
         AS loss_ppm
FROM dl CROSS JOIN lim
GROUP BY source, max_len
""",
    tags=("pipeline", "audit"),
    doc="context-length budget audit: per (source, max_len in 256/512/1024) "
    "— documents over the limit, tokens lost to truncation, and the loss "
    "share in exact ppm; one token-count pass cross-joined with the 3-row "
    "constant limit frame, source×limit output rows",
)
def q_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    dl = load_table(spark, sf_dir, "documents").select(
        "source", F.size(F.split("text", " ")).cast("long").alias("nt")
    )
    lim = local_frame(dl.sparkSession, [(x,) for x in _TRUNC_LIMITS], "max_len long")
    return (
        dl.join(F.broadcast(lim))
        .groupBy("source", "max_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("nt") > F.col("max_len")).cast("long"))
            .cast("long")
            .alias("n_truncated"),
            F.sum(F.greatest(F.col("nt") - F.col("max_len"), F.lit(0)))
            .cast("long")
            .alias("tokens_lost"),
            # DECIMAL lift: 1e6 x a corpus-scale token sum wraps int64
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0))"
                " * sum(greatest(nt - max_len, 0))) div sum(nt) AS BIGINT)"
            ).alias("loss_ppm"),
        )
    )


# ---------------------------------------------- detector agreement

@register(
    "p_detector_agreement",
    f"""
WITH jac AS ({dedup.jaccard_pairs_sql()}),
sim AS ({dedup.simhash_near_pairs_sql()}),
ja AS (SELECT DISTINCT doc_a, doc_b FROM jac),
sa AS (SELECT DISTINCT doc_a, doc_b FROM sim),
u AS (
  SELECT coalesce(ja.doc_a, sa.doc_a) AS doc_a,
         CAST(ja.doc_a IS NOT NULL AS INTEGER) AS in_jaccard,
         CAST(sa.doc_a IS NOT NULL AS INTEGER) AS in_simhash
  FROM ja FULL JOIN sa USING (doc_a, doc_b)
)
SELECT CAST(sum(in_jaccard) AS BIGINT) AS n_jaccard,
       CAST(sum(in_simhash) AS BIGINT) AS n_simhash,
       CAST(sum(in_jaccard * in_simhash) AS BIGINT) AS n_both,
       CAST((1000000 * sum(in_jaccard * in_simhash)) // nullif(count(*), 0) AS BIGINT)
         AS agreement_ppm
FROM u
""",
    tags=("pipeline", "dedup", "eval"),
    doc="dedup-detector agreement: the MinHash-candidate Jaccard detector "
    "vs the SimHash hamming detector compared as pair SETS (full outer "
    "join on the candidate pair key) — set sizes, overlap, and Jaccard of "
    "the two detectors' verdicts in exact ppm; both inputs are the "
    "already-blocked candidate frames, never all-pairs — 1 output row",
)
def q_detector_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ja = dedup.jaccard_pairs(docs).select("doc_a", "doc_b").distinct()
    sa = dedup.simhash_near_pairs(docs).select("doc_a", "doc_b").distinct()
    u = (
        ja.withColumn("in_jaccard", F.lit(1))
        .join(
            sa.withColumn("in_simhash", F.lit(1)),
            ["doc_a", "doc_b"],
            "full",
        )
        .select(
            F.coalesce("in_jaccard", F.lit(0)).alias("in_jaccard"),
            F.coalesce("in_simhash", F.lit(0)).alias("in_simhash"),
        )
    )
    return u.agg(
        F.sum("in_jaccard").cast("long").alias("n_jaccard"),
        F.sum("in_simhash").cast("long").alias("n_simhash"),
        F.sum(F.col("in_jaccard") * F.col("in_simhash")).cast("long").alias("n_both"),
        F.expr(
            "CAST((1000000 * sum(in_jaccard * in_simhash)) div nullif(count(1), 0) AS BIGINT)"
        ).alias("agreement_ppm"),
    )


# -------------------------------------- candidate cosine distribution

@register(
    "p_cosine_decile_histogram",
    f"""
WITH pairs AS ({similarity.embedding_neardup_pairs_sql(threshold=-1.0)})
SELECT greatest(least(CAST(floor(cos_sim * 10) AS BIGINT), 9), -10) AS decile,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY 1
""",
    tags=("pipeline", "embedding", "eval"),
    doc="cosine distribution of LSH-bucketed embedding candidate pairs "
    "(decile histogram over [-1, 1], floor-bucketed on the 6-dp cosine): "
    "how sharp the sign-LSH bucketer's candidates actually are — the "
    "threshold-free companion to p_embedding_neardup; bucket-confined "
    "pair generation, bounded output rows",
)
def q_cosine_decile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = similarity.embedding_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=-1.0
    )
    return pairs.select(
        F.greatest(
            F.least(F.floor(F.col("cos_sim") * 10).cast("long"), F.lit(9)),
            F.lit(-10),
        ).alias("decile")
    ).groupBy("decile").agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))


# ------------------------------------------------- PQ distortion

@register(
    "p_pq_distortion",
    similarity.pq_distortion_sql(),
    tags=("pipeline", "embedding", "audit"),
    doc="PQ codebook distortion: per-subspace mean/max squared "
    "quantization error in exact integer milli (Jégou et al. 2011 "
    "codebook-quality audit) — shares pq_topk's assignment plan "
    "(pq_subvectors + pq_code_assign in functions/similarity.py: one "
    "broadcast codebook join + per-(vec, s) argmin window), m output rows",
)
def q_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.pq_distortion(load_table(spark, sf_dir, "embeddings"))


# ------------------------------------------------- IVF balance audit

@register(
    "p_ivf_balance",
    """
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cents AS (SELECT vec_id AS centroid_id, e AS ce FROM emb WHERE vec_id % 250 = 0),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT emb.vec_id, cents.centroid_id,
           row_number() OVER (
             PARTITION BY emb.vec_id
             ORDER BY list_dot_product(e, ce)
                      / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(ce, ce))) DESC,
                      centroid_id ASC
           ) AS rn
    FROM emb, cents
  ) WHERE rn = 1
),
cells AS (
  SELECT centroid_id, CAST(count(*) AS BIGINT) AS sz FROM assigned GROUP BY centroid_id
)
SELECT CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(sz) AS BIGINT) AS n_vectors,
       CAST(min(sz) AS BIGINT) AS min_size,
       CAST(max(sz) AS BIGINT) AS max_size,
       quantile_cont(sz, 0.5) AS median_size,
       CAST((1000000::HUGEINT * max(sz) * count(*)) // sum(sz) AS BIGINT) AS imbalance_ppm
FROM cells
""",
    tags=("pipeline", "embedding", "audit"),
    doc="IVF cell-balance audit: size distribution of the coarse "
    "quantizer's cells (the p_ivf_topk index) — min/median/max cell size "
    "and the hot-cell imbalance factor in exact ppm (1e6 = perfectly "
    "uniform); a skewed cell is the ANN equivalent of a hot shuffle "
    "partition.  Same assignment plan as ivf_assign, cell-grain rollup, "
    "1 output row",
)
def q_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        similarity.ivf_assign(load_table(spark, sf_dir, "embeddings"))
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).cast("long").alias("sz"))
    )
    return cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("sz").cast("long").alias("n_vectors"),
        F.min("sz").cast("long").alias("min_size"),
        F.max("sz").cast("long").alias("max_size"),
        F.expr("percentile(sz, 0.5)").alias("median_size"),
        # numerator lifted to DECIMAL(38,0) (HUGEINT in the oracle): at 100TB
        # scale max_size*n_cells*1e6 can pass 2^63 — int64 would wrap
        # silently on Spark (non-ANSI) while DuckDB raises
        F.expr(
            "(CAST(1000000 AS DECIMAL(38,0)) * max(sz) * count(1)) div sum(sz)"
        )
        .cast("long")
        .alias("imbalance_ppm"),
    )


# ----------------------------------------------- DSIR effective sample size

from kafka_replicator_spark.functions import corpus  # noqa: E402


@register(
    "p_dsir_ess",
    f"""
WITH dsir AS ({corpus.dsir_weights_sql()}),
w AS (
  SELECT CAST(floor(exp(dsir_logweight) * 1000000 + 0.5) AS BIGINT) AS wm
  FROM dsir
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(wm::HUGEINT) AS sw,
         sum(wm::HUGEINT * wm) AS sw2
  FROM w
)
SELECT n AS n_docs,
       CAST((sw * sw) // nullif(sw2, 0) AS BIGINT) AS ess_docs,
       CAST((1000000::HUGEINT * ((sw * sw) // nullif(sw2, 0))) // n AS BIGINT)
         AS ess_ppm
FROM m
""",
    tags=("pipeline", "sampling", "audit"),
    doc="effective sample size of the DSIR importance weights (Kish ESS = "
    "(Σw)²/Σw²): how many 'real' documents a weighted resample is worth — "
    "an ESS collapse flags weights concentrated on a few docs.  Weights "
    "are exp(logweight) re-quantized to integer micro BEFORE any fold "
    "(the exp-requantize rule), sums in DECIMAL(38,0)/HUGEINT; rides the "
    "shared DSIR scorer — 1 output row",
)
def q_dsir_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    dsir = corpus.dsir_weights(load_table(spark, sf_dir, "documents"))
    w = dsir.select(
        F.expr(
            "CAST(floor(exp(dsir_logweight) * 1000000 + 0.5) AS BIGINT)"
        ).alias("wm")
    )
    m = w.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("wm").cast("decimal(38,0)")).alias("sw"),
        F.sum(F.col("wm").cast("decimal(38,0)") * F.col("wm")).alias("sw2"),
    )
    return m.select(
        F.col("n").alias("n_docs"),
        F.expr("CAST((sw * sw) div nullif(sw2, 0) AS BIGINT)").alias("ess_docs"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0))"
            " * ((sw * sw) div nullif(sw2, 0))) div n AS BIGINT)"
        ).alias("ess_ppm"),
    )


# ------------------------------------- source token-distribution JS drift

from kafka_replicator_spark.functions.hashing import (  # noqa: E402
    portable_hash32,
    portable_hash32_sql,
    spread,
)

#: hashed token buckets for the JS comparison (same geometry as DSIR)
_JS_BUCKETS = 1024

_JS_H = portable_hash32_sql("tok")

#: per-bucket JS term over exact integer counts; p can be 0 on the grid
#: (source missing the bucket), q never is.  Individual KL terms go
#: negative (p < m) — floor on doubles is deterministic on both signs.
_JS_TERM = (
    "(CASE WHEN p > 0 THEN p * ln(p / m) ELSE 0 END + q * ln(q / m))"
)


@register(
    "p_source_token_js",
    f"""
WITH toks AS (
  SELECT source, ({_JS_H} % {_JS_BUCKETS}) AS b
  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
),
sb AS (SELECT source, b, CAST(count(*) AS BIGINT) AS csb FROM toks GROUP BY source, b),
cb AS (SELECT b, CAST(sum(csb) AS BIGINT) AS cb FROM sb GROUP BY b),
ns AS (SELECT source, CAST(sum(csb) AS BIGINT) AS n_s FROM sb GROUP BY source),
tot AS (SELECT CAST(sum(cb) AS BIGINT) AS n FROM cb),
grid AS (
  SELECT ns.source, cb.b, ns.n_s, cb.cb, coalesce(sb.csb, 0) AS csb
  FROM ns CROSS JOIN cb
  LEFT JOIN sb ON sb.source = ns.source AND sb.b = cb.b
),
terms AS (
  SELECT source, n_s,
         CAST(floor({_JS_TERM} * 1000000000 + 0.5) AS BIGINT) AS t_nano
  FROM (
    SELECT source, n_s,
           CAST(csb AS DOUBLE) / n_s AS p,
           CAST(cb AS DOUBLE) / n AS q,
           (CAST(csb AS DOUBLE) / n_s + CAST(cb AS DOUBLE) / n) / 2 AS m
    FROM grid CROSS JOIN tot
  )
)
SELECT source, any_value(n_s) AS n_tokens,
       CAST(greatest(sum(t_nano), 0) // 2000 AS BIGINT) AS js_micro
FROM terms GROUP BY source
""",
    tags=("pipeline", "drift", "audit"),
    doc="Jensen-Shannon divergence of each source's hashed-unigram "
    "distribution from the corpus mixture (1024 buckets, DSIR geometry): "
    "the 'which sources are distributionally unusual' drift metric; "
    "per-bucket KL terms are fixed doubles over exact counts quantized to "
    "integer nano BEFORE the fold (terms go negative — floor handles both "
    "signs identically), grid = sources × buckets (bounded) — "
    "source-cardinality output",
)
def q_source_token_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # spread() BEFORE the explode (CLAUDE.md: single-row-group input → one
    # split; the exchange must move compact documents, not token rows)
    toks = spread(docs.select("source", "text")).select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).select("source", (portable_hash32("tok") % _JS_BUCKETS).alias("b"))
    sb = toks.groupBy("source", "b").agg(F.count(F.lit(1)).alias("csb"))
    from kafka_replicator_spark.cacheutil import track_cached

    sb = track_cached(sb)
    cb = sb.groupBy("b").agg(F.sum("csb").alias("cb"))
    ns = sb.groupBy("source").agg(F.sum("csb").alias("n_s"))
    tot = cb.agg(F.sum("cb").alias("n"))
    grid = (
        ns.join(F.broadcast(cb))
        .join(sb, ["source", "b"], "left")
        .select("source", "b", "n_s", "cb", F.coalesce("csb", F.lit(0)).alias("csb"))
    )
    pqm = grid.join(F.broadcast(tot)).select(
        "source",
        "n_s",
        (F.col("csb").cast("double") / F.col("n_s")).alias("p"),
        (F.col("cb").cast("double") / F.col("n")).alias("q"),
        (
            (F.col("csb").cast("double") / F.col("n_s") + F.col("cb").cast("double") / F.col("n"))
            / 2
        ).alias("m"),
    )
    terms = pqm.select(
        "source",
        "n_s",
        F.expr(f"CAST(floor({_JS_TERM} * 1000000000 + 0.5) AS BIGINT)").alias("t_nano"),
    )
    return terms.groupBy("source").agg(
        F.first("n_s").cast("long").alias("n_tokens"),
        F.expr("CAST(greatest(sum(t_nano), 0) div 2000 AS BIGINT)").alias("js_micro"),
    )


# ------------------------------------------------- vocab coverage curve

#: top-k vocabulary sizes audited
_VOCAB_KS = (100, 1000, 10000)


@register(
    "p_vocab_coverage",
    f"""
WITH tc AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
),
cg AS (
  SELECT c, CAST(count(*) AS BIGINT) AS n_types, CAST(c * count(*) AS BIGINT) AS toks
  FROM tc GROUP BY c
),
cum AS (
  SELECT c, n_types, toks,
         CAST(coalesce(sum(n_types) OVER (ORDER BY c DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS types_before,
         CAST(coalesce(sum(toks) OVER (ORDER BY c DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS toks_before
  FROM cg
),
tot AS (SELECT CAST(sum(toks) AS BIGINT) AS total, CAST(sum(n_types) AS BIGINT) AS n_vocab FROM cg),
ks AS (SELECT unnest(ARRAY{list(_VOCAB_KS)}) AS k)
SELECT CAST(k AS BIGINT) AS k, any_value(tot.n_vocab) AS n_vocab,
       CAST(max(CASE
         WHEN types_before >= k THEN NULL
         WHEN types_before + n_types <= k THEN toks_before + toks
         ELSE toks_before + (k - types_before) * c
       END) AS BIGINT) AS covered_tokens,
       CAST((1000000 * max(CASE
         WHEN types_before >= k THEN NULL
         WHEN types_before + n_types <= k THEN toks_before + toks
         ELSE toks_before + (k - types_before) * c
       END)) // any_value(tot.total) AS BIGINT) AS coverage_ppm
FROM cum CROSS JOIN tot CROSS JOIN ks
GROUP BY k
""",
    tags=("pipeline", "text", "audit"),
    doc="vocabulary coverage curve: share of corpus tokens covered by the "
    "top-k most frequent types (k in 100/1k/10k) — the 'how big must the "
    "vocab be' planning metric; the cumulative walk runs at COUNT grain "
    "(distinct frequency values, O(sqrt(corpus)) rows — a bounded window), "
    "ties at the k boundary resolved by competition pro-rating so the "
    "result is independent of tie order — 3 output rows",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_coverage_frame(load_table(spark, sf_dir, "documents"), _VOCAB_KS)


def vocab_coverage_frame(docs, ks_list) -> DataFrame:
    """Coverage curve over any documents frame — factored so tests can
    drive the shipped pro-rating logic on synthetic corpora."""
    from pyspark.sql import Window

    tc = (
        spread(docs.select("text"))
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cg = tc.groupBy("c").agg(
        F.count(F.lit(1)).alias("n_types"),
        (F.col("c") * F.count(F.lit(1))).alias("toks"),
    )
    # count-grain frame is O(sqrt(corpus)) rows — a global window over it
    # is bounded at any corpus size (documented exception to the
    # no-global-window rule)
    w = Window.orderBy(F.col("c").desc()).rowsBetween(Window.unboundedPreceding, -1)
    cum = cg.select(
        "c",
        "n_types",
        "toks",
        F.coalesce(F.sum("n_types").over(w), F.lit(0)).alias("types_before"),
        F.coalesce(F.sum("toks").over(w), F.lit(0)).alias("toks_before"),
    )
    tot = cg.agg(
        F.sum("toks").alias("total"), F.sum("n_types").alias("n_vocab")
    )
    ks = local_frame(docs.sparkSession, [(k,) for k in ks_list], "k long")
    covered = F.max(
        F.when(F.col("types_before") >= F.col("k"), None)
        .when(
            F.col("types_before") + F.col("n_types") <= F.col("k"),
            F.col("toks_before") + F.col("toks"),
        )
        .otherwise(
            F.col("toks_before") + (F.col("k") - F.col("types_before")) * F.col("c")
        )
    )
    return (
        cum.join(F.broadcast(tot))
        .join(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.first("n_vocab").cast("long").alias("n_vocab"),
            covered.cast("long").alias("covered_tokens"),
            # DECIMAL lift: covered_tokens is corpus-scale, x1e6 wraps int64
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * max(CASE"
                " WHEN types_before >= k THEN NULL"
                " WHEN types_before + n_types <= k THEN toks_before + toks"
                " ELSE toks_before + (k - types_before) * c END)) div first(total) AS BIGINT)"
            ).alias("coverage_ppm"),
        )
    )


# ------------------------------------------------- hash collision audit

from kafka_replicator_spark.functions.hashing import (  # noqa: E402
    portable_hash60,
    portable_hash60_sql,
)

_H60 = portable_hash60_sql("tok")
_H32 = portable_hash32_sql("tok")


@register(
    "p_hash_collision_audit",
    f"""
WITH types AS (
  SELECT DISTINCT tok
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
)
SELECT CAST(count(*) AS BIGINT) AS n_types,
       CAST(count(*) - count(DISTINCT {_H60}) AS BIGINT) AS h60_collisions,
       CAST(count(*) - count(DISTINCT {_H32}) AS BIGINT) AS h32_collisions
FROM types
""",
    tags=("pipeline", "audit", "hashing"),
    doc="portable-hash collision audit over the corpus vocabulary: how "
    "many distinct token types collide under the 60-bit and 32-bit "
    "md5-prefix hashes every dedup/sketch operator keys on — the "
    "infrastructure integrity check behind p_hash_balance_audit's "
    "uniformity check; type-grain aggregation, 1 output row",
)
def q_hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    types = (
        spread(docs.select("text"))
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
    )
    return types.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        (F.count(F.lit(1)) - F.countDistinct(portable_hash60("tok")))
        .cast("long")
        .alias("h60_collisions"),
        (F.count(F.lit(1)) - F.countDistinct(portable_hash32("tok")))
        .cast("long")
        .alias("h32_collisions"),
    )


# ------------------------------------------------- Hill tail index

#: order statistics used by the Hill estimator
_HILL_K = 100


@register(
    "p_hill_tail_index",
    f"""
WITH tc AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
),
topk AS (SELECT c FROM tc ORDER BY c DESC, tok LIMIT {_HILL_K + 1}),
ref AS (SELECT min(c) AS c_ref FROM topk),
terms AS (
  SELECT CAST(round(ln(CAST(c AS DOUBLE) / c_ref), 9) AS DECIMAL(18,9)) AS lr
  FROM topk CROSS JOIN ref WHERE c > c_ref
),
m AS (SELECT CAST(count(*) AS BIGINT) AS k_eff, sum(lr) AS s FROM terms)
SELECT k_eff, (SELECT c_ref FROM ref) AS c_ref,
       round(CAST(s AS DOUBLE) / k_eff, 6) AS hill_mean_log,
       round(k_eff / CAST(s AS DOUBLE), 6) AS tail_alpha
FROM m
""",
    tags=("pipeline", "text", "stats"),
    doc="Hill estimator of the token-frequency tail exponent (heavy-tail "
    "diagnosis for the Zipf fit in p_zipf_slope): mean log-ratio of the "
    "top-100 counts to the (k+1)-th order statistic, alpha = 1/mean — "
    "top-k via distributed TakeOrdered with the token tiebreak, ln terms "
    "requantized to 9 dp and folded as DECIMAL — 1 output row",
)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        spread(docs.select("text"))
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from kafka_replicator_spark.cacheutil import track_cached

    topk = track_cached(
        tc.orderBy(F.col("c").desc(), "tok").limit(_HILL_K + 1).select("c")
    )
    ref = topk.agg(F.min("c").alias("c_ref"))
    terms = (
        topk.join(F.broadcast(ref))
        .where(F.col("c") > F.col("c_ref"))
        .select(
            F.round(F.log(F.col("c").cast("double") / F.col("c_ref")), 9)
            .cast("decimal(18,9)")
            .alias("lr")
        )
    )
    m = terms.agg(
        F.count(F.lit(1)).cast("long").alias("k_eff"), F.sum("lr").alias("s")
    )
    return m.join(F.broadcast(ref)).select(
        "k_eff",
        F.col("c_ref").cast("long").alias("c_ref"),
        F.round(F.col("s").cast("double") / F.col("k_eff"), 6).alias("hill_mean_log"),
        F.round(F.col("k_eff") / F.col("s").cast("double"), 6).alias("tail_alpha"),
    )


# --------------------------------------------- SemDeDup threshold sweep

#: cosine thresholds swept (centi units — integer grouping key)
_SEMDEDUP_TAUS = (90, 92, 95)


from kafka_replicator_spark.functions.similarity import (  # noqa: E402
    ivf_assign_sql_ctes as _ivf_ctes,
)


@register(
    "p_semantic_dedup_sweep",
    f"""
{_ivf_ctes()},
pairs AS (
  SELECT b.vec_id AS b_id,
         round(list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cos
  FROM assigned a JOIN assigned b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
),
best AS (SELECT b_id, max(cos) AS max_cos FROM pairs GROUP BY b_id),
taus AS (SELECT unnest(ARRAY{list(_SEMDEDUP_TAUS)}) AS tau_centi),
dropped AS (
  SELECT tau_centi, CAST(count(*) AS BIGINT) AS n_dropped
  FROM best CROSS JOIN taus
  WHERE max_cos >= tau_centi / 100.0
  GROUP BY tau_centi
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM emb)
SELECT CAST(t.tau_centi AS BIGINT) AS tau_centi, tot.n AS n_total,
       CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
       CAST(tot.n - coalesce(d.n_dropped, 0) AS BIGINT) AS n_kept,
       CAST((1000000 * (tot.n - coalesce(d.n_dropped, 0))) // tot.n AS BIGINT) AS kept_ppm
FROM taus t LEFT JOIN dropped d USING (tau_centi) CROSS JOIN tot
""",
    tags=("pipeline", "embedding", "dedup", "eval"),
    doc="SemDeDup threshold sweep: corpus kept/dropped at tau in "
    "0.90/0.92/0.95 — the 'how aggressive can we afford to be' tuning "
    "curve; cluster-confined cosines collapse to max(cos) PER VECTOR "
    "before the threshold compare, so the 3-way threshold stage sees "
    "vector cardinality, never the pair stream (a vector is dropped at "
    "tau iff its best lower-id match clears tau); the assignment CTE is "
    "shared with every IVF oracle (ivf_assign_sql_ctes) — 3 output rows",
)
def q_semantic_dedup_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.cacheutil import track_cached
    from kafka_replicator_spark.functions.similarity import cosine_col, ivf_assign

    from kafka_replicator_spark.functions.similarity import dot_col

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = track_cached(ivf_assign(emb))
    # per-row norm hoist (r13-opt, see _semantic_scan): one dot per pair
    an = assigned.withColumn("en", F.sqrt(dot_col(F.col("e"), F.col("e"))))
    a = an.select(
        F.col("vec_id").alias("a_id"), F.col("e").alias("ae"), "centroid_id",
        F.col("en").alias("na"),
    )
    b = an.select(
        F.col("vec_id").alias("b_id"), F.col("e").alias("be"), "centroid_id",
        F.col("en").alias("nb"),
    )
    # collapse the pair stream to per-vector max(cos) BEFORE the threshold
    # cross-join: dropped-at-tau == max(cos) >= tau, and the distinct-count
    # over pairs x thresholds becomes a count over vectors
    best = (
        a.join(b, "centroid_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "b_id",
            F.round(
                dot_col(F.col("ae"), F.col("be")) / (F.col("na") * F.col("nb")), 6
            ).alias("cos"),
        )
        .groupBy("b_id")
        .agg(F.max("cos").alias("max_cos"))
    )
    taus = local_frame(emb.sparkSession, [(t,) for t in _SEMDEDUP_TAUS], "tau_centi long")
    dropped = (
        best.join(F.broadcast(taus))
        .where(F.col("max_cos") >= F.col("tau_centi") / 100.0)
        .groupBy("tau_centi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dropped"))
    )
    tot = assigned.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        taus.join(dropped, "tau_centi", "left")
        .join(F.broadcast(tot))
        .select(
            "tau_centi",
            F.col("n").alias("n_total"),
            F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
            (F.col("n") - F.coalesce("n_dropped", F.lit(0)))
            .cast("long")
            .alias("n_kept"),
            F.expr(
                "CAST((1000000 * (n - coalesce(n_dropped, 0))) div n AS BIGINT)"
            ).alias("kept_ppm"),
        )
    )


# ------------------------------------------------- shard balance audit

@register(
    "p_shard_balance",
    f"""
WITH plan AS ({packing.shard_plan_sql()}),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_shards,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         CAST(min(n_tokens) AS BIGINT) AS min_tokens,
         CAST(max(n_tokens) AS BIGINT) AS max_tokens
  FROM plan
)
SELECT n_shards, total_tokens, min_tokens, max_tokens,
       CAST((1000000::HUGEINT * max_tokens * n_shards) // total_tokens AS BIGINT)
         AS imbalance_ppm
FROM m
""",
    tags=("pipeline", "packing", "audit"),
    doc="shard-plan balance audit: min/max shard token mass and the "
    "hot-shard imbalance factor in exact ppm (1e6 = perfectly even) over "
    "p_shard_plan's own output — the data-parallel step-time ceiling is "
    "the heaviest shard, so this is the metric a run planner alerts on; "
    "shard-grain rollup, 1 output row",
)
def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    plan = packing.shard_plan(load_table(spark, sf_dir, "documents"))
    m = plan.agg(
        F.count(F.lit(1)).cast("long").alias("n_shards"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("n_tokens").cast("long").alias("min_tokens"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
    )
    return m.select(
        "n_shards",
        "total_tokens",
        "min_tokens",
        "max_tokens",
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * max_tokens * n_shards)"
            " div total_tokens AS BIGINT)"
        ).alias("imbalance_ppm"),
    )


# --------------------------------------------- quality-vs-length bias

from kafka_replicator_spark.functions.scoring import (  # noqa: E402
    quality_classifier_sql as _qcsql,
)

_QLB_ORACLE = f"""
WITH qc AS ({_qcsql()}),
b AS (
  SELECT CAST(floor(round(ln(n_tokens) / ln(2), 9)) AS BIGINT) AS len_bucket,
         n_tokens, score_milli
  FROM qc
)
SELECT len_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST((1000 * sum(score_milli)) // sum(n_tokens) AS BIGINT)
         AS mean_token_score_micro
FROM b GROUP BY len_bucket
"""


@register(
    "p_quality_length_bias",
    _QLB_ORACLE,
    tags=("pipeline", "eval", "audit"),
    doc="quality-classifier length-bias audit: mean per-token score by "
    "log2 length bucket — a score that tracks document length is "
    "measuring length, not quality (the classic fastText-filter bias); "
    "integer log2 bucketing (floor(ln/ln2) on exact counts), exact "
    "integer micro means — bucket-cardinality output",
)
def q_quality_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions import scoring

    qc = scoring.quality_classifier(load_table(spark, sf_dir, "documents"))
    b = qc.select(
        # requantize the ln ratio before floor (house exp/ln rule): a 1-ulp
        # libm disagreement at exact powers of two would flip the bucket
        F.expr("CAST(floor(round(ln(n_tokens) / ln(2), 9)) AS BIGINT)").alias("len_bucket"),
        "n_tokens",
        "score_milli",
    )
    return b.groupBy("len_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.expr(
            "CAST((1000 * sum(score_milli)) div sum(n_tokens) AS BIGINT)"
        ).alias("mean_token_score_micro"),
    )


# ------------------------------------------------- multimodal dedup

@register(
    "p_media_dedup",
    """
WITH media AS (
  SELECT doc_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS kind,
         octet_length(encode(text)) AS byte_len,
         sha256(text) AS h
  FROM documents
),
g AS (
  SELECT kind, h, CAST(count(*) AS BIGINT) AS n_copies,
         CAST(any_value(byte_len) AS BIGINT) AS byte_len
  FROM media GROUP BY kind, h
)
SELECT kind,
       CAST(sum(n_copies) AS BIGINT) AS n_media,
       CAST(count(*) AS BIGINT) AS n_unique,
       CAST(sum((n_copies - 1) * byte_len) AS BIGINT) AS dup_bytes_saved,
       CAST((1000000 * sum(n_copies - 1)) // sum(n_copies) AS BIGINT) AS dup_ppm
FROM g GROUP BY kind
""",
    tags=("pipeline", "multimodal", "dedup"),
    doc="exact multimodal dedup by payload digest: per media kind, "
    "duplicate binaries detected at (kind, sha256) grain with the bytes a "
    "dedup pass would reclaim — the opaque-binary-column dedup slot of "
    "the multimodal family (functions/multimodal.py; payloads are the "
    "deterministic synthesize_media stand-ins, the digest grain is what a "
    "real image/audio corpus dedups on) — 3 output rows",
)
def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions.multimodal import synthesize_media

    media = synthesize_media(load_table(spark, sf_dir, "documents")).select(
        "kind",
        F.length("payload").cast("long").alias("byte_len"),
        F.sha2(F.col("payload"), 256).alias("h"),
    )
    g = media.groupBy("kind", "h").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.first("byte_len").alias("byte_len"),
    )
    return g.groupBy("kind").agg(
        F.sum("n_copies").cast("long").alias("n_media"),
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        F.sum((F.col("n_copies") - 1) * F.col("byte_len"))
        .cast("long")
        .alias("dup_bytes_saved"),
        F.expr(
            "CAST((1000000 * sum(n_copies - 1)) div sum(n_copies) AS BIGINT)"
        ).alias("dup_ppm"),
    )


# --------------------------------------------- embedding centroid drift

#: full embedding dimensionality
_EMB_DIM = 64


@register(
    "p_centroid_drift",
    f"""
WITH dims AS (
  SELECT vec_id % 2 AS half, label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(list_transform(embedding,
                               x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT))) AS q
  FROM embeddings
),
per_dim AS (
  SELECT label, dim,
         CAST(sum(CASE WHEN half = 0 THEN q ELSE 0 END) AS BIGINT) AS se,
         CAST(sum(CASE WHEN half = 1 THEN q ELSE 0 END) AS BIGINT) AS sl
  FROM dims GROUP BY label, dim
),
counts AS (
  SELECT label,
         CAST(count(*) FILTER (vec_id % 2 = 0) AS BIGINT) AS n_a,
         CAST(count(*) FILTER (vec_id % 2 = 1) AS BIGINT) AS n_b
  FROM embeddings GROUP BY label
),
folded AS (
  SELECT label,
         sum(se::HUGEINT * sl) AS dot,
         sum(se::HUGEINT * se) AS ee,
         sum(sl::HUGEINT * sl) AS ll
  FROM per_dim GROUP BY label
)
SELECT f.label, c.n_a, c.n_b,
       round(CAST(f.dot AS DOUBLE)
             / nullif(sqrt(CAST(f.ee AS DOUBLE)) * sqrt(CAST(f.ll AS DOUBLE)), 0),
             6) AS centroid_cos
FROM folded f JOIN counts c USING (label)
""",
    tags=("pipeline", "embedding", "drift", "audit"),
    doc="embedding centroid split-half drift: cosine between each label's "
    "centroid computed on the even-id half vs the odd-id half — a low "
    "cosine flags an unstable/multi-modal label cluster (the embedding "
    "analog of p_length_drift); components quantize to exact integer "
    "micro, per-dim sums are exact BIGINTs, the 64-term dot/norm folds "
    "run in DECIMAL(38,0)/HUGEINT (counts cancel in the cosine, so the "
    "sum vectors stand in for the centroids) — label-cardinality output",
)
def q_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions.similarity import _spread_emb

    emb = load_table(spark, sf_dir, "embeddings")
    dims = _spread_emb(emb).select(
        (F.col("vec_id") % 2).alias("half"),
        "label",
        F.posexplode(
            F.expr("transform(embedding, x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT))")
        ).alias("dim", "q"),
    )
    per_dim = dims.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("half") == 0, F.col("q")).otherwise(0)).alias("se"),
        F.sum(F.when(F.col("half") == 1, F.col("q")).otherwise(0)).alias("sl"),
    )
    counts = emb.groupBy("label").agg(
        F.sum((F.col("vec_id") % 2 == 0).cast("long")).cast("long").alias("n_a"),
        F.sum((F.col("vec_id") % 2 == 1).cast("long")).cast("long").alias("n_b"),
    )
    folded = per_dim.groupBy("label").agg(
        F.sum(F.col("se").cast("decimal(38,0)") * F.col("sl")).alias("dot"),
        F.sum(F.col("se").cast("decimal(38,0)") * F.col("se")).alias("ee"),
        F.sum(F.col("sl").cast("decimal(38,0)") * F.col("sl")).alias("ll"),
    )
    return folded.join(counts, "label").select(
        "label",
        "n_a",
        "n_b",
        F.round(
            F.col("dot").cast("double")
            / F.nullif(
                F.sqrt(F.col("ee").cast("double")) * F.sqrt(F.col("ll").cast("double")),
                F.lit(0.0),
            ),
            6,
        ).alias("centroid_cos"),
    )


# --------------------------------------------- LSH banding parameter grid

#: (bands, rows) combinations of the k=16 signature audited by the grid
_LSH_GRID = ((16, 1), (8, 2), (4, 4), (2, 8))


def _pow_chain(col, n: int):
    """x^n as a fixed-order multiplication chain (n in 1/2/4/8/16)."""
    assert n in (1, 2, 4, 8, 16)
    x = col
    if n == 1:
        return x
    x2 = x * x
    if n == 2:
        return x2
    x4 = x2 * x2
    if n == 4:
        return x4
    x8 = x4 * x4
    if n == 8:
        return x8
    return x8 * x8


def _pow_chain_str(base: str, n: int) -> str:
    assert n in (1, 2, 4, 8, 16)
    if n == 1:
        return f"({base})"
    x2 = f"(({base}) * ({base}))"
    if n == 2:
        return x2
    x4 = f"({x2} * {x2})"
    if n == 4:
        return x4
    x8 = f"({x4} * {x4})"
    if n == 8:
        return x8
    return f"({x8} * {x8})"


def _grid_capture_sql() -> str:
    from kafka_replicator_spark.functions import dedup as _d

    arms = "\nUNION ALL\n".join(
        f"""SELECT {b} AS b, {r} AS r,
       CAST(round(sum(CAST(round(
         1.0 - {_pow_chain_str(f"1.0 - {_pow_chain_str('j', r)}", b)}, 9)
         AS DECIMAL(18,9))), 6) AS DOUBLE) AS expected_captured,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs"""
        for b, r in _LSH_GRID
    )
    return f"""
WITH pairs AS (
  SELECT round(jaccard, 6) AS j
  FROM ({_d.jaccard_pairs_sql(threshold=0.0)})
)
{arms}
"""


@register(
    "p_lsh_grid_expected_capture",
    _grid_capture_sql(),
    tags=("pipeline", "dedup", "eval"),
    doc="LSH banding parameter grid: expected captured candidate mass of "
    "the k=16 signature under every (bands, rows) split — 16x1/8x2/4x4/"
    "2x8 — weighted by the corpus's OWN observed pair-Jaccard "
    "distribution (Σ over pairs of 1-(1-j^r)^b), the data-dependent "
    "tuning table behind p_lsh_capture_curve's single shipped point; "
    "capture polynomials are fixed-order multiplication chains (library "
    "pow differs in the last ulp), folds in DECIMAL — 4 output rows",
)
def q_lsh_grid_expected_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from kafka_replicator_spark.cacheutil import track_cached

    docs = load_table(spark, sf_dir, "documents")
    sh = track_cached(dedup.word_ngrams(docs))
    pairs = track_cached(
        dedup.jaccard_pairs(docs, threshold=0.0, shingles=sh).select(
            F.round("jaccard", 6).alias("j")
        )
    )
    arms = []
    for b, r in _LSH_GRID:
        cap = F.lit(1.0) - _pow_chain(F.lit(1.0) - _pow_chain(F.col("j"), r), b)
        arms.append(
            pairs.agg(
                F.lit(b).cast("int").alias("b"),
                F.lit(r).cast("int").alias("r"),
                F.round(F.sum(F.round(cap, 9).cast("decimal(18,9)")), 6)
                .cast("double")
                .alias("expected_captured"),
                F.count(F.lit(1)).cast("long").alias("n_pairs"),
            )
        )
    return reduce(lambda a_, b_: a_.union(b_), arms)
