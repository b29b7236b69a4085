"""Per-document distributional text statistics: repetition, entropy, and
curriculum (difficulty-quantile) bucketing.

These are the corpus-curation signals that sit between the boolean quality
gates (functions/curation.py — Gopher rules) and the corpus-level statistics
(functions/corpus.py — boilerplate df, DSIR): per-document *scores* a 100 TB
pipeline computes once and filters/orders on many times.

The reference engine (CrowdStrike/kafka-replicator) has no token-level
surface — these extend the training-data-pipeline family on the documents
corpus, sharing its explode → groupBy(doc, gram) shape, which partitions by
document and never enumerates pairs.

Cross-engine float discipline (the scoring.py convention): any term that is
summed across rows is rounded to 9 dp and folded in DECIMAL(18,9) so the
fold order can't change the result; final scores round to 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_replicator_spark.core.schema import local_frame
from kafka_replicator_spark.functions.hashing import spread_by_key

_EMPTY_STR_ARRAY = "array<string>"


def _spread_by_doc(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fan a compact input out to full parallelism *keyed by document*
    (hashing.spread_by_key): every downstream ``groupBy(doc, …)`` /
    ``groupBy(doc)`` is then already clustered, so the explode-heavy
    doc-keyed aggregations in this module run with exactly ONE exchange of
    the compact pre-explosion rows — the exploded gram/token stream itself
    is never shuffled."""
    return spread_by_key(df, id_col)


def _bigrams(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, g) stream of word bigrams — the explode + groupBy "scale
    path" flavor of the per-row repetition guard in curation.gopher_quality
    (which is O(grams²) per row and right only for bounded chunk sizes).

    The token array is materialized in a prior projection so the gram lambda
    never re-evaluates ``split`` per element access.
    """
    pre = _spread_by_doc(
        docs.select(F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("toks"))
    )
    grams = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.slice("toks", 1, F.size("toks") - 1),
            lambda x, i: F.concat_ws(" ", x, F.element_at("toks", i + 2)),
        ),
    ).otherwise(F.lit(None).cast(_EMPTY_STR_ARRAY))
    return pre.select("doc_id", F.explode(grams).alias("g"))


def doc_repetition(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher-style within-document repetition signals, distributed form:

    * ``dup_frac``  — fraction of bigram slots occupied by a bigram that
      already occurred in the document (Rae et al. 2021 §A1.1 "duplicate
      n-gram fraction"),
    * ``top_share`` — occupancy of the single most frequent bigram.

    One explode + two doc-keyed aggregations — no per-row O(grams²) lambda,
    so it holds for book-length documents; the shuffle key is (doc, gram)
    then doc, both well-spread.
    """
    per_gram = _bigrams(docs, text_col, id_col).groupBy("doc_id", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.sum("c").alias("nb"),
            F.count(F.lit(1)).alias("nd"),
            F.max("c").alias("top"),
        )
        .select(
            "doc_id",
            F.col("nb").cast("long").alias("n_bigrams"),
            F.col("nd").cast("long").alias("n_distinct_bigrams"),
            F.round((F.col("nb") - F.col("nd")) / F.col("nb").cast("double"), 6).alias("dup_frac"),
            F.round(F.col("top") / F.col("nb").cast("double"), 6).alias("top_share"),
        )
    )


def doc_repetition_sql() -> str:
    return """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), b AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks), 1)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS g
  FROM t
), c AS (
  SELECT doc_id, g, count(*) AS c FROM b GROUP BY doc_id, g
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_bigrams,
       CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
       round((sum(c) - count(*)) / CAST(sum(c) AS DOUBLE), 6) AS dup_frac,
       round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_share
FROM c GROUP BY doc_id
"""


def doc_entropy(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document unigram Shannon entropy in nats:

    ``H(d) = ln(n) - (1/n) * Σ_t c_t ln(c_t)`` over the document's token
    counts — the integer-count form, so the only float terms are
    ``c ln(c)`` per *distinct* token, rounded to 9 dp and summed exactly in
    DECIMAL (fold-order-free, the scoring.py discipline).  Low entropy marks
    repetitive/templated text; entropy ≈ ln(n_distinct) marks near-uniform
    token use.  Complements unigram_logprob (corpus-model surprise) with a
    document-internal signal that needs no corpus pass.
    """
    toks = _spread_by_doc(
        docs.select(F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("toks"))
    ).select("doc_id", F.explode("toks").alias("tok"))
    cnt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    per_doc = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("nd"),
        F.sum(
            F.round(F.col("c") * F.log(F.col("c").cast("double")), 9).cast("decimal(18,9)")
        ).alias("s"),
    )
    return per_doc.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("nd").cast("long").alias("n_distinct_tokens"),
        F.round(
            F.log(F.col("n").cast("double")) - F.col("s").cast("double") / F.col("n"), 6
        ).alias("entropy_nats"),
    )


def doc_entropy_sql() -> str:
    return """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), cnt AS (
  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
), per_doc AS (
  SELECT doc_id,
         sum(c) AS n,
         count(*) AS nd,
         sum(CAST(round(c * ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9))) AS s
  FROM cnt GROUP BY doc_id
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(nd AS BIGINT) AS n_distinct_tokens,
       round(ln(CAST(n AS DOUBLE)) - CAST(s AS DOUBLE) / n, 6) AS entropy_nats
FROM per_doc
"""


def curriculum_buckets(
    docs: DataFrame,
    n_buckets: int = 4,
    partitions: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Curriculum bucketing: order documents by a difficulty proxy
    (type-token ratio — lexical diversity) and cut the corpus into
    ``n_buckets`` equal-size tiers, NTILE semantics exactly.

    A global NTILE window is a single-partition sort — wrong at 100 TB.
    This uses the prefix_dedup stitch instead: ``repartitionByRange`` on
    (ttr, doc_id) gives contiguous key ranges, the partition-local rank is
    read off ``monotonically_increasing_id`` after a partition-local sort
    (the id is documented as partition-id << 33 | row-number, so no
    ``Window.partitionBy(pid)`` re-shuffle is needed), the global rank adds
    a broadcast per-partition offset (metadata-scale), and the NTILE bucket
    is a closed-form expression of the global rank.  ONE range shuffle at
    any scale; the cache pins the range placement so the counts job and the
    output job see identical partitioning.
    """
    pre = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col("n_chars"),
        F.split(F.col(text_col), " ").alias("toks"),
    )
    d = pre.select(
        "doc_id",
        "n_chars",
        (F.size(F.array_distinct("toks")) / F.size("toks").cast("double")).alias("ttr"),
    )
    d = (
        d.repartitionByRange(partitions, "ttr", "doc_id")
        .sortWithinPartitions("ttr", "doc_id")
        .select(
            "*",
            F.spark_partition_id().alias("pid"),
            # 1-based rank within the sorted partition: the low 33 bits of
            # monotonically_increasing_id are the per-partition row number
            (F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1)) + 1).alias(
                "lrank"
            ),
        )
    )
    from kafka_replicator_spark.cacheutil import track_cached

    d = track_cached(d)
    counts = {r["pid"]: r["c"] for r in d.groupBy("pid").agg(F.count(F.lit(1)).alias("c")).collect()}
    n = sum(counts.values())
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off = local_frame(d.sparkSession, offsets, "pid int, off long")
    ranked = d.join(F.broadcast(off), "pid").withColumn(
        "rank", F.col("off") + F.col("lrank")
    )
    # exact NTILE(k) over n rows: the first n % k buckets take ceil(n/k).
    # Integer `div`, not double `/`: float division silently loses exactness
    # past 2^53 ranks, and ranks at 100 TB exceed that.
    q, r = divmod(n, n_buckets)
    cutoff = r * (q + 1)
    bucket = F.when(
        F.col("rank") <= F.lit(cutoff), F.expr(f"(rank - 1) div {q + 1} + 1")
    ).otherwise(F.expr(f"(rank - {cutoff} - 1) div {max(q, 1)} + {r} + 1"))
    tiered = ranked.withColumn(
        "bucket", bucket.cast("long")
    )
    out = (
        tiered.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.round("ttr", 9).cast("decimal(18,9)")).alias("sttr"),
            F.sum("n_chars").alias("schars"),
        )
        .select(
            "bucket",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round(F.col("sttr").cast("double") / F.col("n_docs"), 6).alias("avg_ttr"),
            F.round(F.col("schars").cast("double") / F.col("n_docs"), 6).alias("avg_chars"),
        )
    )
    # NOTE: d must stay cached through the caller's output action — the
    # returned plan is lazy and its ranks are only correct against the SAME
    # range placement the counts job materialized; unpersisting here would
    # let a later action recompute repartitionByRange with fresh boundary
    # samples.  It is registered with cacheutil.track_cached, so callers
    # release it with cacheutil.release_cached() once done (bench.py does).
    return out


def curriculum_buckets_sql(n_buckets: int = 4) -> str:
    return f"""
WITH t AS (
  SELECT doc_id, n_chars,
         len(list_distinct(string_split(text, ' ')))
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr
  FROM documents
), b AS (
  SELECT doc_id, n_chars, ttr,
         ntile({n_buckets}) OVER (ORDER BY ttr, doc_id) AS bucket
  FROM t
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(CAST(round(ttr, 9) AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6)
           AS avg_ttr,
       round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars
FROM b GROUP BY bucket
"""
