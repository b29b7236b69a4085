"""Training-batch sequence packing and TF-IDF term ranking.

Sequence packing is the standard LLM-training preprocessing step: concat
documents into fixed-token-budget bins so a training batch wastes no pad
tokens.  The greedy close-before-exceed walk is the same sequential
boundary problem as the reference's segment rollover
(pkg/egress/worker.go:51-56), so it reuses the identical scale shape as
``assign_segments_greedy`` (operators/egress.py): the pandas stage sees
only per-doc metadata (rank, token count) per group — ~12 bytes/doc —
and returns the pack-start ranks; the data-scale assignment is a
broadcast join + sorted-array scan that never leaves the JVM.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_replicator_spark.core.schema import local_frame
from kafka_replicator_spark.functions.text import tokens_col

DEFAULT_PACK_BUDGET = 256


def pack_sequences(docs: DataFrame, budget: int = DEFAULT_PACK_BUDGET) -> DataFrame:
    """Greedily pack documents (in ``doc_id`` order, per ``source``) into
    token-budget bins: a pack closes when appending the next document would
    exceed ``budget``; a document longer than the whole budget gets a pack
    of its own.  Returns one row per document with its pack assignment and
    the pack's fill statistics.

    Thin wrapper: tokenize, then :func:`pack_assign` (the sharded boundary
    walk) and per-pack stats over the bounded (source, pack_id) grain.
    """
    if budget <= 0:
        raise ValueError(f"pack budget must be positive, got {budget}")
    toks = docs.select(
        "doc_id",
        "source",
        F.size(tokens_col()).cast("long").alias("n_tokens"),
    )
    assigned = pack_assign(toks, budget)
    pw = Window.partitionBy("source", "pack_id")
    return assigned.select(
        "doc_id",
        "source",
        "n_tokens",
        "pack_id",
        F.sum("n_tokens").over(pw).alias("pack_tokens"),
        F.count(F.lit(1)).over(pw).cast("long").alias("pack_docs"),
        F.round(F.sum("n_tokens").over(pw) / F.lit(float(budget)), 6).alias("pack_fill"),
    )


def pack_assign(toks: DataFrame, budget: int) -> DataFrame:
    """Sharded greedy close-before-exceed pack assignment over a token
    frame ``(doc_id, source, n_tokens)`` → ``(doc_id, source, n_tokens,
    pack_id)`` with pack ids dense per source, identical to walking each
    source start-to-finish on one machine.

    Scale (VERDICT r09 #1 — no whole-source pandas group anywhere): the
    per-source running token sum comes from the grouped range-prefix
    stitch (stitch.grouped_rank_cumsum, ``keep_pid=True``), so every
    pandas group below is one (source, __pid) RANGE-PARTITION SLICE of a
    source, never the whole source.  The walk's cross-slice state is tiny
    — ``(base, packs_started, open_pack_empty)``, where ``base`` is the
    running sum at the last pack close — and is chained on the driver:

    * pass A (per-slice summary): an open pack entering a slice holds at
      most ``budget`` tokens, so the entry state can only influence the
      walk through the slice's HEAD (rows whose running sum is within
      ``budget`` of the slice start — at most ``budget`` docs).  A
      reverse DP computes, for every candidate first fresh start ``j`` in
      the head, the slice's exit state ``(E[j], S[j], open[j])`` in O(m);
      only the head-sized arrays go to the driver, so driver memory is
      O(partitions × budget/avg_doc_tokens), independent of corpus size.
    * driver chain: per source in partition order, O(log head) per slice
      (a bisect into the head picks the candidate), producing each
      slice's entry state.
    * pass B (per-slice assignment): re-walks each slice locally from its
      broadcast entry state and emits per-row pack ids.

    Counts and integer sums are exact, so the output is bit-identical to
    the single-group walk it replaces (property-tested against it).
    Reference anchor: the reference never lets one worker hold another
    partition's data (pkg/compaction/compactor.go:205-242 is
    per-partition); same rollover recurrence as pkg/egress/worker.go:51-56.
    """
    from bisect import bisect_right
    from collections import defaultdict

    from kafka_replicator_spark.functions.stitch import grouped_rank_cumsum

    if budget <= 0:
        raise ValueError(f"pack budget must be positive, got {budget}")
    ranked = grouped_rank_cumsum(
        toks, "source", ["doc_id"], sum_col="n_tokens", keep_pid=True
    ).select(
        "doc_id",
        "source",
        "n_tokens",
        "__pid",
        F.col("__grank").alias("rn"),
        F.col("__gcumsum").alias("csum"),
    )

    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn", kind="mergesort").reset_index(drop=True)
        c = pdf["csum"].to_numpy(dtype=np.int64)
        nt = pdf["n_tokens"].to_numpy(dtype=np.int64)
        m = len(c)
        c0 = int(c[0] - nt[0])  # exclusive running sum at slice entry
        cm = int(c[-1])
        # entry-sensitive head: entry base b ∈ [c0 - budget, c0] (an open
        # pack holds ≤ budget tokens), so the first violation index is
        # ≤ H+1 where H = #rows with csum ≤ c0 + budget
        H = int(np.searchsorted(c, c0 + budget, side="right"))
        base_j = np.concatenate(([c0], c[:-1]))  # base of a fresh start at j
        fit = np.searchsorted(c, base_j + budget, side="right")  # last fitting row (1-based)
        # reverse DP: exit state of a fresh-start walk beginning at row j.
        # states: 0 = pack OPEN (non-empty) at slice end; 1 = closed exactly
        # at the last row (the next pack starts at the next slice's first
        # row — its start is pre-counted in S, the "phantom" start)
        E = np.zeros(m + 2, dtype=np.int64)
        S = np.zeros(m + 2, dtype=np.int64)
        ST = np.zeros(m + 2, dtype=np.int8)
        for j in range(m, 0, -1):
            f = int(fit[j - 1])
            e = max(f, j)  # oversize doc (f < j) packs alone
            if f >= m and f >= j:
                # rows j..m all fit — pack open at slice end
                E[j], S[j], ST[j] = int(base_j[j - 1]), 1, 0
            elif e == m:
                # forced close at the last row (oversize at m): phantom start
                E[j], S[j], ST[j] = cm, 2, 1
            else:
                E[j], S[j], ST[j] = E[e + 1], 1 + S[e + 1], ST[e + 1]
        k = min(H + 1, m)  # candidates for the first fresh start
        return pd.DataFrame(
            [
                {
                    "source": pdf["source"].iloc[0],
                    "__pid": int(pdf["__pid"].iloc[0]),
                    "cm": cm,
                    "head": c[:H].tolist(),
                    "e_arr": E[1 : k + 1].tolist(),
                    "s_arr": S[1 : k + 1].tolist(),
                    "st_arr": ST[1 : k + 1].astype(np.int32).tolist(),
                }
            ]
        )

    meta = (
        ranked.select("source", "__pid", "rn", "n_tokens", "csum")
        .groupBy("source", "__pid")
        .applyInPandas(
            summarize,
            schema="source string, __pid int, cm long, head array<long>, "
            "e_arr array<long>, s_arr array<long>, st_arr array<int>",
        )
        .collect()
    )
    by_src: dict = defaultdict(list)
    for r in meta:
        by_src[r["source"]].append(r)
    entries = []
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r["__pid"])
        # source start ≡ "a close just happened at running sum 0": base 0,
        # one (empty) pack pre-counted whose id the first doc takes
        b, starts, empty = 0, 1, True
        for r in rs:
            entries.append((src, r["__pid"], b, starts, empty))
            if empty:
                # fresh start at row 1 REUSES the pre-counted empty pack's
                # id (oversize first row still packs into it)
                b, starts, empty = (
                    int(r["e_arr"][0]),
                    starts - 1 + int(r["s_arr"][0]),
                    bool(r["st_arr"][0]),
                )
            elif r["cm"] <= b + budget:
                pass  # whole slice joins the open pack — state unchanged
            else:
                i0 = bisect_right(r["head"], b + budget) + 1  # first violation
                b, starts, empty = (
                    int(r["e_arr"][i0 - 1]),
                    starts + int(r["s_arr"][i0 - 1]),
                    bool(r["st_arr"][i0 - 1]),
                )
    entry_df = local_frame(
        ranked.sparkSession,
        entries,
        "source string, __pid int, eb long, estarts long, eempty boolean",
    )

    def assign(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn", kind="mergesort").reset_index(drop=True)
        c = pdf["csum"].to_numpy(dtype=np.int64)
        m = len(c)
        c0 = int(c[0] - int(pdf["n_tokens"].iloc[0]))
        b = int(pdf["eb"].iloc[0])
        starts = int(pdf["estarts"].iloc[0])
        pack = np.empty(m, dtype=np.int64)
        if bool(pdf["eempty"].iloc[0]):
            j, open_id = 1, starts - 1  # fresh walk fills the empty pack
        else:
            i0 = int(np.searchsorted(c, b + budget, side="right")) + 1
            if i0 > m:  # whole slice continues the open pack
                pack[:] = starts - 1
                return pdf[["doc_id", "source", "n_tokens"]].assign(
                    pack_id=pack.astype(np.int32)
                )
            pack[: i0 - 1] = starts - 1
            j, open_id = i0, starts
        base = int(c[j - 2]) if j >= 2 else c0
        while j <= m:
            f = int(np.searchsorted(c, base + budget, side="right"))
            e = min(max(f, j), m)
            pack[j - 1 : e] = open_id
            base = int(c[e - 1])
            j, open_id = e + 1, open_id + 1
        return pdf[["doc_id", "source", "n_tokens"]].assign(
            pack_id=pack.astype(np.int32)
        )

    return (
        ranked.join(F.broadcast(entry_df), ["source", "__pid"])
        .groupBy("source", "__pid")
        .applyInPandas(
            assign, schema="doc_id long, source string, n_tokens long, pack_id int"
        )
    )


def pack_sequences_sql(budget: int = DEFAULT_PACK_BUDGET, rel: str = "documents") -> str:
    """Recursive-CTE oracle: walk the same close-before-exceed recurrence
    over the per-source running token sum.  ``rel`` may be a parenthesized
    subquery (DuckDB allows nested WITH inside it) — used by the composed
    end-to-end pipeline oracles."""
    return f"""
WITH RECURSIVE ranked AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS INTEGER) AS rn,
         CAST(sum(len(string_split(text, ' ')))
              OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS csum
  FROM {rel}
),
walk(source, start_rn, base, pack_id) AS (
  SELECT source, 1, CAST(0 AS BIGINT), 0 FROM (SELECT DISTINCT source FROM ranked)
  UNION ALL
  SELECT w.source, nxt.rn, nxt.csum - nxt.n_tokens, w.pack_id + 1
  FROM walk w
  JOIN LATERAL (
    SELECT r.rn, r.csum, r.n_tokens FROM ranked r
    WHERE r.source = w.source
      AND r.rn > GREATEST(w.start_rn,
            (SELECT coalesce(max(r2.rn), w.start_rn) FROM ranked r2
             WHERE r2.source = w.source AND r2.csum <= w.base + {budget}))
    ORDER BY r.rn LIMIT 1
  ) nxt ON true
),
assigned AS (
  SELECT r.doc_id, r.source, r.n_tokens,
         (SELECT max(w.pack_id) FROM walk w
          WHERE w.source = r.source AND w.start_rn <= r.rn) AS pack_id
  FROM ranked r
)
SELECT doc_id, source, n_tokens, CAST(pack_id AS INTEGER) AS pack_id,
       CAST(sum(n_tokens) OVER (PARTITION BY source, pack_id) AS BIGINT) AS pack_tokens,
       count(*) OVER (PARTITION BY source, pack_id) AS pack_docs,
       round(CAST(sum(n_tokens) OVER (PARTITION BY source, pack_id) AS DOUBLE)
             / {budget}.0, 6) AS pack_fill
FROM assigned
"""


# ----------------------------------------------------------------- TF-IDF

def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-``k`` TF-IDF terms per document: tf = in-doc term count, idf =
    ln((N+1)/(df+1)) + 1 (smoothed), ranked by rounded score with a
    lexicographic tie-break so the cut is deterministic cross-engine.

    Scale: one explode + one shuffle for per-(doc, term) counts; the
    document-frequency frame aggregates from the same frame (term-level,
    far smaller than the token stream) and broadcasts back; the final
    window ranks within each doc.  Scores are rounded to 6 dp BEFORE
    ranking — both engines compute ln within 1-2 ulp, and the rounding
    absorbs it for ranking and hashing alike.
    """
    # N folds in as a broadcast one-row frame (corpus_mix's pattern) — no
    # driver-blocking job inside the query builder
    n_docs = docs.agg(F.countDistinct("doc_id").alias("__n_docs"))
    terms = docs.select("doc_id", F.explode(tokens_col()).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (F.log((F.col("__n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


def tfidf_top_terms_sql(k: int = 3) -> str:
    return f"""
WITH terms AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS score
  FROM tf JOIN df USING (term), n
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY doc_id ORDER BY score DESC, term ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, score, rank FROM ranked WHERE rank <= {k}
"""


# --------------------------------------------------------- corpus mixing

DEFAULT_MIX_BUDGET = 20_000


def corpus_mix(docs: DataFrame, budget_tokens: int = DEFAULT_MIX_BUDGET) -> DataFrame:
    """Token-budget-aware corpus mixing: split a global token budget across
    sources by domain weight, then fill each source's share with a
    deterministic hash-priority sample (greedy close-before-exceed on the
    running token count — the same boundary rule as sequence packing and
    the segment rollover planner).

    Domain weights here derive from the source id (``1 + idx % 3``) —
    stand-ins for the sampling ratios a data-mixing recipe assigns per
    domain.  The hash priority (portable md5 of the doc id) makes the
    sample reproducible in DuckDB and stable under re-runs/backfills:
    adding documents never reorders the already-chosen prefix priorities.

    Scale: pick_rank and cum_tokens come from the grouped range-prefix
    stitch (functions/stitch.grouped_rank_cumsum) — range partition on
    (source, prio, doc_id), partition-local rank/cumsum windows keyed by
    (partition, source), broadcast exclusive per-source offsets — never a
    ``Window.partitionBy(source)`` over the document grain (source
    cardinality is O(10-100), so a per-source window is a multi-TB
    single-task sort at 100 TB).  Integer counts/sums make the stitched
    output bit-identical to the global window it replaces.  The
    weight/budget dimension is a per-source aggregate joined back broadcast.
    """
    from kafka_replicator_spark.functions.hashing import portable_hash60
    from kafka_replicator_spark.functions.stitch import grouped_rank_cumsum

    toks = docs.select(
        "doc_id",
        "source",
        F.size(tokens_col()).cast("long").alias("n_tokens"),
        portable_hash60(F.col("doc_id").cast("string")).alias("prio"),
    )
    src_w = (
        toks.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "w", (F.lit(1) + F.regexp_extract("source", r"(\d+)$", 1).cast("int") % 3).cast("long")
        )
    )
    total_w = src_w.agg(F.sum("w").alias("w_total"))
    budgets = src_w.join(F.broadcast(total_w)).select(
        "source",
        F.floor(F.lit(budget_tokens) * F.col("w") / F.col("w_total")).alias("src_budget"),
    )
    ranked = (
        grouped_rank_cumsum(toks, "source", ["prio", "doc_id"], sum_col="n_tokens")
        .join(F.broadcast(budgets), "source")
        .withColumnRenamed("__grank", "pick_rank")
        .withColumnRenamed("__gcumsum", "cum_tokens")
    )
    return (
        ranked.filter(F.col("cum_tokens") - F.col("n_tokens") < F.col("src_budget"))
        .select(
            "source",
            "doc_id",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.col("pick_rank").cast("int").alias("pick_rank"),
            F.col("cum_tokens").alias("cum_tokens"),
        )
    )


def corpus_mix_sql(budget_tokens: int = DEFAULT_MIX_BUDGET, rel: str = "documents") -> str:
    from kafka_replicator_spark.functions.hashing import portable_hash60_sql

    prio = portable_hash60_sql("CAST(doc_id AS VARCHAR)")
    return f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         {prio} AS prio
  FROM {rel}
), src_w AS (
  SELECT source, 1 + CAST(regexp_extract(source, '(\\d+)$', 1) AS INTEGER) % 3 AS w
  FROM (SELECT DISTINCT source FROM {rel})
), budgets AS (
  SELECT source, CAST(floor({budget_tokens} * w / (SELECT CAST(sum(w) AS DOUBLE) FROM src_w)) AS BIGINT) AS src_budget
  FROM src_w
), ranked AS (
  SELECT t.*, b.src_budget,
         row_number() OVER (PARTITION BY t.source ORDER BY prio, doc_id) AS pick_rank,
         CAST(sum(n_tokens) OVER (PARTITION BY t.source ORDER BY prio, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM toks t JOIN budgets b USING (source)
)
SELECT source, doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       CAST(pick_rank AS INTEGER) AS pick_rank, cum_tokens
FROM ranked
WHERE cum_tokens - n_tokens < src_budget
"""


def tfidf_topterm_pairs(docs: DataFrame, k: int = 3, max_df: int = 20) -> DataFrame:
    """Sparse-similarity candidate pairs via top-``k`` TF-IDF word BIGRAMS:
    two documents become a candidate when they share a top bigram — the
    classic sparse-retrieval blocking step (an inverted index over only the
    most discriminative keys).  Bigram keys keep posting lists short where
    unigram blocking floods on a small vocabulary; the ``max_df`` posting
    cap bounds the self-join fan-out at df² per key regardless of corpus.

    One explode + (doc, bigram) shuffle; df aggregates from the tf frame
    (bigram-level); the per-doc rank window cuts to k keys before the
    candidate join.  The top frame is cached — it feeds both join sides.
    """
    from kafka_replicator_spark.cacheutil import track_cached

    toks = F.col("__toks")
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + F.lit(1))
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    from kafka_replicator_spark.functions.hashing import spread

    terms = (
        spread(docs.select("doc_id", F.split(F.col("text"), " ").alias("__toks")))
        .select("doc_id", F.explode(grams).alias("term"))
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.countDistinct("doc_id").alias("__n_docs"))
    scored = (
        tf.join(df_, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (F.log((F.col("__n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    top = track_cached(
        scored.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= k) & (F.col("df") <= max_df))
        .select("doc_id", "term", "score")
    )
    a = top.select(F.col("doc_id").alias("doc_a"), "term", F.col("score").alias("sa"))
    b = top.select(F.col("doc_id").alias("doc_b"), "term", F.col("score").alias("sb"))
    return (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_terms"),
            F.max("term").alias("max_shared_term"),
            F.round(F.sum(F.least("sa", "sb").cast("decimal(18,6)")).cast("double"), 6).alias(
                "shared_score"
            ),
        )
    )


def tfidf_topterm_pairs_sql(k: int = 3, max_df: int = 20) -> str:
    return f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
terms AS (
  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS term
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
        FROM t WHERE len(toks) >= 2)
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, df.df,
         round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS score
  FROM tf JOIN df USING (term), n
),
top AS (
  SELECT doc_id, term, score FROM (
    SELECT doc_id, term, df, score, row_number() OVER (
      PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
    FROM scored
  ) WHERE rank <= {k} AND df <= {max_df}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared_terms,
       max(a.term) AS max_shared_term,
       round(CAST(sum(CAST(least(a.score, b.score) AS DECIMAL(18,6))) AS DOUBLE), 6)
           AS shared_score
FROM top a JOIN top b ON a.term = b.term AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


def split_assign_col(id_col: str = "doc_id", train_pct: int = 98, val_pct: int = 1):
    """THE deterministic train/val/test assignment rule (98/1/1 default):
    a pure function of the row identity via the portable hash, so every
    engine, rerun, and incremental batch lands each id in the same split.
    One generator for every consumer (dataset_split, the held-out LM eval,
    the split drift/stratification audits) — the rule must never fork."""
    from kafka_replicator_spark.functions.hashing import portable_hash60

    bucket = portable_hash60(
        F.concat_ws("|", F.lit("split"), F.col(id_col).cast("string"))
    ) % 100
    return (
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
    )


def split_assign_sql(id_expr: str = "doc_id", train_pct: int = 98, val_pct: int = 1) -> str:
    """DuckDB mirror of :func:`split_assign_col` (a CASE expression)."""
    from kafka_replicator_spark.functions.hashing import portable_hash60_sql

    h = portable_hash60_sql(f"'split|' || CAST({id_expr} AS VARCHAR)")
    return (
        f"CASE WHEN ({h} % 100) < {train_pct} THEN 'train' "
        f"WHEN ({h} % 100) < {train_pct + val_pct} THEN 'val' "
        "ELSE 'test' END"
    )


def dataset_split(
    docs: DataFrame, train_pct: int = 98, val_pct: int = 1
) -> DataFrame:
    """Deterministic train/val/test assignment by document hash (98/1/1 by
    default) with per-(source, split) document and token counts — the
    split must be a pure function of the document identity so any engine,
    any rerun, and any later incremental batch lands every document in the
    same split (no RNG state, no shuffle files to preserve).

    Map-only assignment + one (source, split) aggregation.
    """
    return (
        docs.select(
            "source",
            split_assign_col("doc_id", train_pct, val_pct).alias("split"),
            F.size(F.split(F.col("text"), " ")).cast("long").alias("nt"),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
        )
    )


def dataset_split_sql(train_pct: int = 98, val_pct: int = 1) -> str:
    return f"""
WITH assigned AS (
  SELECT source,
         {split_assign_sql("doc_id", train_pct, val_pct)} AS split,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
  FROM documents
)
SELECT source, split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS n_tokens
FROM assigned GROUP BY source, split
"""


def shard_plan(
    docs: DataFrame, shard_tokens: int = 2000, partitions: int | None = None
) -> DataFrame:
    """Token-budget shard planner: lay documents out in doc-id order and
    cut output shards every ``shard_tokens`` tokens — the plan a training-
    data writer follows to produce evenly-sized sequential files.

    The exclusive running token sum is exact and distributed: range
    partition on doc_id, partition-local window cumsum, then a broadcast
    per-partition prefix stitch (the curriculum_buckets / skyline shape —
    never a global single-partition window).  Output is shard-grain.
    """
    from pyspark.sql import Window

    from kafka_replicator_spark.functions.stitch import range_prefix_stitch

    d, pre = range_prefix_stitch(
        docs.select("doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("nt")),
        "doc_id",
        "nt",
        agg="sum",
        partitions=partitions,
    )
    w = Window.partitionBy("__pid").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = d.withColumn("__local_prev", F.coalesce(F.sum("nt").over(w), F.lit(0)))
    placed = local.join(F.broadcast(pre), "__pid").select(
        "doc_id",
        "nt",
        F.expr(f"(__prefix + __local_prev) div {shard_tokens}").alias("shard_id"),
    )
    return placed.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def shard_plan_sql(shard_tokens: int = 2000) -> str:
    return f"""
WITH t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents
), c AS (
  SELECT doc_id, nt,
         coalesce(sum(nt) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM t
)
SELECT CAST(start // {shard_tokens} AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM c GROUP BY 1
"""
