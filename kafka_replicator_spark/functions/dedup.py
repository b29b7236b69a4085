"""Deduplication operators for training-data pipelines.

Four families, each a pure DataFrame composition with a DuckDB SQL mirror:

  * **exact**       — content-hash groupBy (one shuffle on a 128-bit key)
  * **n-gram Jaccard** — shingle-set self-join; exact pairwise similarity
  * **MinHash + LSH**  — signature → banded buckets → candidate pairs; the
    100 TB-scale path (cost ∝ documents, not pairs)
  * **SimHash**        — near-dup fingerprint + banded candidate join

Scale notes: every operator is groupBy/join on integer hash keys — AQE
handles skew (a hot shingle like a boilerplate header is the classic skew
case; the shingle join uses distinct-per-doc shingles so fanout is bounded
by true duplication).  The LSH band join replaces the O(n²) pair space with
bucket-local pairs, which is why it is the default at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_replicator_spark.cacheutil import track_cached
from kafka_replicator_spark.core.schema import local_frame

from kafka_replicator_spark.functions.hashing import (
    hash_family_col,
    hash_family_params,
    hash_family_sql,
    portable_hash32,
    portable_hash32_sql,
    spread,
)

# ---------------------------------------------------------------- exact

def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content hash: one row per distinct content, with the
    canonical (min-id) survivor and the duplicate count.
    """
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_duplicates_sql() -> str:
    return """
SELECT md5(text) AS content_hash,
       min(doc_id) AS canonical_id,
       count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


# ------------------------------------------------------- shingles (shared)

def word_ngrams(docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per document, with the portable 32-bit
    hash — the input of both Jaccard and MinHash.
    """
    # materialize the split ONCE in a prior projection: referencing the
    # split expression inside the transform lambda would re-split the text
    # per element access (O(len²) splits per document — measured 6× slower)
    toks = F.col("__toks")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array())
    return (
        spread(docs)  # single-file inputs would explode on one core otherwise
        .select(
            F.col(id_col).alias("doc_id"),
            F.split(F.col(text_col), " ").alias("__toks"),
        )
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))
        .withColumn("h", portable_hash32("shingle"))
    )


def word_ngrams_sql(n: int = 3, rel: str = "documents") -> str:
    """DuckDB mirror of :func:`word_ngrams` (1-based list indexing) over
    ``rel`` — parameterized so composed oracles (the dedup cascade) can
    shingle an intermediate CTE instead of the raw table."""
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return f"""
SELECT DISTINCT doc_id, shingle, {portable_hash32_sql('shingle')} AS h
FROM (
  SELECT doc_id, {gram} AS shingle
  FROM (
    SELECT doc_id, t, unnest(range(1, len(t) - {n - 2})) AS i
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM {rel})
  )
)
"""


# ------------------------------------------------------ n-gram Jaccard

def jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard over candidate pairs that share at
    least one shingle.  The self-join key is the shingle hash (int join);
    set sizes come from one aggregation — two shuffles total.

    ``shingles`` shares a pre-materialized (cached) :func:`word_ngrams`
    frame, as in :func:`minhash_containment`.
    """
    # the shingle set feeds three plan branches (sizes + both join sides);
    # Spark does no cross-branch subtree reuse, so cache or pay 3× recompute
    sh = track_cached(word_ngrams(docs, n=n)) if shingles is None else shingles
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "h")
    b = sh.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )


def jaccard_pairs_sql(n: int = 3, threshold: float = 0.5) -> str:
    return f"""
WITH sh AS ({word_ngrams_sql(n)}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_inter,
       round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) >= {threshold}
"""


def _dup_window_spans(docs: DataFrame, w: int) -> DataFrame:
    """Maximal corpus-wide repeated-window extents per doc: ``(doc_id, s,
    e)`` in 1-based token positions — the shared core of
    :func:`dup_span_extents` (the audit) and :func:`substring_cut` (the
    cutter).  Repeated ``w``-token windows collapse into maximal
    overlapping runs via the islands idiom (break when the next window
    starts past the previous one's end); extents are disjoint per doc.

    Scale: the only corpus-wide stage is the window-hash occurrence count
    (keyed by the hash itself); the lag/cumsum windows partition by doc.
    """
    from pyspark.sql.window import Window

    toks = F.split(F.col("text"), " ")
    wins = F.when(
        F.size(toks) >= w,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (w - 1)),
            lambda i: F.struct(
                i.alias("i"),
                F.md5(F.concat_ws(" ", F.slice(toks, i, w))).alias("wh"),
            ),
        ),
    ).otherwise(F.array())
    win = spread(docs).select("doc_id", F.explode(wins).alias("x")).select(
        "doc_id", F.col("x.i").alias("i"), F.col("x.wh").alias("wh")
    )
    occ = win.withColumn("n_occ", F.count(F.lit(1)).over(Window.partitionBy("wh")))
    dup = occ.where(F.col("n_occ") > 1).select("doc_id", "i")
    byi = Window.partitionBy("doc_id").orderBy("i")
    flagged = dup.select(
        "doc_id",
        "i",
        F.when(
            F.lag("i").over(byi).isNull()
            | (F.col("i") - F.lag("i").over(byi) > w - 1),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    islands = flagged.select(
        "doc_id",
        "i",
        F.sum("brk").over(byi.rowsBetween(Window.unboundedPreceding, 0)).alias("island"),
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("i").cast("long").alias("s"),
        (F.max("i") + w - 1).cast("long").alias("e"),
    ).select("doc_id", "s", "e")


def dup_span_extents(docs: DataFrame, w: int = 8) -> DataFrame:
    """Merged duplicated-window extents per document — the cut list a
    substring cutter executes (Lee et al. 2022 ExactSubstr, window-hash
    flavour; the extent-merging tier above :func:`dup_spans`), yielding
    span count, covered tokens, and longest run per affected document.
    Span computation shared with :func:`substring_cut` via
    :func:`_dup_window_spans`.
    """
    spans = _dup_window_spans(docs, w)
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("covered_tokens"),
        F.max(F.col("e") - F.col("s") + 1).cast("long").alias("longest_span"),
    )


def substring_cut(docs: DataFrame, w: int = 8) -> DataFrame:
    """Exact substring-level dedup, the CUT half of Lee et al. 2022
    ExactSubstr (VERDICT r09 #5): remove every token covered by a
    corpus-wide repeated ``w``-token window (all occurrences cut, the
    paper's rule) and return one row per document with the cleaned text
    and exact accounting — ``(doc_id, source, n_tokens, cut_tokens,
    kept_tokens, clean_text)``.  Docs without repeated windows pass
    through unchanged; a fully-covered doc yields ``clean_text = ''``.

    Scale: extents per doc are few and disjoint (merged islands), so the
    cut is a broadcast-free doc-grain join + one JVM-side higher-order
    filter over the token array — no explode at the position grain, no
    all-pairs anywhere (plan-pinned).
    """
    spans = _dup_window_spans(docs, w)
    exts = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("s", "e")).alias("__exts")
    )
    toks = F.split(F.col("text"), " ")
    empty = F.array().cast("array<struct<s:bigint,e:bigint>>")
    kept = F.filter(
        F.transform(toks, lambda t, i: F.struct((i + 1).cast("long").alias("p"), t.alias("t"))),
        lambda x: ~F.exists(
            F.coalesce(F.col("__exts"), empty),
            lambda ext: (x["p"] >= ext["s"]) & (x["p"] <= ext["e"]),
        ),
    )
    # r14 opt (guide §2.6 stragglers): the rebuild side joins the RAW input
    # — a single-row-group parquet scan arrives as ONE split, so the
    # interpreted higher-order filter + array_join over every token ran in
    # one task (the whole final stage serialized on one core).  spread() is
    # conditional: it repartitions only when the input has fewer splits
    # than cores, so the many-file 100 TB case passes through untouched.
    return (
        spread(docs).join(exts, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.size(toks).cast("long").alias("n_tokens"),
            kept.alias("__kept"),
        )
        .select(
            "doc_id",
            "source",
            "n_tokens",
            (F.col("n_tokens") - F.size("__kept")).cast("long").alias("cut_tokens"),
            F.size("__kept").cast("long").alias("kept_tokens"),
            F.array_join(F.transform("__kept", lambda x: x["t"]), " ").alias("clean_text"),
        )
    )


def dup_spans_ctes_sql(w: int = 8, rel: str = "documents") -> str:
    """The src/win/occ/dup/flagged/islands/spans CTE block (emitted inside
    an open WITH) mirroring :func:`_dup_window_spans` — THE one generator
    of the repeated-window span text, shared by substring_cut_sql and the
    span position audits so the span rule can never silently diverge
    between oracles.  ``spans`` yields one merged extent per (doc_id,
    island): [s, e] in 1-based token positions."""
    return f"""src AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM {rel}),
win AS (
  SELECT doc_id, i, md5(array_to_string(t[i:i+{w - 1}], ' ')) AS wh
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - {w} + 2)) AS i FROM src)
),
occ AS (SELECT doc_id, i, count(*) OVER (PARTITION BY wh) AS n_occ FROM win),
dup AS (SELECT doc_id, i FROM occ WHERE n_occ > 1),
flagged AS (
  SELECT doc_id, i,
         CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                   > {w - 1} OR lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
              THEN 1 ELSE 0 END AS brk
  FROM dup
),
islands AS (
  SELECT doc_id, i,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island
  FROM flagged
),
spans AS MATERIALIZED (
  SELECT doc_id, CAST(min(i) AS BIGINT) AS s,
         CAST(max(i) + {w} - 1 AS BIGINT) AS e
  FROM islands GROUP BY doc_id, island
)"""


def substring_cut_sql(w: int = 8, rel: str = "documents") -> str:
    """DuckDB mirror of :func:`substring_cut` over ``rel``.  The cleaned
    text rebuilds as ``string_agg(tok, ' ' ORDER BY i)`` over uncovered
    positions; extents are disjoint per doc, so the coverage test is a
    null-producing LEFT JOIN, never a fan-out."""
    return f"""
WITH {dup_spans_ctes_sql(w, rel)},
pos AS (
  SELECT doc_id, unnest(range(1, len(t) + 1)) AS i, unnest(t) AS tok FROM src
),
kept AS (
  SELECT p.doc_id, p.i, p.tok
  FROM pos p LEFT JOIN spans sp
    ON sp.doc_id = p.doc_id AND p.i BETWEEN sp.s AND sp.e
  WHERE sp.s IS NULL
),
rebuilt AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
         string_agg(tok, ' ' ORDER BY i) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT src.doc_id, src.source,
       CAST(len(src.t) AS BIGINT) AS n_tokens,
       CAST(len(src.t) - coalesce(r.kept_tokens, 0) AS BIGINT) AS cut_tokens,
       CAST(coalesce(r.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       coalesce(r.clean_text, '') AS clean_text
FROM src LEFT JOIN rebuilt r ON src.doc_id = r.doc_id
"""


def cut_to_fixpoint(docs: DataFrame, w: int = 8, max_rounds: int = 3) -> DataFrame:
    """Iterate :func:`substring_cut` to a fixpoint (VERDICT r10 #3): the
    windowed ExactSubstr cut is NOT idempotent (cutting a span can butt two
    previously-distant token runs into a NEW repeated window —
    oracle-checked by p_cut_idempotence), so the Lee et al. 2022
    implementation iterates until no spans remain; this operator runs the
    cut up to ``max_rounds`` times, stopping early once a round cuts zero
    tokens corpus-wide (the fixpoint: all later rounds are the identity,
    so the early exit is output-equivalent to the full unroll — which is
    exactly how the fixed-``max_rounds`` SQL oracle replays it).

    The round budget is the production knob p_substring_convergence's
    decay curve prices: cut_tokens falls steeply round over round, so a
    small fixed budget reaches the fixpoint on real corpora.

    Per round: one full :func:`substring_cut` chain (the corpus-wide stage
    is the hash-keyed window-occurrence count) plus ONE single-row
    metadata aggregate for the stop check — no driver-side data.

    Returns one row per doc: ``(doc_id, source, n_tokens, cut_tokens,
    kept_tokens, last_round_cut, clean_text)`` — ``n_tokens`` is the
    ORIGINAL token count, ``cut_tokens`` the total cut across all rounds,
    ``last_round_cut`` the final round's per-doc cut (all zero iff the
    fixpoint was reached inside the budget).
    """
    cur = docs.select("doc_id", "source", "text")
    first = None
    first_cut = None
    last = None
    for _ in range(max_rounds):
        cut = track_cached(substring_cut(cur, w=w))
        if first is None:
            first = cut.select("doc_id", F.col("n_tokens").alias("__orig"))
            first_cut = cut
        prev = last
        last = cut
        # the stop-check agg materializes THIS round's cache (reading the
        # previous round's cache once, never its lineage) ...
        total = cut.agg(F.sum("cut_tokens")).collect()[0][0] or 0
        # ... after which the previous round's cache is superseded —
        # unpersist it (keeping round 1, which backs `first`, and the
        # newest round) so at most two corpus-text copies stay pinned
        # instead of max_rounds (ADVICE r11)
        if prev is not None and prev is not first_cut:
            prev.unpersist()
        if total == 0:
            break
        cur = cut.select("doc_id", "source", F.col("clean_text").alias("text"))
    fin = last.select(
        "doc_id",
        "source",
        F.col("cut_tokens").alias("last_round_cut"),
        "kept_tokens",
        "clean_text",
    )
    return fin.join(first, "doc_id").select(
        "doc_id",
        "source",
        F.col("__orig").cast("long").alias("n_tokens"),
        (F.col("__orig") - F.col("kept_tokens")).cast("long").alias("cut_tokens"),
        F.col("kept_tokens").cast("long").alias("kept_tokens"),
        F.col("last_round_cut").cast("long").alias("last_round_cut"),
        "clean_text",
    )


def cut_to_fixpoint_sql_ctes(
    w: int = 8, max_rounds: int = 3, rel: str = "documents"
) -> str:
    """Open-WITH CTE chain mirroring :func:`cut_to_fixpoint`, ending in
    ``fix`` = (doc_id, source, n_tokens, cut_tokens, kept_tokens,
    last_round_cut, clean_text).  Rounds are SIBLING CTE scopes in one
    top-level WITH (k1/c1/k2/.../k{{R}}) per the DuckDB MATERIALIZED
    ancestor-chain alias rule — the nested substring_cut_sql aliases
    (src/win/...) repeat only across sibling scopes, which DuckDB
    accepts.  The unrolled ``max_rounds`` text is output-equivalent to
    the Spark side's early exit: once a round cuts zero tokens every
    later round is the identity."""
    parts = [f"k1 AS MATERIALIZED (SELECT * FROM ({substring_cut_sql(w, rel=rel)}))"]
    for r in range(2, max_rounds + 1):
        parts.append(
            f"c{r - 1} AS MATERIALIZED "
            f"(SELECT doc_id, source, clean_text AS text FROM k{r - 1})"
        )
        parts.append(
            f"k{r} AS MATERIALIZED "
            f"(SELECT * FROM ({substring_cut_sql(w, rel=f'c{r - 1}')}))"
        )
    last = f"k{max_rounds}"
    parts.append(f"""fix AS (
  SELECT k1.doc_id, k1.source, k1.n_tokens,
         CAST(k1.n_tokens - {last}.kept_tokens AS BIGINT) AS cut_tokens,
         {last}.kept_tokens,
         {last}.cut_tokens AS last_round_cut,
         {last}.clean_text
  FROM k1 JOIN {last} USING (doc_id)
)""")
    return ",\n".join(parts)


def dup_span_extents_sql(w: int = 8) -> str:
    return f"""
WITH win AS (
  SELECT doc_id, i, md5(array_to_string(t[i:i+{w - 1}], ' ')) AS wh
  FROM (
    SELECT doc_id, t, unnest(range(1, len(t) - {w} + 2)) AS i
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  )
),
occ AS (SELECT doc_id, i, count(*) OVER (PARTITION BY wh) AS n_occ FROM win),
dup AS (SELECT doc_id, i FROM occ WHERE n_occ > 1),
flagged AS (
  SELECT doc_id, i,
         CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                   > {w - 1} OR lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
              THEN 1 ELSE 0 END AS brk
  FROM dup
),
islands AS (
  SELECT doc_id, i,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island
  FROM flagged
),
spans AS (
  SELECT doc_id, CAST(min(i) AS BIGINT) AS s,
         CAST(max(i) + {w} - 1 AS BIGINT) AS e
  FROM islands GROUP BY doc_id, island
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(e - s + 1) AS BIGINT) AS covered_tokens,
       CAST(max(e - s + 1) AS BIGINT) AS longest_span
FROM spans GROUP BY doc_id
"""


def _snm_candidates(
    docs: DataFrame, key, w: int, partitions: int, text_col: str, id_col: str
) -> DataFrame:
    """Sorted-neighborhood candidate pairs for ONE blocking key expression:
    global sort rank via range partition + local monotonic rank + broadcast
    offsets (the curriculum/stitch pattern), then an EQUI join of each row
    with its ``w`` rank successors.  Output: (doc_a < doc_b, rank_dist)."""
    keyed = docs.select(F.col(id_col).alias("doc_id"), key.alias("k"))
    d = (
        keyed.repartitionByRange(partitions, "k", "doc_id")
        .sortWithinPartitions("k", "doc_id")
        .select(
            "doc_id",
            F.spark_partition_id().alias("pid"),
            (F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1)) + 1).alias(
                "lrank"
            ),
        )
    )
    d = track_cached(d)
    counts = {
        r["pid"]: r["c"]
        for r in d.groupBy("pid").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off = local_frame(d.sparkSession, offsets or [(0, 0)], "pid int, off long")
    ranked = d.join(F.broadcast(off), "pid").select(
        "doc_id", (F.col("off") + F.col("lrank")).alias("r")
    )
    succ = ranked.select(
        F.col("doc_id").alias("id_b"),
        F.col("r").alias("rb"),
    )
    return (
        ranked.select(
            F.col("doc_id").alias("id_a"),
            F.explode(F.sequence(F.col("r") + 1, F.col("r") + w)).alias("rb"),
            F.col("r").alias("ra"),
        )
        .join(succ, "rb")
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            (F.col("rb") - F.col("ra")).cast("long").alias("rank_dist"),
        )
    )


def snm_multipass_pairs(
    docs: DataFrame,
    w: int = 3,
    key_len: int = 40,
    n: int = 3,
    threshold: float = 0.3,
    partitions: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Multi-pass sorted-neighborhood (the form Hernández & Stolfo actually
    prescribe): union the candidate windows of TWO independent blocking
    keys — the text prefix and the REVERSED-text prefix (suffix-sensitive)
    — then verify once with exact n-gram Jaccard.  A second key pass is
    how SNM recovers pairs whose difference falls inside the first key
    (prefix edits sort apart under the prefix key but adjacent under the
    suffix key).

    Same per-pass plan as :func:`sorted_neighborhood_pairs`; the union is
    2·w·n candidate rows before DISTINCT.  Output: doc_a < doc_b, n_inter,
    jaccard (≥ threshold, 6 dp).

    ASCII ASSUMPTION (suffix key): Spark ``reverse`` works on UTF-16 code
    units while DuckDB ``reverse`` works on grapheme clusters, so the two
    engines produce different suffix keys — hence different candidate sets
    — on multi-codepoint text.  The testdata corpus is ASCII, where the
    two definitions coincide exactly.  For a non-ASCII corpus, derive the
    suffix key from a byte-stable transform instead (e.g. reverse the md5
    hex of the prefix-stripped text).
    """
    c1 = _snm_candidates(
        docs, F.substring(F.col(text_col), 1, key_len), w, partitions, text_col, id_col
    )
    # reverse(): UTF-16 code units on Spark vs graphemes on DuckDB — safe
    # only on ASCII input (see the ASCII ASSUMPTION note above)
    c2 = _snm_candidates(
        docs,
        F.substring(F.reverse(F.col(text_col)), 1, key_len),
        w,
        partitions,
        text_col,
        id_col,
    )
    cand = c1.select("doc_a", "doc_b").union(c2.select("doc_a", "doc_b")).distinct()
    sh = track_cached(word_ngrams(docs, n=n, text_col=text_col, id_col=id_col))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "h")
    b = sh.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            "doc_a", "doc_b", F.col("n_inter").cast("long").alias("n_inter"), "jaccard"
        )
    )


def snm_multipass_pairs_sql(
    w: int = 3, key_len: int = 40, n: int = 3, threshold: float = 0.3
) -> str:
    return f"""
WITH k1 AS (SELECT doc_id, substr(text, 1, {key_len}) AS k FROM documents),
r1 AS (SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS r FROM k1),
k2 AS (SELECT doc_id, substr(reverse(text), 1, {key_len}) AS k FROM documents),
r2 AS (SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS r FROM k2),
cand AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b
    FROM r1 a JOIN r1 b ON b.r > a.r AND b.r <= a.r + {w}
    UNION ALL
    SELECT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id)
    FROM r2 a JOIN r2 b ON b.r > a.r AND b.r <= a.r + {w}
  )
),
sh AS ({{sh}}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter,
       round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) >= {threshold}
""".replace("{sh}", word_ngrams_sql(n))


def sorted_neighborhood_pairs(
    docs: DataFrame,
    w: int = 3,
    key_len: int = 40,
    n: int = 3,
    threshold: float = 0.3,
    partitions: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sorted-neighborhood dedup (Hernández & Stolfo 1995): sort the corpus
    by a blocking key (text prefix), compare each document only with its
    ``w`` successors in sort order, verify candidates with exact n-gram
    Jaccard — the third blocking family next to LSH (hash-bucket) and
    SimHash (bit-bucket), and the one that catches prefix-stable edits LSH
    bands can miss at low Jaccard.

    The global sort rank uses the curriculum/stitch pattern
    (``repartitionByRange`` + partition-local ``monotonically_increasing_id``
    rank + broadcast per-partition offsets — textstats.curriculum_buckets),
    never a single-partition window; the neighbor join is an EQUI join on
    ``rank + d`` for d ∈ 1..w (w·n candidate rows), and the Jaccard verify
    is candidate-confined.  Output: doc_a < doc_b, rank_dist, n_inter,
    jaccard (≥ threshold, 6 dp).
    """
    key = F.substring(F.col(text_col), 1, key_len)
    cand = _snm_candidates(docs, key, w, partitions, text_col, id_col)
    sh = track_cached(word_ngrams(docs, n=n, text_col=text_col, id_col=id_col))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "h")
    b = sh.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b", "rank_dist")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "rank_dist", F.col("n_inter").cast("long").alias("n_inter"), "jaccard")
    )


def sorted_neighborhood_pairs_sql(
    w: int = 3, key_len: int = 40, n: int = 3, threshold: float = 0.3
) -> str:
    return f"""
WITH keyed AS (SELECT doc_id, substr(text, 1, {key_len}) AS k FROM documents),
ranked AS (SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS r FROM keyed),
cand AS (
  SELECT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b,
         CAST(b.r - a.r AS BIGINT) AS rank_dist
  FROM ranked a JOIN ranked b ON b.r > a.r AND b.r <= a.r + {w}
),
sh AS ({word_ngrams_sql(n)}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, c.rank_dist, count(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
  GROUP BY c.doc_a, c.doc_b, c.rank_dist
)
SELECT doc_a, doc_b, rank_dist, CAST(n_inter AS BIGINT) AS n_inter,
       round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) >= {threshold}
"""


# ------------------------------------------------------ MinHash + LSH

def minhash_signatures(
    docs: DataFrame, k: int = 16, n: int = 3, shingles: DataFrame | None = None
) -> DataFrame:
    """k-permutation MinHash signatures via the universal hash family —
    one shuffle (groupBy doc), k mins computed map-side.

    ``shingles`` lets a caller that already materialized (and typically
    cached) the :func:`word_ngrams` frame share it instead of paying the
    shingling explode twice (see :func:`minhash_containment`).
    """
    sh = word_ngrams(docs, n=n) if shingles is None else shingles
    aggs = [
        F.min(hash_family_col(F.col("h"), a, b)).alias(f"sig_{i}")
        for i, (a, b) in enumerate(hash_family_params(k))
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_signatures_sql(k: int = 16, n: int = 3, rel: str = "documents") -> str:
    cols = ", ".join(
        f"min({hash_family_sql('h', a, b)}) AS sig_{i}"
        for i, (a, b) in enumerate(hash_family_params(k))
    )
    return f"WITH sh AS ({word_ngrams_sql(n, rel)}) SELECT doc_id, {cols} FROM sh GROUP BY doc_id"


def minhash_bands(
    docs: DataFrame, k: int = 16, n: int = 3, bands: int = 4,
    shingles: DataFrame | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band, band_key) rows for LSH banding — one pass over the
    signatures: bands come out of a single explode, not a union of per-band
    selects (which would recompute the signature subtree ``bands`` times).

    ``sig`` lets a caller that already materialized (and typically cached)
    the :func:`minhash_signatures` frame share it across several band
    layouts (the bands-ladder sweep) instead of re-hashing per arm —
    the same sharing contract ``shingles`` provides one level down.
    CONTRACT: the supplied frame must have been built with the same ``k``
    (schema-checked below) AND the same shingle width ``n`` — the n half
    is unobservable from the schema, so it is the caller's obligation;
    a mismatched n silently bands different shingle semantics.
    """
    rows = k // bands
    if sig is None:
        sig = minhash_signatures(docs, k=k, n=n, shingles=shingles)
    else:
        # the sharing contract requires a signature frame built with the
        # SAME k — a wider/narrower frame would silently band a prefix of
        # the columns (wrong band keys) instead of failing (ADVICE r11)
        want = {f"sig_{i}" for i in range(k)}
        got = {c for c in sig.columns if c.startswith("sig_")}
        if got != want:
            raise ValueError(
                f"minhash_bands(sig=...) expects exactly sig_0..sig_{k - 1} "
                f"for k={k}; supplied frame has {sorted(got)}"
            )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bidx).alias("band"),
                F.concat_ws(
                    ":", *[F.col(f"sig_{bidx * rows + j}") for j in range(rows)]
                ).alias("band_key"),
            )
            for bidx in range(bands)
        ]
    )
    return (
        sig.select("doc_id", F.explode(band_structs).alias("b"))
        .select("doc_id", F.col("b.band").alias("band"), F.col("b.band_key").alias("band_key"))
    )


def lsh_candidate_pairs(
    docs: DataFrame, k: int = 16, n: int = 3, bands: int = 4,
    shingles: DataFrame | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: split the k-wide signature into ``bands`` bands of
    ``k // bands`` rows; documents agreeing on ALL rows of any band become a
    candidate pair.  The band join is an equi-join on a string band key —
    no O(n²) pair enumeration, the property that survives 100 TB.
    ``shingles``/``sig`` forward the sharing contracts one level down.
    """
    banded = track_cached(
        minhash_bands(docs, k=k, n=n, bands=bands, shingles=shingles, sig=sig)
    )
    a = banded.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_bands_cte_sql(k: int = 16, bands: int = 4, sig_rel: str = "sig") -> str:
    """The banded (doc_id, band, band_key) SELECT over a signature relation
    — THE one generator of the band-key text (delimiter, casts, band
    layout), shared by the candidate-pair oracle and every banding audit
    so they can never measure a different banding than minhash_bands."""
    rows = k // bands
    selects = []
    for bidx in range(bands):
        key = " || ':' || ".join(
            f"CAST(sig_{bidx * rows + j} AS VARCHAR)" for j in range(rows)
        )
        selects.append(
            f"SELECT doc_id, {bidx} AS band, {key} AS band_key FROM {sig_rel}"
        )
    return " UNION ALL ".join(selects)


def lsh_candidate_pairs_sql(
    k: int = 16, n: int = 3, bands: int = 4, rel: str = "documents"
) -> str:
    # MATERIALIZED: sig is read once per band SELECT and banded twice by the
    # self-join — DuckDB inlines multiply-referenced CTEs exponentially
    # without it (the r06 rule)
    return f"""
WITH sig AS MATERIALIZED ({minhash_signatures_sql(k, n, rel)}),
banded AS MATERIALIZED ({minhash_bands_cte_sql(k, bands)})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
WHERE a.doc_id < b.doc_id
"""


# ------------------------------------------------------------ SimHash

SIMHASH_BITS = 32


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token-frequency SimHash (32-bit): each token occurrence votes ±1 per
    bit of its hash; the fingerprint takes the sign of each bit sum.

    One shuffle of |tokens| rows: 32 conditional ±1 sums in a single
    ``groupBy(doc_id)`` (all partial-aggregable map-side), then the sign of
    each sum assembles the fingerprint as pure column math.  The earlier
    explode(0..31) flavor shuffled 32×|tokens| rows — the dominant cost of
    the operator at scale — for identical output.
    """
    toks = (
        spread(docs)
        .select(F.col(id_col).alias("doc_id"), F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .withColumn("h", portable_hash32("tok"))
    )
    bit_sums = [
        F.sum(
            F.expr(f"CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END")
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    fp = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        fp = fp + F.expr(
            f"CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )
    return agg.select("doc_id", fp.alias("simhash"))


def simhash_sql() -> str:
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {portable_hash32_sql('tok')} AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
),
agg AS (
  SELECT doc_id,
         {bit_sums}
  FROM toks GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM agg
"""


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 6) -> DataFrame:
    """SimHash near-dup candidates: band the 32-bit fingerprint into 4 bytes
    (pigeonhole: hamming ≤ 6 ⇒ at least one byte equal... for ≤3 strictly;
    used here as the standard recall/cost dial), then verify by exact
    hamming distance on candidates.
    """
    sig = simhash(docs)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.expr(f"(shiftright(simhash, {8 * j}) & 255)").alias("band_key"),
            )
            for j in range(4)
        ]
    )
    banded = (
        sig.select("doc_id", "simhash", F.explode(band_structs).alias("b"))
        .select("doc_id", "simhash", F.col("b.band").alias("band"), F.col("b.band_key").alias("band_key"))
        .cache()  # self-joined twice below
    )
    a = banded.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"), "band", "band_key")
    b = banded.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.expr("bit_count(sim_a ^ sim_b)").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_pairs_sql(max_hamming: int = 6) -> str:
    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {j} AS band, (simhash >> {8 * j}) & 255 AS band_key FROM sig"
        for j in range(4)
    )
    return f"""
WITH sig AS ({simhash_sql()}),
banded AS ({bands})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


# ----------------------------------------------- duplicate clustering (CC)

#: Edge count below which connected components run as a driver-side
#: union-find instead of distributed contraction rounds.  Same pattern as
#: broadcasting a small join side: below ~200k edges the contraction's
#: per-round shuffle latency dwarfs the work (a 256-edge graph pays 2 full
#: shuffle rounds), while the collected frame is ≤ a few MB.  At 100 TB the
#: pair graph blows past this and the O(log n) contraction path runs.
_SMALL_GRAPH_EDGES = 200_000


def _two_phase_cc(edges: DataFrame, max_iters: int = 25) -> tuple[DataFrame, int]:
    """Connected components by alternating large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014): O(log n) rounds on ANY graph — including adversarial
    long chains, where plain min-label propagation needs diameter rounds.

    * **large-star** processes every edge from both endpoints: node ``u``
      with neighbors N(u) links each strictly-larger neighbor to
      ``m = min(N(u) ∪ {u})`` — long chains halve because every node hops
      to its neighborhood minimum in one step.
    * **small-star** orients edges toward the smaller endpoint and links
      each smaller neighbor (and ``u`` itself) to the minimum — collapsing
      the partial stars large-star leaves behind.

    Each phase is one |edges|-scale shuffle (a groupBy for the neighborhood
    min + a broadcast-free join back); ``localCheckpoint`` truncates lineage
    per round.  Converged when the edge multiset signature (count, Σa, Σb)
    is stable — edges only ever move toward component minima, so a stable
    signature is a fixpoint, at which the edge set is exactly the star
    graph centered at each component's minimum.  The signature rides the
    checkpoint job itself via ``Dataset.observe`` (one job per round, not a
    checkpoint job + a separate ``collect``), and the input frame is never
    signed — the first comparison happens after round 2, since a
    non-trivial graph can't be a star fixpoint before small-star ran once.

    Graphs at or below ``_SMALL_GRAPH_EDGES`` edges skip the rounds
    entirely: collect + union-by-min on the driver (broadcast-small-side
    logic), reported as 0 rounds.  One ``limit(_SMALL_GRAPH_EDGES + 1)``
    collect answers both "is the graph small?" and "what are its edges?";
    only a graph past the guard is checkpointed and built once more.

    ``edges`` must have long columns ``a < b``; returns (membership frame
    ``node, comp`` covering every non-isolated node, rounds used).
    """
    from pyspark.sql import Observation

    head = edges.limit(_SMALL_GRAPH_EDGES + 1).collect()
    if len(head) <= _SMALL_GRAPH_EDGES:
        # union-by-min: roots are always their component's minimum id, so
        # find(v) IS the cluster label — no second pass needed.
        parent: dict[int, int] = {}

        def _find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for row in head:
            a, b = row["a"], row["b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = _find(a), _find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        members = local_frame(
            edges.sparkSession, [(v, _find(v)) for v in parent], "node long, comp long"
        )
        return members, 0

    edges = edges.localCheckpoint()
    prev = None
    rounds = 0
    for _ in range(max_iters):
        # --- large-star: every edge seen from both endpoints.  One grouped
        # pass per phase (min + collect_list, the Kiveris et al. MR shape):
        # the neighborhood min and the fan-out ride the SAME shuffle, where
        # the groupBy+join-back form pays an extra exchange AND recomputes
        # the union once per consumer.  Per-group lists are bounded by max
        # degree (= largest dup-cluster size at the fixpoint); if that ever
        # exceeds executor memory, fall back to the 2014 paper's
        # secondary-sort variant.
        nbrs = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        lstars = nbrs.groupBy("u").agg(
            F.min("v").alias("mv"), F.collect_list("v").alias("vs")
        )
        large = (
            lstars.select(
                F.least("mv", "u").alias("a"),  # m = min(N(u) ∪ {u})
                F.explode(
                    F.filter("vs", lambda v: v > F.col("u"))
                ).alias("b"),  # each strictly-larger neighbor: m ≤ u < v
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # --- small-star: orient toward the smaller endpoint (group by b);
        # attach N(b) ∪ {b} minus the min to m = min(N(b)).  b > m always
        # (a < b and m ≤ a), so b never self-loops.
        sstars = large.groupBy("b").agg(
            F.min("a").alias("m"), F.collect_list("a").alias("as_")
        )
        small = (
            sstars.select(
                F.col("m").alias("a"),
                F.explode(
                    F.concat(
                        F.filter("as_", lambda a: a != F.col("m")),
                        F.array(F.col("b")),
                    )
                ).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        obs = Observation()
        edges = small.observe(
            obs,
            F.count(F.lit(1)).alias("c"),
            F.sum("a").alias("sa"),
            F.sum("b").alias("sb"),
        ).localCheckpoint()
        rounds += 1
        m = obs.get  # populated by the checkpoint materialization job
        sig = (m["c"], m["sa"], m["sb"])
        if sig == prev:
            break
        prev = sig
    else:
        raise RuntimeError(f"two-phase CC did not converge in {max_iters} rounds")
    # at fixpoint edges are stars (a = component min): membership = min over
    # incident edges per node, centers label themselves
    members = (
        edges.select(F.col("b").alias("node"), F.col("a").alias("comp"))
        .union(edges.select(F.col("a").alias("node"), F.col("a").alias("comp")))
        .groupBy("node")
        .agg(F.min("comp").alias("comp"))
    )
    return members, rounds


def duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iters: int = 25,
) -> DataFrame:
    """Group near-duplicate pairs into clusters (connected components) and
    pick the canonical survivor per cluster — the step that turns pairwise
    dedup output into an actual keep/drop decision.

    Components come from :func:`_two_phase_cc` (large-star/small-star,
    Kiveris et al. 2014): O(log n) shuffle rounds on any pair graph,
    adversarial chains included — min-label propagation's diameter-rounds
    worst case is gone.  Singleton documents keep their own id as
    ``cluster_id`` so the output is a total keep/drop map over the corpus;
    the canonical survivor is the cluster-minimum id.

    ``pairs`` defaults to MinHash-LSH candidate pairs (``doc_a``/``doc_b``).
    """
    if pairs is None:
        pairs = lsh_candidate_pairs(docs)
    e0 = (
        pairs.select(
            F.least("doc_a", "doc_b").alias("a"),
            F.greatest("doc_a", "doc_b").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    members, _rounds = _two_phase_cc(e0, max_iters=max_iters)
    labels = (
        docs.select(F.col(id_col).alias("node"))
        .join(members, "node", "left")
        .select("node", F.coalesce("comp", F.col("node")).cast("long").alias("comp"))
    )
    sizes = labels.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "comp").select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        F.col("cluster_size"),
        (F.col("node") == F.col("comp")).cast("long").alias("is_canonical"),
    )


def duplicate_clusters_sql(k: int = 16, n: int = 3, bands: int = 4) -> str:
    """Recursive-CTE oracle: min reachable id over the undirected LSH pair
    graph == the engine's propagated min label."""
    return f"""
WITH RECURSIVE pairs AS ({lsh_candidate_pairs_sql(k=k, n=n, bands=bands)}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
walk(node, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node
),
lab AS (SELECT node, min(comp) AS comp FROM walk GROUP BY node)
SELECT node AS doc_id, comp AS cluster_id,
       count(*) OVER (PARTITION BY comp) AS cluster_size,
       CAST(node = comp AS BIGINT) AS is_canonical
FROM lab
"""


# ------------------------------------------------- benchmark decontamination

def contamination(
    docs: DataFrame,
    benchmark_sources: tuple[str, ...] = ("src0", "src1"),
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination score: for every training document, the
    fraction of its word ``n``-grams that also appear anywhere in the
    held-out benchmark slice — the test-set-leakage check a training
    pipeline runs before a corpus ships.

    Shape at scale: distinct benchmark grams form the (comparatively tiny)
    probe side; the training-gram frame left-joins it on the gram hash —
    one shuffle each side of an equi-join, no pair enumeration.  Docs too
    short to produce an ``n``-gram score 0 and are retained (they cannot
    leak an ``n``-gram).
    """
    is_bench = F.col("source").isin(*benchmark_sources)
    bench_grams = (
        word_ngrams(docs.filter(is_bench), n=n).select("h").distinct()
    )
    train = docs.filter(~is_bench)
    train_grams = word_ngrams(train, n=n).select("doc_id", "h").distinct()
    hits = train_grams.join(
        bench_grams.withColumn("_hit", F.lit(1)), "h", "left"
    )
    per_doc = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_contaminated"),
    )
    frac = F.floor(
        F.col("n_contaminated") / F.col("n_grams") * 1e6 + F.lit(0.5)
    ) / 1e6
    scored = per_doc.select("doc_id", "n_grams", "n_contaminated", frac.alias("contamination_frac"))
    gramless = train.select("doc_id").exceptAll(per_doc.select("doc_id")).select(
        "doc_id",
        F.lit(0).cast("long").alias("n_grams"),
        F.lit(0).cast("long").alias("n_contaminated"),
        F.lit(0.0).alias("contamination_frac"),
    )
    return scored.unionByName(gramless)


def contamination_sql(benchmark_sources: tuple[str, ...] = ("src0", "src1"), n: int = 8) -> str:
    srcs = ", ".join(f"'{s}'" for s in benchmark_sources)
    grams = word_ngrams_sql(n)
    return f"""
WITH bench_grams AS (
  SELECT DISTINCT h FROM ({grams.replace("FROM documents", f"FROM documents WHERE source IN ({srcs})")})
),
train_grams AS (
  SELECT DISTINCT doc_id, h
  FROM ({grams.replace("FROM documents", f"FROM documents WHERE source NOT IN ({srcs})")})
),
per_doc AS (
  SELECT t.doc_id,
         count(*) AS n_grams,
         CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
  FROM train_grams t LEFT JOIN bench_grams b USING (h)
  GROUP BY t.doc_id
)
SELECT doc_id, n_grams, n_contaminated,
       floor(n_contaminated / CAST(n_grams AS DOUBLE) * 1e6 + 0.5) / 1e6 AS contamination_frac
FROM per_doc
UNION ALL
SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0.0
FROM documents
WHERE source NOT IN ({srcs}) AND doc_id NOT IN (SELECT doc_id FROM per_doc)
"""


# ------------------------------------------- exact prefix containment

def _with_truncated_variants(docs: DataFrame, every: int = 7, id_offset: int = 100_000) -> DataFrame:
    """Union the corpus with deterministic truncated copies (every ``every``-th
    document contributes its first-half prefix under ``doc_id + id_offset``)
    so the prefix-dedup operator has real containment chains to resolve —
    the same synthetic-augmentation pattern as the PII scrubber's injected
    spans (functions/curation.py).
    """
    base = docs.select("doc_id", "text")
    variants = (
        base.filter(F.col("doc_id") % every == 0)
        .select(
            (F.col("doc_id") + id_offset).alias("doc_id"),
            F.substring(F.col("text"), 1, F.greatest(F.lit(8), (F.length("text") / 2).cast("int"))).alias("text"),
        )
    )
    return base.unionByName(variants)


def prefix_duplicates(docs: DataFrame, partitions: int = 32) -> DataFrame:
    """Exact prefix-containment dedup via sorted adjacency (the substring-
    dedup family of Lee et al. 2022, restricted to whole-document prefixes).

    If ``a`` is a prefix of any ``b`` then ``a``'s immediate successor in
    lexicographic order also has ``a`` as a prefix — so a single global sort
    plus an adjacent-pair check finds every prefix-superseded document in
    O(n log n), no pairwise join.

    Distributed form: ``repartitionByRange`` on the sort key gives each
    partition a contiguous key range; the adjacent check runs as a
    partition-local window (parallel), and the one cross-partition pair per
    boundary is stitched by broadcasting each partition's first row to its
    predecessor — one range shuffle + one tiny broadcast at any scale.
    Equal texts chain via the (text, doc_id) tie-break, so exact duplicates
    are also flagged (all but the highest id).
    """
    from pyspark.sql.window import Window

    aug = _with_truncated_variants(docs)
    d = aug.repartitionByRange(partitions, "text", "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    w = Window.partitionBy("pid").orderBy("text", "doc_id")
    d = d.withColumn("next_text", F.lead("text").over(w))
    # each non-empty partition's first row, and the first row of the NEXT
    # non-empty partition (lead over the tiny per-partition frame)
    bounds = d.groupBy("pid").agg(F.min(F.struct("text", "doc_id")).alias("first"))
    wb = Window.orderBy("pid")
    bounds = bounds.select(
        "pid", F.lead(F.col("first.text")).over(wb).alias("next_part_first")
    )
    d = d.join(F.broadcast(bounds), "pid", "left")
    eff_next = F.coalesce(F.col("next_text"), F.col("next_part_first"))
    return d.select(
        "doc_id",
        F.when(eff_next.isNotNull() & eff_next.startswith(F.col("text")), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("is_prefix_dup"),
    )


def prefix_duplicates_sql(every: int = 7, id_offset: int = 100_000) -> str:
    return f"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {id_offset} AS doc_id,
         substr(text, 1, greatest(8, CAST(length(text) / 2 AS INTEGER))) AS text
  FROM documents WHERE doc_id % {every} = 0
), adj AS (
  SELECT doc_id, text,
         lead(text) OVER (ORDER BY text, doc_id) AS next_text
  FROM aug
)
SELECT doc_id,
       CAST(CASE WHEN next_text IS NOT NULL AND starts_with(next_text, text)
                 THEN 1 ELSE 0 END AS INTEGER) AS is_prefix_dup
FROM adj
"""


# ------------------------------------------------- incremental dedup

def incremental_dedup(
    docs: DataFrame,
    base_sources: int = 10,
    k: int = 16,
    n: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Dedup an incoming batch against an already-ingested corpus — the
    shape of every refresh of a training set: the historical corpus
    contributes only its (small) hash index, never re-reads its text.

    Sources ``src0..src{base_sources-1}`` play the corpus; the rest are the
    incoming batch.  Each incoming document gets a verdict:

      * ``exact`` — content hash already present in the corpus
      * ``near``  — shares a full MinHash LSH band with a corpus document
      * ``kept``  — novel

    Scale: two semi-joins on hash keys (content hash, band key); the corpus
    side of both is the distinct-key index, which is what an incremental
    pipeline persists between runs.
    """
    src_idx = F.regexp_extract("source", r"(\d+)$", 1).cast("int")
    base = docs.filter(src_idx < base_sources)
    inc = docs.filter(src_idx >= base_sources)

    base_hashes = base.select(F.md5("text").alias("content_hash")).distinct()
    inc_hashed = inc.select("doc_id", F.md5("text").alias("content_hash"))
    exact = (
        inc_hashed.join(F.broadcast(base_hashes), "content_hash", "left_semi")
        .select("doc_id")
        .withColumn("v_exact", F.lit(1))
    )
    base_bands = minhash_bands(base, k=k, n=n, bands=bands).select("band", "band_key").distinct()
    near = (
        minhash_bands(inc, k=k, n=n, bands=bands)
        .join(base_bands, ["band", "band_key"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("v_near", F.lit(1))
    )
    return (
        inc.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("v_exact") == 1, F.lit("exact"))
            .when(F.col("v_near") == 1, F.lit("near"))
            .otherwise(F.lit("kept"))
            .alias("verdict"),
        )
    )


def _bands_sql(k: int, n: int, bands: int, where: str) -> str:
    sig_sql = minhash_signatures_sql(k, n).replace(
        "FROM documents", f"FROM documents WHERE {where}"
    )
    # band-key text comes from THE one generator (minhash_bands_cte_sql) —
    # a fork here would let incremental dedup measure a different banding;
    # MATERIALIZED: the signature CTE is read once per band SELECT
    return (
        f"WITH s AS MATERIALIZED ({sig_sql}) "
        + minhash_bands_cte_sql(k, bands, sig_rel="s")
    )


def incremental_dedup_sql(
    base_sources: int = 10, k: int = 16, n: int = 3, bands: int = 4
) -> str:
    base_w = f"CAST(regexp_extract(source, '(\\d+)$', 1) AS INTEGER) < {base_sources}"
    inc_w = f"CAST(regexp_extract(source, '(\\d+)$', 1) AS INTEGER) >= {base_sources}"
    return f"""
WITH base_hashes AS (
  SELECT DISTINCT md5(text) AS content_hash FROM documents WHERE {base_w}
), inc AS (
  SELECT doc_id, md5(text) AS content_hash FROM documents WHERE {inc_w}
), exact AS (
  SELECT doc_id FROM inc WHERE content_hash IN (SELECT content_hash FROM base_hashes)
), base_bands AS (
  SELECT DISTINCT band, band_key FROM ({_bands_sql(k, n, bands, base_w)})
), near AS (
  SELECT DISTINCT doc_id FROM ({_bands_sql(k, n, bands, inc_w)}) ib
  WHERE EXISTS (SELECT 1 FROM base_bands bb
                WHERE bb.band = ib.band AND bb.band_key = ib.band_key)
)
SELECT doc_id,
       CASE WHEN doc_id IN (SELECT doc_id FROM exact) THEN 'exact'
            WHEN doc_id IN (SELECT doc_id FROM near) THEN 'near'
            ELSE 'kept' END AS verdict
FROM inc
"""


# ------------------------------------------------- duplicated token spans

def dup_spans(
    docs: DataFrame, w: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicated-span detection: the fraction of each document's
    sliding ``w``-token windows that occur more than once corpus-wide
    (including within-document repeats) — the window-hash flavour of the
    substring dedup in Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better"); the suffix-array variant finds
    maximal spans, this one is the shuffle-friendly approximation whose
    cost is linear in tokens.

    Plan: one explode to the window frame (~tokens rows), one shuffle to
    count occurrences per window hash (window function, no join back),
    one shuffle for the per-document rollup.  ``dup_ppm`` is integer
    parts-per-million — no float ever reaches the output.

    Documents shorter than ``w`` tokens have no windows and are absent,
    matching the oracle (Spark's ``sequence(1, 0)`` would be DESCENDING,
    hence the explicit guard).
    """
    from pyspark.sql.window import Window

    toks = F.split(F.col(text_col), " ")
    wins = F.when(
        F.size(toks) >= w,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (w - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, w))),
        ),
    ).otherwise(F.array())
    win = spread(docs).select(F.col(id_col).alias("doc_id"), F.explode(wins).alias("wh"))
    occ = win.withColumn("n_occ", F.count(F.lit(1)).over(Window.partitionBy("wh")))
    return (
        occ.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0)).alias("n_dup"),
        )
        .withColumn("dup_ppm", F.expr("n_dup * 1000000 div n_windows"))
    )


def dup_spans_sql(w: int = 8) -> str:
    return f"""
WITH win AS (
  SELECT doc_id, md5(array_to_string(t[i:i+{w - 1}], ' ')) AS wh
  FROM (
    SELECT doc_id, t, unnest(range(1, len(t) - {w} + 2)) AS i
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  )
),
occ AS (SELECT doc_id, count(*) OVER (PARTITION BY wh) AS n_occ FROM win)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS dup_ppm
FROM occ GROUP BY doc_id
"""


# ------------------------------------------------- asymmetric containment

def minhash_containment(
    docs: DataFrame, k: int = 16, n: int = 3, bands: int = 4, threshold: float = 0.5
) -> DataFrame:
    """Exact shingle containment over LSH candidate pairs — the asymmetric
    dedup signal Jaccard misses: a short document wholly contained in a long
    one scores low Jaccard but containment ≈ 1 on the short side.

    ``cont(a→b) = |A∩B| / |A|``; pairs come from :func:`lsh_candidate_pairs`
    (band equi-join — never all-pairs), and only the candidates' shingles
    join on the hash key, so the intersection stage is candidate-confined
    at any corpus size.  Kept where either direction clears ``threshold``.
    """
    from kafka_replicator_spark.cacheutil import track_cached

    sh = track_cached(word_ngrams(docs, n=n))
    # r14 probe, REVERTED: fusing the signature mins and the per-doc
    # shingle counts into one doc-keyed agg was a plan NO-OP — Catalyst
    # column-prunes the fused agg back into the original separate
    # aggregations (verified in the committed formatted plan), measured
    # neutral at sf0.1 and 10x, and the inline copy of the hash-family
    # expressions broke the minhash_signatures single-sourcing rule.
    cand = lsh_candidate_pairs(docs, k=k, n=n, bands=bands, shingles=sh)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "h")
    b = sh.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            F.round(F.col("n_inter") / F.col("n_a"), 6).alias("containment_a"),
            F.round(F.col("n_inter") / F.col("n_b"), 6).alias("containment_b"),
        )
    )
    return out.filter(
        (F.col("containment_a") >= threshold) | (F.col("containment_b") >= threshold)
    )


def minhash_containment_sql(
    k: int = 16, n: int = 3, bands: int = 4, threshold: float = 0.5
) -> str:
    return f"""
WITH cand AS ({lsh_candidate_pairs_sql(k, n, bands)}),
sh AS ({word_ngrams_sql(n)}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
  GROUP BY c.doc_a, c.doc_b
),
scored AS (
  SELECT doc_a, doc_b, n_inter,
         round(CAST(n_inter AS DOUBLE) / sa.n_sh, 6) AS containment_a,
         round(CAST(n_inter AS DOUBLE) / sb.n_sh, 6) AS containment_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
)
SELECT * FROM scored
WHERE containment_a >= {threshold} OR containment_b >= {threshold}
"""


# --------------------------------------------- cross-source overlap matrix

def cross_source_overlap(docs: DataFrame, n: int = 8) -> DataFrame:
    """Pairwise source-level n-gram leakage matrix: for every source pair,
    the number of shared distinct word ``n``-grams and the overlap
    coefficient ``|A∩B| / min(|A|,|B|)`` — the corpus-level view of the
    per-document contamination check (:func:`contamination`), used to spot
    mirrored/scraped-twice domains before mixing.

    The shingle stream collapses to DISTINCT (source, hash) first, so the
    self-join fan-out per hash is bounded by the source count — output and
    join are sources²-scale regardless of corpus size.
    """
    from kafka_replicator_spark.cacheutil import track_cached

    sh = track_cached(
        word_ngrams(docs, n=n, id_col="source")
        .select(F.col("doc_id").alias("source"), "h")
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("source").alias("src_a"), "h")
    b = sh.select(F.col("source").alias("src_b"), "h")
    shared = (
        a.join(b, "h")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            F.round(F.col("n_shared") / F.least("n_a", "n_b"), 6).alias("overlap_coeff"),
        )
    )


def cross_source_overlap_sql(n: int = 8) -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    h = portable_hash32_sql("shingle")
    return f"""
WITH sh AS (
  SELECT DISTINCT source, {h} AS h
  FROM (
    SELECT source, {gram} AS shingle
    FROM (
      SELECT source, t, unnest(range(1, len(t) - {n - 2})) AS i
      FROM (SELECT source, string_split(text, ' ') AS t FROM documents)
    )
  )
),
sizes AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source),
shared AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_shared
  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT src_a, src_b, n_shared,
       round(CAST(n_shared AS DOUBLE) / least(sa.n_sh, sb.n_sh), 6) AS overlap_coeff
FROM shared
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
"""


# ------------------------------------------ quality-aware survivor choice

def dedup_best_quality(docs: DataFrame) -> DataFrame:
    """Exact dedup with quality-aware survivor selection: within each
    content-hash group keep the highest :func:`text.quality_score` document
    (ties broken by min id) — the curation-pipeline refinement of
    :func:`exact_duplicates`' min-id canonical choice (metadata like source
    reputation often rides the same pattern).

    The survivor pick is a map-side ``max(struct(quality_score, -doc_id))``
    per content hash (identical tie-breaks to the (quality DESC, doc_id
    ASC) rank) fused with the copy count into ONE aggregate — never a
    per-group sort, and no second pass + join for the counts.
    """
    from kafka_replicator_spark.functions.text import quality_score

    q = quality_score(docs).select("doc_id", "quality_score")
    d = docs.select("doc_id", F.md5(F.col("text")).alias("content_hash")).join(q, "doc_id")
    return (
        d.groupBy("content_hash")
        .agg(
            F.max(
                F.struct(
                    F.col("quality_score").alias("q"), (-F.col("doc_id")).alias("ni")
                )
            ).alias("b"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            "content_hash",
            (-F.col("b.ni")).alias("survivor_id"),
            F.col("b.q").alias("survivor_quality"),
            "n_copies",
        )
    )


def dedup_best_quality_sql() -> str:
    from kafka_replicator_spark.functions.text import quality_score_sql

    return f"""
WITH q AS ({quality_score_sql()}),
d AS (
  SELECT doc_id, md5(text) AS content_hash FROM documents
),
ranked AS (
  SELECT d.content_hash, d.doc_id, q.quality_score,
         row_number() OVER (
           PARTITION BY d.content_hash
           ORDER BY q.quality_score DESC, d.doc_id ASC
         ) AS rn,
         count(*) OVER (PARTITION BY d.content_hash) AS n_copies
  FROM d JOIN q USING (doc_id)
)
SELECT content_hash, doc_id AS survivor_id, quality_score AS survivor_quality,
       CAST(n_copies AS BIGINT) AS n_copies
FROM ranked WHERE rn = 1
"""


# ----------------------------------------------------------- winnowing

WINNOW_N = 3
WINNOW_W = 4


def winnowing(docs: DataFrame, n: int = WINNOW_N, w: int = WINNOW_W) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003 —
    the MOSS document-fingerprinting primitive): hash every word ``n``-gram
    in positional order, slide a ``w``-wide window, keep each window's
    minimum hash.  Guarantees any match of length ≥ w+n-1 tokens shares a
    fingerprint while storing ~2/(w+1) of the hashes.

    Pure per-document array math (no explode until the final selected set)
    — map-only at any scale; documents shorter than one window keep their
    global minimum (the standard degenerate case).
    """
    toks = F.col("__toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    hs = F.transform(grams, lambda g: portable_hash32(g))
    nw = F.greatest(F.size(F.col("__hs")) - (w - 1), F.lit(1))
    sel = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), nw),
            lambda j: F.array_min(F.slice(F.col("__hs"), j, w)),
        )
    )
    return (
        spread(docs)
        .select(F.col("doc_id"), F.split(F.col("text"), " ").alias("__toks"))
        .filter(F.size(toks) >= n)
        .select("doc_id", hs.alias("__hs"))
        .select("doc_id", F.explode(sel).alias("fp"))
    )


def winnowing_sql(n: int = WINNOW_N, w: int = WINNOW_W) -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    h = portable_hash32_sql(gram)
    return f"""
WITH g AS (
  SELECT doc_id,
         list_transform(range(1, len(t) - {n - 2}), i -> {h}) AS hs
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  WHERE len(t) >= {n}
),
sel AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(hs) - {w - 1}, 1) + 1),
           j -> list_min(hs[j:j + {w - 1}]))) AS fps
  FROM g
)
SELECT doc_id, unnest(fps) AS fp FROM sel
"""
