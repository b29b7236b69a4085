"""Round-6 query registrations: rank statistics (Spearman / Kendall /
runs test), exact binary-weight EWMA, labeling-rule agreement,
embedding-norm profiles, detector PR curves, aggregate-FILTER SQL
surface, k-core peeling, query-likelihood retrieval, JL projection
distortion, chunking budget audits, hard-negative mining, stitch-ranked
trimmed means and Lorenz octiles, MMR diversified re-ranking, greedy
max-coverage selection, quota sampling, SimHash hamming histograms and
signature-width sensitivity, IVF scan-cost and recall-curve audits,
arrival dispersion, character-class profiles, bloom FPR replay, dedup
selection bias, session gap sensitivity, RFM quartile migration,
centroid silhouette proxies, cross-modal length/label audits,
maximum drawdown, SimHash bit-balance, scalar int8 quantization error,
the Laspeyres price index, and the Mann-Whitney weekend rank-sum test.

Reference parity: no analog in the reference engine
(CrowdStrike/kafka-replicator) — these extend the analytics and
training-data-pipeline families on the shared corpus tables.

Cross-engine determinism notes specific to this module:

* EWMA uses alpha = 1/2 so the weights are exact powers of two
  (``1 << t``) — the weighted fold is pure integer arithmetic, no float
  decay factor to drift between engines.
* Rank correlations use ``row_number`` with a documented deterministic
  tie-break (value, then key) rather than tie-averaged ranks; both
  engines sort identically, so the ranks — and the statistic — match
  exactly.  The windows run on bounded grains (day grain ≤ ~2.4k rows,
  brand grain 25 rows), the documented exemption from the
  no-global-window rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_replicator_spark.cacheutil import track_cached
from kafka_replicator_spark.core.schema import local_frame
from kafka_replicator_spark.functions.similarity import micro_units, micro_units_sql
from kafka_replicator_spark.queries import register
from kafka_replicator_spark.sources.tables import load_table

_DAY_US = 86_400_000_000

#: EWMA window length in days (weights 2^0 .. 2^(N-1) must stay in int64)
_EWMA_DAYS = 31


# ------------------------------------------------ exact binary-weight EWMA

@register(
    "a_ewma_revenue",
    f"""
WITH d AS (
  SELECT epoch_us(o_orderdate) // {_DAY_US} AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM orders GROUP BY day
),
recent AS (
  SELECT * FROM d WHERE day > (SELECT max(day) FROM d) - {_EWMA_DAYS}
),
lo AS (SELECT min(day) AS dmin FROM recent),
w AS (
  SELECT cents, (1::BIGINT << CAST(day - dmin AS INTEGER)) AS wt
  FROM recent, lo
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         sum(cents::HUGEINT * wt) AS num,
         sum(wt::HUGEINT) AS den
  FROM w
)
SELECT n_days, CAST(num // den AS BIGINT) AS ewma_cents FROM m
""",
    tags=("analytics", "timeseries"),
    doc="exponentially-weighted moving average of daily revenue with "
    "alpha = 1/2 over the trailing 31 days: weights are exact powers of "
    "two (1 << t from the window start), so numerator and denominator "
    "are pure integer folds in DECIMAL(38,0)/HUGEINT — no float decay "
    "factor to drift between engines.  Presence-weighted day grain "
    "(missing days contribute no weight); 1 output row",
)
def q_ewma_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.expr(f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {_DAY_US}").alias(
                "day"
            ),
            F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
        )
        .groupBy("day")
        .agg(F.expr("CAST(sum(v) * 100 AS BIGINT)").alias("cents"))
    )
    d = track_cached(d)  # day-grain frame feeds the max-day bound AND the window scan
    bounds = d.agg(
        F.max("day").alias("dmax"),
    )
    recent = d.join(F.broadcast(bounds), F.col("day") > F.col("dmax") - _EWMA_DAYS)
    lo = recent.agg(F.min("day").alias("dmin"))
    w = recent.join(F.broadcast(lo), how="cross").select(
        "cents",
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(day - dmin AS INT))").alias("wt"),
    )
    return w.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr(
            "CAST(sum(CAST(cents AS DECIMAL(38,0)) * wt)"
            " div sum(CAST(wt AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("ewma_cents"),
    )


# ------------------------------------------- Spearman rank correlation

@register(
    "a_spearman_daily",
    f"""
WITH d AS (
  SELECT epoch_us(o_orderdate) // {_DAY_US} AS day,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM orders GROUP BY day
),
r AS (
  SELECT day,
         row_number() OVER (ORDER BY n_orders, day) AS r1,
         row_number() OVER (ORDER BY cents, day) AS r2
  FROM d
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(((r1 - r2) * (r1 - r2))::HUGEINT) AS sd2
  FROM r
)
SELECT n AS n_days,
       CAST(1000000 - (6000000::HUGEINT * sd2)
            // nullif(n::HUGEINT * (n * n - 1), 0) AS BIGINT) AS spearman_ppm
FROM m
""",
    tags=("analytics", "stats"),
    doc="Spearman rank correlation between daily order count and daily "
    "revenue in exact ppm: row_number ranks with the deterministic "
    "(value, day) tie-break — not tie-averaged ranks — so both engines "
    "produce identical rank vectors; Σd² and the 1 - 6Σd²/(n(n²-1)) "
    "formula fold in DECIMAL(38,0)/HUGEINT.  Day grain (≤ ~2.4k rows, "
    "bounded-grain window exemption); 1 output row",
)
def q_spearman_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.expr(f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {_DAY_US}").alias(
                "day"
            ),
            F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.expr("CAST(sum(v) * 100 AS BIGINT)").alias("cents"),
        )
    )
    r = d.select(
        F.row_number().over(Window.orderBy("n_orders", "day")).alias("r1"),
        F.row_number().over(Window.orderBy("cents", "day")).alias("r2"),
    )
    return r.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr(
            "CAST(1000000 - (CAST(6000000 AS DECIMAL(38,0))"
            " * sum(CAST((r1 - r2) * (r1 - r2) AS DECIMAL(38,0))))"
            " div nullif(CAST(count(1) AS DECIMAL(38,0))"
            " * (count(1) * count(1) - 1), 0) AS BIGINT)"
        ).alias("spearman_ppm"),
    )


# --------------------------------------------- Kendall tau over brands

@register(
    "a_kendall_tau_brand",
    """
WITH b AS (
  SELECT p.p_brand AS brand,
         CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS qty_c,
         CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rev_c
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY p.p_brand
),
pairs AS (
  SELECT CASE WHEN (a.qty_c - c.qty_c) * (a.rev_c - c.rev_c) > 0 THEN 1 ELSE 0 END AS conc,
         CASE WHEN (a.qty_c - c.qty_c) * (a.rev_c - c.rev_c) < 0 THEN 1 ELSE 0 END AS disc
  FROM b a JOIN b c ON a.brand < c.brand
),
m AS (
  SELECT CAST((SELECT count(*) FROM b) AS BIGINT) AS n,
         CAST(sum(conc) AS BIGINT) AS n_conc,
         CAST(sum(disc) AS BIGINT) AS n_disc
  FROM pairs
)
SELECT n AS n_brands, n_conc, n_disc,
       CAST((1000000 * (n_conc - n_disc)) // (n * (n - 1) // 2) AS BIGINT)
         AS kendall_tau_ppm
FROM m
""",
    tags=("analytics", "stats"),
    doc="Kendall tau-a between brand total quantity and brand total "
    "revenue in exact ppm: the brand grain is 25 rows, so the "
    "concordant/discordant scan is a bounded 300-pair self-join of a "
    "one-shuffle aggregate — never a row-grain pair scan.  Sign products "
    "of integer cents; ties count toward neither (tau-a); 1 output row",
)
def q_kendall_tau_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    b = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.expr(
                "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT)"
            ).alias("qty_c"),
            F.expr(
                "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)"
            ).alias("rev_c"),
        )
    )
    b = track_cached(b)
    a = b.select(
        F.col("brand").alias("ba"), F.col("qty_c").alias("qa"), F.col("rev_c").alias("ra")
    )
    c = b.select(
        F.col("brand").alias("bb"), F.col("qty_c").alias("qb"), F.col("rev_c").alias("rb")
    )
    pairs = a.join(F.broadcast(c), F.col("ba") < F.col("bb")).select(
        F.when((F.col("qa") - F.col("qb")) * (F.col("ra") - F.col("rb")) > 0, 1)
        .otherwise(0)
        .alias("conc"),
        F.when((F.col("qa") - F.col("qb")) * (F.col("ra") - F.col("rb")) < 0, 1)
        .otherwise(0)
        .alias("disc"),
    )
    n = b.count()
    return pairs.agg(
        F.lit(n).cast("long").alias("n_brands"),
        F.sum("conc").cast("long").alias("n_conc"),
        F.sum("disc").cast("long").alias("n_disc"),
        F.expr(
            f"CAST((1000000 * (sum(conc) - sum(disc))) div ({n} * ({n} - 1) div 2)"
            " AS BIGINT)"
        ).alias("kendall_tau_ppm"),
    )


# ------------------------------------------ labeling-rule agreement matrix

@register(
    "p_rule_matrix",
    """
WITH r AS (
  SELECT doc_id,
         CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS r1,
         CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS r2,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS r3
  FROM documents
)
SELECT pair,
       CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neither,
       CAST(sum(CASE WHEN a <> b THEN 1 ELSE 0 END) AS BIGINT) AS n_conflict
FROM (
  SELECT 'r1r2' AS pair, r1 AS a, r2 AS b FROM r
  UNION ALL SELECT 'r1r3', r1, r3 FROM r
  UNION ALL SELECT 'r2r3', r2, r3 FROM r
)
GROUP BY pair
""",
    tags=("pipeline", "curation", "audit"),
    doc="labeling-function agreement matrix (the Snorkel-style audit "
    "before weak-supervision training): three deterministic document "
    "rules — length >= 200 chars, contains ' the ', lang = 'en' — "
    "cross-tabulated pairwise into both/neither/conflict counts.  One "
    "corpus pass, a 3-way projected union at doc grain, 3 output rows; "
    "pure integer counts",
)
def q_rule_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    r = docs.select(
        F.when(F.col("n_chars") >= 200, 1).otherwise(0).alias("r1"),
        F.when(F.col("text").contains(" the "), 1).otherwise(0).alias("r2"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("r3"),
    )
    r = track_cached(r)
    pairs = (
        r.select(F.lit("r1r2").alias("pair"), F.col("r1").alias("a"), F.col("r2").alias("b"))
        .unionAll(
            r.select(F.lit("r1r3").alias("pair"), F.col("r1").alias("a"), F.col("r3").alias("b"))
        )
        .unionAll(
            r.select(F.lit("r2r3").alias("pair"), F.col("r2").alias("a"), F.col("r3").alias("b"))
        )
    )
    return pairs.groupBy("pair").agg(
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n_both"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n_neither"),
        F.sum(F.when(F.col("a") != F.col("b"), 1).otherwise(0))
        .cast("long")
        .alias("n_conflict"),
    )


# -------------------------------------------- embedding norm profile

@register(
    "p_embedding_norm_profile",
    f"""
WITH q AS (
  SELECT label,
         list_aggregate(
           list_transform({micro_units_sql()}, q -> q * q),
           'sum') AS norm2
  FROM embeddings
)
SELECT CAST(label AS INTEGER) AS label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(min(norm2) AS BIGINT) AS min_norm2,
       CAST(max(norm2) AS BIGINT) AS max_norm2,
       quantile_cont(norm2, 0.5) AS median_norm2
FROM q GROUP BY label
""",
    tags=("pipeline", "embedding", "audit"),
    doc="embedding L2-norm² profile per label block: per-component "
    "micro-unit quantization makes norm² an exact BIGINT (≤ 64·1e12, "
    "inside double's 2^53 so the median interpolation is exact too); "
    "min/median/max per label expose un-normalized blocks before any "
    "cosine index build.  One map pass + label-grain rollup",
)
def q_embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qexpr = F.aggregate(
        micro_units("embedding"),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v * v,
    )
    q = emb.select(F.col("label"), qexpr.alias("norm2"))
    return q.groupBy(F.col("label").cast("int").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.min("norm2").cast("long").alias("min_norm2"),
        F.max("norm2").cast("long").alias("max_norm2"),
        F.expr("percentile(norm2, 0.5)").alias("median_norm2"),
    )


# --------------------------------------------- detector PR curve points

#: fixed audit thresholds on n_chars (chars-as-quality-score demo detector)
_PR_THRESHOLDS = (100, 200, 400, 800, 1600)


@register(
    "p_pr_curve",
    f"""
WITH dup AS (
  SELECT doc_id, text, n_chars,
         CASE WHEN count(*) OVER (PARTITION BY md5(text)) > 1 THEN 1 ELSE 0 END AS is_dup
  FROM documents
),
thr AS (SELECT * FROM (VALUES {', '.join(f'({t})' for t in _PR_THRESHOLDS)}) t(thr)),
cells AS (
  SELECT thr,
         CAST(sum(CASE WHEN n_chars <= thr AND is_dup = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN n_chars <= thr AND is_dup = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN n_chars > thr AND is_dup = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM dup, thr GROUP BY thr
)
SELECT CAST(thr AS BIGINT) AS thr, tp, fp, fn,
       CAST((1000000 * tp) // nullif(tp + fp, 0) AS BIGINT) AS precision_ppm,
       CAST((1000000 * tp) // nullif(tp + fn, 0) AS BIGINT) AS recall_ppm
FROM cells
""",
    tags=("pipeline", "eval"),
    doc="precision/recall curve points for a short-doc duplicate detector "
    "(flag docs with n_chars <= threshold, ground truth = exact text "
    "duplicate): 5 fixed thresholds cross-joined against the labeled "
    "corpus, integer confusion counts, exact ppm ratios with nullif "
    "guards — the PR companion to the rank-sum AUC and ECE eval queries. "
    "One corpus pass, 5 output rows",
)
def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions.hashing import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    dup = docs.select(
        "n_chars",
        F.when(
            F.count(F.lit(1)).over(Window.partitionBy(F.md5("text"))) > 1, 1
        )
        .otherwise(0)
        .alias("is_dup"),
    )
    thr = local_frame(spark, [(t,) for t in _PR_THRESHOLDS], "thr int")
    cells = (
        dup.crossJoin(F.broadcast(thr))
        .groupBy("thr")
        .agg(
            F.sum(
                F.when((F.col("n_chars") <= F.col("thr")) & (F.col("is_dup") == 1), 1).otherwise(0)
            )
            .cast("long")
            .alias("tp"),
            F.sum(
                F.when((F.col("n_chars") <= F.col("thr")) & (F.col("is_dup") == 0), 1).otherwise(0)
            )
            .cast("long")
            .alias("fp"),
            F.sum(
                F.when((F.col("n_chars") > F.col("thr")) & (F.col("is_dup") == 1), 1).otherwise(0)
            )
            .cast("long")
            .alias("fn"),
        )
    )
    return cells.select(
        F.col("thr").cast("long").alias("thr"),
        "tp",
        "fp",
        "fn",
        F.expr("CAST((1000000 * tp) div nullif(tp + fp, 0) AS BIGINT)").alias(
            "precision_ppm"
        ),
        F.expr("CAST((1000000 * tp) div nullif(tp + fn, 0) AS BIGINT)").alias(
            "recall_ppm"
        ),
    )


# ------------------------------------- aggregate FILTER clause (shared SQL)

#: literal ANSI SQL run verbatim on BOTH engines (the shared-text contract)
SHARED_SQL_FILTER = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
       CAST(round(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                             FILTER (WHERE o_orderstatus = 'F'), 0), 2)
            AS DOUBLE) AS finished_price,
       CAST(count(*) FILTER (WHERE CAST(o_totalprice AS DECIMAL(18,2)) < 1000)
            AS BIGINT) AS n_small
FROM orders
GROUP BY o_orderpriority
"""


@register(
    "a_shared_sql_filter_clause",
    SHARED_SQL_FILTER,
    tags=("analytics", "sql"),
    doc="SQL front door: aggregate FILTER (WHERE ...) clauses through the "
    "same-text contract — conditional counts and a conditional DECIMAL "
    "sum per order priority, the standard-SQL alternative to CASE-WHEN "
    "pivoting, run as literal identical text on both engines",
)
def q_shared_sql_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.queries.analytics_sql_ext import _run_shared_sql

    return _run_shared_sql(spark, sf_dir, SHARED_SQL_FILTER)


# ------------------------------------------------------ k-core peeling

_KCORE_K = 4
_KCORE_ROUNDS = 3


def _kcore_sql() -> str:
    # every CTE is multiply-referenced (each round reads the previous
    # round's edges twice, the stats read everything again): MATERIALIZED
    # stops DuckDB inlining the kNN build exponentially (4.5 s -> 0.1 s)
    from kafka_replicator_spark.functions import graph, similarity

    edges = graph.undirect_sql(similarity.label_knn_graph_sql())
    parts = [f"e0 AS MATERIALIZED ({edges})"]
    for i in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT u AS node FROM e{i - 1} UNION ALL SELECT v FROM e{i - 1})
  GROUP BY node
),
a{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE deg >= {_KCORE_K}),
e{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{i - 1} e
  JOIN a{i} x ON e.u = x.node JOIN a{i} y ON e.v = y.node
)"""
        )
    stats = "\nUNION ALL ".join(
        f"SELECT {i} AS round, (SELECT count(*) FROM a{i}) AS n_alive,"
        f" (SELECT count(*) FROM e{i}) AS n_edges"
        for i in range(1, _KCORE_ROUNDS + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT CAST(round AS BIGINT) AS round, CAST(n_alive AS BIGINT) AS n_alive,"
        f" CAST(n_edges AS BIGINT) AS n_edges FROM ({stats})"
    )


#: Edge count below which the peel runs driver-side on the collected edge
#: list — the same broadcast-small-side guard as dedup._SMALL_GRAPH_EDGES:
#: below ~200k edges the 2-joins-plus-2-counts-per-round shuffle latency
#: dwarfs the work, while the collected frame is ≤ a few MB.  At 100 TB
#: the kNN graph blows past this and the distributed peel runs.
_KCORE_SMALL_EDGES = 200_000
_KCORE_SCHEMA = "round long, n_alive long, n_edges long"


@register(
    "p_kcore_peel",
    _kcore_sql(),
    tags=("pipeline", "graph"),
    doc="fixed-iteration k-core peeling (k=4, 3 unrolled rounds) on the "
    "label-blocked kNN graph: each round drops nodes of degree < k and "
    "the edges touching them, reporting alive-node and surviving-edge "
    "counts — the coreness prefilter before centrality-based coreset "
    "selection.  Distributed path: one degree aggregation + two semi "
    "joins per round (|E| work, the Montresor et al. peel); graphs "
    "<= 200k edges take a guarded driver-side peel instead (the "
    "dedup._SMALL_GRAPH_EDGES broadcast-small-side convention — tests "
    "force the distributed path and assert identical output); pure "
    "integer counts, 3 output rows",
)
def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions import graph, similarity

    e = graph.undirect(
        similarity.label_knn_graph(load_table(spark, sf_dir, "embeddings"))
    )
    # one job answers both "is the graph small?" and "what are its edges?";
    # a graph past the guard is built once more, by its first cached round
    head = e.limit(_KCORE_SMALL_EDGES + 1).collect()
    if len(head) <= _KCORE_SMALL_EDGES:
        edges = [(r["u"], r["v"]) for r in head]
        stats = []
        for i in range(1, _KCORE_ROUNDS + 1):
            deg: dict[int, int] = {}
            for u, v in edges:
                deg[u] = deg.get(u, 0) + 1
                deg[v] = deg.get(v, 0) + 1
            alive = {n for n, d in deg.items() if d >= _KCORE_K}
            edges = [(u, v) for u, v in edges if u in alive and v in alive]
            stats.append((i, len(alive), len(edges)))
        return local_frame(spark, stats, _KCORE_SCHEMA)
    e = track_cached(e)
    stats = []
    for i in range(1, _KCORE_ROUNDS + 1):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        alive = track_cached(deg.filter(F.col("deg") >= _KCORE_K).select("node"))
        e = track_cached(
            e.join(alive.withColumnRenamed("node", "u"), "u", "leftsemi")
            .join(alive.withColumnRenamed("node", "v"), "v", "leftsemi")
            .select("u", "v")
        )
        # eager per-round counts: materializes each cached frame once and
        # truncates the 2-joins-per-round lineage that would otherwise
        # recompute the kNN build for every round's stats; the collected
        # values are 2 scalars per round (metadata-scale)
        stats.append((i, alive.count(), e.count()))
    return local_frame(spark, stats, _KCORE_SCHEMA)


# ---------------------------------------- query-likelihood retrieval

_QL_MU = 2000
_QL_TERMS = ("spark", "hash", "merge", "window")
_QL_TOP = 20


#: Dirichlet QL oracle SQL, shared with p_borda_fusion's fused oracle
#: (defined right above its register call; the f-string needs the _QL_*
#: constants already bound)
_QL_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
dl AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents
),
stats AS (SELECT CAST(count(*) AS BIGINT) AS t_total FROM toks),
ctf AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS ctf
  FROM toks WHERE tok IN {_QL_TERMS!r} GROUP BY tok
),
tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE tok IN {_QL_TERMS!r} GROUP BY doc_id, tok
),
cand AS (SELECT DISTINCT doc_id FROM tf),
grid AS (
  SELECT cand.doc_id, ctf.tok, ctf.ctf, coalesce(tf.tf, 0) AS tf, dl.dl
  FROM cand CROSS JOIN ctf
  LEFT JOIN tf ON tf.doc_id = cand.doc_id AND tf.tok = ctf.tok
  JOIN dl ON dl.doc_id = cand.doc_id
),
terms AS (
  SELECT doc_id,
         CAST(round(ln((tf + ({_QL_MU} * ctf) / CAST(t_total AS DOUBLE))
                       / CAST(dl + {_QL_MU} AS DOUBLE)), 9)
              AS DECIMAL(28,9)) AS term_score
  FROM grid CROSS JOIN stats
),
scored AS (
  SELECT doc_id, round(CAST(sum(term_score) AS DOUBLE), 6) AS ql_score
  FROM terms GROUP BY doc_id
)
SELECT doc_id, ql_score FROM scored ORDER BY ql_score DESC, doc_id LIMIT {_QL_TOP}
"""


@register(
    "p_query_likelihood",
    _QL_SQL,
    tags=("pipeline", "retrieval"),
    doc="Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty, "
    "mu=2000) over the BM25 demo query terms: candidates are docs with "
    "at least one term hit, the dense candidate x term grid left-joins "
    "term frequencies so zero-tf terms still contribute their smoothed "
    "mass, per-term ln scores re-quantized to 9 dp before the DECIMAL "
    "fold (the exp/ln re-quantize rule).  Distributed TakeOrdered "
    "top-20; the language-modeling sibling of p_bm25_scores",
)
def q_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions.hashing import spread

    docs = track_cached(spread(load_table(spark, sf_dir, "documents")))
    dl = docs.select("doc_id", F.size(F.split("text", " ")).cast("long").alias("dl"))
    # r14 opt: the token-grain cache is gone.  t_total == the exploded
    # token count == Σ size(split(text)) — split always yields ≥1 element
    # per doc, so the sum over the cached doc frame IS the old
    # toks.count(), without materializing one cached row per token.
    t_total = int(docs.agg(F.sum(F.size(F.split("text", " ")))).collect()[0][0])
    hits = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok")).filter(
        F.col("tok").isin(*_QL_TERMS)
    )
    tf = track_cached(
        hits.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # ctf = Σ_doc tf — an exact integer regroup of the tiny cached tf
    # frame (candidate docs × ≤4 terms), replacing the second corpus-wide
    # explode scan the old form paid for the same number
    ctf = tf.groupBy("tok").agg(F.sum("tf").cast("long").alias("ctf"))
    cand = tf.select("doc_id").distinct()
    grid = (
        cand.crossJoin(F.broadcast(ctf))
        .join(tf, ["doc_id", "tok"], "left")
        .na.fill({"tf": 0})
        .join(dl, "doc_id")
    )
    terms = grid.select(
        "doc_id",
        F.expr(
            f"CAST(round(ln((tf + ({_QL_MU} * ctf) / CAST({t_total} AS DOUBLE))"
            f" / CAST(dl + {_QL_MU} AS DOUBLE)), 9) AS DECIMAL(28,9))"
        ).alias("term_score"),
    )
    scored = terms.groupBy("doc_id").agg(
        F.round(F.sum("term_score").cast("double"), 6).alias("ql_score")
    )
    return scored.orderBy(F.desc("ql_score"), F.asc("doc_id")).limit(_QL_TOP)


# ------------------------------------ JL random-projection distortion audit

_JL_K = 16
_JL_DIM = 64
_JL_PROBE_MOD = 61  # vec_id % 61 == 0 -> 9 probe vectors, 36 probe pairs


def _jl_sql() -> str:
    from kafka_replicator_spark.functions.hashing import portable_hash60_sql

    sign = portable_hash60_sql("'jl_' || CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)")
    return f"""
WITH probes AS (
  SELECT vec_id,
         {micro_units_sql()} AS em
  FROM embeddings WHERE vec_id % {_JL_PROBE_MOD} = 0
),
comp AS (
  SELECT vec_id, i, em[i] AS q
  FROM probes, unnest(range(1, {_JL_DIM + 1})) t(i)
),
signs AS (
  SELECT i, j, (({sign}) % 2) * 2 - 1 AS s
  FROM unnest(range(1, {_JL_DIM + 1})) a(i), unnest(range(1, {_JL_K + 1})) b(j)
),
proj AS (
  SELECT c.vec_id, s.j, CAST(sum(s.s * c.q) AS BIGINT) AS y
  FROM comp c JOIN signs s ON s.i = c.i
  GROUP BY c.vec_id, s.j
),
d2o AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d2
  FROM comp a JOIN comp b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
d2p AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(sum((a.y - b.y) * (a.y - b.y)) AS BIGINT) AS d2
  FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
ratios AS (
  -- d2 = 0 (two probes quantizing identically) carries no geometry signal
  -- and would divide by zero (DuckDB errors, Spark yields NULL): drop it
  SELECT CAST((1000000::HUGEINT * p.d2) // ({_JL_K}::HUGEINT * o.d2) AS BIGINT)
           AS ratio_ppm
  FROM d2o o JOIN d2p p ON p.va = o.va AND p.vb = o.vb
  WHERE o.d2 > 0
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(min(ratio_ppm) AS BIGINT) AS min_ratio_ppm,
       CAST(max(ratio_ppm) AS BIGINT) AS max_ratio_ppm,
       CAST(sum(ratio_ppm::HUGEINT) // count(*) AS BIGINT) AS avg_ratio_ppm
FROM ratios
"""


@register(
    "p_jl_distortion",
    _jl_sql(),
    tags=("pipeline", "embedding", "audit"),
    doc="Johnson-Lindenstrauss projection distortion audit: a deterministic "
    "±1 sign matrix (64x16, signs from the portable hash family) projects "
    "9 probe vectors; pairwise squared-distance ratios "
    "d2_proj/(k * d2_orig) in exact ppm quantify how faithfully the "
    "16-dim sketch preserves geometry (1e6 = perfect, ±1-entry JL gives "
    "E[d2_proj] = k*d2_orig).  Micro-quantized components make every "
    "distance an exact BIGINT; ratios fold in HUGEINT/DECIMAL(38,0); the "
    "probe set is bounded (36 pairs), the sign matrix is a 1024-row "
    "broadcast join — 1 output row",
)
def q_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions.hashing import portable_hash60

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % _JL_PROBE_MOD == 0).select(
        "vec_id",
        micro_units("embedding").alias("em"),
    )
    comp = probes.select(
        "vec_id", F.posexplode("em").alias("i0", "q")
    ).select("vec_id", (F.col("i0") + 1).alias("i"), "q")
    dims = spark.range(1, _JL_DIM + 1).select(F.col("id").cast("int").alias("i"))
    ks = spark.range(1, _JL_K + 1).select(F.col("id").cast("int").alias("j"))
    signs = dims.crossJoin(ks).select(
        "i",
        "j",
        (
            (
                portable_hash60(
                    F.concat(
                        F.lit("jl_"),
                        F.col("i").cast("string"),
                        F.lit("_"),
                        F.col("j").cast("string"),
                    )
                )
                % 2
            )
            * 2
            - 1
        ).alias("s"),
    )
    proj = (
        comp.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("s") * F.col("q")).cast("long").alias("y"))
    )
    ca = comp.select(F.col("vec_id").alias("va"), "i", F.col("q").alias("qa"))
    cb = comp.select(F.col("vec_id").alias("vb"), "i", F.col("q").alias("qb"))
    d2o = (
        ca.join(cb, "i")
        .filter(F.col("va") < F.col("vb"))
        .groupBy("va", "vb")
        .agg(
            F.sum((F.col("qa") - F.col("qb")) * (F.col("qa") - F.col("qb")))
            .cast("long")
            .alias("d2o")
        )
    )
    pa = proj.select(F.col("vec_id").alias("va"), "j", F.col("y").alias("ya"))
    pb = proj.select(F.col("vec_id").alias("vb"), "j", F.col("y").alias("yb"))
    d2p = (
        pa.join(pb, "j")
        .filter(F.col("va") < F.col("vb"))
        .groupBy("va", "vb")
        .agg(
            F.sum((F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb")))
            .cast("long")
            .alias("d2p")
        )
    )
    # identical-quantization pairs (d2o = 0) are dropped on BOTH engines —
    # a zero denominator errors on DuckDB but NULLs on non-ANSI Spark
    ratios = d2o.join(d2p, ["va", "vb"]).filter(F.col("d2o") > 0).select(
        F.expr(
            f"CAST((CAST(1000000 AS DECIMAL(38,0)) * d2p)"
            f" div (CAST({_JL_K} AS DECIMAL(38,0)) * d2o) AS BIGINT)"
        ).alias("ratio_ppm")
    )
    return ratios.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min("ratio_ppm").cast("long").alias("min_ratio_ppm"),
        F.max("ratio_ppm").cast("long").alias("max_ratio_ppm"),
        F.expr(
            "CAST(sum(CAST(ratio_ppm AS DECIMAL(38,0))) div count(1) AS BIGINT)"
        ).alias("avg_ratio_ppm"),
    )


# ------------------------------------------------ chunk-overlap audit

_CHUNK_LEN = 128
_CHUNK_STRIDE = 96


@register(
    "p_chunk_overlap_audit",
    f"""
WITH d AS (
  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents
),
c AS (
  SELECT source, dl,
         CASE WHEN dl <= {_CHUNK_LEN} THEN 1
              ELSE 1 + (dl - {_CHUNK_LEN} + {_CHUNK_STRIDE} - 1) // {_CHUNK_STRIDE}
         END AS n_chunks
  FROM d
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(dl) AS BIGINT) AS n_tokens,
       CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
       CAST(sum((n_chunks - 1) * ({_CHUNK_LEN} - {_CHUNK_STRIDE})) AS BIGINT)
         AS overlap_tokens,
       CAST((1000000::HUGEINT * sum(dl)) // sum(n_chunks * {_CHUNK_LEN}) AS BIGINT)
         AS fill_ppm
FROM c GROUP BY source
""",
    tags=("pipeline", "packing", "audit"),
    doc="sliding-window chunking budget audit (chunk=128 tokens, "
    "stride=96): per source, how many chunks the corpus yields, how many "
    "tokens are re-encoded as overlap, and the chunk-slot fill ratio in "
    "exact ppm — the cost model for overlap-chunked retrieval indexing "
    "(the audit companion to p_chunk_documents).  Closed-form integer "
    "arithmetic per doc, one corpus pass, source-grain rollup",
)
def q_chunk_overlap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.size(F.split("text", " ")).cast("long").alias("dl")
    )
    c = d.select(
        "source",
        "dl",
        F.when(F.col("dl") <= _CHUNK_LEN, F.lit(1).cast("long"))
        .otherwise(
            1
            + F.expr(
                f"(dl - {_CHUNK_LEN} + {_CHUNK_STRIDE} - 1) div {_CHUNK_STRIDE}"
            )
        )
        .alias("n_chunks"),
    )
    return c.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("n_tokens"),
        F.sum("n_chunks").cast("long").alias("n_chunks"),
        F.sum((F.col("n_chunks") - 1) * (_CHUNK_LEN - _CHUNK_STRIDE))
        .cast("long")
        .alias("overlap_tokens"),
        F.expr(
            f"CAST((CAST(1000000 AS DECIMAL(38,0)) * sum(dl))"
            f" div sum(n_chunks * {_CHUNK_LEN}) AS BIGINT)"
        ).alias("fill_ppm"),
    )


# ------------------------------------------- hard-negative mining audit

_HN_TOP = 10


@register(
    "p_hard_negatives",
    f"""
WITH m AS (
  SELECT vec_id, label,
         {micro_units_sql()} AS em
  FROM embeddings
),
probes AS (SELECT * FROM m WHERE vec_id % {_JL_PROBE_MOD} = 0),
p AS (
  SELECT a.vec_id, a.label,
         b.vec_id AS neighbor_id, b.label AS n_label,
         CAST(list_sum(list_transform(range(1, {_JL_DIM + 1}),
                                      i -> (a.em[i] - b.em[i]) * (a.em[i] - b.em[i])))
              AS BIGINT) AS d2
  FROM probes a JOIN m b ON a.vec_id <> b.vec_id
),
r AS (
  SELECT vec_id, label, n_label, d2,
         CAST(row_number() OVER (PARTITION BY vec_id ORDER BY d2, neighbor_id)
              AS BIGINT) AS rk
  FROM p
)
SELECT vec_id, CAST(label AS INTEGER) AS label,
       CAST(sum(CASE WHEN n_label <> label THEN 1 ELSE 0 END) AS BIGINT) AS n_hard,
       CAST(coalesce(min(CASE WHEN n_label <> label THEN rk END), -1) AS BIGINT)
         AS first_hard_rank
FROM r WHERE rk <= {_HN_TOP}
GROUP BY vec_id, label
""",
    tags=("pipeline", "embedding", "retrieval"),
    doc="hard-negative mining audit for contrastive training: for each "
    "probe vector, the exact 10 nearest neighbors by integer-micro "
    "squared L2, counting how many carry a different label (hard "
    "negatives) and the rank of the first one (-1 = none in top-10).  "
    "Probe side is bounded (9 vectors); the top-k is TWO-PHASE — a "
    "partition-local rank bounds every sort to its input split, then "
    "the global rank window sees only 9 x partitions x 10 survivor "
    "rows (never a probe-keyed window over the whole corpus); "
    "9 output rows",
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    m = emb.select(
        "vec_id",
        "label",
        micro_units("embedding").alias("em"),
    )
    probes = m.filter(F.col("vec_id") % _JL_PROBE_MOD == 0).select(
        F.col("vec_id").alias("pid"),
        F.col("label").alias("plabel"),
        F.col("em").alias("pem"),
    )
    d2 = F.aggregate(
        F.zip_with("pem", "em", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pairs = (
        m.crossJoin(F.broadcast(probes))
        .filter(F.col("pid") != F.col("vec_id"))
        .select(
            "pid",
            "plabel",
            F.col("label").alias("n_label"),
            F.col("vec_id").alias("neighbor_id"),
            d2.alias("d2"),
        )
    )
    # phase 1: local top-k per (probe, input split) — the heavy sort stays
    # partition-local and bounded by the split size, so no single task
    # ever sorts probe x corpus rows
    wl = Window.partitionBy("pid", "part").orderBy("d2", "neighbor_id")
    local = (
        pairs.withColumn("part", F.spark_partition_id())
        .withColumn("lrk", F.row_number().over(wl))
        .filter(F.col("lrk") <= _HN_TOP)
        .drop("part", "lrk")
    )
    # phase 2: exact global top-k over the 9 x partitions x 10 survivors
    w = Window.partitionBy("pid").orderBy("d2", "neighbor_id")
    r = local.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= _HN_TOP
    )
    return r.groupBy(
        F.col("pid").alias("vec_id"), F.col("plabel").cast("int").alias("label")
    ).agg(
        F.sum(F.when(F.col("n_label") != F.col("plabel"), 1).otherwise(0))
        .cast("long")
        .alias("n_hard"),
        F.coalesce(
            F.min(F.when(F.col("n_label") != F.col("plabel"), F.col("rk"))),
            F.lit(-1),
        )
        .cast("long")
        .alias("first_hard_rank"),
    )


# ----------------------------------------------- trimmed mean (stitch)

@register(
    "a_trimmed_mean_price",
    """
WITH o AS (
  SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
r AS (
  SELECT cents, row_number() OVER (ORDER BY cents, o_orderkey) AS rk FROM o
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(*) // 20 AS BIGINT) AS k FROM o)
SELECT n.n AS n_orders, n.k AS n_trimmed_each_side,
       CAST(sum(r.cents::HUGEINT) // (n.n - 2 * n.k) AS BIGINT) AS trimmed_mean_cents
FROM r, n WHERE r.rk > n.k AND r.rk <= n.n - n.k
GROUP BY n.n, n.k
""",
    tags=("analytics", "stats"),
    doc="5%-trimmed mean of order totals in exact cents: global rank of "
    "every order by (cents, key) via the range-partition stitch "
    "(functions/stitch.py — partition-local row_number + broadcast "
    "prefix counts, never a single-partition window over the fact "
    "table), drop the bottom and top n/20 ranks, integer mean of the "
    "rest.  The robust-location companion to a_weighted_median_price; "
    "1 output row",
)
def q_trimmed_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions.stitch import range_prefix_stitch

    o = load_table(spark, sf_dir, "orders").select(
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
        F.lit(1).cast("long").alias("one"),
    )
    # rank by cents only: rows with equal cents are interchangeable for a
    # rank-range SUM, so any tie-break yields the same kept multiset — the
    # oracle's (cents, o_orderkey) order and the stitch's partition-local
    # order agree on the aggregate exactly
    tagged, prefix = range_prefix_stitch(o, "cents", "one", agg="sum")
    w = Window.partitionBy("__pid").orderBy("cents")
    ranked = (
        tagged.withColumn("lrk", F.row_number().over(w).cast("long"))
        .join(F.broadcast(prefix), "__pid")
        .select("cents", (F.col("__prefix") + F.col("lrk")).alias("rk"))
    )
    nk = tagged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("CAST(count(1) div 20 AS BIGINT)").alias("k"),
    )
    kept = ranked.join(F.broadcast(nk), how="cross").filter(
        (F.col("rk") > F.col("k")) & (F.col("rk") <= F.col("n") - F.col("k"))
    )
    return kept.groupBy("n", "k").agg(
        F.expr(
            "CAST(sum(CAST(cents AS DECIMAL(38,0))) div (max(n) - 2 * max(k))"
            " AS BIGINT)"
        ).alias("trimmed_mean_cents")
    ).select(
        F.col("n").alias("n_orders"),
        F.col("k").alias("n_trimmed_each_side"),
        "trimmed_mean_cents",
    )


# --------------------------------------- MMR diversified re-ranking

_MMR_CAND = 12
_MMR_SELECT = 5
#: lambda = 0.7 as integer weights: score = 7*rel - 3*maxsim (x10 scale)
_MMR_REL_W = 7
_MMR_DIV_W = 3


def _mmr_sql() -> str:
    dim = _JL_DIM
    head = f"""
WITH m AS MATERIALIZED (
  SELECT vec_id, label,
         {micro_units_sql()} AS em
  FROM embeddings
),
q AS MATERIALIZED (
  SELECT i, CAST(floor(sum(em[i]) / count(*) + 0.5) AS BIGINT) AS qv
  FROM m, unnest(range(1, {dim + 1})) t(i)
  WHERE label = 0
  GROUP BY i
),
rel AS MATERIALIZED (
  SELECT m.vec_id, CAST(sum(q.qv * m.em[q.i]) AS BIGINT) AS rel
  FROM m, q
  GROUP BY m.vec_id
),
cand AS MATERIALIZED (
  SELECT r.vec_id, r.rel, m.em
  FROM rel r JOIN m USING (vec_id)
  ORDER BY r.rel DESC, r.vec_id LIMIT {_MMR_CAND}
),
dots AS MATERIALIZED (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(list_sum(list_transform(range(1, {dim + 1}),
                                      i -> a.em[i] * b.em[i])) AS BIGINT) AS dot
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
),
s1 AS MATERIALIZED (
  SELECT vec_id, rel, CAST(-1 AS BIGINT) AS maxsim
  FROM cand ORDER BY rel DESC, vec_id LIMIT 1
)"""
    parts = [head]
    prev_sel = "SELECT vec_id FROM s1"
    for t in range(2, _MMR_SELECT + 1):
        parts.append(
            f""",
t{t} AS MATERIALIZED (
  SELECT c.vec_id, c.rel, CAST(max(d.dot) AS BIGINT) AS maxsim
  FROM cand c
  JOIN dots d ON d.va = c.vec_id AND d.vb IN ({prev_sel})
  WHERE c.vec_id NOT IN ({prev_sel})
  GROUP BY c.vec_id, c.rel
),
s{t} AS MATERIALIZED (
  SELECT vec_id, rel, maxsim FROM t{t}
  ORDER BY {_MMR_REL_W} * rel - {_MMR_DIV_W} * maxsim DESC, vec_id LIMIT 1
)"""
        )
        prev_sel += f" UNION ALL SELECT vec_id FROM s{t}"
    sel = "\nUNION ALL ".join(
        f"SELECT {t} AS sel_rank, vec_id, rel, maxsim FROM s{t}"
        for t in range(1, _MMR_SELECT + 1)
    )
    return (
        "".join(parts)
        + f"\nSELECT CAST(sel_rank AS BIGINT) AS sel_rank, vec_id, rel, maxsim"
        f" FROM ({sel})"
    )


@register(
    "p_mmr_diversify",
    _mmr_sql(),
    tags=("pipeline", "retrieval", "embedding"),
    doc="maximal-marginal-relevance re-ranking (Carbonell & Goldstein "
    "lambda=0.7): query = integer-micro centroid of the label-0 block "
    "(the kmeans rounding rule), relevance = exact integer dot product, "
    "candidates = distributed TakeOrdered top-12, then 5 greedy "
    "selections maximizing 7*rel - 3*max-sim-to-selected — every score "
    "an exact BIGINT, ties broken by vec_id, the per-round argmax reads "
    "a 12-row frame.  The oracle unrolls the 5 rounds as MATERIALIZED "
    "CTEs; the Spark side collects the constant-bounded pool ONCE and "
    "replays the greedy rounds driver-side in exact Python ints "
    "(bit-identical — every score is integer); 5 output rows",
)
def q_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    m = emb.select(
        "vec_id",
        "label",
        micro_units("embedding").alias("em"),
    )
    qdim = (
        m.filter(F.col("label") == 0)
        .select(F.posexplode("em").alias("i", "v"))
        .groupBy("i")
        .agg(
            F.floor(F.sum("v") / F.count(F.lit(1)) + F.lit(0.5))
            .cast("long")
            .alias("qv")
        )
    )
    qvec = qdim.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "qv"))), lambda s: s["qv"]
        ).alias("qem")
    )
    from kafka_replicator_spark.functions.similarity import dot_int_col

    rel_expr = dot_int_col(F.col("qem"), F.col("em"))
    scored = m.crossJoin(F.broadcast(qvec)).select(
        "vec_id", "em", rel_expr.alias("rel")
    )
    # r13-opt: the candidate pool is CONSTANT-bounded (distributed
    # TakeOrdered LIMIT 12) and every MMR quantity over it — the pairwise
    # dots, max-sim, and the 7*rel - 3*maxsim selection key — is exact
    # integer arithmetic, so ONE TakeOrdered job collects the pool and the
    # greedy loop replays driver-side with bit-identical Python ints (JVM
    # long == Python int below overflow; micro-unit dots peak ~6e13).  The
    # per-round head(1) jobs, the pairwise-dot frame and both caches
    # disappear (was 17 Spark jobs of plan-compile floor, now 1).
    cand_rows = (
        scored.orderBy(F.desc("rel"), F.asc("vec_id")).limit(_MMR_CAND).collect()
    )
    cands = sorted(
        (
            (int(r["rel"]), int(r["vec_id"]), [int(x) for x in r["em"]])
            for r in cand_rows
        ),
        key=lambda c: (-c[0], c[1]),
    )

    def _idot(a: list[int], b: list[int]) -> int:
        acc = 0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    first = cands[0]
    picked: list[tuple[int, int, int, int]] = [(1, first[1], first[0], -1)]
    sel_ems: list[list[int]] = [first[2]]
    sel_ids = {first[1]}
    for t in range(2, _MMR_SELECT + 1):
        best = None  # ((-key, vec_id), vec_id, rel, maxsim)
        for rel, vid, em in cands:
            if vid in sel_ids:
                continue
            maxsim = max(_idot(em, s) for s in sel_ems)
            order = (-(_MMR_REL_W * rel - _MMR_DIV_W * maxsim), vid)
            if best is None or order < best[0]:
                best = (order, vid, rel, maxsim, em)
        picked.append((t, best[1], best[2], best[3]))
        sel_ids.add(best[1])
        sel_ems.append(best[4])
    return local_frame(spark, picked, "sel_rank long, vec_id long, rel long, maxsim long")


# ------------------------------------------------- quota sampling per cell

_QUOTA = 5


def _quota_hash_sql() -> str:
    from kafka_replicator_spark.functions.hashing import portable_hash60_sql

    return portable_hash60_sql("'qs_' || CAST(doc_id AS VARCHAR)")


@register(
    "p_quota_sample",
    f"""
WITH h AS (
  SELECT doc_id, source, lang,
         {_quota_hash_sql()} AS hk
  FROM documents
),
r AS (
  SELECT doc_id, source, lang,
         row_number() OVER (PARTITION BY source, lang ORDER BY hk, doc_id) AS rk
  FROM h
)
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_cell,
       CAST(sum(CASE WHEN rk <= {_QUOTA} THEN 1 ELSE 0 END) AS BIGINT) AS n_taken,
       CAST(sum(CASE WHEN rk <= {_QUOTA} THEN doc_id ELSE 0 END) AS BIGINT)
         AS taken_id_sum
FROM r GROUP BY source, lang
""",
    tags=("pipeline", "sampling"),
    doc="quota sampling: up to 5 documents per (source, lang) cell, chosen "
    "by portable-hash order (reproducible across engines and runs), "
    "reporting each cell's size, take count, and the checksum of taken "
    "ids.  The rank window is keyed by the cell — scale-safe — and the "
    "hash order makes the sample independent of physical row order; the "
    "per-cell balanced cousin of p_stratified_sample's proportional "
    "allocation",
)
def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions.hashing import portable_hash60

    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        "source",
        "lang",
        portable_hash60(F.concat(F.lit("qs_"), F.col("doc_id").cast("string"))).alias(
            "hk"
        ),
    )
    w = Window.partitionBy("source", "lang").orderBy("hk", "doc_id")
    r = h.withColumn("rk", F.row_number().over(w))
    return r.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_cell"),
        F.sum(F.when(F.col("rk") <= _QUOTA, 1).otherwise(0))
        .cast("long")
        .alias("n_taken"),
        F.sum(F.when(F.col("rk") <= _QUOTA, F.col("doc_id")).otherwise(0))
        .cast("long")
        .alias("taken_id_sum"),
    )


# -------------------------------------- SimHash hamming-distance histogram

_HH_MAX = 16


def _hamming_hist_sql() -> str:
    from kafka_replicator_spark.functions.dedup import simhash_near_pairs_sql

    return f"""
WITH pairs AS ({simhash_near_pairs_sql(max_hamming=_HH_MAX)})
SELECT CAST(hamming AS BIGINT) AS hamming, CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY hamming
"""


@register(
    "p_hamming_histogram",
    _hamming_hist_sql(),
    tags=("pipeline", "dedup"),
    doc="hamming-distance histogram of SimHash banded candidate pairs "
    "(distances 0..16): how near-duplicate similarity mass is "
    "distributed below the usual acceptance cut — the dial-tuning "
    "companion to p_simhash_near_pairs.  Rides the banded candidate "
    "generator (bucketed, not all-pairs); integer distances from "
    "bit_count(xor); ≤17 output rows",
)
def q_hamming_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions import dedup as dd

    pairs = dd.simhash_near_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=_HH_MAX
    )
    return pairs.groupBy(F.col("hamming").cast("long").alias("hamming")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


# ----------------------------------------------- IVF scan-cost audit

def _ivf_cost_sql() -> str:
    from kafka_replicator_spark.functions.similarity import ivf_assign_sql_ctes

    return f"""
{ivf_assign_sql_ctes()},
cells AS (
  SELECT centroid_id, CAST(count(*) AS BIGINT) AS sz FROM assigned GROUP BY centroid_id
),
probes AS (SELECT vec_id, centroid_id FROM assigned WHERE vec_id % {_JL_PROBE_MOD} = 0),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_probes,
         CAST(sum(c.sz - 1) AS BIGINT) AS n_scanned
  FROM probes p JOIN cells c USING (centroid_id)
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM assigned)
SELECT n_probes, n_scanned, n_corpus,
       CAST((1000000::HUGEINT * n_scanned) // (n_probes * n_corpus - n_probes)
            AS BIGINT) AS scan_ppm
FROM s, n
"""


@register(
    "p_ivf_cost_audit",
    _ivf_cost_sql(),
    tags=("pipeline", "embedding", "audit"),
    doc="IVF scan-cost audit: for the probe set, how many corpus vectors "
    "a single-probe IVF search actually scans (the probe's cell size "
    "minus itself) vs the brute-force n_probes x n_corpus baseline, in "
    "exact ppm — the cost-model readout that justifies the index "
    "(p_ivf_balance measures skew, this measures total work).  Same "
    "shared assignment CTE as every IVF oracle; 1 output row",
)
def q_ivf_cost_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = track_cached(
        similarity.ivf_assign(emb).select("vec_id", "centroid_id")
    )
    n_corpus = assigned.count()
    cells = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    probes = assigned.filter(F.col("vec_id") % _JL_PROBE_MOD == 0)
    scanned = probes.join(F.broadcast(cells), "centroid_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum(F.col("sz") - 1).cast("long").alias("n_scanned"),
    )
    return scanned.select(
        "n_probes",
        "n_scanned",
        F.lit(n_corpus).cast("long").alias("n_corpus"),
        F.expr(
            f"CAST((CAST(1000000 AS DECIMAL(38,0)) * n_scanned)"
            f" div (n_probes * CAST({n_corpus} AS BIGINT) - n_probes) AS BIGINT)"
        ).alias("scan_ppm"),
    )


# ------------------------------------------- event arrival dispersion

_HOUR_US = 3_600_000_000


@register(
    "a_event_dispersion",
    f"""
WITH c AS (
  SELECT epoch_us(ts) // {_HOUR_US} AS hour, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY hour
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(x::HUGEINT) AS sx,
         sum(x::HUGEINT * x) AS sx2
  FROM c
)
SELECT n AS n_hours, CAST(sx AS BIGINT) AS n_events,
       CAST((1000000::HUGEINT * (n * sx2 - sx * sx)) // (n * sx) AS BIGINT)
         AS dispersion_ppm
FROM m
""",
    tags=("analytics", "timeseries", "stats"),
    doc="index of dispersion (variance-to-mean ratio) of hourly event "
    "arrivals in exact ppm: 1e6 = Poisson-consistent, higher = bursty "
    "arrivals.  Hour-grain counts, population variance as the integer "
    "moment identity (n*Σx² - (Σx)²)/(n*Σx), folds in "
    "DECIMAL(38,0)/HUGEINT; one shuffle, 1 output row",
)
def q_event_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(F.expr(f"ts div {_HOUR_US * 1000}").alias("hour")).groupBy(
        "hour"
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    return c.agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("x").cast("long").alias("n_events"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0))"
            " * (count(1) * sum(CAST(x AS DECIMAL(38,0)) * x)"
            "    - sum(CAST(x AS DECIMAL(38,0))) * sum(CAST(x AS DECIMAL(38,0)))))"
            " div (count(1) * sum(CAST(x AS DECIMAL(38,0)))) AS BIGINT)"
        ).alias("dispersion_ppm"),
    )


# ------------------------------------------------ character-class profile

@register(
    "p_char_class_profile",
    """
WITH c AS (
  SELECT source,
         CAST(length(text) AS BIGINT) AS n_all,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
         CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS BIGINT) AS n_space,
         CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_other
  FROM documents
)
SELECT source,
       CAST(sum(n_all) AS BIGINT) AS n_chars,
       CAST((1000000::HUGEINT * sum(n_digit)) // nullif(sum(n_all), 0) AS BIGINT)
         AS digit_ppm,
       CAST((1000000::HUGEINT * sum(n_space)) // nullif(sum(n_all), 0) AS BIGINT)
         AS space_ppm,
       CAST((1000000::HUGEINT * sum(n_other)) // nullif(sum(n_all), 0) AS BIGINT)
         AS symbol_ppm
FROM c GROUP BY source
""",
    tags=("pipeline", "quality"),
    doc="character-class composition per source in exact ppm of total "
    "characters — digits, spaces, and non-alphanumeric symbols; the "
    "code/markup/table detector input used alongside the quality rules "
    "(a symbol-heavy source is boilerplate or data dumps, not prose).  "
    "ASCII character classes so both regex engines agree; one corpus "
    "pass, source-grain rollup",
)
def q_char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = docs.select(
        "source",
        F.length("text").cast("long").alias("n_all"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).cast("long").alias("n_digit"),
        F.length(F.regexp_replace("text", "[^ ]", "")).cast("long").alias("n_space"),
        F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", ""))
        .cast("long")
        .alias("n_other"),
    )
    return c.groupBy("source").agg(
        F.sum("n_all").cast("long").alias("n_chars"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * sum(n_digit))"
            " div nullif(sum(n_all), 0) AS BIGINT)"
        ).alias("digit_ppm"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * sum(n_space))"
            " div nullif(sum(n_all), 0) AS BIGINT)"
        ).alias("space_ppm"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * sum(n_other))"
            " div nullif(sum(n_all), 0) AS BIGINT)"
        ).alias("symbol_ppm"),
    )


# -------------------------------------- customer value quartile migration

@register(
    "a_rfm_migration",
    f"""
WITH d AS (
  SELECT o_custkey AS cust, epoch_us(o_orderdate) // {_DAY_US} AS day,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
mid AS (SELECT (min(day) + max(day)) // 2 AS md FROM d),
h1 AS (
  SELECT cust, CAST(sum(cents) AS BIGINT) AS v
  FROM d, mid WHERE day <= md GROUP BY cust
),
h2 AS (
  SELECT cust, CAST(sum(cents) AS BIGINT) AS v
  FROM d, mid WHERE day > md GROUP BY cust
),
t1 AS (
  SELECT quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.5) AS q2,
         quantile_cont(v, 0.75) AS q3 FROM h1
),
t2 AS (
  SELECT quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.5) AS q2,
         quantile_cont(v, 0.75) AS q3 FROM h2
),
j AS (
  SELECT CAST(1 + (a.v > t1.q1)::INT + (a.v > t1.q2)::INT + (a.v > t1.q3)::INT
              AS BIGINT) AS from_q,
         CAST(1 + (b.v > t2.q1)::INT + (b.v > t2.q2)::INT + (b.v > t2.q3)::INT
              AS BIGINT) AS to_q
  FROM h1 a JOIN h2 b USING (cust), t1, t2
)
SELECT from_q, to_q, CAST(count(*) AS BIGINT) AS n_customers
FROM j GROUP BY from_q, to_q
""",
    tags=("analytics", "behavior"),
    doc="customer value-quartile migration matrix: split the order history "
    "at the midpoint day, bucket each customer's half-period spend into "
    "quartiles via exact percentile thresholds (0.25/0.5/0.75 — "
    "power-of-two fractions interpolate bit-identically on both "
    "engines), and count the from->to transitions for customers active "
    "in both halves — the churn/upsell drift readout.  Two customer-"
    "grain aggregates + broadcast thresholds; <=16 output rows",
)
def q_rfm_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("cust"),
            F.expr(f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {_DAY_US}").alias(
                "day"
            ),
            F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
                "cents"
            ),
        )
    )
    d = track_cached(d)
    mid = d.agg(F.expr("CAST((min(day) + max(day)) div 2 AS BIGINT)").alias("md"))
    dd = d.crossJoin(F.broadcast(mid))
    h1 = (
        dd.filter(F.col("day") <= F.col("md"))
        .groupBy("cust")
        .agg(F.sum("cents").cast("long").alias("v"))
    )
    h2 = (
        dd.filter(F.col("day") > F.col("md"))
        .groupBy("cust")
        .agg(F.sum("cents").cast("long").alias("v"))
    )
    t1 = h1.agg(
        F.expr("percentile(v, 0.25)").alias("q1"),
        F.expr("percentile(v, 0.5)").alias("q2"),
        F.expr("percentile(v, 0.75)").alias("q3"),
    )
    t2 = h2.agg(
        F.expr("percentile(v, 0.25)").alias("p1"),
        F.expr("percentile(v, 0.5)").alias("p2"),
        F.expr("percentile(v, 0.75)").alias("p3"),
    )
    j = (
        h1.withColumnRenamed("v", "va")
        .join(h2.withColumnRenamed("v", "vb"), "cust")
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .select(
            F.expr(
                "CAST(1 + CAST(va > q1 AS INT) + CAST(va > q2 AS INT)"
                " + CAST(va > q3 AS INT) AS BIGINT)"
            ).alias("from_q"),
            F.expr(
                "CAST(1 + CAST(vb > p1 AS INT) + CAST(vb > p2 AS INT)"
                " + CAST(vb > p3 AS INT) AS BIGINT)"
            ).alias("to_q"),
        )
    )
    return j.groupBy("from_q", "to_q").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )


# ------------------------------------------ Lorenz curve octile points

_LORENZ_CUTS = 8


@register(
    "a_lorenz_octiles",
    f"""
WITH o AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         o_orderkey
  FROM orders
),
r AS (
  -- rk and cs MUST share one total order: at a rank cut inside a tie
  -- group, a cumsum over a different permutation would count a different
  -- number of tied rows than the rank does
  SELECT cents,
         row_number() OVER (ORDER BY cents, o_orderkey) AS rk,
         sum(cents) OVER (ORDER BY cents, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
  FROM o
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(cents::HUGEINT) AS total FROM o),
cuts AS (SELECT * FROM (VALUES {', '.join(f'({k})' for k in range(1, _LORENZ_CUTS + 1))}) t(k))
SELECT CAST(cuts.k AS BIGINT) AS octile,
       CAST((n.n * cuts.k) // {_LORENZ_CUTS} AS BIGINT) AS cut_rank,
       CAST((1000000::HUGEINT * r.cs) // n.total AS BIGINT) AS cum_share_ppm
FROM cuts, n
JOIN r ON r.rk = (n.n * cuts.k) // {_LORENZ_CUTS}
""",
    tags=("analytics", "stats"),
    doc="Lorenz curve at octile rank cuts: with orders ranked by value, "
    "the cumulative revenue share of the bottom k/8 of orders in exact "
    "ppm — the inequality readout behind the Gini audits.  Rank cuts are "
    "integer (n*k//8), so no quantile interpolation is involved; the "
    "running sum at a rank cut is tie-break-invariant because "
    "equal-value rows contribute equally (same invariance argument as "
    "a_trimmed_mean_price).  Spark rides the range-partition stitch with "
    "a sum prefix (partition-local cumsum + broadcast offsets — no "
    "single-partition window); 8 output rows",
)
def q_lorenz_octiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions.stitch import range_prefix_stitch

    o = load_table(spark, sf_dir, "orders").select(
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
        F.lit(1).cast("long").alias("one"),
    )
    # one stitch call carries BOTH prefixes (rank offset + running cents
    # sum) from a single per-partition collect
    tagged, prefix = range_prefix_stitch(
        o, "cents", "one", agg="sum", extra_sum_col="cents"
    )
    w = Window.partitionBy("__pid").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wr = Window.partitionBy("__pid").orderBy("cents")
    ranked = (
        tagged.withColumn("lcs", F.sum("cents").over(w))
        .withColumn("lrk", F.row_number().over(wr).cast("long"))
        .join(F.broadcast(prefix), "__pid")
        .select(
            (F.col("__prefix") + F.col("lrk")).alias("rk"),
            (F.col("__sprefix") + F.col("lcs")).alias("cs"),
        )
    )
    nt = o.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("sum(CAST(cents AS DECIMAL(38,0)))").alias("total"),
    )
    cuts = local_frame(spark, [(k,) for k in range(1, _LORENZ_CUTS + 1)], "k long")
    cutranks = cuts.crossJoin(F.broadcast(nt)).select(
        F.col("k").alias("octile"),
        F.expr(f"CAST((n * k) div {_LORENZ_CUTS} AS BIGINT)").alias("cut_rank"),
        "total",
    )
    return (
        ranked.join(F.broadcast(cutranks), F.col("rk") == F.col("cut_rank"))
        .select(
            "octile",
            "cut_rank",
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * cs) div total AS BIGINT)"
            ).alias("cum_share_ppm"),
        )
    )


# ------------------------------------- greedy max-coverage selection

_COV_SELECT = 5


def _coverage_sql() -> str:
    from kafka_replicator_spark.functions.dedup import word_ngrams_sql

    parts = [
        f"sh AS MATERIALIZED (SELECT doc_id, h FROM ({word_ngrams_sql(3)}))",
        """g1 AS MATERIALIZED (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS gain FROM sh GROUP BY doc_id
),
s1 AS MATERIALIZED (
  SELECT doc_id, gain FROM g1 WHERE gain > 0 ORDER BY gain DESC, doc_id LIMIT 1
),
c1 AS MATERIALIZED (SELECT DISTINCT h FROM sh JOIN s1 USING (doc_id))""",
    ]
    prev_sel = "SELECT doc_id FROM s1"
    for t in range(2, _COV_SELECT + 1):
        parts.append(
            f"""g{t} AS MATERIALIZED (
  SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS gain
  FROM sh LEFT JOIN c{t - 1} c ON sh.h = c.h
  WHERE c.h IS NULL AND sh.doc_id NOT IN ({prev_sel})
  GROUP BY sh.doc_id
),
s{t} AS MATERIALIZED (
  SELECT doc_id, gain FROM g{t} WHERE gain > 0 ORDER BY gain DESC, doc_id LIMIT 1
),
c{t} AS MATERIALIZED (
  SELECT h FROM c{t - 1}
  UNION SELECT h FROM sh JOIN s{t} USING (doc_id)
)"""
        )
        prev_sel += f" UNION ALL SELECT doc_id FROM s{t}"
    sel = "\nUNION ALL ".join(
        f"SELECT {t} AS sel_rank, doc_id, gain,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM c{t}) AS covered_total FROM s{t}"
        for t in range(1, _COV_SELECT + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT CAST(sel_rank AS BIGINT) AS sel_rank, doc_id, gain, covered_total"
        f" FROM ({sel})"
    )


#: CELF-pool width for the driver-side greedy replay — large enough that
#: all _COV_SELECT picks resolve inside the pool at every tested scale
#: (bound-checked per round; a violated bound falls back to the exact
#: distributed loop, so the pool size is a performance knob, never a
#: correctness one)
_COV_POOL = 64
_COV_SCHEMA = "sel_rank long, doc_id long, gain long, covered_total long"


def _coverage_argmax(sh: DataFrame, excluded: list[int]) -> tuple[int, int] | None:
    """One exact distributed greedy round: the (doc_id, gain) with the
    largest positive marginal gain over the shingles not covered by the
    ``excluded`` docs (ties to the smaller doc_id), or None when no doc
    gains anything — one anti-join + doc-grain count + bounded argmax."""
    rem = sh.filter(~F.col("doc_id").isin(excluded)) if excluded else sh
    if excluded:
        cov = sh.filter(F.col("doc_id").isin(excluded)).select("h").distinct()
        rem = rem.join(F.broadcast(cov), "h", "left_anti")
    gains = rem.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("gain"))
    top = gains.filter(F.col("gain") > 0).orderBy(F.desc("gain"), F.asc("doc_id")).head(1)
    return (top[0]["doc_id"], top[0]["gain"]) if top else None


def _coverage_distributed(
    spark: SparkSession, sh: DataFrame, certified: list[tuple[int, int, int]] | None = None
) -> DataFrame:
    """The exact distributed greedy loop (the r13 form) — the fallback
    when the CELF pool bound in :func:`q_submodular_coverage` cannot
    certify a round's argmax.  It resumes after the ``certified``
    (sel_rank, doc_id, gain) picks of the rounds before, running one
    :func:`_coverage_argmax` per remaining round; the per-round covered
    totals of every pick are deferred to one cumulative min-pick-rank job
    after the loop."""
    picked = list(certified or ())
    excluded = [doc for _, doc, _ in picked]
    for t in range(len(picked) + 1, _COV_SELECT + 1):
        top = _coverage_argmax(sh, excluded)
        if top is None:
            break
        doc, gain = top
        picked.append((t, doc, gain))
        excluded.append(doc)
    totals: dict[int, int] = {}
    if picked:
        r = F.when(F.col("doc_id") == picked[0][1], F.lit(1))
        for t, doc, _ in picked[1:]:
            r = r.when(F.col("doc_id") == doc, F.lit(t))
        per_rank = (
            sh.filter(F.col("doc_id").isin([p[1] for p in picked]))
            .select(r.alias("r"), "h")
            .groupBy("h")
            .agg(F.min("r").alias("r"))
            .groupBy("r")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .collect()
        )
        by_rank = {int(row["r"]): int(row["n"]) for row in per_rank}
        run = 0
        for t, _, _ in picked:
            run += by_rank.get(t, 0)
            totals[t] = run
    return local_frame(
        spark, [(t, doc, gain, totals[t]) for (t, doc, gain) in picked], _COV_SCHEMA
    )


@register(
    "p_submodular_coverage",
    _coverage_sql(),
    tags=("pipeline", "curation", "sampling"),
    doc="greedy maximum-coverage document selection (the classic "
    "submodular curation objective, Nemhauser 1-1/e guarantee): pick 5 "
    "documents that maximize marginal distinct-trigram coverage, "
    "reporting each pick's marginal gain and the running covered-shingle "
    "total.  Rides the shared word_ngrams shingle frame; a CELF pool "
    "bound makes the greedy rounds an exact driver replay (distributed "
    "fallback when the bound cannot certify a pick); the oracle unrolls "
    "the rounds as MATERIALIZED CTEs.  <=5 output rows",
)
def q_submodular_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions import dedup as dd

    sh = track_cached(
        dd.word_ngrams(load_table(spark, sf_dir, "documents"), n=3).select(
            "doc_id", "h"
        )
    )
    # r14 (guide §5, the fresh-plan floor): the greedy loop ran one
    # distributed argmax job per round (plan-compile floor dominated —
    # ~0.5 s/round against a cached 600k-row frame).  Submodularity makes
    # a CELF-style pool replay EXACT: round-t gains only decrease from
    # round-1 gains, so if the best in-pool marginal gain lexicographically
    # beats (gain, doc_id asc) of the best NON-pool round-1 gain — the
    # (pool+1)-th row of the round-1 ranking — the true argmax is in the
    # pool.  ONE TakeOrdered job fetches the round-1 ranking's top
    # pool+1 rows, ONE collect fetches the pool docs' (doc_id, h) rows
    # (bounded: _COV_POOL docs' shingles — metadata scale), and the greedy
    # rounds + covered totals replay driver-side in exact Python ints
    # (row counts and set sizes — bit-identical to the distributed jobs).
    # Any round whose bound cannot certify the argmax falls back to the
    # exact distributed loop, which resumes from the picks already
    # certified; the pool is sized so that never fires at tested scales.
    g1 = (
        sh.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("gain"))
        .orderBy(F.desc("gain"), F.asc("doc_id"))
        .limit(_COV_POOL + 1)
        .collect()
    )
    if not g1:
        return local_frame(spark, [], _COV_SCHEMA)
    pool = [(int(r["doc_id"]), int(r["gain"])) for r in g1[:_COV_POOL]]
    bound = (
        (int(g1[_COV_POOL]["gain"]), int(g1[_COV_POOL]["doc_id"]))
        if len(g1) > _COV_POOL
        else None
    )
    pool_ids = [d for d, _ in pool]
    hs: dict[int, list[int]] = {d: [] for d in pool_ids}
    for r in sh.filter(F.col("doc_id").isin(pool_ids)).collect():
        hs[int(r["doc_id"])].append(int(r["h"]))
    covered: set[int] = set()
    chosen: set[int] = set()
    picked: list[tuple[int, int, int, int]] = []
    for t in range(1, _COV_SELECT + 1):
        best: tuple[int, int] | None = None  # (-gain, doc_id) lex-min
        for d in pool_ids:
            if d in chosen:
                continue
            g = sum(1 for h in hs[d] if h not in covered)
            if g <= 0:
                continue
            key = (-g, d)
            if best is None or key < best:
                best = key
        if best is None:
            # no positive in-pool gain left: a non-pool doc could still
            # have one (its round-1 gain is ≤ the bound but could be
            # fully uncovered) — only a missing bound proves exhaustion
            if bound is not None:
                return _coverage_distributed(spark, sh, [p[:3] for p in picked])
            break
        g, d = -best[0], best[1]
        if bound is not None and not (
            g > bound[0] or (g == bound[0] and d < bound[1])
        ):
            # a non-pool doc with round-1 gain == bound could tie or win
            return _coverage_distributed(spark, sh, [p[:3] for p in picked])
        chosen.add(d)
        covered.update(hs[d])
        picked.append((t, d, g, len(covered)))
    return local_frame(spark, picked, _COV_SCHEMA)


# ---------------------------------------------- bloom filter FPR audit

_BF_M = 2048
_BF_K = 4


def _bloom_fpr_sql() -> str:
    from kafka_replicator_spark.functions.hashing import (
        hash_family_params,
        hash_family_sql,
        portable_hash32_sql,
    )

    h32 = portable_hash32_sql("CAST(c_custkey AS VARCHAR)")
    pos = " UNION ALL ".join(
        f"SELECT c_custkey, {i} AS hx, ({hash_family_sql('h', a, b)}) % {_BF_M} AS p"
        " FROM keys"
        for i, (a, b) in enumerate(hash_family_params(_BF_K))
    )
    return f"""
WITH keys AS MATERIALIZED (
  SELECT c_custkey, c_acctbal < 0 AS member, {h32} AS h FROM customer
),
pos AS MATERIALIZED ({pos}),
bits AS MATERIALIZED (
  SELECT DISTINCT p.p FROM pos p JOIN keys k USING (c_custkey) WHERE k.member
),
hits AS (
  SELECT p.c_custkey, CAST(count(*) AS BIGINT) AS n_hit
  FROM pos p JOIN bits b ON b.p = p.p
  GROUP BY p.c_custkey
),
probe AS (
  SELECT k.c_custkey, coalesce(h.n_hit, 0) = {_BF_K} AS passed
  FROM keys k LEFT JOIN hits h USING (c_custkey)
  WHERE NOT k.member
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM keys WHERE member) AS n_members,
       (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
       CAST(count(*) AS BIGINT) AS n_probes,
       CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positive,
       CAST((1000000::HUGEINT * sum(CASE WHEN passed THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS fpp_ppm
FROM probe
"""


@register(
    "p_bloom_fpr_audit",
    _bloom_fpr_sql(),
    tags=("pipeline", "sketch", "audit"),
    doc="measured bloom-filter false-positive rate: negative-balance "
    "customers fold into a 2048-bit / 4-hash filter built from the "
    "portable hash family (relational form — bit positions as rows, so "
    "the oracle reproduces the filter exactly), every non-member key "
    "probes it, and the audit reports set-bit fill and the measured FPR "
    "in exact ppm — the empirical check behind a_bloom_semi_join's "
    "sizing table (which uses JVM xxhash64 in the hot path; the audit "
    "uses the portable family precisely so both engines can replay it). "
    "1 output row",
)
def q_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions.hashing import (
        hash_family_col,
        hash_family_params,
        portable_hash32,
    )

    cust = load_table(spark, sf_dir, "customer")
    keys = cust.select(
        "c_custkey",
        (F.col("c_acctbal") < 0).alias("member"),
        portable_hash32(F.col("c_custkey").cast("string")).alias("h"),
    )
    keys = track_cached(keys)
    pos_frames = [
        keys.select(
            "c_custkey",
            F.lit(i).alias("hx"),
            (hash_family_col(F.col("h"), a, b) % _BF_M).alias("p"),
        )
        for i, (a, b) in enumerate(hash_family_params(_BF_K))
    ]
    pos = pos_frames[0]
    for f in pos_frames[1:]:
        pos = pos.unionAll(f)
    pos = track_cached(pos)
    bits = (
        pos.join(keys.filter("member").select("c_custkey"), "c_custkey")
        .select("p")
        .distinct()
    )
    hits = (
        pos.join(F.broadcast(bits), "p")
        .groupBy("c_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    probe = (
        keys.filter(~F.col("member"))
        .join(hits, "c_custkey", "left")
        .select((F.coalesce(F.col("n_hit"), F.lit(0)) == _BF_K).alias("passed"))
    )
    counts = keys.agg(
        F.sum(F.when(F.col("member"), 1).otherwise(0)).cast("long").alias("n_members")
    )
    nbits = bits.agg(F.count(F.lit(1)).cast("long").alias("n_bits_set"))
    return (
        probe.agg(
            F.count(F.lit(1)).cast("long").alias("n_probes"),
            F.sum(F.when(F.col("passed"), 1).otherwise(0))
            .cast("long")
            .alias("n_false_positive"),
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0))"
                " * sum(CASE WHEN passed THEN 1 ELSE 0 END))"
                " div count(1) AS BIGINT)"
            ).alias("fpp_ppm"),
        )
        .crossJoin(F.broadcast(counts))
        .crossJoin(F.broadcast(nbits))
        .select("n_members", "n_bits_set", "n_probes", "n_false_positive", "fpp_ppm")
    )


# -------------------------------------- dedup survivor quality shift

@register(
    "p_dedup_quality_shift",
    """
WITH surv AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_before,
       CAST(sum(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_after,
       CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_chars_before,
       CAST(sum(CASE WHEN s.doc_id IS NOT NULL THEN n_chars ELSE 0 END)
            // nullif(sum(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS mean_chars_after,
       CAST((1000000::HUGEINT
             * sum(CASE WHEN s.doc_id IS NOT NULL THEN n_chars ELSE 0 END)
             * count(*))
            // nullif(sum(n_chars)
                      * sum(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS shift_ppm
FROM documents d LEFT JOIN surv s ON s.doc_id = d.doc_id
GROUP BY d.source
""",
    tags=("pipeline", "dedup", "audit"),
    doc="dedup selection-bias audit: per source, mean document length "
    "before vs after exact dedup (min-id survivor rule) and their ratio "
    "in exact ppm — duplicates skew short/boilerplate, so a shift_ppm "
    "far from 1e6 means dedup changed the length distribution, which "
    "downstream token budgets must account for.  One hash groupBy + one "
    "broadcast-sized survivor semi overlay; integer means via floor "
    "division on both engines",
)
def q_dedup_quality_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    surv = docs.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    j = docs.join(
        surv.select("doc_id", F.lit(1).alias("is_surv")), "doc_id", "left"
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_before"),
        F.sum(F.coalesce(F.col("is_surv"), F.lit(0))).cast("long").alias("n_after"),
        F.expr("CAST(sum(n_chars) div count(1) AS BIGINT)").alias(
            "mean_chars_before"
        ),
        F.expr(
            "CAST(sum(CASE WHEN is_surv = 1 THEN n_chars ELSE 0 END)"
            " div nullif(sum(CASE WHEN is_surv = 1 THEN 1 ELSE 0 END), 0)"
            " AS BIGINT)"
        ).alias("mean_chars_after"),
        # denominator lifted to DECIMAL(38,0) too: total-chars x survivors
        # passes 2^63 at corpus scale (the oracle's BIGINT sums widen to
        # HUGEINT on their own)
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0))"
            " * sum(CASE WHEN is_surv = 1 THEN n_chars ELSE 0 END) * count(1))"
            " div nullif(sum(CAST(n_chars AS DECIMAL(38,0)))"
            "     * sum(CASE WHEN is_surv = 1 THEN 1 ELSE 0 END), 0) AS BIGINT)"
        ).alias("shift_ppm"),
    )


# ------------------------------------------ session gap sensitivity

_SESSION_GAPS_MIN = (15, 30, 60)


@register(
    "a_session_gap_sensitivity",
    f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t FROM events
),
lagged AS (
  SELECT user_id, t,
         lag(t) OVER (PARTITION BY user_id ORDER BY t) AS pt
  FROM e
),
gaps AS (SELECT * FROM (VALUES {', '.join(f'({g})' for g in _SESSION_GAPS_MIN)}) t(gap_min)),
marks AS (
  SELECT g.gap_min, l.user_id,
         CASE WHEN l.pt IS NULL OR l.t - l.pt > g.gap_min * 60000000::BIGINT
              THEN 1 ELSE 0 END AS new_s
  FROM lagged l, gaps g
)
SELECT CAST(gap_min AS BIGINT) AS gap_min,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(new_s) AS BIGINT) AS n_sessions,
       CAST((1000000::HUGEINT * sum(new_s)) // count(DISTINCT user_id) AS BIGINT)
         AS sessions_per_user_ppm
FROM marks GROUP BY gap_min
""",
    tags=("analytics", "behavior"),
    doc="sessionization gap-parameter sensitivity: session counts under "
    "15/30/60-minute inactivity thresholds from ONE lag pass (the "
    "user-keyed window computes each event's gap once; the three "
    "thresholds are a broadcast cross join over the marks) — how much "
    "the session metric depends on the arbitrary gap constant.  "
    "Integer microsecond comparisons, 3 output rows",
)
def q_session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("ts div 1000").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t")
    lagged = ev.withColumn("pt", F.lag("t").over(w))
    gaps = local_frame(spark, [(g,) for g in _SESSION_GAPS_MIN], "gap_min int")
    marks = lagged.crossJoin(F.broadcast(gaps)).select(
        "gap_min",
        "user_id",
        F.when(
            F.col("pt").isNull()
            | (F.col("t") - F.col("pt") > F.col("gap_min").cast("long") * 60_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    return marks.groupBy(F.col("gap_min").cast("long").alias("gap_min")).agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum("new_s").cast("long").alias("n_sessions"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * sum(new_s))"
            " div count(DISTINCT user_id) AS BIGINT)"
        ).alias("sessions_per_user_ppm"),
    )


# -------------------------------------- MinHash signature-width sensitivity

_MHK_WIDTHS = (8, 16, 32)
_MHK_THRESHOLD = 0.2


def _mhk_sql() -> str:
    from kafka_replicator_spark.functions.dedup import (
        jaccard_pairs_sql,
        minhash_signatures_sql,
    )

    sig = minhash_signatures_sql(k=max(_MHK_WIDTHS))
    pairs = jaccard_pairs_sql(threshold=_MHK_THRESHOLD)
    per_k = []
    for k in _MHK_WIDTHS:
        matches = " + ".join(
            f"CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END" for i in range(k)
        )
        per_k.append(
            f"""SELECT {k} AS k, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(abs((1000000 * ({matches})) // {k}
                    - CAST(floor(jaccard * 1000000 + 0.5) AS BIGINT)))
            // count(*) AS BIGINT) AS mean_abs_err_ppm
FROM p JOIN s sa ON sa.doc_id = p.doc_a JOIN s sb ON sb.doc_id = p.doc_b"""
        )
    union = "\nUNION ALL ".join(per_k)
    return f"""
WITH s AS MATERIALIZED ({sig}),
p AS MATERIALIZED ({pairs})
SELECT CAST(k AS BIGINT) AS k, n_pairs, mean_abs_err_ppm FROM ({union})
"""


@register(
    "p_minhash_k_sensitivity",
    _mhk_sql(),
    tags=("pipeline", "dedup", "audit"),
    doc="MinHash signature-width sensitivity: for the exact-Jaccard "
    "candidate pairs (>= 0.2), the mean absolute estimation error in "
    "exact ppm at k = 8 / 16 / 32 signature slots — the empirical "
    "error-vs-cost curve behind choosing the signature width (estimator "
    "sd ~ sqrt(J(1-J)/k)).  One 32-min signature pass serves all three "
    "widths (prefixes of the same hash family); integer match counts vs "
    "the 6-dp exact Jaccard re-quantized to ppm; 3 output rows",
)
def q_minhash_k_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    sh = track_cached(dd.word_ngrams(docs, n=3))
    sigs = track_cached(
        dd.minhash_signatures(docs, k=max(_MHK_WIDTHS), shingles=sh)
    )
    pairs = track_cached(
        dd.jaccard_pairs(docs, threshold=_MHK_THRESHOLD, shingles=sh).withColumn(
            "exact_ppm",
            F.expr("CAST(floor(jaccard * 1000000 + 0.5) AS BIGINT)"),
        )
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig_{i}").alias(f"a{i}") for i in range(max(_MHK_WIDTHS))],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig_{i}").alias(f"b{i}") for i in range(max(_MHK_WIDTHS))],
    )
    joined = track_cached(pairs.join(sa, "doc_a").join(sb, "doc_b"))
    out = None
    for k in _MHK_WIDTHS:
        matches = " + ".join(
            f"CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END" for i in range(k)
        )
        frame = joined.agg(
            F.lit(k).cast("long").alias("k"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr(
                f"CAST(sum(abs((1000000 * ({matches})) div {k} - exact_ppm))"
                " div count(1) AS BIGINT)"
            ).alias("mean_abs_err_ppm"),
        )
        out = frame if out is None else out.unionAll(frame)
    return out


# ------------------------------------------------ runs test on daily revenue

@register(
    "a_runs_test_daily",
    f"""
WITH d AS (
  SELECT epoch_us(o_orderdate) // {_DAY_US} AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM orders GROUP BY day
),
med AS (SELECT quantile_cont(cents, 0.5) AS m FROM d),
signs AS (
  SELECT day, CASE WHEN cents > m THEN 1 ELSE 0 END AS up
  FROM d, med
),
runs AS (
  SELECT up,
         CASE WHEN lag(up) OVER (ORDER BY day) IS NULL
                   OR lag(up) OVER (ORDER BY day) <> up THEN 1 ELSE 0 END AS brk
  FROM signs
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(up) AS BIGINT) AS n_above,
         CAST(count(*) - sum(up) AS BIGINT) AS n_below,
         CAST(sum(brk) AS BIGINT) AS n_runs
  FROM runs
)
SELECT n AS n_days, n_above, n_below, n_runs,
       CAST((1000000::HUGEINT * (n + 2 * n_above * n_below)) // n AS BIGINT)
         AS expected_runs_ppm
FROM m
""",
    tags=("analytics", "stats", "timeseries"),
    doc="Wald-Wolfowitz runs test input on daily revenue: days classified "
    "above/at-or-below the exact median (quantile 0.5 — a power-of-two "
    "fraction, bit-identical interpolation), observed run count vs the "
    "expected 1 + 2ab/n in exact ppm — too few runs = trending, too many "
    "= oscillating.  Day-grain lag window (bounded-grain exemption); "
    "1 output row",
)
def q_runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.expr(f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {_DAY_US}").alias(
                "day"
            ),
            F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
        )
        .groupBy("day")
        .agg(F.expr("CAST(sum(v) * 100 AS BIGINT)").alias("cents"))
    )
    d = track_cached(d)
    med = d.agg(F.expr("percentile(cents, 0.5)").alias("m"))
    signs = d.crossJoin(F.broadcast(med)).select(
        "day", F.when(F.col("cents") > F.col("m"), 1).otherwise(0).alias("up")
    )
    w = Window.orderBy("day")
    runs = signs.select(
        "up",
        F.when(
            F.lag("up").over(w).isNull() | (F.lag("up").over(w) != F.col("up")), 1
        )
        .otherwise(0)
        .alias("brk"),
    )
    return runs.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("up").cast("long").alias("n_above"),
        (F.count(F.lit(1)) - F.sum("up")).cast("long").alias("n_below"),
        F.sum("brk").cast("long").alias("n_runs"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0))"
            " * (count(1) + 2 * sum(up) * (count(1) - sum(up))))"
            " div count(1) AS BIGINT)"
        ).alias("expected_runs_ppm"),
    )


# ------------------------------------------- centroid silhouette proxy

@register(
    "p_silhouette_proxy",
    f"""
WITH m AS MATERIALIZED (
  SELECT vec_id, label, {{MU}} AS em
  FROM embeddings
),
comp AS MATERIALIZED (
  SELECT vec_id, label, i, em[i] AS q
  FROM m, unnest(range(1, {_JL_DIM + 1})) t(i)
),
cent AS MATERIALIZED (
  SELECT label AS clabel, i,
         CAST(floor(sum(q) / count(*) + 0.5) AS BIGINT) AS cq
  FROM comp GROUP BY label, i
),
d2 AS MATERIALIZED (
  SELECT c.vec_id, c.label, ct.clabel,
         CAST(sum((c.q - ct.cq) * (c.q - ct.cq)) AS BIGINT) AS d2
  FROM comp c JOIN cent ct ON ct.i = c.i
  GROUP BY c.vec_id, c.label, ct.clabel
),
per_vec AS (
  SELECT vec_id, label,
         CAST(sum(CASE WHEN clabel = label THEN d2 END) AS BIGINT) AS a,
         CAST(min(CASE WHEN clabel <> label THEN d2 END) AS BIGINT) AS b
  FROM d2 GROUP BY vec_id, label
),
scored AS (
  SELECT label,
         CAST((1000000::HUGEINT * (b - a)) // nullif(greatest(a, b), 0) AS BIGINT)
           AS s_ppm
  FROM per_vec
)
SELECT CAST(label AS INTEGER) AS label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(s_ppm::HUGEINT) // count(*) AS BIGINT) AS mean_s_ppm,
       CAST(sum(CASE WHEN s_ppm < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_misassigned
FROM scored GROUP BY label
""".replace("{MU}", micro_units_sql()),
    tags=("pipeline", "embedding", "audit"),
    doc="centroid-based silhouette proxy per label block: a = squared L2 "
    "to the own-label centroid, b = min squared L2 to any other centroid "
    "(the kmeans integer-micro centroid rounding rule), s = (b-a)/max(a,b) "
    "in exact ppm — mean cohesion/separation per block plus the count of "
    "vectors closer to a foreign centroid.  Centroids are label x dim "
    "rows (broadcast-sized); one comp x centroid join bounded by "
    "n_vectors x n_labels; never the O(n²) all-pairs true silhouette",
)
def q_silhouette_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    m = emb.select("vec_id", "label", micro_units("embedding").alias("em"))
    comp = m.select(
        "vec_id", "label", F.posexplode("em").alias("i0", "q")
    ).select("vec_id", "label", (F.col("i0") + 1).alias("i"), "q")
    cent = (
        comp.groupBy(F.col("label").alias("clabel"), "i")
        .agg(
            F.floor(F.sum("q") / F.count(F.lit(1)) + F.lit(0.5))
            .cast("long")
            .alias("cq")
        )
    )
    d2 = (
        comp.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum((F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq")))
            .cast("long")
            .alias("d2")
        )
    )
    per_vec = d2.groupBy("vec_id", "label").agg(
        F.sum(F.when(F.col("clabel") == F.col("label"), F.col("d2")))
        .cast("long")
        .alias("a"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("d2")))
        .cast("long")
        .alias("b"),
    )
    scored = per_vec.select(
        "label",
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * (b - a))"
            " div nullif(greatest(a, b), 0) AS BIGINT)"
        ).alias("s_ppm"),
    )
    return scored.groupBy(F.col("label").cast("int").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.expr(
            "CAST(sum(CAST(s_ppm AS DECIMAL(38,0))) div count(1) AS BIGINT)"
        ).alias("mean_s_ppm"),
        F.sum(F.when(F.col("s_ppm") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_misassigned"),
    )


# ----------------------------------- text-embedding cross-modal correlation

@register(
    "p_text_embedding_corr",
    f"""
WITH q AS (
  SELECT vec_id,
         list_aggregate(
           list_transform({{MU}}, v -> v * v), 'sum') AS norm2
  FROM embeddings
),
j AS (
  SELECT CAST(d.n_chars AS BIGINT) AS x, CAST(q.norm2 AS BIGINT) AS y
  FROM documents d JOIN q ON q.vec_id = d.doc_id
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
         sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy,
         sum(x::HUGEINT * y) AS sxy
  FROM j
)
SELECT n AS n_docs,
       CAST(floor(1000000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
                  / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                     * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) + 0.5)
            AS BIGINT) AS pearson_ppm
FROM m
""".replace("{MU}", micro_units_sql()),
    tags=("pipeline", "embedding", "audit"),
    doc="cross-modal sanity correlation: Pearson r between document length "
    "(n_chars) and embedding L2-norm² over the aligned doc_id = vec_id "
    "rows, in ppm — embeddings whose norm tracks raw length leak length "
    "into cosine rankings (the normalize-before-indexing check).  Integer "
    "moment sums in HUGEINT/DECIMAL(38,0); one sqrt product evaluated in "
    "identical textual order on both engines then floor-requantized; "
    "1 output row.  (doc_id/vec_id alignment is a property of the shared "
    "testdata; production pipelines carry an explicit mapping)",
)
def q_text_embedding_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    q = emb.select(
        "vec_id",
        F.aggregate(
            micro_units("embedding"),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v * v,
        ).alias("norm2"),
    )
    j = docs.join(q, docs.doc_id == q.vec_id).select(
        F.col("n_chars").cast("long").alias("x"), F.col("norm2").alias("y")
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr(
            "CAST(floor(1000000.0"
            " * CAST(count(1) * sum(CAST(x AS DECIMAL(38,0)) * y)"
            "        - sum(CAST(x AS DECIMAL(38,0))) * sum(CAST(y AS DECIMAL(38,0)))"
            "   AS DOUBLE)"
            " / (sqrt(CAST(count(1) * sum(CAST(x AS DECIMAL(38,0)) * x)"
            "             - sum(CAST(x AS DECIMAL(38,0))) * sum(CAST(x AS DECIMAL(38,0)))"
            "        AS DOUBLE))"
            "    * sqrt(CAST(count(1) * sum(CAST(y AS DECIMAL(38,0)) * y)"
            "               - sum(CAST(y AS DECIMAL(38,0))) * sum(CAST(y AS DECIMAL(38,0)))"
            "          AS DOUBLE))) + 0.5) AS BIGINT)"
        ).alias("pearson_ppm"),
    )


# -------------------------------------- source x label contingency

@register(
    "p_label_source_contingency",
    """
WITH j AS (
  SELECT d.source, e.label
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
),
cells AS (
  SELECT source, CAST(label AS INTEGER) AS label, CAST(count(*) AS BIGINT) AS n
  FROM j GROUP BY source, label
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM j),
marg AS (
  SELECT c.source, c.label, c.n,
         sum(c.n) OVER (PARTITION BY c.source) AS n_src,
         sum(c.n) OVER (PARTITION BY c.label) AS n_lab
  FROM cells c
),
chi AS (
  SELECT CAST(sum(
           ((1000000::HUGEINT * n * n_total) // (n_src * n_lab)
            - 1000000) * ((1000000::HUGEINT * n * n_total) // (n_src * n_lab)
            - 1000000) * n_src * n_lab // (1000000::HUGEINT * 1000000 * n_total)
         ) AS BIGINT) AS chi2_scaled
  FROM marg, tot
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM cells) AS n_cells,
       (SELECT n_total FROM tot) AS n_docs,
       chi2_scaled
FROM chi
""",
    tags=("pipeline", "audit"),
    doc="source x embedding-label contingency: integer-scaled chi-square "
    "statistic over the aligned doc/vec rows — a strong association "
    "means the embedding clusters mirror the source mix (label leakage "
    "into any label-blocked ANN/dedup).  Each cell's (obs/exp - 1)² "
    "term is computed on ppm-scaled integers with HUGEINT/DECIMAL "
    "lifts, summed exactly; marginals via partition-keyed windows over "
    "the bounded cell grid; 1 output row",
)
def q_label_source_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    j = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "source", F.col("label").cast("int").alias("label")
    )
    from pyspark.sql import Window as W

    cells = track_cached(
        j.groupBy("source", "label").agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = cells.agg(F.sum("n").cast("long").alias("n_total"))
    marg = (
        cells.withColumn("n_src", F.sum("n").over(W.partitionBy("source")))
        .withColumn("n_lab", F.sum("n").over(W.partitionBy("label")))
        .crossJoin(F.broadcast(tot))
    )
    chi = marg.agg(
        F.expr(
            "CAST(sum("
            " ((CAST(1000000 AS DECIMAL(38,0)) * n * n_total) div (n_src * n_lab)"
            "  - 1000000)"
            " * ((CAST(1000000 AS DECIMAL(38,0)) * n * n_total) div (n_src * n_lab)"
            "  - 1000000) * n_src * n_lab"
            " div (CAST(1000000 AS DECIMAL(38,0)) * 1000000 * n_total)"
            ") AS BIGINT)"
        ).alias("chi2_scaled")
    )
    n_cells = cells.agg(F.count(F.lit(1)).cast("long").alias("n_cells"))
    return (
        chi.crossJoin(F.broadcast(n_cells))
        .crossJoin(F.broadcast(tot))
        .select("n_cells", F.col("n_total").alias("n_docs"), "chi2_scaled")
    )


# --------------------------------------- IVF probe-count recall curve

_IVF_CURVE_PROBES = [0, 1, 2, 3]
_IVF_CURVE_NPROBES = (1, 2, 4)
_IVF_CURVE_K = 5


def _ivf_recall_curve_sql() -> str:
    from kafka_replicator_spark.functions.similarity import (
        brute_force_topk_sql,
        ivf_topk_multiprobe_sql,
    )

    per_np = []
    for np_ in _IVF_CURVE_NPROBES:
        per_np.append(
            f"""SELECT {np_} AS nprobe,
       CAST(count(*) AS BIGINT) AS n_hits,
       CAST((1000000 * count(*)) // {len(_IVF_CURVE_PROBES) * _IVF_CURVE_K} AS BIGINT)
         AS recall_ppm
FROM (SELECT probe_id, neighbor_id
      FROM ({ivf_topk_multiprobe_sql(_IVF_CURVE_PROBES, k=_IVF_CURVE_K, nprobe=np_)}))
  ivf JOIN bf USING (probe_id, neighbor_id)"""
        )
    union = "\nUNION ALL ".join(per_np)
    return f"""
WITH bf AS MATERIALIZED (
  SELECT probe_id, neighbor_id
  FROM ({brute_force_topk_sql(_IVF_CURVE_PROBES, k=_IVF_CURVE_K)})
)
SELECT CAST(nprobe AS BIGINT) AS nprobe, n_hits, recall_ppm FROM ({union})
"""


@register(
    "p_ivf_probe_recall_curve",
    _ivf_recall_curve_sql(),
    tags=("pipeline", "similarity", "audit"),
    doc="IVF recall-vs-nprobe curve: exact recall@5 of the multiprobe "
    "search against the brute-force baseline at nprobe = 1/2/4 over the "
    "probe set — the tuning curve that sets the accuracy/cost dial "
    "(p_ivf_cost_audit gives the cost side).  The intersection join "
    "compares two <=20-row top-k frames per point; integer hit counts "
    "in exact ppm; 3 output rows",
)
def q_ivf_probe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions import similarity

    emb = track_cached(load_table(spark, sf_dir, "embeddings"))
    bf = track_cached(
        similarity.brute_force_topk(emb, _IVF_CURVE_PROBES, k=_IVF_CURVE_K).select(
            "probe_id", "neighbor_id"
        )
    )
    denom = len(_IVF_CURVE_PROBES) * _IVF_CURVE_K
    out = None
    for np_ in _IVF_CURVE_NPROBES:
        ivf = similarity.ivf_topk_multiprobe(
            emb, _IVF_CURVE_PROBES, k=_IVF_CURVE_K, nprobe=np_
        ).select("probe_id", "neighbor_id")
        frame = ivf.join(bf, ["probe_id", "neighbor_id"]).agg(
            F.lit(np_).cast("long").alias("nprobe"),
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.expr(f"CAST((1000000 * count(1)) div {denom} AS BIGINT)").alias(
                "recall_ppm"
            ),
        )
        out = frame if out is None else out.unionAll(frame)
    return out


# ------------------------------------------------ maximum drawdown

@register(
    "a_max_drawdown",
    f"""
WITH d AS (
  SELECT epoch_us(o_orderdate) // {_DAY_US} AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM orders GROUP BY day
),
c AS (
  SELECT day,
         sum(cents) OVER (ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM d
),
dd AS (
  SELECT day, cum,
         max(cum) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM c
)
SELECT CAST(count(*) AS BIGINT) AS n_days,
       CAST(max(peak - cum) AS BIGINT) AS max_drawdown_cents,
       CAST(max(peak) AS BIGINT) AS final_peak_cents
FROM dd
""",
    tags=("analytics", "timeseries"),
    doc="maximum drawdown of the cumulative daily revenue path: running "
    "peak minus current cumulative, maximized — the path statistic "
    "behind volatility dashboards (a revenue series never draws down; "
    "the statistic is exercised on deviations when order flow dips).  "
    "Pure integer cents over day-grain cumulative windows "
    "(bounded-grain exemption); 1 output row",
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.expr(f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {_DAY_US}").alias(
                "day"
            ),
            F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
        )
        .groupBy("day")
        .agg(F.expr("CAST(sum(v) * 100 AS BIGINT)").alias("cents"))
    )
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = d.select("day", F.sum("cents").over(wc).alias("cum"))
    withpeak = c.select(
        "cum",
        F.max("cum")
        .over(Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("peak"),
    )
    return withpeak.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.max(F.col("peak") - F.col("cum")).cast("long").alias("max_drawdown_cents"),
        F.max("peak").cast("long").alias("final_peak_cents"),
    )


# ------------------------------------------- SimHash bit-balance audit

_SBB_BITS = 32  # functions.dedup.SIMHASH_BITS


def _simhash_bit_balance_sql() -> str:
    from kafka_replicator_spark.functions.dedup import simhash_sql

    ones = ",\n         ".join(
        f"CAST(sum((simhash >> {b}) & 1) AS BIGINT) AS o{b}"
        for b in range(_SBB_BITS)
    )
    unpivot = "\n  UNION ALL ".join(
        f"SELECT CAST({b} AS BIGINT) AS bit, n, o{b} AS ones FROM agg"
        for b in range(_SBB_BITS)
    )
    return f"""
WITH sig AS MATERIALIZED ({simhash_sql()}),
agg AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n,
         {ones}
  FROM sig
),
bits AS (
  {unpivot}
)
SELECT bit, n AS n_docs, ones,
       CAST((1000000 * abs(2 * ones - n)) // n AS BIGINT) AS dev_ppm
FROM bits
"""


@register(
    "p_simhash_bit_balance",
    _simhash_bit_balance_sql(),
    tags=("pipeline", "dedup"),
    doc="per-bit ones-ratio audit of the 32-bit SimHash fingerprints: a "
    "healthy token hash leaves every fingerprint bit near 50% ones "
    "across the corpus; a skewed bit weakens the banded near-dup "
    "recall guarantee (all pairs collide in the degenerate band).  "
    "dev_ppm = 1e6·|2·ones − n|/n per bit.  The plan is ONE scalar "
    "aggregate over the signature frame (32 conditional sums, all "
    "map-side partial) followed by a 32-element literal-array explode "
    "of the single row — no per-bit fan-out ever touches the corpus; "
    "32 output rows at any scale",
)
def q_simhash_bit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions import dedup as dd

    sig = dd.simhash(load_table(spark, sf_dir, "documents"))
    aggs = [
        F.sum(F.expr(f"(shiftright(simhash, {b}) & 1)")).cast("long").alias(f"o{b}")
        for b in range(_SBB_BITS)
    ]
    row = sig.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n"), *aggs)
    arr = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("bit"), F.col(f"o{b}").alias("ones")
            )
            for b in range(_SBB_BITS)
        ]
    )
    return (
        row.select("n", F.explode(arr).alias("s"))
        .select(
            F.col("s.bit").alias("bit"),
            F.col("n").alias("n_docs"),
            F.col("s.ones").alias("ones"),
        )
        .withColumn(
            "dev_ppm",
            F.expr("(1000000 * abs(2 * ones - n_docs)) div n_docs").cast("long"),
        )
    )


# --------------------------------------- scalar int8 quantization audit

@register(
    "p_scalar_quant_error",
    f"""
WITH e AS MATERIALIZED (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS dim,
         unnest({micro_units_sql('embedding')}) AS v
  FROM embeddings
),
d AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM e GROUP BY dim),
je AS (
  SELECT e.dim, mn, mx,
         CASE WHEN mx > mn
              THEN abs(v * 255 - (mn * 255 + (((v - mn) * 255) // (mx - mn))
                                  * (mx - mn)))
              ELSE 0 END AS err
  FROM e JOIN d ON e.dim = d.dim
)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(min(mn) AS BIGINT) AS min_micro,
       CAST(max(mx) AS BIGINT) AS max_micro,
       CAST(sum(err) AS BIGINT) AS sum_err_255,
       CAST(max(err) AS BIGINT) AS max_err_255
FROM je GROUP BY dim
""",
    tags=("pipeline", "embeddings"),
    doc="int8 scalar-quantization error audit, the affine per-dimension "
    "baseline next to p_pq_distortion's codebook path: each dimension "
    "maps its [min, max] micro-unit range onto 256 levels, and the "
    "reconstruction error is measured EXACTLY in 1/255ths of a "
    "micro-unit — err = |255·v − (255·mn + q·(mx−mn))| with "
    "q = ((v−mn)·255) div (mx−mn), pure integer arithmetic both "
    "engines reproduce bit-for-bit (micro_units rule; v−mn ≥ 0 so "
    "trunc-div == floor-div).  Plan: posexplode → 64-row per-dim "
    "min/max agg → BROADCAST join back → per-dim error agg; the error "
    "sum is lifted to DECIMAL(38,0)/HUGEINT before the fold (at 1e12 "
    "rows the int64 sum wraps).  Constant dimensions quantize to level "
    "0 with zero error (guarded on both engines — DuckDB // by zero "
    "raises)",
)
def q_scalar_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", micro_units("embedding").alias("em")).select(
        "vec_id", F.posexplode("em").alias("dim", "v")
    )
    dims = e.groupBy("dim").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    err = F.expr(
        "CASE WHEN mx > mn"
        " THEN abs(v * 255 - (mn * 255 + (((v - mn) * 255) div (mx - mn))"
        " * (mx - mn)))"
        " ELSE CAST(0 AS BIGINT) END"
    )
    return (
        e.join(F.broadcast(dims), "dim")
        .select(F.col("dim").cast("long").alias("dim"), "mn", "mx", err.alias("err"))
        .groupBy("dim")
        .agg(
            F.min("mn").cast("long").alias("min_micro"),
            F.max("mx").cast("long").alias("max_micro"),
            F.sum(F.col("err").cast("decimal(38,0)")).cast("long").alias("sum_err_255"),
            F.max("err").cast("long").alias("max_err_255"),
        )
    )


# ------------------------------------------- Laspeyres price index

@register(
    "a_laspeyres_price_index",
    """
WITH py AS MATERIALIZED (
  SELECT l_partkey, year(o_orderdate) AS yr,
         CAST(sum(l_quantity) AS BIGINT) AS qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_partkey, yr
),
base AS (SELECT min(yr) AS y0 FROM py),
b AS (
  SELECT l_partkey, qty AS q0, (cents * 1000000) // qty AS up0
  FROM py, base WHERE yr = y0
),
t AS (SELECT l_partkey, yr, (cents * 1000000) // qty AS upt FROM py),
j AS (SELECT yr, q0, up0, upt FROM t JOIN b USING (l_partkey))
SELECT CAST(yr AS BIGINT) AS yr,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST((1000000::HUGEINT * sum(CAST(upt AS HUGEINT) * q0))
            // sum(CAST(up0 AS HUGEINT) * q0) AS BIGINT) AS laspeyres_ppm
FROM j GROUP BY yr
""",
    tags=("analytics", "timeseries"),
    doc="Laspeyres price index per year against the first year's basket: "
    "each part's unit price is its yearly cents-per-unit in EXACT "
    "micro-cents ((cents·1e6) div qty — qty is integral 1..50, the "
    "decimal→bigint cast is exact), the index weights target-year unit "
    "prices by BASE-year quantities, and the ratio is exact ppm with "
    "both fold operands lifted to DECIMAL(38,0)/HUGEINT (unit-price × "
    "quantity products summed over the part universe pass 2^63 at "
    "warehouse scale).  The basket is the inner join with the base "
    "year, so entering/exiting parts never skew the ratio; the "
    "part-grain join keys on l_partkey (shuffle-colocated, "
    "AQE-broadcastable when the base-year frame is small); "
    "year-cardinality output",
)
def q_laspeyres_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("yr")
    )
    py = track_cached(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_partkey", "yr")
        .agg(
            F.sum("l_quantity").cast("long").alias("qty"),
            F.expr(
                "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)"
            ).alias("cents"),
        )
    )
    base = py.groupBy().agg(F.min("yr").alias("y0"))
    b = (
        py.join(F.broadcast(base), py.yr == base.y0)
        .select(
            "l_partkey",
            F.col("qty").alias("q0"),
            F.expr("(cents * 1000000) div qty").alias("up0"),
        )
    )
    t = py.select(
        "l_partkey", "yr", F.expr("(cents * 1000000) div qty").alias("upt")
    )
    j = t.join(b, "l_partkey")
    return j.groupBy(F.col("yr").cast("long").alias("yr")).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0))"
            " * sum(CAST(upt AS DECIMAL(38,0)) * q0))"
            " div sum(CAST(up0 AS DECIMAL(38,0)) * q0) AS BIGINT)"
        ).alias("laspeyres_ppm"),
    )


# -------------------------------------------- Mann-Whitney weekend test

@register(
    "a_mann_whitney_weekend",
    f"""
WITH d AS MATERIALIZED (
  SELECT epoch_us(o_orderdate) // {_DAY_US} AS day,
         CAST(max(CASE WHEN dayofweek(o_orderdate) IN (0, 6) THEN 1
                       ELSE 0 END) AS INTEGER) AS weekend,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM orders GROUP BY day
),
r AS (
  SELECT weekend, row_number() OVER (ORDER BY cents, day) AS rk FROM d
)
SELECT CAST(sum(weekend) AS BIGINT) AS n_weekend,
       CAST(sum(1 - weekend) AS BIGINT) AS n_weekday,
       CAST(sum(CASE WHEN weekend = 1 THEN rk ELSE 0 END) AS BIGINT)
         AS rank_sum_weekend,
       CAST(sum(CASE WHEN weekend = 1 THEN rk ELSE 0 END)
            - sum(weekend) * (sum(weekend) + 1) // 2 AS BIGINT) AS u_weekend,
       CAST((1000000 * (sum(CASE WHEN weekend = 1 THEN rk ELSE 0 END)
                        - sum(weekend) * (sum(weekend) + 1) // 2))
            // (sum(weekend) * sum(1 - weekend)) AS BIGINT) AS auc_ppm
FROM r
""",
    tags=("analytics", "stats"),
    doc="Mann-Whitney U rank-sum test of weekend vs weekday daily revenue "
    "— the nonparametric sibling of a_weekend_effect_ttest (no normality "
    "assumption), and U/(n1·n2) is EXACTLY the AUC of 'weekend revenue "
    "beats weekday revenue', reported in exact ppm.  Daily cents are "
    "integral; the rank is row_number with the deterministic (cents, "
    "day) tie-break both engines sort identically (the spearman rule).  "
    "The global rank window runs on the DAY-grain frame (~2.4k rows at "
    "any scale — the documented bounded-grain exemption); Spark "
    "dayofweek is 1-based (Sun=1, Sat=7) vs DuckDB 0-based (Sun=0, "
    "Sat=6)",
)
def q_mann_whitney_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.expr(
                f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {_DAY_US}"
            ).alias("day")
        )
        .agg(
            F.max(
                F.expr(
                    "CAST(dayofweek(o_orderdate) IN (1, 7) AS INT)"
                )
            ).alias("weekend"),
            F.expr(
                "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)"
            ).alias("cents"),
        )
    )
    w = Window.orderBy("cents", "day")
    r = d.select("weekend", F.row_number().over(w).alias("rk"))
    return r.groupBy().agg(
        F.sum("weekend").cast("long").alias("n_weekend"),
        F.sum(F.expr("1 - weekend")).cast("long").alias("n_weekday"),
        F.sum(F.expr("CASE WHEN weekend = 1 THEN rk ELSE 0 END"))
        .cast("long")
        .alias("rank_sum_weekend"),
        F.expr(
            "CAST(sum(CASE WHEN weekend = 1 THEN rk ELSE 0 END)"
            " - sum(weekend) * (sum(weekend) + 1) div 2 AS BIGINT)"
        ).alias("u_weekend"),
        F.expr(
            "CAST((1000000 * (sum(CASE WHEN weekend = 1 THEN rk ELSE 0 END)"
            " - sum(weekend) * (sum(weekend) + 1) div 2))"
            " div (sum(weekend) * sum(1 - weekend)) AS BIGINT)"
        ).alias("auc_ppm"),
    )


# ------------------------------------------------------- ANN NDCG@5

#: discount weights 1e6/log2(rank+1) for ranks 1..5 and their prefix sums
#: (the ideal DCG for n relevant hits) — PRECOMPUTED EXACT LITERALS so no
#: runtime log ever runs on either engine
_NDCG_W = (1000000, 630930, 500000, 430677, 386853)
_NDCG_IDCG = (1000000, 1630930, 2130930, 2561607, 2948460)
_NDCG_PROBES = [0, 1, 2, 3, 4, 5, 6, 7]


def _ndcg_sql() -> str:
    from kafka_replicator_spark.functions import similarity

    w_case = " ".join(
        f"WHEN {r + 1} THEN {w}" for r, w in enumerate(_NDCG_W)
    )
    idcg_case = " ".join(
        f"WHEN {n + 1} THEN {c}" for n, c in enumerate(_NDCG_IDCG)
    )
    return f"""
WITH ann AS (
  SELECT probe_id, neighbor_id, rank
  FROM ({similarity.ann_topk_sql(_NDCG_PROBES, k=5, n_planes=4, dim=64)})
),
lbl AS (SELECT vec_id, label FROM embeddings),
gains AS (
  SELECT ann.probe_id,
         CAST(count(*) AS BIGINT) AS n_rel,
         CAST(sum(CASE ann.rank {w_case} ELSE 0 END) AS BIGINT) AS dcg_micro
  FROM ann
  JOIN lbl pl ON pl.vec_id = ann.probe_id
  JOIN lbl nl ON nl.vec_id = ann.neighbor_id
  WHERE nl.label = pl.label
  GROUP BY ann.probe_id
),
base AS (SELECT DISTINCT probe_id FROM ann)
SELECT base.probe_id,
       coalesce(g.n_rel, 0) AS n_rel,
       coalesce(g.dcg_micro, 0) AS dcg_micro,
       CASE WHEN g.n_rel IS NULL THEN 0
            ELSE (1000000 * g.dcg_micro)
                 // (CASE g.n_rel {idcg_case} ELSE 1 END) END AS ndcg_ppm
FROM base LEFT JOIN gains g USING (probe_id)
"""


@register(
    "p_ann_ndcg",
    _ndcg_sql(),
    tags=("pipeline", "similarity", "eval"),
    doc="NDCG@5 of the LSH-bucketed ANN ranking against same-label "
    "relevance — completes the retrieval-eval family (recall, "
    "precision, MRR, AUC, ECE already registered): DCG discounts are "
    "the 1e6/log2(rank+1) weights PRECOMPUTED as exact integer "
    "literals (no runtime log on either engine), the ideal DCG is the "
    "prefix sum for the probe's hit count, and ndcg_ppm is an exact "
    "integer ratio.  Labels ride broadcast joins onto the ≤k-row "
    "per-probe frame; probe-count output",
)
def q_ann_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    # cached: gains and base self-join the ann frame — without the cache
    # the LSH bucket join + rank window run twice (the cache-before-
    # self-join rule)
    ann = track_cached(
        similarity.ann_topk(emb, _NDCG_PROBES, k=5, n_planes=4, dim=64)
    )
    lbl = emb.select("vec_id", "label")
    # explicit probe bound (≤ |probes| rows by construction)
    pl = lbl.filter(F.col("vec_id").isin(_NDCG_PROBES)).select(
        F.col("vec_id").alias("probe_id"), F.col("label").alias("p_lbl")
    )
    nl = lbl.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_lbl")
    )
    w_case = " ".join(f"WHEN {r + 1} THEN {w}" for r, w in enumerate(_NDCG_W))
    idcg_case = " ".join(
        f"WHEN {n + 1} THEN {c}" for n, c in enumerate(_NDCG_IDCG)
    )
    # Probe-grain broadcast (≤ probes×k rows), never the corpus-scale label
    # projections (VERDICT r06 #1).
    gains = (
        F.broadcast(ann.join(pl, "probe_id"))
        .join(nl, "neighbor_id")
        .where(F.col("n_lbl") == F.col("p_lbl"))
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rel"),
            F.sum(F.expr(f"CASE rank {w_case} ELSE 0 END"))
            .cast("long")
            .alias("dcg_micro"),
        )
    )
    base = ann.select("probe_id").distinct()
    return base.join(gains, "probe_id", "left").select(
        "probe_id",
        F.coalesce(F.col("n_rel"), F.lit(0)).cast("long").alias("n_rel"),
        F.coalesce(F.col("dcg_micro"), F.lit(0)).cast("long").alias("dcg_micro"),
        F.expr(
            "CASE WHEN n_rel IS NULL THEN 0"
            f" ELSE (1000000 * dcg_micro) div (CASE n_rel {idcg_case} ELSE 1 END)"
            " END"
        )
        .cast("long")
        .alias("ndcg_ppm"),
    )


# ------------------------------------- source x label mutual information

#: per-cell MI term over exact integer counts — the expression TEXT is
#: shared verbatim by both engines, then quantized to integer nano
#: BEFORE the fold (the proven ln re-quantization rule)
_MI_TERM = (
    "ln((CAST(n AS DOUBLE) * n_total) / (CAST(n_src AS DOUBLE) * n_lab))"
)


@register(
    "p_label_source_mi",
    f"""
WITH j AS (
  SELECT d.source, e.label
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
),
cells AS (
  SELECT source, CAST(label AS INTEGER) AS label, CAST(count(*) AS BIGINT) AS n
  FROM j GROUP BY source, label
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM j),
marg AS (
  SELECT c.source, c.label, c.n,
         sum(c.n) OVER (PARTITION BY c.source) AS n_src,
         sum(c.n) OVER (PARTITION BY c.label) AS n_lab
  FROM cells c
),
terms AS (
  SELECT n,
         CAST(floor({_MI_TERM} * 1000000000 + 0.5) AS BIGINT) AS t_nano
  FROM marg, tot
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM cells) AS n_cells,
       (SELECT n_total FROM tot) AS n_docs,
       CAST(sum(n * t_nano) // (SELECT n_total FROM tot) AS BIGINT) AS mi_nano
FROM terms
""",
    tags=("pipeline", "audit"),
    doc="mutual information (nats, integer nano-scale) between document "
    "source and embedding label over the aligned doc_id = vec_id rows — "
    "the effect-size companion to p_label_source_contingency's "
    "chi-square (chi2 says 'associated', MI says 'how many bits of "
    "source leak into the label').  MI sums only observed cells "
    "(0·ln0 = 0 drops empties), each cell's ln term is computed from "
    "exact integer counts with the expression text shared verbatim by "
    "both engines and quantized to integer nano BEFORE the weighted "
    "fold (the ln re-quantization rule); marginals via partition-keyed "
    "windows over the bounded cell grid; 1 output row",
)
def q_label_source_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    j = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "source", F.col("label").cast("int").alias("label")
    )
    j = track_cached(j)
    cells = j.groupBy("source", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    marg = cells.select(
        "n",
        F.sum("n").over(W.partitionBy("source")).alias("n_src"),
        F.sum("n").over(W.partitionBy("label")).alias("n_lab"),
    )
    tot = j.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    n_cells = cells.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_cells")
    )
    terms = marg.join(F.broadcast(tot), how="cross").select(
        "n",
        "n_total",
        F.expr(f"CAST(floor({_MI_TERM} * 1000000000 + 0.5) AS BIGINT)").alias(
            "t_nano"
        ),
    )
    mi = terms.groupBy().agg(
        F.expr("CAST(sum(n * t_nano) div any_value(n_total) AS BIGINT)").alias(
            "mi_nano"
        ),
        F.any_value("n_total").alias("n_docs"),
    )
    return mi.join(F.broadcast(n_cells), how="cross").select(
        "n_cells", "n_docs", "mi_nano"
    )


# ------------------------------------------------ label propagation

_LPA_ROUNDS = 3


def _lpa_sql() -> str:
    # every CTE is multiply-referenced — MATERIALIZED per the k-core rule
    from kafka_replicator_spark.functions import graph, similarity

    edges = graph.undirect_sql(similarity.label_knn_graph_sql())
    parts = [
        f"e AS MATERIALIZED ({edges})",
        "nb AS MATERIALIZED (SELECT u AS node, v AS nb FROM e"
        " UNION ALL SELECT v, u FROM e)",
        "l0 AS MATERIALIZED (SELECT DISTINCT node, node AS lbl FROM nb)",
    ]
    for i in range(1, _LPA_ROUNDS + 1):
        parts.append(
            f"""c{i} AS MATERIALIZED (
  SELECT n.node, l.lbl, CAST(count(*) AS BIGINT) AS cnt
  FROM nb n JOIN l{i - 1} l ON l.node = n.nb
  GROUP BY n.node, l.lbl
)"""
        )
        parts.append(
            f"""l{i} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           row_number() OVER (PARTITION BY node
                              ORDER BY cnt DESC, lbl ASC) AS rn
    FROM c{i}
  ) WHERE rn = 1
)"""
        )
    stats = "\nUNION ALL ".join(
        f"SELECT {i} AS round,"
        f" (SELECT count(*) FROM l{i} a JOIN l{i - 1} b USING (node)"
        f"  WHERE a.lbl <> b.lbl) AS n_changed,"
        f" (SELECT count(DISTINCT lbl) FROM l{i}) AS n_communities"
        for i in range(1, _LPA_ROUNDS + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT CAST(round AS BIGINT) AS round,"
        " CAST(n_changed AS BIGINT) AS n_changed,"
        " CAST(n_communities AS BIGINT) AS n_communities"
        f" FROM ({stats})"
    )


@register(
    "p_label_propagation",
    _lpa_sql(),
    tags=("pipeline", "graph"),
    doc="synchronous label-propagation community detection (Raghavan et "
    f"al. 2007), {_LPA_ROUNDS} unrolled rounds on the label-blocked kNN "
    "graph: every node starts as its own community and adopts its "
    "neighbors' most frequent label each round with the DETERMINISTIC "
    "(count DESC, label ASC) tie-break — the async/random variant of "
    "the paper is not oracle-checkable, the synchronous total-order "
    "form is.  Per round: one |2E| join + count-grain aggregate + a "
    "rank window keyed by node (per-key cardinality bounded by the "
    "node's degree, never a global window); per-round convergence "
    "counts are eager metadata-scale collects that truncate lineage "
    "(the k-core rule); distinct from p_dup_clusters' min-label "
    "connected components — LPA separates dense regions within a "
    "component; 3 output rows",
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.functions import graph, similarity

    e = track_cached(
        graph.undirect(
            similarity.label_knn_graph(load_table(spark, sf_dir, "embeddings"))
        )
    )
    nb = track_cached(
        e.select(F.col("u").alias("node"), F.col("v").alias("nb")).unionAll(
            e.select(F.col("v").alias("node"), F.col("u").alias("nb"))
        )
    )
    labels = track_cached(
        nb.select("node").distinct().select("node", F.col("node").alias("lbl"))
    )
    w = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("lbl"))
    stats = []
    for i in range(1, _LPA_ROUNDS + 1):
        cnts = (
            nb.join(
                labels.select(
                    F.col("node").alias("nb"), F.col("lbl").alias("lbl")
                ),
                "nb",
            )
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        new = track_cached(
            cnts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
        n_changed = (
            new.alias("a")
            .join(labels.alias("b"), "node")
            .filter(F.col("a.lbl") != F.col("b.lbl"))
            .count()
        )
        n_comm = new.select("lbl").distinct().count()
        stats.append((i, n_changed, n_comm))
        labels = new
    return local_frame(spark, stats, "round long, n_changed long, n_communities long")


# ------------------------------------------------ Cramér's V effect size

#: per-cell chi-square term over exact integer counts — shared verbatim
#: text; ln-style nano quantization BEFORE the fold.  The OUTER sqrt is
#: safe unquantized: IEEE 754 requires correctly-rounded sqrt, so both
#: engines return the identical double (unlike ln/exp).
_CV_TERM = (
    "((n - CAST(n_i AS DOUBLE) * n_j / n_total)"
    " * (n - CAST(n_i AS DOUBLE) * n_j / n_total))"
    " / (CAST(n_i AS DOUBLE) * n_j / n_total)"
)


@register(
    "a_cramers_v",
    f"""
WITH cells AS (
  SELECT c_nationkey AS nk, c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n
  FROM customer GROUP BY nk, seg
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
               CAST(count(*) AS BIGINT) AS n_cells,
               CAST(count(DISTINCT nk) AS BIGINT) AS r,
               CAST(count(DISTINCT seg) AS BIGINT) AS c
        FROM cells),
marg AS (
  SELECT cells.n,
         sum(cells.n) OVER (PARTITION BY nk) AS n_i,
         sum(cells.n) OVER (PARTITION BY seg) AS n_j
  FROM cells
),
terms AS (
  SELECT CAST(floor({_CV_TERM} * 1000000000 + 0.5) AS BIGINT) AS t_nano
  FROM marg, tot
),
chi AS (SELECT CAST(sum(t_nano) AS BIGINT) AS chi2_nano FROM terms)
SELECT tot.n_total AS n_customers, tot.n_cells,
       chi.chi2_nano,
       CAST(floor(sqrt((CAST(chi2_nano AS DOUBLE) / 1000000000)
                       / (n_total * least(r - 1, c - 1))) * 1000000 + 0.5)
            AS BIGINT) AS cramers_v_ppm
FROM chi, tot
""",
    tags=("analytics", "stats"),
    doc="Cramér's V effect size of the nation × market-segment "
    "association over customers — the bounded-[0,1] companion to the "
    "chi-square statistic (chi2 grows with n, V does not).  Per-cell "
    "chi-square terms come from exact integer counts through a shared "
    "verbatim expression and are quantized to integer nano BEFORE the "
    "fold (the ln rule); the OUTER sqrt stays unquantized because IEEE "
    "754 sqrt is correctly rounded — bit-identical on both engines, "
    "unlike ln/exp.  Marginals via partition-keyed windows over the "
    "bounded 125-cell grid; 1 output row",
)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cust = load_table(spark, sf_dir, "customer")
    cells = track_cached(
        cust.groupBy(
            F.col("c_nationkey").alias("nk"), F.col("c_mktsegment").alias("seg")
        ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = cells.groupBy().agg(
        F.sum("n").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.countDistinct("nk").cast("long").alias("r"),
        F.countDistinct("seg").cast("long").alias("c"),
    )
    marg = cells.select(
        "n",
        F.sum("n").over(W.partitionBy("nk")).alias("n_i"),
        F.sum("n").over(W.partitionBy("seg")).alias("n_j"),
    )
    terms = marg.join(F.broadcast(tot), how="cross").select(
        F.expr(f"CAST(floor({_CV_TERM} * 1000000000 + 0.5) AS BIGINT)").alias(
            "t_nano"
        )
    )
    chi = terms.groupBy().agg(F.sum("t_nano").cast("long").alias("chi2_nano"))
    return chi.join(F.broadcast(tot), how="cross").select(
        F.col("n_total").alias("n_customers"),
        "n_cells",
        "chi2_nano",
        F.expr(
            "CAST(floor(sqrt((CAST(chi2_nano AS DOUBLE) / 1000000000)"
            " / (n_total * least(r - 1, c - 1))) * 1000000 + 0.5) AS BIGINT)"
        ).alias("cramers_v_ppm"),
    )


# -------------------------------------------- order-priority mix drift

@register(
    "a_priority_mix_drift",
    """
WITH y AS (
  SELECT year(o_orderdate) AS yr, o_orderpriority AS prio,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY yr, prio
),
s AS (
  SELECT yr, prio, CAST((1000000 * n) // sum(n) OVER (PARTITION BY yr)
                        AS BIGINT) AS share_ppm
  FROM y
),
base AS (SELECT prio, share_ppm AS base_share_ppm FROM s
         WHERE yr = (SELECT min(yr) FROM s))
SELECT s.prio AS priority,
       CAST(any_value(base.base_share_ppm) AS BIGINT) AS base_share_ppm,
       CAST(min(s.share_ppm) AS BIGINT) AS min_share_ppm,
       CAST(max(s.share_ppm) AS BIGINT) AS max_share_ppm,
       CAST(max(abs(s.share_ppm - base.base_share_ppm)) AS BIGINT)
         AS max_abs_drift_ppm
FROM s JOIN base ON base.prio = s.prio
GROUP BY s.prio
""",
    tags=("analytics", "drift"),
    doc="order-priority mix drift: each priority's yearly share of "
    "orders in exact ppm, with the maximum absolute drift against the "
    "first year's mix — the categorical-drift monitor on the orders "
    "fact (the analytics sibling of p_categorical_drift_chi2).  Year "
    "shares via a partition-keyed window over the bounded year × "
    "priority grid; priority-cardinality output (5 rows)",
)
def q_priority_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    y = track_cached(
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").alias("yr"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    s = track_cached(
        y.select(
            "yr",
            "prio",
            F.expr("CAST((1000000 * n) div sum(n) OVER (PARTITION BY yr) AS BIGINT)")
            .alias("share_ppm"),
        )
    )
    y0 = s.groupBy().agg(F.min("yr").alias("y0"))
    base = (
        s.join(F.broadcast(y0), s.yr == y0.y0)
        .select("prio", F.col("share_ppm").alias("base_share_ppm"))
    )
    return (
        s.join(F.broadcast(base), "prio")
        .groupBy(F.col("prio").alias("priority"))
        .agg(
            F.any_value("base_share_ppm").cast("long").alias("base_share_ppm"),
            F.min("share_ppm").cast("long").alias("min_share_ppm"),
            F.max("share_ppm").cast("long").alias("max_share_ppm"),
            F.max(F.expr("abs(share_ppm - base_share_ppm)"))
            .cast("long")
            .alias("max_abs_drift_ppm"),
        )
    )
