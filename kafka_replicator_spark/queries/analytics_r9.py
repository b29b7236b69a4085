"""Round-9 analytics queries: inequality/normality/association statistics
and operational profiles on the TPC-H-ish tables.

Reference parity: the reference engine has no analytics surface — these
extend the relational-analytics family with the standard report toolkit a
warehouse on the replicated data would run.  Cross-engine determinism
follows the house rules: exact integer/DECIMAL moment folds, per-row
ln/pow outputs quantized to nano/micro BEFORE any cross-row fold, money
through DECIMAL(18,2) cents, power-of-two quantile fractions only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_replicator_spark.core.schema import local_frame
from kafka_replicator_spark.queries import register
from kafka_replicator_spark.sources.tables import load_table


# ------------------------------------------------ Theil index (inequality)

@register(
    "a_theil_index_brand",
    """
WITH rev AS (
  SELECT p.p_brand AS brand,
         CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS HUGEINT) AS s
  FROM rev
),
terms AS (
  SELECT CAST(floor((cents::HUGEINT * n)::DOUBLE / s::DOUBLE
                    * ln((cents::HUGEINT * n)::DOUBLE / s::DOUBLE)
                    * 1000000000 + 0.5) AS BIGINT) AS t_nano
  FROM rev, tot
)
SELECT (SELECT n FROM tot) AS n_brands,
       CAST(sum(t_nano) // (SELECT n FROM tot) AS BIGINT) AS theil_nano
FROM terms
""",
    tags=("analytics", "stats"),
    doc="Theil T inequality index of brand revenue in nano-nats: T = "
    "(1/n)·Σ r·ln(r) with r = x_i·n/Σx an exact integer ratio per brand — "
    "each brand's r·ln(r) term is quantized to nano BEFORE the integer "
    "fold (the house ln rule), so both engines fold identical integers.  "
    "The entropy-based companion to a_gini_brand_revenue (Theil "
    "decomposes across groups, Gini doesn't).  One fact-side "
    "aggregation at brand grain (~25 rows), no window",
)
def q_theil_index_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.expr(
                "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)"
            ).alias("cents")
        )
    )
    tot = rev.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
    )
    terms = rev.join(F.broadcast(tot)).select(
        "n",
        F.expr(
            "CAST(floor(CAST(CAST(cents AS DECIMAL(38,0)) * n AS DOUBLE) / CAST(s AS DOUBLE)"
            " * ln(CAST(CAST(cents AS DECIMAL(38,0)) * n AS DOUBLE) / CAST(s AS DOUBLE))"
            " * 1000000000 + 0.5) AS BIGINT)"
        ).alias("t_nano"),
    )
    return terms.groupBy("n").agg(
        F.expr("CAST(sum(t_nano) div n AS BIGINT)").alias("theil_nano")
    ).select(F.col("n").alias("n_brands"), "theil_nano")


# ----------------------------------------- Jarque-Bera normality statistic

@register(
    "a_jarque_bera_price",
    """
WITH v AS (
  SELECT CAST(floor(l_extendedprice) AS BIGINT) AS x FROM lineitem
),
m AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x::HUGEINT) AS HUGEINT) AS s1,
         CAST(sum(x::HUGEINT * x) AS HUGEINT) AS s2,
         CAST(sum(x::HUGEINT * x * x) AS HUGEINT) AS s3,
         CAST(sum(x::HUGEINT * x * x * x) AS HUGEINT) AS s4
  FROM v
),
c AS (
  SELECT CAST(n AS BIGINT) AS n_items,
         (n::DOUBLE * s2::DOUBLE - s1::DOUBLE * s1::DOUBLE)
           / (n::DOUBLE * n::DOUBLE) AS m2,
         (n::DOUBLE * n::DOUBLE * s3::DOUBLE
          - 3 * n::DOUBLE * s1::DOUBLE * s2::DOUBLE
          + 2 * s1::DOUBLE * s1::DOUBLE * s1::DOUBLE)
           / (n::DOUBLE * n::DOUBLE * n::DOUBLE) AS m3,
         (n::DOUBLE * n::DOUBLE * n::DOUBLE * s4::DOUBLE
          - 4 * n::DOUBLE * n::DOUBLE * s1::DOUBLE * s3::DOUBLE
          + 6 * n::DOUBLE * s1::DOUBLE * s1::DOUBLE * s2::DOUBLE
          - 3 * s1::DOUBLE * s1::DOUBLE * s1::DOUBLE * s1::DOUBLE)
           / (n::DOUBLE * n::DOUBLE * n::DOUBLE * n::DOUBLE) AS m4
  FROM m
)
SELECT n_items,
       CAST(floor(m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)) * 1000000000 + 0.5)
            AS BIGINT) AS skew_nano,
       CAST(floor((m4 / (m2 * m2) - 3) * 1000000000 + 0.5) AS BIGINT)
         AS excess_kurt_nano,
       CAST(floor(n_items / 6.0
                  * (m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2))
                     * (m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)))
                     + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4.0)
                  * 1000 + 0.5) AS BIGINT) AS jb_milli
FROM c
""",
    tags=("analytics", "stats"),
    doc="Jarque-Bera normality test statistic of whole-dollar line prices: "
    "raw moment sums are exact HUGEINT/DECIMAL(38,0) integers (floor() to "
    "dollars is unambiguous cross-engine, unlike a DECIMAL->BIGINT cast), "
    "central moments and the JB composition run in double on the single "
    "1-row frame with the identical expression shape on both engines "
    "(IEEE ops on identical integer inputs are bit-identical — the "
    "revenue-trend-OLS recipe), final skew/kurtosis/JB quantized.  No "
    "shuffle beyond one map-side-combinable aggregation",
)
def q_jarque_bera_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load_table(spark, sf_dir, "lineitem").select(
        F.expr("CAST(floor(l_extendedprice) AS BIGINT)").alias("x")
    )
    m = v.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("s1"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)) * x)").alias("s2"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)) * x * x)").alias("s3"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)) * x * x * x)").alias("s4"),
    )
    c = m.select(
        F.col("n").cast("long").alias("n_items"),
        F.expr(
            "(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
            " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
        ).alias("m2"),
        F.expr(
            "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(s3 AS DOUBLE)"
            " - 3 * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)"
            " + 2 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
            " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
        ).alias("m3"),
        F.expr(
            "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(s4 AS DOUBLE)"
            " - 4 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE)"
            " + 6 * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)"
            " - 3 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
            " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
        ).alias("m4"),
    )
    return c.select(
        "n_items",
        F.expr(
            "CAST(floor(m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)) * 1000000000 + 0.5) AS BIGINT)"
        ).alias("skew_nano"),
        F.expr(
            "CAST(floor((m4 / (m2 * m2) - 3) * 1000000000 + 0.5) AS BIGINT)"
        ).alias("excess_kurt_nano"),
        F.expr(
            "CAST(floor(n_items / 6.0"
            " * (m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2))"
            "    * (m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)))"
            "    + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4.0)"
            " * 1000 + 0.5) AS BIGINT)"
        ).alias("jb_milli"),
    )


# --------------------------------------------- log-log price elasticity

@register(
    "a_price_elasticity_brand",
    """
WITH v AS (
  SELECT p.p_brand AS brand,
         CAST(floor(ln(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)::DOUBLE
                       / (100.0 * l.l_quantity)) * 1000000000 + 0.5) AS BIGINT) AS x,
         CAST(floor(ln(CAST(l.l_quantity AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT) AS y
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
m AS (
  SELECT brand, CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x::HUGEINT) AS HUGEINT) AS sx,
         CAST(sum(y::HUGEINT) AS HUGEINT) AS sy,
         CAST(sum(x::HUGEINT * y) AS HUGEINT) AS sxy,
         CAST(sum(x::HUGEINT * x) AS HUGEINT) AS sxx
  FROM v GROUP BY brand
)
SELECT brand, CAST(n AS BIGINT) AS n_items,
       CAST(floor((n * sxy - sx * sy)::DOUBLE
                  / nullif((n * sxx - sx * sx)::DOUBLE, 0.0)
                  * 1000000000 + 0.5) AS BIGINT) AS elasticity_nano
FROM m ORDER BY brand
""",
    tags=("analytics", "stats"),
    doc="log-log OLS price elasticity of demand per brand: slope of "
    "ln(quantity) on ln(unit price) — unit price as an exact cents/qty "
    "ratio, both per-row ln terms quantized to nano BEFORE the "
    "HUGEINT/DECIMAL moment folds (the house rule), the one slope per "
    "brand computed in double from exact integers on the ~25-row brand "
    "grain.  One fact-side shuffle at brand grain, nullif guard on a "
    "zero-variance brand",
)
def q_price_elasticity_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    v = (
        l.join(p, l.l_partkey == p.p_partkey)
        .select(
            F.col("p_brand").alias("brand"),
            F.expr(
                "CAST(floor(ln(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS DOUBLE)"
                " / (100.0 * l_quantity)) * 1000000000 + 0.5) AS BIGINT)"
            ).alias("x"),
            F.expr(
                "CAST(floor(ln(CAST(l_quantity AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)"
            ).alias("y"),
        )
    )
    m = v.groupBy("brand").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)) * y)").alias("sxy"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)) * x)").alias("sxx"),
    )
    return m.select(
        "brand",
        F.col("n").cast("long").alias("n_items"),
        F.expr(
            "CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)"
            " / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0D)"
            " * 1000000000 + 0.5) AS BIGINT)"
        ).alias("elasticity_nano"),
    ).orderBy("brand")


# ------------------------------------------------ Cohen's kappa agreement

_KAPPA_VALUE_CUT = 150_000  # whole dollars


@register(
    "a_cohen_kappa_priority",
    f"""
WITH cls AS (
  SELECT CASE WHEN o_orderpriority < '3' THEN 1 ELSE 0 END AS urgent,
         CASE WHEN o_totalprice > {_KAPPA_VALUE_CUT} THEN 1 ELSE 0 END AS high_value
  FROM orders
),
ct AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(CASE WHEN urgent = 1 AND high_value = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS a,
         CAST(sum(CASE WHEN urgent = 1 AND high_value = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS b,
         CAST(sum(CASE WHEN urgent = 0 AND high_value = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS c,
         CAST(sum(CASE WHEN urgent = 0 AND high_value = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS d
  FROM cls
)
SELECT CAST(n AS BIGINT) AS n_orders,
       CAST(a AS BIGINT) AS both_yes,
       CAST(d AS BIGINT) AS both_no,
       CAST((1000000 * (n * (a + d) - ((a + b) * (a + c) + (c + d) * (b + d))))
            // nullif(n * n - ((a + b) * (a + c) + (c + d) * (b + d)), 0)
            AS BIGINT) AS kappa_ppm
FROM ct
""",
    tags=("analytics", "stats"),
    doc="Cohen's kappa between two derived order classifiers (urgent "
    "priority vs high order value) in exact ppm: kappa = (po - pe)/(1 - "
    "pe) cleared of denominators to ONE integer ratio — 1e6·(n(a+d) − "
    "Σ marginals)/(n² − Σ marginals) — so the whole statistic is "
    "HUGEINT/DECIMAL integer arithmetic, no float anywhere.  The "
    "chance-corrected companion to a_odds_ratio_weekend / a_cramers_v.  "
    "One map-side-combinable aggregation, 1-row output",
)
def q_cohen_kappa_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cls = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderpriority") < "3", 1).otherwise(0).alias("urgent"),
        F.when(F.col("o_totalprice") > _KAPPA_VALUE_CUT, 1).otherwise(0).alias(
            "high_value"
        ),
    )
    ct = cls.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.when((F.col("urgent") == 1) & (F.col("high_value") == 1), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("a"),
        F.sum(F.when((F.col("urgent") == 1) & (F.col("high_value") == 0), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("b"),
        F.sum(F.when((F.col("urgent") == 0) & (F.col("high_value") == 1), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("c"),
        F.sum(F.when((F.col("urgent") == 0) & (F.col("high_value") == 0), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("d"),
    )
    return ct.select(
        F.col("n").cast("long").alias("n_orders"),
        F.col("a").cast("long").alias("both_yes"),
        F.col("d").cast("long").alias("both_no"),
        F.expr(
            "CAST((1000000 * (n * (a + d) - ((a + b) * (a + c) + (c + d) * (b + d))))"
            " div nullif(n * n - ((a + b) * (a + c) + (c + d) * (b + d)),"
            " CAST(0 AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("kappa_ppm"),
    )


# --------------------------------------- order inter-arrival dispersion

@register(
    "a_interarrival_cv_segment",
    """
WITH o AS (
  SELECT c.c_mktsegment AS segment, o.o_custkey,
         CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT)
           AS day_idx
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
g AS (
  SELECT segment,
         day_idx - lag(day_idx) OVER (PARTITION BY o_custkey
                                      ORDER BY day_idx) AS gap
  FROM o
),
m AS (
  SELECT segment, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(gap) AS BIGINT) AS s,
         sum(gap::HUGEINT * gap) AS q
  FROM g WHERE gap IS NOT NULL GROUP BY segment
)
SELECT segment, n AS n_gaps,
       CAST((1000::HUGEINT * s) // n AS BIGINT) AS mean_gap_millidays,
       CAST(floor(1000000 * sqrt(CAST(n AS DOUBLE)
                                 * CAST(n * q - s::HUGEINT * s AS DOUBLE)
                                 / nullif(n - 1, 0)) / nullif(s, 0)) AS BIGINT)
         AS cv_ppm
FROM m ORDER BY segment
""",
    tags=("analytics", "stats"),
    doc="coefficient of variation of per-customer order inter-arrival gaps "
    "per market segment — the burstiness gauge of demand (cv≈1 is "
    "Poisson-like, higher is bursty): integer day gaps from a lag window "
    "keyed by CUSTOMER (each partition is one customer's ~10-30 orders, "
    "never a segment-wide sort), then the r_segment_size_cv "
    "HUGEINT-moment sqrt-chain per segment.  5-row output",
)
def q_interarrival_cv_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_custkey"),
        F.expr(
            "CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000 AS BIGINT)"
        ).alias("day_idx"),
    )
    w = Window.partitionBy("o_custkey").orderBy("day_idx")
    g = base.select(
        "segment", (F.col("day_idx") - F.lag("day_idx").over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    m = g.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("gap").cast("long").alias("s"),
        F.expr("sum(CAST(gap AS DECIMAL(38,0)) * gap)").alias("q"),
    )
    return m.select(
        "segment",
        F.col("n").alias("n_gaps"),
        F.expr("CAST((CAST(1000 AS DECIMAL(38,0)) * s) div n AS BIGINT)").alias(
            "mean_gap_millidays"
        ),
        F.expr(
            "CAST(floor(1000000 * sqrt(CAST(n AS DOUBLE)"
            " * CAST(n * q - CAST(s AS DECIMAL(38,0)) * s AS DOUBLE)"
            " / nullif(n - 1, 0)) / nullif(s, 0)) AS BIGINT)"
        ).alias("cv_ppm"),
    ).orderBy("segment")


# ------------------------------------------------ open-order backlog age

@register(
    "a_backlog_age_quartiles",
    """
WITH cutoff AS (
  SELECT CAST(max(epoch_us(o_orderdate) // 86400000000)
              AS BIGINT) AS cut FROM orders
),
open_o AS (
  SELECT o_orderpriority AS priority,
         (SELECT cut FROM cutoff)
           - CAST(epoch_us(o_orderdate) // 86400000000
                  AS BIGINT) AS age_days
  FROM orders WHERE o_orderstatus = 'O'
)
SELECT priority,
       CAST(count(*) AS BIGINT) AS n_open,
       CAST(quantile_cont(age_days, 0.25) * 4 AS BIGINT) AS q1_x4,
       CAST(quantile_cont(age_days, 0.5) * 4 AS BIGINT) AS med_x4,
       CAST(quantile_cont(age_days, 0.75) * 4 AS BIGINT) AS q3_x4
FROM open_o GROUP BY priority ORDER BY priority
""",
    tags=("analytics", "stats"),
    doc="age quartiles of the open-order backlog per priority (ages in "
    "days against the corpus's latest order date — span-relative, the "
    "F5 lesson): 0.25/0.5/0.75 are power-of-two fractions, so "
    "quantile_cont/percentile interpolate to exact QUARTER-integers on "
    "both engines — ×4 makes each an exact BIGINT (the winsorized-mean "
    "recipe).  The ops question behind the reference's lag alerting "
    "(§2.11): how stale is the undelivered tail, by priority",
)
def q_backlog_age_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cut = o.agg(
        F.expr(
            "CAST(max(unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000) AS BIGINT)"
        ).alias("cut")
    )
    open_o = (
        o.filter(F.col("o_orderstatus") == "O")
        .join(F.broadcast(cut))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.expr(
                "cut - CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP))"
                " div 86400000000 AS BIGINT)"
            ).alias("age_days"),
        )
    )
    return (
        open_o.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_open"),
            F.expr("CAST(percentile(age_days, 0.25) * 4 AS BIGINT)").alias("q1_x4"),
            F.expr("CAST(percentile(age_days, 0.5) * 4 AS BIGINT)").alias("med_x4"),
            F.expr("CAST(percentile(age_days, 0.75) * 4 AS BIGINT)").alias("q3_x4"),
        )
        .orderBy("priority")
    )


# ------------------------------------------- Markov chain entropy rate

@register(
    "a_markov_entropy_rate",
    """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events
), seq AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
           AS prev_type
  FROM e
), tr AS (
  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n_ij
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
), tot AS (
  SELECT prev_type, CAST(sum(n_ij) AS BIGINT) AS n_from FROM tr GROUP BY prev_type
), grand AS (
  SELECT CAST(sum(n_ij) AS BIGINT) AS n FROM tr
), terms AS (
  SELECT CAST(floor(CAST(tr.n_ij AS DOUBLE) / grand.n
                    * ln(CAST(tr.n_ij AS DOUBLE) / tot.n_from)
                    * 1000000000 + 0.5) AS BIGINT) AS t_nano
  FROM tr JOIN tot USING (prev_type) CROSS JOIN grand
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM tot) AS n_states,
       (SELECT n FROM grand) AS n_transitions,
       CAST(-sum(t_nano) AS BIGINT) AS entropy_rate_nano
FROM terms
""",
    tags=("analytics", "events", "stats"),
    doc="entropy rate of the first-order event-type Markov chain (nats, "
    "nano-quantized): H = -Σ_ij (n_ij/N)·ln(n_ij/n_i·) over the observed "
    "transition counts — how predictable the NEXT event is given the "
    "current one; the sequencing companion to a_markov_transitions and "
    "p_cond_entropy.  Per-cell terms are doubles over exact integer "
    "ratios quantized BEFORE the fold; the lag window is keyed by user "
    "(bounded partitions), the cell grid is |event_types|² rows",
)
def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("ts div 1000").alias("ts_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    tr = seq.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_ij")
    )
    from kafka_replicator_spark.cacheutil import track_cached

    tr = track_cached(tr)  # feeds totals, the grand sum, and the terms
    tot = tr.groupBy("prev_type").agg(F.sum("n_ij").cast("long").alias("n_from"))
    grand = tr.agg(
        F.sum("n_ij").cast("long").alias("n"),
        F.countDistinct("prev_type").cast("long").alias("n_states"),
    )
    terms = (
        tr.join(F.broadcast(tot), "prev_type")
        .join(F.broadcast(grand))
        .select(
            "n_states",
            "n",
            F.expr(
                "CAST(floor(CAST(n_ij AS DOUBLE) / n"
                " * ln(CAST(n_ij AS DOUBLE) / n_from)"
                " * 1000000000 + 0.5) AS BIGINT)"
            ).alias("t_nano"),
        )
    )
    return terms.groupBy("n_states", "n").agg(
        (-F.sum("t_nano")).cast("long").alias("entropy_rate_nano")
    ).select(
        F.col("n_states"),
        F.col("n").alias("n_transitions"),
        "entropy_rate_nano",
    )


# --------------------------------------------- customer tenure survival

_TENURE_THRESHOLDS = (0, 30, 60, 90, 180, 365, 730)


@register(
    "a_tenure_survival",
    f"""
WITH tenure AS (
  SELECT CAST(max(epoch_us(o_orderdate) // 86400000000)
              - min(epoch_us(o_orderdate) // 86400000000) AS BIGINT) AS t
  FROM orders GROUP BY o_custkey
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_cust FROM tenure),
thr AS (SELECT CAST(unnest([{", ".join(str(t) for t in _TENURE_THRESHOLDS)}]) AS BIGINT) AS thr)
SELECT thr.thr AS tenure_gt_days,
       (SELECT n_cust FROM n) AS n_customers,
       CAST(sum(CASE WHEN tenure.t > thr.thr THEN 1 ELSE 0 END) AS BIGINT)
         AS n_surviving,
       CAST((1000000 * sum(CASE WHEN tenure.t > thr.thr THEN 1 ELSE 0 END))
            // (SELECT n_cust FROM n) AS BIGINT) AS surv_ppm
FROM thr CROSS JOIN tenure
GROUP BY thr.thr
ORDER BY tenure_gt_days
""",
    tags=("analytics", "stats"),
    doc="empirical customer-tenure survival curve (first-to-last order "
    "span) evaluated at a literal day-threshold grid — the "
    "retention/churn planning curve, all-integer (no censoring in this "
    "corpus, so Kaplan-Meier reduces to the exact empirical survivor "
    "share in ppm).  One customer-grain aggregation + a broadcast "
    "7-row threshold frame; bounded output, no window",
)
def q_tenure_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    day = F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
    tenure = o.groupBy("o_custkey").agg(
        (F.max(day) - F.min(day)).cast("long").alias("t")
    )
    n = tenure.agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    thr = local_frame(o.sparkSession, [(t,) for t in _TENURE_THRESHOLDS], "thr bigint")
    return (
        tenure.crossJoin(F.broadcast(thr))
        .groupBy("thr")
        .agg(F.sum(F.when(F.col("t") > F.col("thr"), 1).otherwise(0)).cast("long").alias("n_surviving"))
        .join(F.broadcast(n))
        .select(
            F.col("thr").alias("tenure_gt_days"),
            "n_customers",
            "n_surviving",
            F.expr("CAST((1000000 * n_surviving) div n_customers AS BIGINT)").alias(
                "surv_ppm"
            ),
        )
        .orderBy("tenure_gt_days")
    )


# ------------------------------------------------ shared-text VALUES tiers

#: literal identical text on both engines (the a_shared_sql_* contract):
#: an inline VALUES tier table classifies per-nation revenue — the
#: "reference data as SQL literals" surface, no physical dimension table
SHARED_SQL_VALUES = """
WITH rev AS (
  SELECT n.n_name AS nation,
         CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
)
SELECT t.tier,
       CAST(count(*) AS BIGINT) AS n_nations,
       CAST(sum(r.cents) AS BIGINT) AS tier_cents
FROM rev r
JOIN (VALUES ('t1_under_10m', 0, 1000000000),
             ('t2_under_100m', 1000000000, 10000000000),
             ('t3_under_1b', 10000000000, 100000000000),
             ('t4_under_10b', 100000000000, 1000000000000),
             ('t5_rest', 1000000000000, 1000000000000000)) AS t(tier, lo, hi)
  ON r.cents >= CAST(t.lo AS BIGINT) AND r.cents < CAST(t.hi AS BIGINT)
GROUP BY t.tier
ORDER BY t.tier
"""


@register(
    "a_shared_sql_values",
    SHARED_SQL_VALUES,
    tags=("analytics", "sql"),
    doc="SQL front door: inline VALUES table (revenue tier thresholds) "
    "joined against per-nation revenue through the same-text contract — "
    "the literal reference-data pattern (tier tables, config ladders) "
    "with no physical dimension table; the exact oracle SQL text runs "
    "through spark.sql over registered views",
)
def q_shared_sql_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.queries.analytics_sql_ext import _run_shared_sql

    return _run_shared_sql(spark, sf_dir, SHARED_SQL_VALUES)


# -------------------------------------------- discount policy by quantity

@register(
    "a_discount_by_qty",
    """
WITH b AS (
  SELECT CASE WHEN l_quantity <= 10 THEN '01-10'
              WHEN l_quantity <= 20 THEN '11-20'
              WHEN l_quantity <= 30 THEN '21-30'
              WHEN l_quantity <= 40 THEN '31-40'
              ELSE '41-50' END AS qty_band,
         CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS disc_pct
  FROM lineitem
)
SELECT qty_band,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST((1000000::HUGEINT * sum(disc_pct)) // count(*) AS BIGINT)
         AS mean_disc_micro_pct
FROM b GROUP BY qty_band ORDER BY qty_band
""",
    tags=("analytics", "aggregation"),
    doc="mean discount per quantity band in exact micro-percent — the "
    "volume-discount policy audit (does bigger basket actually mean "
    "deeper discount?): discounts pass through DECIMAL(18,2)x100 exact "
    "integer percent, the per-band mean is one integer division.  "
    "Literal CASE bands, one map-side-combinable groupBy",
)
def q_discount_by_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_quantity") <= 10, "01-10")
        .when(F.col("l_quantity") <= 20, "11-20")
        .when(F.col("l_quantity") <= 30, "21-30")
        .when(F.col("l_quantity") <= 40, "31-40")
        .otherwise("41-50")
        .alias("qty_band"),
        F.expr("CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "disc_pct"
        ),
    )
    return (
        b.groupBy("qty_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * sum(disc_pct))"
                " div count(1) AS BIGINT)"
            ).alias("mean_disc_micro_pct"),
        )
        .orderBy("qty_band")
    )
