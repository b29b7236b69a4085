"""Distributed cardinality sketches — cross-engine-deterministic HyperLogLog.

The reference exposes distinct-count aggregates over replicated topics
(messageCount / key-cardinality style stats, pkg/compaction/compactor.go and
the metrics surface); at 100 TB an exact ``count(distinct)`` of a high-
cardinality key shuffles every distinct value.  HyperLogLog needs one
shuffle of (group, bucket) pairs with map-side combine — state is m=256
registers per group regardless of cardinality.

Spark's native ``approx_count_distinct`` IS this sketch (HLL++) and is the
production path.  This module re-derives HLL from the portable 60-bit md5
hash (functions/hashing.py) so the DuckDB oracle reproduces the estimate
BIT-FOR-BIT — something no native sketch pair can do — turning an
"approximate" operator into one the correctness gate can hash-compare:

* bucket  = top ``p=8`` bits of hash60          (256 registers)
* rho     = leading-zero count of the remaining 52-bit word, + 1
  (computed as ``53 - length(bin(w))`` — ``bin`` renders the minimal
  binary string in both engines; the all-zero word, probability 2^-52,
  yields 52 in both engines — deterministic, documented bias)
* register sum kept EXACT: sum of ``2^(53-rho)`` as int64 (≤ 256·2^52 <
  2^63) — integer addition is order-independent, so partial aggregation
  order can't change the estimate (the same trick money aggregates use)
* estimate = alpha_m · m² · 2^53 / reg_sum — one double division of
  identical operands, correctly rounded identically everywhere.

No small-range ln() correction: ``ln`` is not guaranteed identically
rounded across engines; the raw estimator is biased low under ~3·m
distinct values, and the paired exact count in the audit query makes the
bias visible instead of hiding it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_replicator_spark.core.schema import local_frame
from kafka_replicator_spark.functions.hashing import (
    P32,
    hash_family_col,
    hash_family_params,
    hash_family_sql,
    portable_hash32,
    portable_hash32_sql,
    portable_hash60,
    portable_hash60_sql,
)

#: HLL precision: 2^P registers per group
HLL_P = 8
HLL_M = 1 << HLL_P
#: bits left in the 60-bit portable hash after the bucket index
_W_BITS = 60 - HLL_P
_W_MASK = (1 << _W_BITS) - 1
#: alpha_256 bias-correction constant (Flajolet et al. 2007)
_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
#: scaled numerator alpha·m²·2^53 — embedded as the same double literal in
#: both engines; register sums are scaled by 2^53 to stay integral
_NUMER = _ALPHA * HLL_M * HLL_M * float(1 << 53)


def hll_registers(df: DataFrame, key, group_cols: list[str]) -> DataFrame:
    """(group, bucket) → max rho — the HLL register table.

    Two-level aggregation: the first groupBy keys on (group, bucket) so a
    skewed group spreads over 256 reducer keys; partial ``max`` combines
    map-side, so the shuffle carries at most m rows per (input-partition,
    group) no matter the cardinality.
    """
    h = portable_hash60(key)
    w = h.bitwiseAND(F.lit(_W_MASK))
    rho = (
        F.when(w == 0, F.lit(_W_BITS))
        .otherwise(F.lit(_W_BITS + 1) - F.length(F.bin(w)))
        .cast("int")
    )
    return (
        df.select(*group_cols, F.shiftright(h, _W_BITS).alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("r"))
    )


def hll_estimate(df: DataFrame, key, group_cols: list[str]) -> DataFrame:
    """Per-group HLL cardinality estimate with exact integer register sum."""
    return hll_estimate_from_registers(hll_registers(df, key, group_cols), group_cols)


def hll_estimate_from_registers(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Estimate from a (group, bucket, r) register table — the readout stage.

    Separated so streaming register maintenance (streaming/sketch_stream.py)
    and batch both finish through the identical arithmetic.
    """
    per = regs.groupBy(*group_cols).agg(
        F.sum(F.expr("shiftleft(1L, 53 - r)")).alias("s_nonempty"),
        F.count(F.lit(1)).alias("nb"),
    )
    return per.select(
        *group_cols,
        (F.col("s_nonempty") + (F.lit(HLL_M) - F.col("nb")) * F.lit(1 << 53))
        .cast("long")
        .alias("reg_sum"),
        (F.lit(HLL_M) - F.col("nb")).cast("long").alias("empty_buckets"),
    ).withColumn("hll_estimate", F.round(F.lit(_NUMER) / F.col("reg_sum"), 4))


def hll_estimate_sql(key_expr: str, group_expr: str, table: str) -> str:
    """DuckDB mirror of :func:`hll_estimate` (+ exact distinct audit)."""
    h = portable_hash60_sql(key_expr)
    return f"""
WITH hashed AS (
  SELECT {group_expr} AS grp,
         {h} >> {_W_BITS} AS bucket,
         {h} & {_W_MASK} AS w
  FROM {table}
), regs AS (
  SELECT grp, bucket,
         max(CASE WHEN w = 0 THEN {_W_BITS}
                  ELSE {_W_BITS + 1} - length(bin(w)) END) AS r
  FROM hashed GROUP BY grp, bucket
), per AS (
  SELECT grp,
         CAST(sum(1::BIGINT << (53 - r)) AS BIGINT) AS s_nonempty,
         count(*) AS nb
  FROM regs GROUP BY grp
)
SELECT grp,
       CAST(s_nonempty + ({HLL_M} - nb) * (1::BIGINT << 53) AS BIGINT) AS reg_sum,
       CAST({HLL_M} - nb AS BIGINT) AS empty_buckets,
       round({_NUMER!r} / (s_nonempty + ({HLL_M} - nb) * (1::BIGINT << 53)), 4)
         AS hll_estimate
FROM per
"""


#: count-min sketch geometry: D independent hash rows × W counters
CMS_D = 4
CMS_W = 1024
_CMS_PARAMS = hash_family_params(CMS_D)


def cms_sketch(
    keyed_counts: DataFrame, key_col: str = "key", cnt_col: str = "cnt", w: int = CMS_W
) -> DataFrame:
    """Count-min sketch table (row i, bucket, counter) from per-key counts.

    Pre-aggregating occurrences per key first (the caller's groupBy) and
    summing counts into buckets is algebraically identical to incrementing
    per occurrence — that map-side-combine shape is what keeps the shuffle
    at D×|vocab| rows instead of D×|occurrences|.  The sketch itself is
    D·W integers regardless of cardinality, and two sketches merge by
    elementwise addition (exact int64 sums — order-free).
    """
    h32 = portable_hash32(key_col)
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    (hash_family_col(h32, a, b) % F.lit(w)).alias("b"),
                )
                for i, (a, b) in enumerate(_CMS_PARAMS)
            ]
        )
    ).alias("rb")
    return (
        keyed_counts.select(F.col(cnt_col).alias("_c"), rows)
        .groupBy(F.col("rb.i").alias("i"), F.col("rb.b").alias("b"))
        .agg(F.sum("_c").cast("long").alias("counter"))
    )


def cms_estimate(
    sketch: DataFrame, candidates: DataFrame, key_col: str = "key", w: int = CMS_W
) -> DataFrame:
    """min over the D row counters a key hashes to — the classic CMS read.

    The sketch is at most D·W rows, so it broadcasts; estimating any number
    of candidate keys is a broadcast join + partial min, no shuffle of the
    candidate side beyond its own groupBy.
    """
    h32 = portable_hash32(key_col)
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    (hash_family_col(h32, a, b) % F.lit(w)).alias("b"),
                )
                for i, (a, b) in enumerate(_CMS_PARAMS)
            ]
        )
    ).alias("rb")
    probes = candidates.select(F.col(key_col).alias("_k"), rows).select(
        "_k", F.col("rb.i").alias("i"), F.col("rb.b").alias("b")
    )
    return (
        probes.join(F.broadcast(sketch), ["i", "b"])
        .groupBy("_k")
        .agg(F.min("counter").alias("cms_estimate"))
        .withColumnRenamed("_k", key_col)
    )


def _cms_bucket_sql(h32_expr: str, w: int = CMS_W) -> str:
    cases = " ".join(
        f"WHEN {i} THEN (({h32_expr}) * {a} + {b}) % {P32} % {w}"
        for i, (a, b) in enumerate(_CMS_PARAMS)
    )
    return f"CASE r.i {cases} END"


def cms_heavy_hitters_sql(top_n: int = 20, w: int = CMS_W) -> str:
    """DuckDB mirror of the registered heavy-hitters query: CMS over the
    whitespace token stream of ``documents``, read back for the true top-N
    tokens with the exact count as audit.  Pure integer arithmetic end to
    end — bit-identical across engines.
    """
    bucket = _cms_bucket_sql(portable_hash32_sql("t.tok"), w)
    return f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
), tok_counts AS (
  SELECT tok, count(*) AS cnt FROM toks WHERE tok <> '' GROUP BY tok
), rows_ AS (
  SELECT unnest(range(0, {CMS_D})) AS i
), sketch AS (
  SELECT r.i AS i, {bucket} AS b, CAST(sum(t.cnt) AS BIGINT) AS counter
  FROM tok_counts t CROSS JOIN rows_ r
  GROUP BY 1, 2
), top AS (
  SELECT tok, cnt,
         row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rk
  FROM tok_counts QUALIFY rk <= {top_n}
), probes AS (
  SELECT t.tok, t.cnt, r.i AS i, {bucket} AS b
  FROM top t CROSS JOIN rows_ r
)
SELECT p.tok AS token,
       CAST(p.cnt AS BIGINT) AS exact_cnt,
       CAST(min(s.counter) AS BIGINT) AS cms_estimate,
       CAST(min(s.counter) - p.cnt AS BIGINT) AS overcount
FROM probes p JOIN sketch s ON p.i = s.i AND p.b = s.b
GROUP BY p.tok, p.cnt
"""


# ------------------------------------------------- one-permutation MinHash

#: OPH bucket count — per-group sketch state is <= OPH_B (bucket, min) rows
OPH_B = 64


def oph_registers(df: DataFrame, key, group_cols: list[str], b: int = OPH_B) -> DataFrame:
    """One-permutation MinHash register table (Li et al., NIPS 2012):
    per (group, bucket) the MINIMUM 60-bit portable hash, bucket = h mod b.

    ``min`` is idempotent and order-free — the same mergeability that lets
    the HLL registers above run as a single stateful streaming aggregation
    (streaming/sketch_stream.windowed_oph_registers) with bounded state.
    """
    h = portable_hash60(key)
    return (
        df.select(*group_cols, (h % F.lit(b)).alias("bucket"), h.alias("hv"))
        .groupBy(*group_cols, "bucket")
        .agg(F.min("hv").alias("mh"))
    )


def oph_jaccard_from_registers(
    regs: DataFrame, group_col: str, b: int = OPH_B
) -> DataFrame:
    """Pairwise Jaccard estimates from an OPH register table: the fraction
    of buckets whose minima agree (integer ppm; empty buckets count as
    disagreement, the conservative choice for near-full sketches).

    The register table is groups×b rows whatever the corpus size, so this
    join is metadata-scale — broadcast, never a corpus shuffle.
    """
    a = regs.select(
        F.col(group_col).alias("ga"), F.col("bucket").alias("bk"), F.col("mh").alias("ma")
    )
    c = regs.select(
        F.col(group_col).alias("gb"), F.col("bucket").alias("bk"), F.col("mh").alias("mb")
    )
    return (
        a.join(F.broadcast(c), "bk")
        .filter(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(F.sum(F.when(F.col("ma") == F.col("mb"), 1).otherwise(0)).alias("n_match"))
        .withColumn("jacc_est_ppm", F.expr(f"n_match * 1000000 div {b}"))
    )


def oph_jaccard_sql(key_expr: str, group_expr: str, table: str, b: int = OPH_B) -> str:
    """DuckDB mirror of registers → pairwise readout (+ exact audit)."""
    return f"""
WITH u AS (
  SELECT {group_expr} AS grp,
         {portable_hash60_sql(key_expr)} AS hk
  FROM {table}
),
regs AS (
  SELECT grp, hk % {b} AS bucket, min(hk) AS mh
  FROM u GROUP BY 1, 2
),
pairs AS (
  SELECT a.grp AS ga, c.grp AS gb,
         CAST(sum(CASE WHEN a.mh = c.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_match
  FROM regs a JOIN regs c ON a.bucket = c.bucket AND a.grp < c.grp
  GROUP BY 1, 2
)
SELECT ga, gb, n_match,
       CAST(n_match * 1000000 // {b} AS BIGINT) AS jacc_est_ppm
FROM pairs
"""


# ------------------------------------------------- histogram quantile sketch

#: buckets of the equi-width quantile histogram (mergeable by count addition)
HIST_BUCKETS = 32


def equiwidth_bucket(value: str, lo: str, hi: str, n_buckets: int):
    """Shared exact-integer equi-width bucket expression,
    ``((v - lo) * B) div (hi - lo + 1)`` — carried once for every
    histogram-shaped operator (batch quantile sketch, streaming registers,
    the length-drift CDF) so the arithmetic can never drift between them.
    Operands are SQL expressions/column names; all must be integral."""
    return F.expr(f"(({value} - {lo}) * {n_buckets}) div ({hi} - {lo} + 1)")


def equiwidth_bucket_sql(value: str, lo: str, hi: str, n_buckets: int) -> str:
    """DuckDB rendering of :func:`equiwidth_bucket`."""
    return f"(({value} - {lo}) * {n_buckets}) // ({hi} - {lo} + 1)"


def histogram_quantiles(lineitem: DataFrame, col: str = "l_extendedprice") -> DataFrame:
    """Mergeable equi-width histogram sketch with interpolated quantile
    estimates — the bounded-state alternative to an exact distributed sort
    when a pipeline needs approximate percentiles per partition/shard that
    roll up by pure count addition (unlike exact percentiles, which don't
    merge).

    Exactness contract: bucket assignment is pure integer arithmetic over
    cents (``(v - min)·B div (max - min + 1)``); the estimates are one
    fixed double expression over exact integer counts, so both engines
    reproduce them bit-for-bit.  The exact p50 (a power-of-two fraction —
    the only interpolated percentile that is bit-identical cross-engine)
    rides along as the in-row error audit, the same pattern as
    p_hll_distinct's exact-count audit.

    Plan: one aggregation to min/max (broadcast 1-row), one map pass to
    buckets, one B-row aggregation; the cumulative window runs on the
    B-row frame (bounded at any corpus size).
    """
    from pyspark.sql import Window

    from kafka_replicator_spark.cacheutil import track_cached

    B = HIST_BUCKETS
    v = lineitem.select(
        F.expr(f"CAST(round({col} * 100) AS BIGINT)").alias("v")
    )
    v = track_cached(v)
    ext = v.agg(
        F.min("v").alias("mn"), F.max("v").alias("mx"), F.count(F.lit(1)).alias("n")
    )
    bucketed = v.join(F.broadcast(ext)).select(
        "v", equiwidth_bucket("v", "mn", "mx", B).alias("bucket"), "mn", "mx", "n"
    )
    hist = bucketed.groupBy("bucket", "mn", "mx", "n").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # cumulative over the B-row histogram frame — bounded window by design
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).withColumn("cb", F.col("cum") - F.col("cnt"))
    qs = local_frame(lineitem.sparkSession, [(50,), (90,)], "quantile_pct int")
    t = cum.join(F.broadcast(qs)).withColumn(
        "target", F.col("quantile_pct") * F.col("n") / F.lit(100.0)
    )
    picked = t.where((F.col("cb") < F.col("target")) & (F.col("cum") >= F.col("target")))
    est = (
        F.col("mn")
        + (F.col("mx") - F.col("mn") + 1)
        * (F.col("bucket") + (F.col("target") - F.col("cb")) / F.col("cnt"))
        / F.lit(float(B))
    ) / F.lit(100.0)
    # Exact p50 via bucket-narrowed order statistics (r14 opt, guide §5):
    # percentile(v, 0.5) buffers EVERY value into one final-merge reducer
    # (~1.5 s at 600k rows, state O(n) at any scale).  The cumulative
    # histogram already locates the two middle ranks: position = (n-1)/2,
    # so the lower/upper middle elements sit at 0-based global indices
    # (n-1) div 2 and n div 2 — each inside the unique bucket whose
    # cumulative range covers it.  Sorting ONLY those 1-2 buckets
    # (≤ 2·n/B rows in bounded window partitions) and offsetting the
    # per-bucket row_number by the bucket's exclusive prefix `cb` yields
    # the identical two values; percentile's 0.5-interpolation
    # 0.5·lo + 0.5·hi equals (min+max)/2 exactly in IEEE doubles (cents
    # are integers far below 2^53, halves are representable), so the
    # output double is bit-identical while the single-task state drops
    # from n values to n/B.
    targets = (
        cum.select(
            "bucket",
            "cb",
            "cum",
            F.expr("(n - 1) div 2").alias("ilo"),
            F.expr("n div 2").alias("ihi"),
        )
        .where(
            ((F.col("cb") <= F.col("ilo")) & (F.col("ilo") < F.col("cum")))
            | ((F.col("cb") <= F.col("ihi")) & (F.col("ihi") < F.col("cum")))
        )
        .select("bucket", "cb", "ilo", "ihi")
    )
    w_mid = Window.partitionBy("bucket").orderBy(F.asc("v"))
    mid = (
        bucketed.select("v", "bucket")
        .join(F.broadcast(targets), "bucket")
        .withColumn("idx", F.row_number().over(w_mid) - 1 + F.col("cb"))
        .where((F.col("idx") == F.col("ilo")) | (F.col("idx") == F.col("ihi")))
    )
    exact_p50 = mid.agg(
        F.round(
            (F.min("v") + F.max("v")) / F.lit(2.0) / F.lit(100.0), 6
        ).alias("exact_p50")
    )
    return picked.join(F.broadcast(exact_p50)).select(
        "quantile_pct",
        F.col("n").cast("long").alias("n_rows"),
        F.round(est, 6).alias("est_value"),
        F.when(F.col("quantile_pct") == 50, F.col("exact_p50")).alias("exact_value"),
    )


def histogram_quantiles_sql(col: str = "l_extendedprice") -> str:
    B = HIST_BUCKETS
    bucket_sql = equiwidth_bucket_sql("v.v", "ext.mn", "ext.mx", B)
    return f"""
WITH v AS (SELECT CAST(round({col} * 100) AS BIGINT) AS v FROM lineitem),
ext AS (
  SELECT CAST(min(v) AS BIGINT) AS mn, CAST(max(v) AS BIGINT) AS mx,
         CAST(count(*) AS BIGINT) AS n
  FROM v
),
bucketed AS (
  SELECT {bucket_sql} AS bucket,
         ext.mn, ext.mx, ext.n
  FROM v CROSS JOIN ext
),
hist AS (
  SELECT bucket, mn, mx, n, CAST(count(*) AS BIGINT) AS cnt
  FROM bucketed GROUP BY bucket, mn, mx, n
),
cum0 AS (
  SELECT *, CAST(sum(cnt) OVER (ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM hist
),
cum AS (SELECT *, cum - cnt AS cb FROM cum0),
qs AS (SELECT CAST(unnest([50, 90]) AS INTEGER) AS quantile_pct),
t AS (
  SELECT cum.*, qs.quantile_pct, qs.quantile_pct * cum.n / 100.0 AS target
  FROM cum CROSS JOIN qs
),
picked AS (SELECT * FROM t WHERE cb < target AND cum >= target),
exact AS (SELECT round(quantile_cont(v, 0.5) / 100.0, 6) AS exact_p50 FROM v)
SELECT quantile_pct, n AS n_rows,
       round((mn + (mx - mn + 1) * (bucket + (target - cb) / cnt) / {float(B)!r})
             / 100.0, 6) AS est_value,
       CASE WHEN quantile_pct = 50 THEN exact.exact_p50 END AS exact_value
FROM picked CROSS JOIN exact
"""


# ------------------------------------------------------------- bloom filter

#: default geometry — m=2048 bits, k=4 hashes: <0.2% FPR at ~150 keys,
#: ~2.4% at 1000 keys (n/m = 0.5); the streaming register table stores set
#: bits sparse, so state is bounded at m rows per group regardless of keys
BLOOM_M = 2048
BLOOM_K = 4


def bloom_bit_positions(key, m: int = BLOOM_M, k: int = BLOOM_K):
    """``array<long>`` of the k bit positions a key sets/probes — the ONE
    definition shared by the register builder and the membership replay
    (and mirrored in SQL by the p_bloom_fpr_audit oracle's hash ladder:
    (a·h32 + b) mod P32 mod m over hash_family_params).
    """
    h = portable_hash32(key)
    return F.array(
        *[(hash_family_col(h, a, b) % F.lit(m)) for a, b in hash_family_params(k)]
    )


def bloom_registers(
    df: DataFrame, key, group_cols: list[str], m: int = BLOOM_M, k: int = BLOOM_K
) -> DataFrame:
    """Counting-bloom register table: one row per (group, bit position) any
    key hashes to, with the number of key-hash incidences on that bit.
    Counters are exact int64 sums — associative and order-free — so two
    register tables (or streaming microbatch increments) merge by
    elementwise addition, and plain membership is ``n_hits > 0``.

    Scale: one explode (k rows per key) + one (group, p) groupBy with
    map-side combine; output ≤ m rows per group however many keys stream
    through.
    """
    pos = F.explode(bloom_bit_positions(key, m, k)).alias("p")
    return (
        df.select(*group_cols, pos)
        .groupBy(*group_cols, "p")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )


def bloom_membership_from_registers(
    regs: DataFrame,
    probes: DataFrame,
    group_cols: list[str],
    probe_col: str = "probe",
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Replay membership against a register table: a probe is
    ``maybe_present`` iff ALL k of its bit positions are set in its group's
    registers — the bloom guarantee (no false negatives; false positives at
    the geometry's FPR).

    ``probes`` carries ``group_cols`` + ``probe_col`` (string key).  The
    join is on (group, p) against a ≤ m-row-per-group register table — at
    scale the register side is broadcast-able per group.
    """
    if "n_hits" in regs.columns:
        # counting-bloom contract: a merged table may carry decremented
        # (deleted) positions — a bit is set only while n_hits > 0
        regs = regs.filter(F.col("n_hits") > 0)
    pos = probes.select(
        *group_cols,
        probe_col,
        F.explode(bloom_bit_positions(F.col(probe_col), m, k)).alias("p"),
    )
    hits = (
        pos.join(regs.select(*group_cols, "p"), [*group_cols, "p"], "left_semi")
        .groupBy(*group_cols, probe_col)
        .agg(F.count(F.lit(1)).alias("n_set"))
    )
    return (
        probes.select(*group_cols, probe_col)
        .join(hits, [*group_cols, probe_col], "left")
        .select(
            *group_cols,
            probe_col,
            (F.coalesce(F.col("n_set"), F.lit(0)) == k).alias("maybe_present"),
        )
    )
