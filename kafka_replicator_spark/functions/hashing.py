"""Portable deterministic hashing — identical in Spark and DuckDB.

The LLM-pipeline operators (MinHash, SimHash, LSH) need a hash function the
DuckDB correctness oracle can reproduce bit-for-bit.  Spark's ``xxhash64``
and DuckDB's ``hash`` disagree, but both engines implement ``md5`` of a
string identically — so the engine's portable hash is the top 15 hex digits
(60 bits, always positive in an int64) of ``md5(s)``:

    Spark :  conv(substr(md5(s), 1, 15), 16, 10)::long
    DuckDB:  ('0x' || substr(md5(s), 1, 15))::BIGINT

From the 60-bit value we derive a 32-bit value (mod 2^32) whose universal
family ``h_i(x) = (a_i * x + b_i) mod P32`` stays inside int64 — exact
integer arithmetic on both engines, no overflow, no float.

These are pure column expressions (JVM codegen on the Spark side); md5 is
not the *fastest* choice, but the hot path at scale is dominated by the
shuffle/agg around it, and portability is what the correctness gate buys.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.column import Column

#: largest prime below 2^32 — modulus of the derived hash family
P32 = 4294967291
#: Knuth multiplicative constant, used to spread the per-function offsets
KNUTH = 2654435761


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def spread(df, multiplier: int = 1):
    """Repartition a *compact* input to full cluster parallelism before an
    explode-heavy operator (shingling, per-bit fan-out).

    A single-row-group parquet file arrives as ONE input split, so the
    50-100× row explosion downstream would run on one core.  Shuffling the
    compact pre-explosion rows is orders of magnitude cheaper than
    serializing the exploded work — the standard explode-parallelism trade.

    Conditional: an input that already has enough partitions (the 100 TB
    many-file case) passes through untouched — no gratuitous shuffle.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * multiplier
    try:
        current = df.rdd.getNumPartitions()  # plan → RDD translation only, no job
    except Exception:  # streaming frames have no rdd; let them pass through
        return df
    return df.repartition(target) if current < target else df


def spread_by_key(df, *cols: str | Column, multiplier: int = 1):
    """:func:`spread`, but hash-partitioned on ``cols`` instead of
    round-robin.

    Partitioning on a key that is a SUBSET of every downstream grouping
    satisfies ClusteredDistribution for all of them, so an explode-heavy
    plan with ``groupBy(key, …)`` / ``groupBy(key)`` stages shuffles the
    compact pre-explosion rows exactly once and never moves the exploded
    stream.  Unconditional (unlike :func:`spread`): the exchange IS the
    clustering contract, not just a parallelism fix.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * multiplier
    return df.repartition(target, *[_col(c) for c in cols])


def portable_hash60(c: str | Column) -> Column:
    """60-bit positive hash of a string column, reproducible in DuckDB."""
    return F.conv(F.substring(F.md5(_col(c)), 1, 15), 16, 10).cast("long")


def portable_hash60_sql(expr: str) -> str:
    """DuckDB rendering of :func:`portable_hash60` over SQL expression ``expr``."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def portable_hash32(c: str | Column) -> Column:
    """32-bit portable hash (see module docstring)."""
    return portable_hash60(c) % F.lit(4294967296)


def portable_hash32_sql(expr: str) -> str:
    return f"({portable_hash60_sql(expr)} % 4294967296)"


def hash_family_params(k: int) -> list[tuple[int, int]]:
    """Coefficients of the k-member universal family h_i = (a*x + b) mod P32.

    a must be odd and nonzero; everything fits int64: a < 2^31, x < 2^32.
    """
    return [((2 * i + 1) % P32, (i * KNUTH + 1) % P32) for i in range(k)]


def hash_family_col(x: Column, a: int, b: int) -> Column:
    """One member of the family applied to a 32-bit column — exact int64 math."""
    return (x * F.lit(a) + F.lit(b)) % F.lit(P32)


def hash_family_sql(expr: str, a: int, b: int) -> str:
    return f"(({expr}) * {a} + {b}) % {P32}"
