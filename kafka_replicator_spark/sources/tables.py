"""Testdata table loading (TESTDATA.md corpus).

One parquet file per table at ``{sf_dir}/{name}.parquet``.  Reading goes
through ``spark.read.parquet`` so Catalyst gets pushdown/pruning; never
collect these to the driver.

Schema inference is a Spark job (a footer read per file), so the inferred
schema of each table file is memoized: the first read of a file infers,
later reads pass the memo through ``.schema(...)`` and run no job.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Session confs that Parquet schema inference reads; a memoized schema is
#: reused only under the values it was inferred with.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

#: (absolute path, size, mtime_ns, *inference conf values) -> inferred schema
_SCHEMAS: dict[tuple, T.StructType] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    # events.ts has shipped as Parquet TIMESTAMP(NANOS) in one corpus build
    # and timestamp[us] (NTZ) in another; the legacy flag lets Spark 4 read
    # the nanos form at all.  Set defensively — the driver supplies its own
    # SparkSession that may not carry our session config.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the DuckDB oracle's timestamps are UTC-naive; NTZ→epoch conversions
    # (as-of join) and window alignment must agree regardless of the
    # driver session's local timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = _read_parquet_file(spark, f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events":
        df = _normalize_event_ts(df)
    return df


def _read_parquet_file(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema of a local file
    only on its first read.  The memo key is the file's identity (path,
    size, mtime) plus the confs inference depends on, so a rewritten file or
    a changed conf infers again; the memo holds exactly the inferred schema.
    A path that is not a local regular file is read plainly."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path),
        st.st_size,
        st.st_mtime_ns,
        *(spark.conf.get(c) for c in _INFERENCE_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Canonicalize ``events.ts`` to a LONG of epoch *nanoseconds*.

    The engine's internal message timestamp is integer nanos (every query
    derives ``ts_us`` via exact integer ``ts div 1000``; floats would lose
    precision at 1e18).  The corpus format is type-driven:

    * LONG        — TIMESTAMP(NANOS) parquet read under nanosAsLong: already
                    epoch nanos, pass through.
    * TIMESTAMP / TIMESTAMP_NTZ — timestamp[us] parquet: convert with
                    ``unix_micros`` (session tz is UTC, so the NTZ→TZ cast is
                    the identity) and widen to nanos.  µs→ns is exact in
                    int64 through the year 2262.

    DuckDB sees the same parquet as a naive TIMESTAMP either way, so the
    oracle side (``epoch_us(ts)`` / ``epoch_ns(ts)``) needs no branching.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return df.withColumn(
            "ts", (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).cast("long")
        )
    raise TypeError(f"events.ts has unsupported parquet type {dt}")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
