"""litfast array literals must be drop-in bit-identical to ``F.lit`` —
the r13 optimization replaced the element-wise py4j conversion with one
SQL rendering per array; these tests pin the value contract the swap
relies on."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from kafka_replicator_spark.functions.litfast import lit_doubles, lit_longs


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


# roundtrip-hostile doubles: negative zero, tiny/huge magnitudes, values
# whose shortest repr uses exponent form, accumulated-rounding results
_HARD_DOUBLES = [
    -0.0,
    0.1 + 0.2,
    1e-07,
    -2.5e-06,
    123456789.123456,
    1.7976931348623157e308,
    5e-324,
    -7.0,
    0.123456,
]


def test_lit_doubles_bit_identical(spark):
    row = (
        spark.range(1)
        .select(F.lit(_HARD_DOUBLES).alias("a"), lit_doubles(_HARD_DOUBLES).alias("b"))
        .collect()[0]
    )
    assert len(row["a"]) == len(row["b"])
    assert all(_bits(x) == _bits(y) for x, y in zip(row["a"], row["b"]))


def test_lit_longs_identical(spark):
    xs = [0, -1, 7, -(2**62), 2**62, 123456789012345]
    row = (
        spark.range(1)
        .select(F.lit(xs).alias("a"), lit_longs(xs).alias("b"))
        .collect()[0]
    )
    assert list(row["a"]) == list(row["b"]) == xs


def test_empty_and_nonfinite_fall_back(spark):
    # empty arrays and non-finite doubles have no portable SQL rendering;
    # the helpers must degrade to F.lit behavior instead of emitting SQL
    row = (
        spark.range(1)
        .select(
            lit_longs([]).alias("e1"),
            lit_doubles([float("nan"), 1.0]).alias("n1"),
            lit_doubles([float("inf")]).alias("n2"),
        )
        .collect()[0]
    )
    assert list(row["e1"]) == []
    assert row["n1"][0] != row["n1"][0] and row["n1"][1] == 1.0  # NaN, 1.0
    assert row["n2"][0] == float("inf")


def test_folds_to_plain_literal(spark):
    # ConstantFolding must collapse the rendered array(...) into a single
    # Literal, so plans are unchanged by the swap
    df = spark.range(1).select(lit_doubles([1.5, 2.5]).alias("r"))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "[1.5,2.5]" in plan and "array(" not in plan
