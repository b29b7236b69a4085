"""Compare a registered Spark query against its DuckDB oracle — a local
stand-in for the driver's CORRECTNESS gate (row-count + schema + order-
insensitive value compare).  Floats compare approximately here (the driver
hashes exactly; the engine's queries are designed to be bit-identical, so an
approx failure locally means a hash failure in the gate).
"""

from __future__ import annotations

import math
from decimal import Decimal

import duckdb
import pandas as pd

from kafka_replicator_spark.sources.tables import TABLES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir.rstrip('/')}/{t}.parquet')"
        )
    return con


def oracle_rows(sf_dir: str, sql: str) -> list[tuple]:
    """The DuckDB oracle's rows for ``sql`` over the ``sf_dir`` corpus."""
    con = duck_connection(sf_dir)
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def _norm_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, bool):
        return bool(v)
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    return v


def _normalize(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_norm_cell(v) for v in row) for row in df[cols].itertuples(index=False)]

    def key(row):
        return tuple((x is None, str(type(x)), str(x)) for x in row)

    return sorted(rows, key=key), cols


def assert_frames_match(got: pd.DataFrame, exp: pd.DataFrame, name: str, float_tol: float = 1e-9):
    assert sorted(got.columns) == sorted(exp.columns), (
        f"{name}: column mismatch {sorted(got.columns)} vs {sorted(exp.columns)}"
    )
    # the driver's value hash is dtype-sensitive (int 256 vs float 256.0
    # hash differently even though == says True) — mirror that strictly.
    # DuckDB quirk: sum(BIGINT)→HUGEINT arrives as float64/object; the
    # oracle SQL must CAST back (CLAUDE.md).  Decimal columns arrive as
    # object — _norm_cell floats them, so treat O/f as compatible only
    # when every cell is Decimal.
    for c in got.columns:
        gk, ek = got[c].dtype.kind, exp[c].dtype.kind
        if gk == ek:
            continue
        if {gk, ek} <= {"i", "u"}:
            continue  # signedness/width never reaches the hash
        if "O" in (gk, ek):
            col = got[c] if gk == "O" else exp[c]
            if col.map(lambda v: isinstance(v, Decimal) or v is None).all():
                continue
        raise AssertionError(
            f"{name} col {c}: pandas dtype kind mismatch spark={got[c].dtype} "
            f"oracle={exp[c].dtype} — the driver hash will differ"
        )
    assert len(got) == len(exp), f"{name}: row count {len(got)} vs {len(exp)}"
    g_rows, cols = _normalize(got)
    e_rows, _ = _normalize(exp)
    n_exact = 0
    for i, (g, e) in enumerate(zip(g_rows, e_rows)):
        for c, (gv, ev) in zip(cols, zip(g, e)):
            if isinstance(gv, float) and isinstance(ev, float):
                if gv == ev:
                    n_exact += 1
                else:
                    assert math.isclose(gv, ev, rel_tol=float_tol, abs_tol=float_tol), (
                        f"{name} row {i} col {c}: {gv!r} != {ev!r}"
                    )
            else:
                assert gv == ev, f"{name} row {i} col {c}: {gv!r} != {ev!r} "
                n_exact += 1


def run_compare(spark, sf_dir: str, name: str, float_tol: float = 1e-9):
    from kafka_replicator_spark.queries import all_queries

    q = all_queries()[name]
    got = q.fn(spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)
    exp = con.execute(q.oracle).fetchdf()
    assert_frames_match(got, exp, name, float_tol=float_tol)
    return len(got)
