"""Driver-cheap literal construction (guide §5: the driver should do
almost no data work — including py4j round trips).

``F.array(*[F.lit(x) for x in vals])`` costs one py4j round trip PER
ELEMENT (a 401-entry kernel LUT = 401 driver round trips per query
build; a 64x8 centroid table = 512) and hands Catalyst an n-child
``CreateArray`` tree to constant-fold on every analysis pass.
``F.lit(list)`` is sugar for the same per-element loop. Building the
literal as ONE ``F.expr`` string is ~300x cheaper at build time
(measured 2105 ms -> 7 ms for 4000 doubles) and value-exact:
17-significant-digit e-notation round-trips every double, and an
exponent literal parses directly as DOUBLE via ``Double.parseDouble``
(correctly rounded — bare decimals would go through a decimal literal
whose ->double cast is the 1-ulp hazard grid._sql_flit documents for
DuckDB). NaN and ±inf have no SQL literal and go through exact string
casts; an empty list is cast to its array type.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(x) -> str:
    x = float(x)
    if math.isfinite(x):
        return f"{x:.17e}"
    # no SQL literal spells these; the string casts are exact
    if math.isnan(x):
        return "double('NaN')"
    return "double('Infinity')" if x > 0 else "double('-Infinity')"


def _arr(items: list[str], sql_type: str) -> str:
    # a bare array() types as array<void>
    return f"array({','.join(items)})" if items else f"CAST(array() AS {sql_type})"


def flit_arr(vals) -> Column:
    """``array<double>`` literal in ONE py4j call."""
    return F.expr(_arr([_d(x) for x in vals], "ARRAY<DOUBLE>"))


def flit_arr2d(rows) -> Column:
    """``array<array<double>>`` literal in ONE py4j call."""
    return F.expr(_arr([_arr([_d(x) for x in row], "ARRAY<DOUBLE>")
                        for row in rows], "ARRAY<ARRAY<DOUBLE>>"))
