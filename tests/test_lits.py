"""One-call array literals: exact values, empty input and non-finite
values all type as arrays of DOUBLE."""

from __future__ import annotations

import math

from cngi_prototype_spark.functions.lits import flit_arr, flit_arr2d


def _one(spark, col):
    df = spark.range(1).select(col.alias("a"))
    return df.schema["a"].dataType.simpleString(), df.first()["a"]


def test_flit_arr_values_exact(spark):
    vals = [0.1, -2.5e-300, 1.0 / 3.0, 123456789.123456789, 0.0]
    typ, got = _one(spark, flit_arr(vals))
    assert typ == "array<double>"
    assert got == vals


def test_flit_arr_empty(spark):
    assert _one(spark, flit_arr([])) == ("array<double>", [])
    assert _one(spark, flit_arr2d([])) == ("array<array<double>>", [])
    assert _one(spark, flit_arr2d([[], [1.5]])) == (
        "array<array<double>>", [[], [1.5]])


def test_flit_arr_non_finite(spark):
    typ, got = _one(spark, flit_arr([math.nan, math.inf, -math.inf, 2.0]))
    assert typ == "array<double>"
    assert math.isnan(got[0]) and got[1:] == [math.inf, -math.inf, 2.0]
    typ, got = _one(spark, flit_arr2d([[math.inf], [math.nan, -1.0]]))
    assert typ == "array<array<double>>"
    assert got[0] == [math.inf] and math.isnan(got[1][0]) and got[1][1] == -1.0
