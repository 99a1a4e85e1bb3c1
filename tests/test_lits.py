"""One-call array literals: exact values, empty input and non-finite
values all type as arrays of DOUBLE. Driver-built tables plan as a
LocalRelation and keep their values exactly. SQL-text helpers quote
any column name and build the Column API's expression trees."""

from __future__ import annotations

import math

from cngi_prototype_spark.functions.lits import (flit_arr, flit_arr2d,
                                                 ident, local_frame, sql_and)


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


def _plan_class(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_local_frame_values_exact(spark):
    big = 2 ** 53 + 1  # not representable as a double
    rows = [(big, None, math.nan, ["a", None], [1, 2]),
            (-big, 7, -0.0, [], None)]
    df = local_frame(spark, rows, "k long, i int, x double, "
                                  "s array<string>, a array<int>")
    assert _plan_class(df) == "LocalRelation"
    assert df.schema.simpleString() == (
        "struct<k:bigint,i:int,x:double,s:array<string>,a:array<int>>")
    got = df.collect()
    assert got[0]["k"] == big and got[1]["k"] == -big
    assert got[0]["i"] is None and got[1]["i"] == 7
    assert math.isnan(got[0]["x"])
    assert got[1]["x"] == 0.0 and math.copysign(1.0, got[1]["x"]) == -1.0
    assert got[0]["s"] == ["a", None] and got[1]["s"] == []
    assert got[0]["a"] == [1, 2] and got[1]["a"] is None


def test_local_frame_empty_keeps_schema(spark):
    from pyspark.sql import types as T
    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("x", T.DoubleType())])
    df = local_frame(spark, [], schema)
    assert _plan_class(df) == "LocalRelation"
    assert df.schema == schema
    assert df.collect() == []


def test_ident_reads_any_name_back(spark):
    from pyspark.sql import functions as F

    names = ["w eight", "select", "`select`", "a`b", "a.b"]
    assert ident("a`b") == "`a``b`"
    df = spark.range(1).select(*[F.lit(i).alias(n)
                                 for i, n in enumerate(names)])
    row = df.select(*[F.expr(ident(n)) for n in names]).first()
    assert list(row) == list(range(len(names)))


def test_sql_and_builds_the_column_chain(spark):
    """A Column ``&`` chain nests left-deep; the parser balances a bare
    ``a AND b AND c AND d``. ``sql_and`` gives the Column tree."""
    from pyspark.sql import functions as F

    terms = ["id >= 0", "id < 9", "id != 3", "id != 4"]
    col = ((F.col("id") >= 0) & (F.col("id") < 9) & (F.col("id") != 3)
           & (F.col("id") != 4))

    df = spark.range(1)

    def tree(c):
        return df.filter(c)._jdf.queryExecution().analyzed().toString()

    assert tree(F.expr(sql_and(*terms))) == tree(col)
    assert tree(F.expr(" AND ".join(terms))) != tree(col)
