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

A small driver-built TABLE has the same problem one level up:
``spark.createDataFrame(<python list>)`` plans a ``LogicalRDD``, so
every execution that reads it runs a Python-worker stage just to
re-serialize the rows (a 2-row table: 314 ms against 40 ms, Spark
4.1.2 on a 4-CPU host, most of it PySpark's per-task worker set-up). :func:`local_frame` ships
the rows once as Arrow and plans a ``LocalRelation`` the JVM reads
directly.

A Column-API formula has a third, per-call price. Under PySpark 4.1
every ``pyspark.sql.functions`` call and every Column operator runs
inside an origin wrapper (``pyspark/errors/utils.py``, ``_with_origin``)
that makes 4-6 py4j round trips of its own: the active session, a JVM
class lookup, a conf read, and setting then clearing the call site. A
per-row formula spelled as dozens of such calls costs hundreds of
round trips per build (the imaging geometry cost ~230 per use). Build
each derived column from ONE parsed SQL expression instead,
``F.expr(text)``, with doubles spelled by :func:`_d` (exact, as above)
and column names by :func:`ident`; write the text in the Column form's
operand order and casts (AND chains through :func:`sql_and`), and
Catalyst gets the same expression tree.
The parser's ANTLR DFA cache is JVM-wide and grows with the distinct
expression SHAPES parsed, not with the number of builds: the imaging
builders' shapes hold about 3.4 MB of driver heap (``ATNConfig``,
``DFAState[]`` and prediction contexts in a ``jmap -histo:live`` of
the perfbench image_cycle driver).
"""

from __future__ import annotations

import math

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def _d(x) -> str:
    x = float(x)
    if math.isfinite(x):
        return f"{x:.17e}"
    # no SQL literal spells these; the string casts are exact
    if math.isnan(x):
        return "double('NaN')"
    return "double('Infinity')" if x > 0 else "double('-Infinity')"


def ident(name: str) -> str:
    """``name`` as a SQL identifier in expression text: backticks, with
    inner backticks doubled, so any column name (spaces, reserved words,
    backticks) reads back literally."""
    return "`" + name.replace("`", "``") + "`"


def sql_and(*terms: str) -> str:
    """``t1 AND t2 AND ...`` nested left-deep, the tree a Column ``&``
    chain builds: the SQL parser balances an unparenthesized AND chain
    into a different (equivalent) tree."""
    out = terms[0]
    for t in terms[1:]:
        out = f"({out}) AND ({t})"
    return out


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


def local_frame(spark: SparkSession, rows,
                schema: T.StructType | str) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order) as a ``LocalRelation``
    DataFrame: built as a ``pyarrow.Table`` typed by ``schema`` and
    handed over in one Arrow stream, so no execution runs a Python
    stage for it. Values go straight from Python objects into Arrow
    arrays (no pandas boundary): int64 past 2^53, NaN and null come
    back exactly, and an empty ``rows`` keeps its typed columns."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema)
