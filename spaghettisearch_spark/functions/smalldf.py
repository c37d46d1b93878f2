"""Tiny driver-side DataFrames without the RDD round-trip.

``spark.createDataFrame(rows, schema)`` in classic PySpark builds an
RDD[Row]-backed plan: EVERY action on it (and on anything joined with
it) runs an extra 1-task Python stage just to re-serialize the handful
of rows — measured ~0.3 s per action on local[32], paid by every query
(the per-query term frame). A ``VALUES``-literal LocalRelation carries
the same rows inside the plan itself: no job, no Python worker, ~20 ms
per action (guide §4 — remove the Python boundary entirely).

Only used for bounded, driver-known inputs (query terms, phrase term
indexes): never corpus-sized data.

The same holds for literal lists inside a plan: ``Column.isin(values)``
makes one py4j call per value (an ``isin`` of 50 ints ~40 ms, the
429-stopword list ~0.2 s), while ``isin_col`` hands Spark one SQL
``IN`` expression to parse (~0.5 ms for 50 ints). Catalyst sees the
same ``In``/``InSet`` either way, so pushdown and pruning are unchanged.
"""

from __future__ import annotations

import operator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _sql_lit(v, typ: str) -> str | None:
    """SQL literal for one cell, or None if it can't be embedded."""
    if v is None:
        return f"CAST(NULL AS {typ})"
    if typ == "string":
        return sql_literal(v) if isinstance(v, str) else None
    if typ in ("int", "bigint", "long"):
        return f"CAST({int(v)} AS {'BIGINT' if typ != 'int' else 'INT'})"
    if typ == "double":
        # repr keeps full float64 precision; Spark parses it back exactly
        return f"CAST({float(v)!r} AS DOUBLE)"
    return None


def tiny_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """rows + 'name type, ...' schema -> LocalRelation DataFrame.

    Semantically identical to ``spark.createDataFrame(rows, schema)``
    for string/int/long/double columns (the only types the query paths
    use); falls back to createDataFrame when a value can't be embedded
    as a SQL literal (a non-string in a string column) or the rows are
    empty.
    """
    fields = [tuple(p.strip().rsplit(" ", 1)) for p in schema.split(",")]
    if not rows:
        return spark.createDataFrame([], schema)
    sql_rows = []
    for row in rows:
        cells = []
        for v, (_n, typ) in zip(row, fields):
            lit = _sql_lit(v, typ)
            if lit is None:
                return spark.createDataFrame(rows, schema)
            cells.append(lit)
        sql_rows.append("(" + ", ".join(cells) + ")")
    names = ", ".join(n for n, _t in fields)
    return spark.sql(
        f"SELECT * FROM VALUES {', '.join(sql_rows)} AS t({names})"
    )


def sql_literal(v) -> str:
    """A string or integer value as a Spark SQL literal (strings quoted,
    with backslash escapes for ``\\`` and ``'``)."""
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return str(operator.index(v))


def in_sql(expr: str, values) -> str:
    """SQL text ``expr IN (v1, v2, ...)``; FALSE for no values."""
    values = list(values)
    if not values:
        return "FALSE"
    return f"{expr} IN ({', '.join(sql_literal(v) for v in values)})"


def isin_col(name: str, values) -> Column:
    """``F.col(name).isin(values)`` as one parsed expression (see the
    module docstring); ``name`` is a column name."""
    return F.expr(in_sql("`" + name.replace("`", "``") + "`", values))
