"""DataFrame-side helpers mirroring the ``clickhouse()`` SQL surface.

The reference exposes a builder API for its UDFs alongside the SQL form
(src/udfs.rs:76-155).  Our DataFrame analogs evaluate natively: translate the
ClickHouse expression string and return a Spark ``Column``.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from clickhouse_datafusion_spark.functions.rewrite import rewrite_sql


def ch(expr: str, type_str: str) -> Column:
    """``ch("exp(l_quantity)", "Float64")`` → native Column cast to the type.

    Accepts the same expression syntax as SQL ``clickhouse(expr, 'Type')``,
    including backticked ClickHouse names and ``$x`` lambda placeholders.
    """
    sql = rewrite_sql(f"clickhouse({expr}, '{type_str}')")
    return F.expr(sql)


def ch_eval(raw: str, type_str: str) -> Column:
    """DataFrame analog of ``clickhouse_eval('raw', 'Type')``."""
    return ch(raw, type_str)


def ch_array_map(body: str, *cols: str, type_str: str = "List(Utf8)") -> Column:
    """``ch_array_map("concat($x, '_sfx')", "names")`` → transform(names, ...)."""
    ph = ["$x", "$y"][: len(cols)]
    inner = f"`arrayMap`({', '.join(ph)}, {body}, {', '.join(cols)})"
    return ch(inner, type_str)


def ch_array_filter(body: str, col: str, type_str: str = "List(Utf8)") -> Column:
    return ch(f"`arrayFilter`($x, {body}, {col})", type_str)


def ch_array_exists(body: str, col: str) -> Column:
    return ch(f"`arrayExists`($x, {body}, {col})", "Boolean")
