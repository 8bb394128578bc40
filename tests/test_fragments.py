"""Spark SQL fragment spelling (clickhouse_datafusion_spark.fragments):
literals typed exactly as ``F.lit`` under both parser modes, and
identifier/path hygiene at every site that splices a name into SQL."""
from __future__ import annotations

import shutil

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from clickhouse_datafusion_spark.fragments import sql_ident, sql_lit, sql_str

# ---------------------------------------------------------------- sql_str

SQL_STR_CASES = [
    "plain",
    "it's quoted",
    "tab\there",
    "line\nbreak",
    "back\\slash",
    "a\\nb",
    "O'Brien",
    "C:\\temp",
    "mix'\\\n\t'",
    "nul\x00bell\x07",
    "unicode £σ✓",
    "",
    "trailing'",
]

# every type sql_lit spells, finite and non-finite floats included
LIT_CASES = [None, True, False, 3, -1, 3_000_000_000, 2.5, -0.5, 1e-05,
             1e300, float("inf"), float("-inf"), float("nan"),
             *SQL_STR_CASES]


@pytest.mark.parametrize("mode", ["false", "true"])
def test_sql_str_roundtrips_under_both_parser_modes(spark, mode):
    """sql_str (and sql_lit, which spells strings through it) must parse
    back to the exact Python value under BOTH
    spark.sql.parser.escapedStringLiterals settings (a backslash-escape
    form corrupts literals under Hive-compat mode)."""
    old = spark.conf.get("spark.sql.parser.escapedStringLiterals")
    spark.conf.set("spark.sql.parser.escapedStringLiterals", mode)
    try:
        exprs = [f"{sql_str(s)} AS c{i}" for i, s in enumerate(SQL_STR_CASES)]
        exprs += [f"{sql_lit(x)} AS l{i}" for i, x in enumerate(LIT_CASES)]
        row = spark.range(1).selectExpr(*exprs).first()
        for i, s in enumerate(SQL_STR_CASES):
            assert row[f"c{i}"] == s, (mode, s)
        for i, x in enumerate(LIT_CASES):
            got = row[f"l{i}"]
            assert got == x or (got != got and x != x), (mode, x, got)
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", old)


def test_sql_str_folds_to_plain_literal(spark):
    """The CAST(X'..' AS STRING) form must constant-fold — the optimized
    plan carries the same string literal the old form produced."""
    from clickhouse_datafusion_spark.plans.explain import optimized_plan

    frag = sql_str("a\\b")
    assert frag.startswith("CAST(X'")
    plan = optimized_plan(spark.range(1).selectExpr(f"{frag} AS c"))
    assert "a\\b" in plan  # folded literal, not a runtime cast
    assert "cast" not in plan.lower()


# --------------------------------------------------------- sql_lit typing

def test_num_literal_guards(spark):
    """sql_lit renders bool as a BOOLEAN literal (bool is an int
    subclass — a bare ``True`` token is invalid), non-finite floats as
    castable spellings (``infD``/``nanD`` fail to parse), finite floats
    as DOUBLE (a bare decimal parses as DECIMAL), strings with quotes,
    backslashes and control characters through sql_str, and None as a
    NULL; every value and type is identical to F.lit's."""
    exprs = [f"{sql_lit(x)} AS c{i}" for i, x in enumerate(LIT_CASES)]
    lits = [F.lit(x).alias(f"l{i}") for i, x in enumerate(LIT_CASES)]
    df = spark.range(1).selectExpr(*exprs).select("*", *lits)
    row = df.first()
    for i, x in enumerate(LIT_CASES):
        got, want = row[f"c{i}"], row[f"l{i}"]
        assert got == want or (got != got and want != want), (x, got)
        # typing identical to F.lit
        assert (df.schema[f"c{i}"].dataType
                == df.schema[f"l{i}"].dataType), x


# ------------------------------------------------- identifier hygiene

# adversarial characters: quoting delimiters, escapes, name-part
# separators, whitespace, and common lambda-variable names
ADVERSARIAL = "`'\\. ix"
_names = st.text(alphabet=ADVERSARIAL, min_size=1, max_size=5)


def _is_valid_table_name(name: str) -> bool:
    # Spark's session catalog admits only letters, digits and '_'
    return all(ch.isalnum() or ch == "_" for ch in name)


@given(cols=st.lists(_names, min_size=2, max_size=2,
                     unique_by=str.lower),
       table=_names,
       path=st.text(alphabet=ADVERSARIAL.replace("\\", ""), min_size=1,
                    max_size=5))
@example(cols=["`", "x'i"], table="ix", path="'")
@example(cols=["a b", "i.x"], table="x`i", path="` .")
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_adversarial_names_bucketed_layout_and_handback(
        engine, tmp_path_factory, cols, table, path):
    """Every site that splices a name into Spark SQL quotes it.

    register_bucketed quotes each column name (schema, CLUSTERED BY,
    SORTED BY) and binds the LOCATION path, so any column name and path
    round-trip: the table reads back the written rows. Table names
    follow Spark's catalog API convention (a quoted name is passed
    quoted): a name the catalog admits registers, any other is refused
    by the catalog's own name rule — never a SQL parse error. Paths
    exclude ``\\``: Hadoop reads it as a glob escape, so no path holding
    one can be scanned, quoted or not.

    A federated hand-back is aligned to the locally analyzed schema by
    position: remote names are replaced by the local ones and every
    column is cast to its local type, selecting each by its quoted name,
    so any local name aligns instead of leaving the frame uncast behind
    a recorded error."""
    from pyspark.errors import AnalysisException
    from pyspark.errors.exceptions.captured import ParseException
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from clickhouse_datafusion_spark.operators.layout import (
        register_bucketed, write_bucketed)

    spark = engine.spark
    key, val = cols
    df = spark.range(20).selectExpr(f"id AS {sql_ident(key)}",
                                    f"id % 3 AS {sql_ident(val)}")
    spark.sql("DROP TABLE IF EXISTS hygiene_src")
    write_bucketed(df, "hygiene_src", [key], 2, sort_cols=[val])
    src = (spark.sql("DESCRIBE TABLE EXTENDED hygiene_src")
           .filter("col_name = 'Location'").first()[1])
    dst = str(tmp_path_factory.mktemp("hyg") / ("d" + path))
    shutil.copytree(src.removeprefix("file:"), dst)
    spark.sql("DROP TABLE hygiene_src")
    name = sql_ident(table)
    if _is_valid_table_name(table):
        try:
            register_bucketed(spark, name, dst, [key], 2, sort_cols=[val])
            back = spark.table(name)
            assert back.columns == cols
            assert back.count() == 20
            assert back.agg(F.sum(F.col(sql_ident(val)))).first()[0] == sum(
                i % 3 for i in range(20))
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
    else:
        with pytest.raises(AnalysisException) as ei:
            register_bucketed(spark, name, dst, [key], 2, sort_cols=[val])
        assert not isinstance(ei.value, ParseException), ei.value

    remote = spark.createDataFrame([(1, 2)], "r0 int, r1 int")
    local = StructType([StructField(key, DoubleType()),
                        StructField(val, LongType())])
    engine.last_remote_align_error = None
    out = engine._align_remote_schema(remote, local)
    assert engine.last_remote_align_error is None
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        (f.name, f.dataType) for f in local.fields]
    assert list(out.first()) == [1, 2]
