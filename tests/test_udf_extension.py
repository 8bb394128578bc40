"""UDF/UDAF/UDTF extension surface (SURVEY §2.9) + coercion mode + error
parity (SURVEY §7 'hard parts': reproduce the reference's error semantics).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T


# -- scalar UDF registration (reference src/context.rs:98-99) --------------

def test_register_scalar_udf(engine):
    engine.register_udf("my_double", lambda x: x * 2, T.LongType())
    r = engine.sql(
        "SELECT my_double(o_orderkey) AS d FROM clickhouse.main.orders "
        "WHERE o_orderkey = 21").collect()[0]
    assert r.d == 42


def test_pandas_udf_vectorized(spark, views):
    @F.pandas_udf(T.DoubleType())
    def sig(s: pd.Series) -> pd.Series:
        import numpy as np

        return 1.0 / (1.0 + np.exp(-s))

    out = (spark.table("orders").limit(100)
           .select(sig(F.col("o_totalprice") / 100000).alias("s")).collect())
    assert all(0.0 < r.s < 1.0 for r in out)


def test_grouped_agg_pandas_udaf(spark, views):
    # UDAF surface: GROUPED_AGG pandas_udf (reference has no custom UDAFs,
    # passthrough only — src/context.rs:446-452)
    @F.pandas_udf(T.DoubleType())
    def geo_mean(v: pd.Series) -> float:
        import numpy as np

        return float(np.exp(np.log(v.clip(lower=1e-9)).mean()))

    out = (spark.table("orders")
           .groupBy("o_orderstatus")
           .agg(geo_mean("o_totalprice").alias("gm"))).collect()
    assert len(out) == 3 and all(r.gm > 0 for r in out)


def test_python_udtf(spark):
    # table-function passthrough (reference src/context.rs:422-436) →
    # Python UDTF (Spark 3.5+)
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, n: int")
    class Explode3:
        def eval(self, s: str):
            for i, w in enumerate(s.split("-")):
                yield w, i

    spark.udtf.register("explode3", Explode3)
    rows = spark.sql("SELECT * FROM explode3('a-b-c')").collect()
    assert [(r.word, r.n) for r in rows] == [("a", 0), ("b", 1), ("c", 2)]


# -- coercion mode (reference src/stream.rs:45-78, builders.rs:128-135) ----

def test_coercion_mode_nulls_instead_of_error(spark):
    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine

    strict = ClickHouseSparkEngine(spark)
    lax = ClickHouseSparkEngine(spark, coercion=True)
    q = "SELECT clickhouse(concat('x', '1'), 'Int64') AS v"
    # strict: ANSI CAST of 'x1' to BIGINT errors at execution
    with pytest.raises(Exception, match="(?i)cast|number"):
        strict.sql(q).collect()
    # coercion: TRY_CAST → NULL (the reference casts per-batch, errors off)
    assert lax.sql(q).collect()[0].v is None


def test_coercion_still_casts_valid_values(spark):
    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine

    lax = ClickHouseSparkEngine(spark, coercion=True)
    assert lax.sql("SELECT clickhouse(concat('4', '2'), 'Int64') AS v") \
        .collect()[0].v == 42


def test_coercion_mode_is_per_rewrite_under_threads():
    """Two threads rewrite with opposite ``coercion`` settings at a
    microsecond switch interval; each rewrite emits its own cast mode,
    so concurrent engines never swap ``CAST`` and ``TRY_CAST``."""
    import sys
    import threading

    from clickhouse_datafusion_spark.functions.rewrite import rewrite_sql

    q = "SELECT clickhouse(concat('4', '2'), 'Int64') AS v"
    wrong = {True: 0, False: 0}
    start = threading.Barrier(2)

    def run(coercion):
        start.wait(timeout=60)
        want = "SELECT TRY_CAST(" if coercion else "SELECT CAST("
        for _ in range(300):
            out = rewrite_sql(q, coercion=coercion)
            if not out.startswith(want):
                wrong[coercion] += 1

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        ts = [threading.Thread(target=run, args=(c,)) for c in (True, False)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in ts)
    assert wrong == {True: 0, False: 0}


# -- error parity (SURVEY §7) ---------------------------------------------

def test_group_by_violation_errors(engine):
    # reference: UDF in agg list must appear in group keys, else plan error
    # (e2e.rs:1342-1351, function_pushdown.rs:575-612). Catalyst's
    # CheckAnalysis raises the equivalent.
    with pytest.raises(Exception, match="(?i)group|aggregate"):
        engine.sql("""
            SELECT clickhouse(upper(o_orderstatus), 'Utf8'), count(*)
            FROM clickhouse.main.orders GROUP BY o_orderpriority
        """).collect()


def test_unknown_function_lists_supported(engine):
    from clickhouse_datafusion_spark.functions.registry import (
        UnknownClickHouseFunction)

    with pytest.raises(UnknownClickHouseFunction, match="(?i)arraymap"):
        engine.sql("SELECT clickhouse(`frobnicate`(1), 'Int64')")


def test_nullability_of_ch_result(spark, views):
    # F5: result nullable iff any non-list arg nullable; our cast path keeps
    # non-null inputs non-null through native evaluation
    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine

    eng = ClickHouseSparkEngine(spark)
    df = eng.sql("SELECT clickhouse(upper('abc'), 'Utf8') AS v")
    assert df.collect()[0].v == "ABC"
