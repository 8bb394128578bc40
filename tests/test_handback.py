"""The Arrow an engine-made result frame holds must collect exactly as
its JVM twin does. ``sink.arrow_frame`` keeps the table it sent to the
JVM and serves ``toPandas()`` / ``toArrow()`` from it, with no Spark
job; every case here compares that against the same JVM frame
collected the usual way, ``DataFrame(frame._jdf, spark)``. The type
envelope covers every Spark type an engine-made frame can carry, with
nulls, under two session timezones, both Arrow string widths, a
timezone changed after the build, selfDestruct and concurrent
collects."""

from __future__ import annotations

import datetime as dt
import math
import threading
from decimal import Decimal

import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql.classic.dataframe import DataFrame

from clickhouse_datafusion_spark.sink import _HeldArrowFrame, arrow_frame
from tests.conftest import jobs_of

TZ = "spark.sql.session.timeZone"
LARGE = "spark.sql.execution.arrow.useLargeVarTypes"
SELF_DESTRUCT = "spark.sql.execution.arrow.pyspark.selfDestruct.enabled"
LA = "America/Los_Angeles"


@pytest.fixture()
def conf(spark):
    """Set session confs for one test; every touched key is restored."""
    saved = {}

    def set_(key, value):
        saved.setdefault(key, spark.conf.get(key))
        spark.conf.set(key, value)

    try:
        yield set_
    finally:
        for key, value in saved.items():
            spark.conf.set(key, value)


def _nan_free(v):
    """``to_pylist`` values with NaN made comparable (Arrow's ``equals``
    treats NaN != NaN)."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, dict):
        return {k: _nan_free(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_nan_free(x) for x in v]
    return v


def _assert_collects_as_jvm(spark, held):
    """``held`` collects with no Spark job, to what its JVM twin
    collects."""
    assert isinstance(held, _HeldArrowFrame)
    (pdf, mine), jobs = jobs_of(spark,
                                lambda: (held.toPandas(), held.toArrow()))
    assert jobs == 0
    jvm = DataFrame(held._jdf, spark)
    pd.testing.assert_frame_equal(pdf, jvm.toPandas(), check_dtype=True)
    theirs = jvm.toArrow()
    assert mine.schema == theirs.schema
    assert _nan_free(mine.to_pylist()) == _nan_free(theirs.to_pylist())


_T0 = dt.datetime(2021, 3, 14, 10, 30, 0, 123456)   # LA: after the gap
_CASES = {
    "bool": ("c boolean", [True, False, None]),
    "int8": ("c tinyint", [-128, 127, None]),
    "int16": ("c smallint", [-32768, 32767, None]),
    "int32": ("c int", [-2**31, 2**31 - 1, None]),
    "int64": ("c bigint", [-2**63, 2**63 - 1, None]),
    "float": ("c float", [1.5, float("nan"), float("inf"), float("-inf"),
                          None]),
    "double": ("c double", [0.1, float("nan"), float("inf"),
                            float("-inf"), -0.0, None]),
    "decimal": ("c decimal(12,3)", [Decimal("123456789.125"),
                                    Decimal("-0.001"), None]),
    "string": ("c string", ["é漢字 \U0001f600", "", None]),
    "binary": ("c binary", [b"\x00\xff", b"", None]),
    "date": ("c date", [dt.date(1970, 1, 1), dt.date(2024, 2, 29),
                        dt.date(1900, 1, 1), None]),
    "timestamp": ("c timestamp", [_T0, dt.datetime(1969, 12, 31, 23, 59,
                                                   59, 999999), None]),
    "timestamp_ntz": ("c timestamp_ntz",
                      [_T0, dt.datetime(1900, 1, 1, 0, 0, 0, 1), None]),
    "array": ("c array<int>", [[1, None, 3], [], None]),
    "struct": ("c struct<a:int,b:string,t:timestamp>",
               [{"a": 1, "b": None, "t": _T0}, {"a": None, "b": "x",
                                                 "t": None}, None]),
    "map": ("c map<string,double>",
            [[("k", 1.0), ("n", None)], [], None]),
}


@pytest.mark.parametrize("tz", ["UTC", LA])
@pytest.mark.parametrize("case", sorted(_CASES))
def test_held_frame_collects_as_jvm(spark, conf, case, tz):
    """Each type, with nulls and its edge values, in a frame built from
    rows (the count-frame form) under the session timezone."""
    ddl, values = _CASES[case]
    conf(TZ, tz)
    held = arrow_frame(spark, [(i, v) for i, v in enumerate(values)],
                       f"i int, {ddl}")
    _assert_collects_as_jvm(spark, held)


def _table():
    """The cases Arrow infers from Python values, as one wide Arrow
    table, plus the naive timestamps the remote stream hands back
    (localized in the session timezone)."""
    n = max(len(v) for _, v in _CASES.values())

    def column(name):
        values = _CASES[name][1]
        return values + [None] * (n - len(values))

    tbl = pa.table({name: column(name) for name in (
        "array", "binary", "bool", "date", "double", "int32", "int64",
        "string")})
    return tbl.append_column(
        "ts", pa.array(column("timestamp"), pa.timestamp("us")))


@pytest.mark.parametrize("large", ["false", "true"])
@pytest.mark.parametrize("tz", ["UTC", LA])
def test_held_table_collects_as_jvm(spark, conf, tz, large):
    """A shipped read's form: a pyarrow Table with no schema given,
    its naive timestamps localized in the session timezone, under
    both Arrow string widths."""
    conf(TZ, tz)
    conf(LARGE, large)
    _assert_collects_as_jvm(spark, arrow_frame(spark, _table()))


@pytest.mark.parametrize("built, collected", [("UTC", LA), (LA, "UTC")])
def test_timezone_changed_after_build(spark, conf, built, collected):
    """The held table keeps the instants the JVM was sent; a collect
    under another session timezone renders them as the JVM does."""
    conf(TZ, built)
    held = arrow_frame(spark, _table())
    rows = arrow_frame(spark, [(v,) for v in _CASES["timestamp"][1]],
                       "c timestamp")
    conf(TZ, collected)
    _assert_collects_as_jvm(spark, held)
    _assert_collects_as_jvm(spark, rows)


def test_large_var_types_changed_after_build(spark, conf):
    conf(LARGE, "false")
    held = arrow_frame(spark, _table())
    conf(LARGE, "true")
    _assert_collects_as_jvm(spark, held)


def test_zero_rows_and_duplicate_names(spark):
    """A zero-row frame (a frame of every case's type), and duplicate
    column names at the top level."""
    ddl = ", ".join(f"{name} {d.split(' ', 1)[1]}"
                    for name, (d, _) in sorted(_CASES.items()))
    _assert_collects_as_jvm(spark, arrow_frame(spark, [], ddl))
    _assert_collects_as_jvm(spark, arrow_frame(spark, pa.table(
        {"a": pa.array([], pa.int64())})))
    dup = arrow_frame(spark, [(1, "x", 2.0), (None, None, None)],
                      "a bigint, a string, A double")
    assert dup.columns == ["a", "a", "A"]
    _assert_collects_as_jvm(spark, dup)


def test_self_destruct_collects_twice(spark, conf):
    """selfDestruct frees the batches it converts: the held table must
    survive it, so a second collect reads the same rows."""
    conf(SELF_DESTRUCT, "true")
    held = arrow_frame(spark, _table())
    first = held.toPandas()
    _assert_collects_as_jvm(spark, held)
    pd.testing.assert_frame_equal(first, held.toPandas(), check_dtype=True)
    assert held._held.num_rows == len(first)


def test_concurrent_collects_of_one_frame(spark):
    held = arrow_frame(spark, _table())
    want = DataFrame(held._jdf, spark).toPandas()
    errors, barrier = [], threading.Barrier(4)

    def collect():
        try:
            barrier.wait()
            for _ in range(5):
                pd.testing.assert_frame_equal(held.toPandas(), want,
                                              check_dtype=True)
        except Exception as e:  # surfaces in the main thread's assert
            errors.append(e)

    threads = [threading.Thread(target=collect) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors


def test_derived_frame_is_plain(spark):
    """Only the frame whose data is the held table takes the shortcut:
    a transformation is a plain frame collected through Spark."""
    held = arrow_frame(spark, [(1, "a"), (2, "b")], "k bigint, s string")
    for derived in (held.select("k"), held.filter("k > 1"),
                    held.withColumnRenamed("k", "j"), held.limit(1)):
        assert type(derived) is DataFrame


_NAMES = st.text(st.characters(codec="utf-8",
                               exclude_categories=("Cs", "Cc")),
                 min_size=1, max_size=6)


@given(data=st.data())
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_random_frames_collect_as_jvm(spark, data):
    """Random schemas over the case types with adversarial column names
    (unicode, spaces, backticks, repeats) and random rows drawn from
    each type's edge values and nulls."""
    picks = data.draw(st.lists(st.sampled_from(sorted(_CASES)),
                               min_size=1, max_size=5))
    names = data.draw(st.lists(_NAMES, min_size=len(picks),
                               max_size=len(picks)))
    n = data.draw(st.integers(0, 6))
    rows = [tuple(data.draw(st.sampled_from(_CASES[p][1])) for p in picks)
            for _ in range(n)]
    struct = ", ".join(
        f"`{name.replace('`', '``')}` {_CASES[p][0].split(' ', 1)[1]}"
        for name, p in zip(names, picks))
    _assert_collects_as_jvm(spark, arrow_frame(spark, rows, struct))
