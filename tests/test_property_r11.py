"""r11 property suites (verdict task 7): the spool path's batch-boundary
behavior, register_bucketed under concurrent re-attach, and compaction
idempotence under adversarial small-file distributions.

The three targets continue the property channel that caught real defects
in r8-r10 (slack/subnormal kernels, decoder truncation, funnel oracles):
each suite drives a seam the example-based tests only touch at one
point."""

from __future__ import annotations

import threading

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import SF_SMOKE


# ---------------------------------------------------------------------
# spool batch boundaries (read + write direction)
# ---------------------------------------------------------------------

@pytest.fixture(scope="module")
def fed(spark):
    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine
    from clickhouse_datafusion_spark.sources.remote_engine import (
        RemoteEngine)

    eng = ClickHouseSparkEngine(spark)
    remote = RemoteEngine(pool_size=4)
    remote.register_parquet_dir(SF_SMOKE, tables=["orders"])
    eng.attach_remote(remote, db="remote", local_twin_dir=SF_SMOKE)
    return eng, remote


@pytest.fixture(params=["fits", "spills"])
def hand_back(request, spark):
    """Both branches of the streamed hand-back: the default threshold
    (the result comes back as an Arrow LocalRelation) and a 1-byte
    ``localRelationThreshold`` (the first batch already crosses it, so
    the stream spills to the parquet spool)."""
    key = "spark.sql.execution.arrow.localRelationThreshold"
    prev = spark.conf.get(key)
    if request.param == "spills":
        spark.conf.set(key, "1")
    try:
        yield request.param
    finally:
        spark.conf.set(key, prev)


def _assert_hand_back(df, remote, branch):
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = "LocalTableScan" if branch == "fits" else "FileScan parquet"
    assert scan in plan, plan
    assert remote._pool.qsize() == remote.pool_size     # every cursor back


def test_streamed_ship_with_all_null_column(fed, spark, hand_back):
    """A shipped non-reducing result whose column is ALL NULL must
    survive either hand-back — the Arrow LocalRelation and the parquet
    spool round trip (an all-null Arrow column can carry the null type,
    which parquet cannot store untyped) — with the schema and values
    intact."""
    from pyspark.sql import types as T

    eng, remote = fed
    remote.create_table("nullcol_t", "k BIGINT, v DOUBLE, s VARCHAR")
    remote.execute_insert(
        "INSERT INTO nullcol_t VALUES (1, NULL, NULL), (2, NULL, NULL), "
        "(3, NULL, NULL)")
    try:
        q = "SELECT k, v, s FROM clickhouse.remote.nullcol_t"
        df = eng.sql(q)
        assert eng.last_remote_sql is not None          # shipped
        _assert_hand_back(df, remote, hand_back)
        assert df.schema == T.StructType([
            T.StructField("k", T.LongType()),
            T.StructField("v", T.DoubleType()),
            T.StructField("s", T.StringType())])
        rows = sorted((r.k, r.v, r.s) for r in df.collect())
        assert rows == [(1, None, None), (2, None, None), (3, None, None)]
    finally:
        remote.drop_table("nullcol_t")


def test_streamed_ship_spans_many_batches_exact_rows(fed, spark, hand_back):
    """A shipped result larger than one RecordBatch (the stream yields
    64k-row batches) must hand back EXACTLY the remote row count on
    either branch — no dropped or duplicated batch at any boundary,
    including the final partial batch, and none lost where the spill
    branch switches from its buffer to the rest of the stream."""
    from pyspark.sql import types as T

    eng, remote = fed
    n = 150_000          # 2 full batches + 1 partial at 65536
    remote.create_table("big_t", "k BIGINT")
    remote.execute_insert(
        f"INSERT INTO big_t SELECT * FROM range({n})")
    try:
        df = eng.sql("SELECT k FROM clickhouse.remote.big_t")
        assert eng.last_remote_sql is not None
        _assert_hand_back(df, remote, hand_back)
        assert df.schema == T.StructType([T.StructField("k", T.LongType())])
        assert df.count() == n
        agg = df.agg({"k": "sum"}).first()[0]
        assert agg == n * (n - 1) // 2                   # exact content
    finally:
        remote.drop_table("big_t")


@given(sizes=st.lists(st.integers(min_value=0, max_value=7),
                      min_size=1, max_size=5))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_write_spool_partition_boundaries(fed, spark, sizes):
    """Write direction: a local INSERT source with ADVERSARIAL partition
    shapes (empty partitions, single-row partitions, all-empty) must
    append exactly its rows — the spool's per-file batch iteration must
    not drop an empty partition's file or double-count a boundary."""
    from pyspark.sql import functions as F

    eng, remote = fed
    total = sum(sizes)
    src = spark.range(total).select(
        F.col("id").alias("k"),
        F.log(F.col("id") + 1).alias("v"))          # log() -> unshippable
    # adversarial layout: as many partitions as sizes, some empty
    src = src.repartition(len(sizes))
    remote.create_table("pb_t", "k BIGINT, v DOUBLE")
    try:
        # front-door path: register the source as a view
        src.createOrReplaceTempView("pb_src")
        eng.sql("INSERT INTO clickhouse.remote.pb_t "
                "SELECT k, log(v + 1) AS v FROM pb_src")
        assert eng.last_remote_insert == "arrow-stream"
        got = remote.execute(
            "SELECT CAST(count(*) AS BIGINT) FROM pb_t"
        ).column(0)[0].as_py()
        assert got == total
    finally:
        remote.drop_table("pb_t")
        spark.catalog.dropTempView("pb_src")


# ---------------------------------------------------------------------
# register_bucketed under concurrent re-attach
# ---------------------------------------------------------------------

def test_register_bucketed_concurrent_reattach(spark, tmp_path):
    """Two sessions racing to re-attach the same bucketed layout under
    one table name: exactly one CREATE wins, every loser gets a raised
    error (never a silent no-op), and the winner's table answers
    queries — the deployment round trip is safe to retry."""
    from pyspark.sql import functions as F

    from clickhouse_datafusion_spark.operators.layout import (
        register_bucketed, write_bucketed)

    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    spark.sql("DROP TABLE IF EXISTS race_src")
    write_bucketed(df, "race_src", ["k"], 4)
    path = (spark.sql("DESCRIBE TABLE EXTENDED race_src")
            .filter("col_name = 'Location'").first()[1])
    results: list = [None] * 4

    def attempt(i):
        try:
            register_bucketed(spark, "race_bkt", path, ["k"], 4)
            results[i] = "ok"
        except Exception as e:
            results[i] = type(e).__name__

    ts = [threading.Thread(target=attempt, args=(i,)) for i in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    try:
        assert results.count("ok") >= 1          # someone won
        # losers raised (ValueError from the exists-check or the
        # catalog's AnalysisException from the CREATE race) — never a
        # silent success beyond one
        assert all(r is not None for r in results)
        assert spark.sql("SELECT count(*) FROM race_bkt").first()[0] == 1000
    finally:
        spark.sql("DROP TABLE IF EXISTS race_bkt")
        spark.sql("DROP TABLE IF EXISTS race_src")


# ---------------------------------------------------------------------
# compaction idempotence under adversarial small-file distributions
# ---------------------------------------------------------------------

@given(parts=st.integers(min_value=1, max_value=24),
       rows=st.integers(min_value=0, max_value=2000))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_compaction_idempotent_and_monotone(spark, tmp_path_factory,
                                            parts, rows):
    """compact_snapshot under generated small-file layouts: (a) data is
    row-identical across versions, (b) the file count never grows
    (compaction only shrinks), (c) compacting an already-compacted
    snapshot is idempotent on layout — a second pass cannot
    re-fragment."""
    import os

    from pyspark.sql import functions as F

    from clickhouse_datafusion_spark.operators.layout import (
        compact_snapshot, list_snapshots, read_snapshot, write_snapshot)

    path = str(tmp_path_factory.mktemp("compact"))

    def n_files(v):
        vdir = os.path.join(path, f"v={v}")
        return sum(1 for f in os.listdir(vdir) if f.endswith(".parquet"))

    df = spark.range(rows).select(
        F.col("id").alias("k"),
        F.concat(F.lit("doc_"), F.col("id")).alias("text"))
    v1 = write_snapshot(df.repartition(parts), path)
    v2 = compact_snapshot(spark, path, target_bytes=1 << 30)
    v3 = compact_snapshot(spark, path, target_bytes=1 << 30)
    assert list_snapshots(path) == [v1, v2, v3]
    base = sorted(tuple(r) for r in read_snapshot(spark, path, v1).collect())
    for v in (v2, v3):
        assert sorted(tuple(r)
                      for r in read_snapshot(spark, path, v).collect()) \
            == base
    assert n_files(v2) <= max(1, n_files(v1))
    assert n_files(v3) == n_files(v2)          # idempotent on layout
