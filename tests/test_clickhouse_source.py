"""The clickhouse_native Python DataSource — the connector-machinery analog
of the reference's TableProvider stack (schema discovery, filter pushdown,
partitioned scans, append-only writes).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from clickhouse_datafusion_spark.catalog import resolve_parquet_path
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def src(spark, tmp_path_factory):
    from clickhouse_datafusion_spark.sources import register_clickhouse_source

    register_clickhouse_source(spark)
    d = tmp_path_factory.mktemp("ch_table")
    shutil.copy(resolve_parquet_path(f"{SF_SMOKE}/orders.parquet"),
                d / "part_0.parquet")
    return str(d)


def test_read_matches_parquet(spark, src):
    ours = spark.read.format("clickhouse_native").option("path", src).load()
    ref = spark.read.parquet(f"{src}/part_0.parquet")
    assert ours.schema == ref.schema
    assert ours.count() == ref.count()
    assert ours.agg(F.sum("o_orderkey")).first()[0] == \
        ref.agg(F.sum("o_orderkey")).first()[0]


def test_filter_pushdown_correctness(spark, src):
    df = (spark.read.format("clickhouse_native").option("path", src).load()
          .filter((F.col("o_totalprice") > 200000)
                  & (F.col("o_orderstatus") == "O")))
    ref = (spark.read.parquet(f"{src}/part_0.parquet")
           .filter((F.col("o_totalprice") > 200000)
                   & (F.col("o_orderstatus") == "O")))
    assert df.count() == ref.count() > 0


def test_filter_pushdown_partial_support(spark, src):
    """A LIKE filter isn't pushable — must be returned to Spark and still
    applied (the Exact/Unsupported split)."""
    df = (spark.read.format("clickhouse_native").option("path", src).load()
          .filter(F.col("o_orderpriority").like("1-%"))
          .filter(F.col("o_orderkey") <= 500))
    ref = (spark.read.parquet(f"{src}/part_0.parquet")
           .filter(F.col("o_orderpriority").like("1-%"))
           .filter(F.col("o_orderkey") <= 500))
    assert df.count() == ref.count() > 0


def test_isin_and_null_filters(spark, src):
    df = (spark.read.format("clickhouse_native").option("path", src).load()
          .filter(F.col("o_orderstatus").isin("O", "F"))
          .filter(F.col("o_custkey").isNotNull()))
    ref = (spark.read.parquet(f"{src}/part_0.parquet")
           .filter(F.col("o_orderstatus").isin("O", "F"))
           .filter(F.col("o_custkey").isNotNull()))
    assert df.count() == ref.count() > 0


def test_partitions_per_row_group(spark, src):
    """Scan parallelism = one partition per row group (vs the reference's
    single-partition remote scans, src/sql.rs:304-309)."""
    import pyarrow.parquet as pq

    n_groups = pq.ParquetFile(f"{src}/part_0.parquet").num_row_groups
    df = spark.read.format("clickhouse_native").option("path", src).load()
    assert df.rdd.getNumPartitions() == n_groups >= 1


def test_append_write_and_readback(spark, src, tmp_path):
    out = str(tmp_path / "w_table")
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5)],
        "id bigint, name string, val double")
    (df.repartition(2).write.format("clickhouse_native")
     .option("path", out).mode("append").save())
    back = spark.read.format("clickhouse_native").option("path", out).load()
    assert back.count() == 3
    assert {r.name for r in back.collect()} == {"a", "b", "c"}
    # one part file per writer task (write concurrency = task parallelism)
    parts = [f for f in os.listdir(out) if f.startswith("part_")]
    assert len(parts) == 2
    # second append accumulates
    df.limit(1).write.format("clickhouse_native").option("path", out) \
        .mode("append").save()
    assert spark.read.format("clickhouse_native").option("path", out) \
        .load().count() == 4


def test_overwrite_rejected(spark, src, tmp_path):
    out = str(tmp_path / "w2")
    df = spark.createDataFrame([(1,)], "id bigint")
    with pytest.raises(Exception, match="(?i)append only|notimplemented"):
        df.write.format("clickhouse_native").option("path", out) \
            .mode("overwrite").save()


def test_catalog_registration_and_sql(spark, src, engine):
    """S11 analog: the connector surfaced as a SQL-queryable name.
    (Spark does not forward OPTIONS/LOCATION of catalog tables to Python
    data source readers, so registration goes through the reader API — a
    documented platform limitation.)"""
    engine.catalog.register_native_table("chn", "orders", src)
    n = spark.sql("SELECT count(*) AS n FROM chn_orders").first().n
    assert n == spark.read.parquet(f"{src}/part_0.parquet").count()
    # joins against ordinary tables work (federation)
    j = spark.sql("""
        SELECT count(*) AS n FROM chn_orders a
        JOIN chn_orders b ON a.o_orderkey = b.o_orderkey""").first().n
    assert j == n


def test_ddl_limitation_has_clear_error(spark, src):
    spark.sql("DROP TABLE IF EXISTS ch_native_ddl")
    spark.sql(f"CREATE TABLE ch_native_ddl USING clickhouse_native "
              f"OPTIONS (path '{src}')")
    try:
        with pytest.raises(Exception, match="register_native_table"):
            spark.sql("SELECT count(*) FROM ch_native_ddl").first()
    finally:
        spark.sql("DROP TABLE IF EXISTS ch_native_ddl")


def test_missing_path_errors(spark):
    with pytest.raises(Exception, match="path"):
        spark.read.format("clickhouse_native").load().count()


def test_ddl_roundtrip_through_engine(spark, src, engine):
    """S11 first-class: CREATE TABLE ... USING clickhouse_native through the
    engine front door is scannable (routed through the connector), listable,
    and droppable (reference table_factory.rs:216-275 ergonomics)."""
    engine.sql("DROP TABLE IF EXISTS main.nddl")
    engine.sql(f"CREATE TABLE main.nddl USING clickhouse_native "
               f"OPTIONS (path '{src}')")
    try:
        expect = spark.read.parquet(f"{src}/part_0.parquet").count()
        # engine.sql routes the reference through the connector view
        assert engine.sql("SELECT count(*) AS n FROM main.nddl").first().n == expect
        # 3-part spelling and engine.table() too
        assert engine.sql(
            "SELECT count(*) AS n FROM clickhouse.main.nddl").first().n == expect
        assert engine.table("main.nddl").count() == expect
        # the scan goes through the Python DataSource, not the parquet reader
        plan = engine.sql("SELECT * FROM main.nddl")._jdf.queryExecution() \
            .executedPlan().toString()
        assert "PythonDataSource" in plan or "clickhouse_native" in plan
        # catalog entry exists for listing (and other sessions)
        assert engine.catalog.table_exists("main", "nddl")
        props = engine.catalog.table_properties("main", "nddl")
        assert props.get("clickhouse.native") == "true"
    finally:
        engine.sql("DROP TABLE IF EXISTS main.nddl")
    assert not engine.catalog.table_exists("main", "nddl")
    # mapping removed: plain name no longer routes
    assert not engine._native_tables


def test_routing_skips_literals_and_columns(spark, src, engine):
    """Native-table routing must only rewrite table-reference positions:
    string literals and columns/aliases sharing the bare name are untouched
    (a blind textual substitution corrupts such queries)."""
    engine.sql("DROP TABLE IF EXISTS main.nddl")
    engine.sql(f"CREATE TABLE main.nddl USING clickhouse_native "
               f"OPTIONS (path '{src}')")
    try:
        # the literal 'nddl' and the alias nddl survive; FROM main.nddl routes
        row = engine.sql(
            "SELECT 'nddl' AS tagval, o_orderkey AS nddl "
            "FROM main.nddl WHERE o_orderstatus <> 'nddl' LIMIT 1").first()
        assert row.tagval == "nddl"
        routed = engine._route_native_tables(
            "SELECT 'x nddl y' AS s, t.nddl FROM other t WHERE c = 'nddl'")
        assert "'x nddl y'" in routed and "t.nddl" in routed \
            and "= 'nddl'" in routed
    finally:
        engine.sql("DROP TABLE IF EXISTS main.nddl")


def test_insert_into_native_ddl_table(spark, src, engine):
    """INSERT INTO a native-DDL table must not be routed to the read-only
    connector view — it lands in the writable catalog table, while a native
    table in the *source* query is still routed through the connector."""
    engine.sql("DROP TABLE IF EXISTS main.nddl")
    engine.sql(f"CREATE TABLE main.nddl USING clickhouse_native "
               f"OPTIONS (path '{src}')")
    try:
        before = engine.sql("SELECT count(*) AS n FROM main.nddl").first().n
        res = engine.sql(
            "INSERT INTO main.nddl SELECT * FROM main.nddl LIMIT 5")
        assert res.first()["count"] == 5
        engine.catalog.refresh_catalog("main")
        after = spark.table("main.nddl").count()
        assert after == before + 5
    finally:
        engine.sql("DROP TABLE IF EXISTS main.nddl")


def test_routing_skips_escaped_quotes(spark, src, engine):
    """A ``\\'``-escaped quote does not end a literal: the literal's text
    survives native routing, and the backticked reference routes."""
    engine.sql("DROP TABLE IF EXISTS main.nddl")
    engine.sql(f"CREATE TABLE main.nddl USING clickhouse_native "
               f"OPTIONS (path '{src}')")
    try:
        row = engine.sql("SELECT 'it\\'s from nddl' AS s, count(*) AS n "
                         "FROM `main`.`nddl`").first()
        assert row.s == "it's from nddl"
        assert row.n == spark.read.parquet(src).count()
    finally:
        engine.sql("DROP TABLE IF EXISTS main.nddl")
