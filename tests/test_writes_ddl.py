"""Writes + DDL suite — mirrors the reference's e2e write suites
(tests/e2e.rs: insert, parallel_writes, insert_metrics, drop_table,
sink_write_all; tests/e2e.rs:1590-1650 schema-error cases; e2e.rs:2041-2142
parallel-write correctness).
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from clickhouse_datafusion_spark.sink import (
    OverwriteNotSupported,
    SchemaValidationError,
    insert_into,
    run_insert_sql,
)
from tests.conftest import jobs_of


@pytest.fixture()
def tbl(spark, engine):
    """A fresh managed parquet table per test (unique name avoids
    LOCATION_ALREADY_EXISTS from prior crashed runs)."""
    short = f"w_{uuid.uuid4().hex[:10]}"
    name = f"main.{short}"
    engine.catalog.create_table(
        "main", short, "id BIGINT NOT NULL, name STRING, val DOUBLE")
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_insert_values_returns_count(engine, tbl):
    # reference: INSERT returns a one-row count batch (examples/03_joins.rs:79-81)
    res = engine.sql(f"INSERT INTO clickhouse.{tbl} VALUES (1, 'a', 1.5), (2, 'b', 2.5)")
    assert res.columns == ["count"]
    assert res.collect()[0]["count"] == 2


def test_insert_select_returns_count(spark, engine, tbl):
    res = engine.sql(
        f"INSERT INTO {tbl} "
        f"SELECT o_orderkey, o_orderstatus, o_totalprice "
        f"FROM clickhouse.main.orders WHERE o_orderkey <= 100")
    n = res.collect()[0]["count"]
    assert n == spark.table(tbl).count() and n > 0


def test_insert_df_parallel_write_correctness(spark, tbl):
    # reference: 5,000 rows, COUNT and SUM verified (e2e.rs:2041-2142)
    src = spark.range(5000).select(
        F.col("id").cast("bigint"),
        F.concat(F.lit("row"), F.col("id")).alias("name"),
        (F.col("id") * 1.5).alias("val"))
    res = insert_into(spark, src, tbl, write_concurrency=4)
    assert res.collect()[0]["count"] == 5000
    agg = spark.table(tbl).agg(
        F.count("*").alias("n"), F.sum("id").alias("s")).collect()[0]
    assert agg["n"] == 5000 and agg["s"] == 5000 * 4999 // 2


def test_write_concurrency_partitions(spark, tbl):
    # write_concurrency=N → N writer tasks → N output files (buffer_unordered analog)
    src = spark.range(1000).select(
        F.col("id"), F.lit("x").alias("name"), F.lit(0.0).alias("val"))
    insert_into(spark, src, tbl, write_concurrency=8)
    loc = [r["col_name"] == "Location" and r["data_type"] or None
           for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()]
    files = spark.table(tbl).inputFiles()
    assert len(files) == 8


def test_overwrite_rejected(spark, tbl):
    src = spark.range(1).select(F.col("id"), F.lit("x").alias("name"),
                                F.lit(0.0).alias("val"))
    with pytest.raises(OverwriteNotSupported):
        insert_into(spark, src, tbl, overwrite=True)


def test_schema_error_categories(spark, tbl):
    # four distinct error categories (reference src/sink.rs:46-81)
    with pytest.raises(SchemaValidationError, match="field count"):
        insert_into(spark, spark.range(1).select("id"), tbl)
    with pytest.raises(SchemaValidationError, match="missing field"):
        insert_into(spark, spark.range(1).select(
            "id", F.lit("x").alias("wrong"), F.lit(0.0).alias("val")), tbl)
    with pytest.raises(SchemaValidationError, match="type mismatch"):
        insert_into(spark, spark.range(1).select(
            "id", F.lit("x").alias("name"), F.lit(1).alias("val")), tbl)
    with pytest.raises(SchemaValidationError, match="nullability"):
        insert_into(spark, spark.range(1).select(
            F.lit(None).cast("bigint").alias("id"),
            F.lit("x").alias("name"), F.lit(0.0).alias("val")), tbl)


def test_create_table_with_options(spark, engine):
    # reference: CreateOptions{engine, order_by, primary_keys, ttl, defaults}
    # (src/utils/params.rs:42-69, table_factory.rs:216-275)
    cat = engine.catalog
    name = f"opt_{uuid.uuid4().hex[:10]}"
    cat.create_table(
        "main", name,
        "id INT NOT NULL, name STRING NOT NULL, score DOUBLE",
        engine="MergeTree", order_by=["id", "name"], primary_keys=["id"],
        ttl="30 DAYS", defaults={"name": "'Unknown'"})
    props = cat.table_properties("main", name)
    assert props["clickhouse.engine"] == "MergeTree"
    assert props["clickhouse.order_by"] == "id,name"
    assert props["clickhouse.ttl"] == "30 DAYS"
    # column default applies on INSERT without the column
    spark.sql(f"INSERT INTO main.{name} (id, score) VALUES (1, 2.0)")
    assert spark.table(f"main.{name}").first()["name"] == "Unknown"
    cat.drop_table("main", name)


def test_drop_table_semantics(spark, engine):
    # reference: deregister issues DROP TABLE IF EXISTS (catalog.rs:202-240)
    cat = engine.catalog
    name = f"drop_{uuid.uuid4().hex[:10]}"
    spark.sql(f"CREATE TABLE main.{name} (id INT) USING parquet")
    assert cat.table_exists("main", name)
    cat.drop_table("main", name)
    assert not cat.table_exists("main", name)
    cat.drop_table("main", name, if_exists=True)  # idempotent
    with pytest.raises(Exception):
        cat.drop_table("main", name, if_exists=False)


def test_catalog_listing_refresh(spark, engine):
    cat = engine.catalog
    assert "main" in cat.schema_names()
    assert "orders" in cat.table_names("main")
    cat.refresh_catalog("main")  # no-throw


def test_insert_sql_count_parse(spark):
    """The SQL path reads its target from Spark's parsed plan and keys
    the table lock through the same function as the DataFrame path, so
    every spelling of one table shares one lock."""
    from clickhouse_datafusion_spark.sink import (
        _parser, _table_write_lock, parse_insert)

    locks = set()
    for stmt in ("INSERT INTO main.t VALUES (1)",
                 "INSERT INTO TABLE main.t SELECT 1",
                 "insert into `main`.`t`(a,b) values (1,2)",
                 "INSERT INTO MAIN.T SELECT 1"):
        target = parse_insert(spark, stmt).table().multipartIdentifier()
        assert target.mkString(".").lower() == "main.t"
        locks.add(_table_write_lock(spark, target))
    for name in ("main.t", "`main`.`t`", "MAIN.T"):
        locks.add(_table_write_lock(
            spark, _parser(spark).parseMultipartIdentifier(name)))
    assert len(locks) == 1
    other = _parser(spark).parseMultipartIdentifier("main.u")
    assert _table_write_lock(spark, other) not in locks
    with pytest.raises(ValueError, match="not a table INSERT"):
        parse_insert(spark, "INSERT OVERWRITE DIRECTORY '/x' "
                            "USING parquet SELECT 1")


def test_insert_into_single_pass(spark, tbl):
    # The input plan must execute exactly ONCE per insert (reference folds
    # row counts from the write stream, src/sink.rs:202-210). A counting UDF
    # in the input proves it: 3 passes would triple the accumulator.
    acc = spark.sparkContext.accumulator(0)

    def bump(x):
        acc.add(1)
        return x

    bump_udf = F.udf(bump, "bigint")
    src = spark.range(100).select(
        bump_udf("id").alias("id"), F.lit("x").alias("name"),
        F.lit(1.0).alias("val"))
    res = insert_into(spark, src, tbl, write_concurrency=4)
    assert res.collect()[0]["count"] == 100
    assert acc.value == 100


def test_run_insert_sql_single_pass(spark, tbl):
    # Every INSERT shape runs as Spark's own command and counts from the
    # write's numOutputRows: one write job, no before/after table counts.
    spark.sql(f"INSERT INTO {tbl} VALUES (1, 'seed', 0.5)")
    res = run_insert_sql(
        spark, f"INSERT INTO {tbl} SELECT id, 'n', 2.0 FROM range(10)")
    assert res.collect()[0]["count"] == 10
    assert spark.table(tbl).count() == 11
    res, jobs = jobs_of(spark, lambda: run_insert_sql(
        spark, f"INSERT INTO {tbl} (val, id) SELECT 1.0, id FROM range(7)"))
    assert (res.collect()[0]["count"], jobs) == (7, 1)
    # a source with an exchange runs adaptively; its count is as exact
    res = run_insert_sql(
        spark, f"INSERT INTO {tbl} (id, val) SELECT id % 4, 0.0 "
               "FROM range(50) GROUP BY id % 4")
    assert res.collect()[0]["count"] == 4
    part = f"main.p_{uuid.uuid4().hex[:10]}"
    spark.sql(f"CREATE TABLE {part} (id BIGINT, p INT) USING parquet "
              "PARTITIONED BY (p)")
    try:
        res, jobs = jobs_of(spark, lambda: run_insert_sql(
            spark, f"INSERT INTO {part} PARTITION (p = 1) "
                   "SELECT id FROM range(5)"))
        assert (res.collect()[0]["count"], jobs) == (5, 1)
        res, jobs = jobs_of(spark, lambda: run_insert_sql(
            spark, f"INSERT INTO {part} PARTITION (p) "
                   "SELECT id, CAST(id % 3 AS INT) FROM range(9)"))
        assert (res.collect()[0]["count"], jobs) == (9, 1)
        assert spark.table(part).count() == 14
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {part}")


def test_concurrent_sql_inserts_count_what_lands(spark, engine, tbl):
    """Column-list and plain INSERTs race into one local table through
    ``eng.sql``. Each statement writes under the table's lock and counts
    its own write, so every count is exact, the counts sum to the rows
    that landed, and no statement fails on a shared staging directory."""
    from concurrent.futures import ThreadPoolExecutor

    shapes = (f"INSERT INTO {tbl} (id, val) SELECT id, 1.0 FROM range({{}}, {{}})",
              f"INSERT INTO {tbl} SELECT id, 'p', 2.0 FROM range({{}}, {{}})",
              f"INSERT INTO {tbl} (val, id) SELECT 3.0, id FROM range({{}}, {{}})")

    def writer(w):
        out = []
        for i in range(4):
            lo = (w * 4 + i) * 250
            res = engine.sql(shapes[w].format(lo, lo + 250))
            out.append(res.collect()[0]["count"])
        return out

    with ThreadPoolExecutor(len(shapes)) as pool:
        futs = [pool.submit(writer, w) for w in range(len(shapes))]
        counts = [n for f in futs for n in f.result(timeout=600)]
    assert counts == [250] * 12
    assert spark.table(tbl).count() == sum(counts)


def test_split_insert_shapes(spark):
    """The parsed plan splits every INSERT shape into target, OVERWRITE
    flag, column list, PARTITION spec and the text after the target,
    which the engine routes native tables in (so a ``TABLE src`` or
    ``FROM src`` source keeps its keyword)."""
    from clickhouse_datafusion_spark.sink import parse_insert

    def split(stmt):
        p = parse_insert(spark, stmt)
        end = p.table().origin().stopIndex().get() + 1
        return (p.table().multipartIdentifier().mkString("."),
                stmt[end:].lstrip(), p.overwrite(),
                p.userSpecifiedCols().mkString(","),
                p.partitionSpec().keys().mkString(","))

    t, q, ow, _, _ = split("INSERT INTO main.t SELECT * FROM x")
    assert (t, ow) == ("main.t", False) and q.startswith("SELECT")
    t, q, ow, _, _ = split("insert overwrite table main.t VALUES (1)")
    assert (t, ow) == ("main.t", True) and q.startswith("VALUES")
    t, q, ow, _, _ = split(
        "INSERT INTO `main`.`t` WITH c AS (SELECT 1) SELECT * FROM c")
    assert t == "main.t" and q.startswith("WITH")
    t, q, _, cols, _ = split("INSERT INTO main.t (a, b) VALUES (1, 2)")
    assert (t, cols) == ("main.t", "a,b") and q.startswith("(a, b) VALUES")
    t, q, _, _, spec = split("INSERT INTO main.t PARTITION (p=1) SELECT 1")
    assert (t, spec) == ("main.t", "p") and q.startswith("PARTITION")
    assert split("INSERT INTO main.t TABLE x")[1] == "TABLE x"


def test_null_guard_skipped_for_static_non_nullable(spark, tbl):
    """A source column Catalyst proves non-nullable (range() id) must not
    get the per-row CASE WHEN null guard — clean pipelines pay zero guard
    cost; the guard (raise_error) appears only for nullable inputs."""
    from clickhouse_datafusion_spark.sink import _not_null_columns

    # target has id NOT NULL (via clickhouse.not_null property)
    assert "id" in _not_null_columns(spark, tbl, spark.table(tbl).schema)
    src_clean = spark.range(10).select(
        F.col("id"), F.lit("x").alias("name"), F.lit(1.0).alias("val"))
    assert not src_clean.schema["id"].nullable
    res = insert_into(spark, src_clean, tbl, write_concurrency=2)
    assert res.collect()[0]["count"] == 10
    # nullable source still guarded: a NULL id aborts with the typed error
    src_bad = spark.range(3).select(
        F.when(F.col("id") < 2, F.col("id")).alias("id"),
        F.lit("x").alias("name"), F.lit(1.0).alias("val"))
    assert src_bad.schema["id"].nullable
    with pytest.raises(SchemaValidationError, match="nullability violation"):
        insert_into(spark, src_bad, tbl, write_concurrency=2)
    assert spark.table(tbl).count() == 10  # aborted write landed nothing


def test_insert_bounds_writers_without_shuffle(spark, tbl):
    """write_concurrency caps writer tasks via coalesce (no exchange) when
    the input already has more partitions — at 100 TB a repartition here
    would shuffle the entire inserted dataset once for nothing."""
    src = (spark.range(0, 1000, 1, 8).select(
        F.col("id"), F.lit("n").alias("name"), F.lit(0.5).alias("val")))
    from clickhouse_datafusion_spark.sink import (
        DEFAULT_WRITE_CONCURRENCY, _not_null_columns)  # noqa: F401
    import io
    from contextlib import redirect_stdout

    res = insert_into(spark, src, tbl, write_concurrency=4)
    assert res.collect()[0]["count"] == 1000
    # the plan seen by the writer: coalesce(4) over 8 partitions, no shuffle
    ordered = src.select("id", "name", "val")
    assert ordered.coalesce(4).rdd.getNumPartitions() == 4
    buf = io.StringIO()
    with redirect_stdout(buf):
        src.coalesce(4).explain()
    assert "Exchange" not in buf.getvalue()


# ---------------------------------------------------------------------------
# Materialized views (refresh-on-demand, snapshot-versioned)
# ---------------------------------------------------------------------------


def test_materialized_view_lifecycle(spark, views, tmp_path):
    """CREATE → query → source drift → stale until REFRESH → fresh;
    every refresh is a new pinnable snapshot version; DROP removes the
    binding. ClickHouse MVs are insert-triggered; this surface is the
    refresh-on-demand analog (st9 is the continuous one) — divergence
    documented in engine.py."""
    import pyspark.sql.functions as F

    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine
    from clickhouse_datafusion_spark.operators.layout import read_snapshot

    eng = ClickHouseSparkEngine(spark, mat_view_dir=str(tmp_path / "mv"))
    spark.range(10).select(F.col("id"), (F.col("id") % 3).alias("g")) \
        .createOrReplaceTempView("mv_src")

    r = eng.sql("CREATE MATERIALIZED VIEW mv_sums AS "
                "SELECT g, CAST(sum(id) AS BIGINT) AS s "
                "FROM mv_src GROUP BY g").collect()[0]
    assert (r.view, r.version) == ("mv_sums", 1)
    first = {row.g: row.s for row in
             eng.sql("SELECT * FROM mv_sums").collect()}
    assert first == {0: 18, 1: 12, 2: 15}

    # source drifts; the MV is a materialization, so it must NOT move
    spark.range(20).select(F.col("id"), (F.col("id") % 3).alias("g")) \
        .createOrReplaceTempView("mv_src")
    assert {row.g: row.s for row in
            eng.sql("SELECT * FROM mv_sums").collect()} == first

    r = eng.sql("REFRESH MATERIALIZED VIEW mv_sums").collect()[0]
    assert r.version == 2
    refreshed = {row.g: row.s for row in
                 eng.sql("SELECT * FROM mv_sums").collect()}
    assert refreshed == {0: 63, 1: 70, 2: 57}

    # history stays pinnable: version 1 still reads the old result
    path = str(tmp_path / "mv" / "mv_sums")
    v1 = {row.g: row.s for row in
          read_snapshot(spark, path, 1).collect()}
    assert v1 == first

    shown = eng.sql("SHOW MATERIALIZED VIEWS").collect()
    assert [(x.view, x.version) for x in shown] == [("mv_sums", 2)]

    # duplicate create errors; IF NOT EXISTS is a no-op returning current
    import pytest as _pt
    with _pt.raises(ValueError):
        eng.sql("CREATE MATERIALIZED VIEW mv_sums AS SELECT 1 AS x")
    r = eng.sql("CREATE MATERIALIZED VIEW IF NOT EXISTS mv_sums AS "
                "SELECT 1 AS x").collect()[0]
    assert r.version == 2

    eng.sql("DROP MATERIALIZED VIEW mv_sums")
    with _pt.raises(ValueError):
        eng.sql("REFRESH MATERIALIZED VIEW mv_sums")
    assert eng.sql("SHOW MATERIALIZED VIEWS").count() == 0


def test_materialized_view_ch_functions(spark, views, tmp_path):
    """MV definitions pass through the ClickHouse-function rewrite and
    the query lowerings (a LIMIT BY body keeps one row per group)."""
    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine

    eng = ClickHouseSparkEngine(spark, mat_view_dir=str(tmp_path / "mv"))
    eng.sql("CREATE MATERIALIZED VIEW mv_ch AS "
            "SELECT clickhouse(`toUInt32`(o_orderkey), 'UInt32') AS k "
            "FROM orders WHERE o_orderkey <= 5")
    eng.sql("CREATE MATERIALIZED VIEW mv_lb AS SELECT n_regionkey AS a, "
            "n_name FROM nation ORDER BY a, n_name LIMIT 1 BY a")
    try:
        assert eng.sql("SELECT count(*) AS n FROM mv_ch").collect()[0].n > 0
        assert eng.sql("SELECT count(*) AS n FROM mv_lb").first().n == 5
    finally:
        eng.sql("DROP MATERIALIZED VIEW IF EXISTS mv_ch")
        eng.sql("DROP MATERIALIZED VIEW IF EXISTS mv_lb")


def test_optimize_materialized_view(spark, views, tmp_path):
    """OPTIMIZE TABLE compacts the MV's current version into a new one:
    data identical, file count reduced, prior versions still pinnable."""
    import os

    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine

    eng = ClickHouseSparkEngine(spark, mat_view_dir=str(tmp_path / "mv"))
    eng.sql("CREATE MATERIALIZED VIEW mv_opt AS "
            "SELECT o_orderkey, o_totalprice FROM orders")
    before = {tuple(r) for r in eng.sql("SELECT * FROM mv_opt").collect()}
    r = eng.sql("OPTIMIZE TABLE mv_opt FINAL").collect()[0]
    assert r.version == 2
    after = {tuple(r) for r in eng.sql("SELECT * FROM mv_opt").collect()}
    assert after == before
    v2 = os.path.join(str(tmp_path / "mv" / "mv_opt"), "v=2")
    n_files = sum(f.endswith(".parquet") for f in os.listdir(v2))
    assert n_files == 1
    eng.sql("DROP MATERIALIZED VIEW mv_opt")


def _mv_engine(spark, tmp_path):
    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine

    return ClickHouseSparkEngine(spark, mat_view_dir=str(tmp_path / "mv"))


def test_mutation_update_sees_old_values(spark, tmp_path):
    """ALTER TABLE ... UPDATE: only matching rows mutate, every RHS sees
    PRE-mutation values (a = b, b = a swaps), NULL predicate leaves the
    row untouched, and assigned values cast back to the column type."""
    spark.createDataFrame(
        [(1, 10, None), (2, 20, 1), (3, 30, 0)],
        "a int, b int, flag int").createOrReplaceTempView("mut_src")
    eng = _mv_engine(spark, tmp_path)
    eng.sql("CREATE MATERIALIZED VIEW mut_mv AS SELECT * FROM mut_src")
    r = eng.sql("ALTER TABLE mut_mv UPDATE a = b, b = a "
                "WHERE flag IS NULL OR flag = 1").collect()[0]
    assert r.version == 2
    rows = {t.a: t for t in eng.sql("SELECT * FROM mut_mv").collect()}
    assert (rows[10].b, rows[20].b) == (1, 2)      # swapped
    assert (rows[3].a, rows[3].b) == (3, 30)       # flag=0 untouched
    # NULL-pred rows untouched: this predicate evaluates to NULL for every
    # row, so the mutation must be a no-op (CH treats NULL as not-matched)
    eng.sql("ALTER TABLE mut_mv UPDATE a = -1 WHERE flag + NULL > 0")
    assert {t.a for t in eng.sql("SELECT a FROM mut_mv").collect()} \
        == {10, 20, 3}
    # type pin: assigning a string-typed expr to INT a casts (here: fails
    # to a NULL-free int via cast of numeric string)
    eng.sql("ALTER TABLE mut_mv UPDATE a = '7' WHERE a = 3")
    assert eng.sql("SELECT * FROM mut_mv").schema["a"].dataType.simpleString() \
        == "int"


def test_mutation_delete_truncate_versions(spark, views, tmp_path):
    """DELETE mutates into a new version (old version still pinnable),
    TRUNCATE is the empty mutation, WHERE is mandatory."""
    import pytest as _pytest

    from clickhouse_datafusion_spark.engine import SqlFrontDoorError
    from clickhouse_datafusion_spark.operators.layout import read_snapshot

    eng = _mv_engine(spark, tmp_path)
    eng.sql("CREATE MATERIALIZED VIEW del_mv AS "
            "SELECT o_orderkey, o_orderstatus FROM orders")
    n0 = eng.sql("SELECT count(*) c FROM del_mv").collect()[0].c
    eng.sql("ALTER TABLE del_mv DELETE WHERE o_orderstatus = 'F'")
    n1 = eng.sql("SELECT count(*) c FROM del_mv").collect()[0].c
    assert 0 < n1 < n0
    assert eng.sql("SELECT count(*) c FROM del_mv "
                   "WHERE o_orderstatus = 'F'").collect()[0].c == 0
    # v1 pinned read still has the deleted rows
    path = eng._mat_views["del_mv"]["path"]
    assert read_snapshot(spark, path, 1).count() == n0
    eng.sql("TRUNCATE TABLE del_mv")
    assert eng.sql("SELECT count(*) c FROM del_mv").collect()[0].c == 0
    with _pytest.raises(SqlFrontDoorError, match="WHERE"):
        eng.sql("ALTER TABLE del_mv DELETE")
    with _pytest.raises(SqlFrontDoorError, match="materialized view"):
        eng.sql("ALTER TABLE orders DELETE WHERE 1")


def test_rename_table(spark, views, tmp_path):
    """RENAME TABLE moves the MV binding atomically; the old name is gone,
    the version counter survives."""
    eng = _mv_engine(spark, tmp_path)
    eng.sql("CREATE MATERIALIZED VIEW rn_a AS "
            "SELECT o_orderkey FROM orders LIMIT 10")
    eng.sql("REFRESH MATERIALIZED VIEW rn_a")
    r = eng.sql("RENAME TABLE rn_a TO rn_b").collect()[0]
    assert (r.view, r.version) == ("rn_b", 2)
    assert eng.sql("SELECT count(*) c FROM rn_b").collect()[0].c == 10
    assert "rn_a" not in eng._mat_views
    assert not spark.catalog.tableExists("rn_a")
