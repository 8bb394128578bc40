"""Phase-0 e2e: catalog registration + flagship query through the engine.

Mirrors the shape of the reference's e2e builder/provider suites
(tests/e2e.rs: test suites `builder`, `providers`) against the driver's
testdata instead of a live ClickHouse container.
"""

from __future__ import annotations

import pytest


def test_catalog_registration(engine):
    assert "main" in engine.catalog.schema_names()
    names = set(engine.catalog.table_names("main"))
    assert {"orders", "customer", "lineitem"} <= names
    assert engine.catalog.table_exists("main", "orders")
    assert not engine.catalog.table_exists("main", "no_such_table")


def test_flagship_query(engine):
    df = engine.sql("""
        SELECT c.c_name AS c_name, count(*) AS order_count
        FROM clickhouse.main.orders o
        JOIN clickhouse.main.customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_name
        ORDER BY order_count DESC, c_name
        LIMIT 10
    """)
    rows = df.collect()
    assert len(rows) == 10
    assert rows[0]["order_count"] >= rows[-1]["order_count"]
    assert set(df.columns) == {"c_name", "order_count"}


def test_ch_function_in_query(engine):
    df = engine.sql("""
        SELECT o_orderkey,
               clickhouse(exp(o_totalprice / 100000.0), 'Float64') AS e,
               clickhouse(upper(o_orderpriority), 'Utf8') AS pri
        FROM clickhouse.main.orders
        WHERE o_orderkey <= 10
    """)
    rows = df.collect()
    assert all(r["e"] > 0 for r in rows)
    assert all(r["pri"] == r["pri"].upper() for r in rows)
    assert dict(df.dtypes)["e"] == "double"
    assert dict(df.dtypes)["pri"] == "string"


def test_table_accessor(engine):
    df = engine.table("clickhouse.main.region")
    assert df.count() == 5
    df2 = engine.table("main.region")
    assert df2.count() == 5


def test_register_existing_table_alias(engine):
    # reference src/builders.rs:409-436
    engine.catalog.register_existing_table("region", "region_alias", db="main")
    assert engine.sql("SELECT count(*) AS n FROM clickhouse.main.region_alias") \
        .collect()[0]["n"] == 5
    with pytest.raises(ValueError):
        engine.catalog.register_existing_table("nope", "x", db="main")


def test_filter_pushdown_in_plan(engine):
    """The reference pushes filters into the remote scan (src/sql.rs:215-228);
    Catalyst must push ours into the parquet scan."""
    df = engine.sql(
        "SELECT o_orderkey FROM clickhouse.main.orders WHERE o_orderkey = 42")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_orderkey" in plan


def test_projection_pruning_in_plan(engine):
    df = engine.sql("SELECT o_orderkey FROM clickhouse.main.orders")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # ReadSchema should carry only the projected column
    assert "o_totalprice" not in plan.split("ReadSchema")[-1]


def test_limit_by_semantics(engine, views):
    """ClickHouse LIMIT n BY: first n rows per group in result order;
    trailing LIMIT composes; missing ORDER BY rejected; subquery
    ORDER BY / LIMIT tokens never confuse the top-level parse."""
    import pytest

    rows = engine.sql(
        "SELECT o_orderstatus, o_orderkey FROM orders "
        "ORDER BY o_orderkey LIMIT 2 BY o_orderstatus").collect()
    per = {}
    for r in rows:
        per.setdefault(r.o_orderstatus, []).append(r.o_orderkey)
    assert all(len(v) <= 2 for v in per.values()) and len(per) == 3
    # each group's keys are its two smallest (result order = o_orderkey)
    base = engine.sql("SELECT o_orderstatus, o_orderkey FROM orders").collect()
    mins = {}
    for r in base:
        mins.setdefault(r.o_orderstatus, []).append(r.o_orderkey)
    for st, ks in per.items():
        assert ks == sorted(mins[st])[:2]
    # trailing LIMIT caps the total
    assert len(engine.sql(
        "SELECT o_orderstatus, o_orderkey FROM orders "
        "ORDER BY o_orderkey LIMIT 2 BY o_orderstatus LIMIT 3"
    ).collect()) == 3
    # deterministic-form requirement
    with pytest.raises(ValueError, match="ORDER BY"):
        engine.sql("SELECT o_orderstatus FROM orders LIMIT 2 BY o_orderstatus")
    # subquery with its own ORDER BY/LIMIT parses cleanly
    n = engine.sql(
        "SELECT * FROM (SELECT o_orderstatus, o_orderkey FROM orders "
        "ORDER BY o_orderkey LIMIT 50) q "
        "ORDER BY o_orderkey LIMIT 1 BY o_orderstatus").count()
    assert n == 3


def test_dialect_transforms(engine, views):
    """PREWHERE lowers to WHERE (with pushdown doing the early-filter
    work); WITH TOTALS appends exactly one grand-total row; FORMAT
    tails are stripped; PREWHERE+WHERE is rejected, not guessed."""
    import pytest

    rows = engine.sql(
        "SELECT o_orderstatus, clickhouse(count(*), 'Int64') AS n "
        "FROM orders PREWHERE o_orderkey <= 100 "
        "GROUP BY o_orderstatus WITH TOTALS FORMAT TabSeparated").collect()
    by_key = {r.o_orderstatus: r.n for r in rows}
    total = by_key.pop(None)
    assert total == sum(by_key.values()) > 0
    with pytest.raises(ValueError, match="PREWHERE and WHERE"):
        engine.sql("SELECT 1 FROM orders PREWHERE o_orderkey > 1 "
                   "WHERE o_orderkey < 10")
    # keywords inside strings/subqueries don't trigger transforms
    r = engine.sql("SELECT 'WITH TOTALS FORMAT x' AS s").collect()[0]
    assert r.s == "WITH TOTALS FORMAT x"


def test_limit_by_offset_form(engine, views):
    """ClickHouse LIMIT offset, n BY: skip each group's first `offset`
    rows in result order, then keep n."""
    base = engine.sql(
        "SELECT o_orderstatus, o_orderkey FROM orders "
        "ORDER BY o_orderkey LIMIT 1, 2 BY o_orderstatus").collect()
    per = {}
    for r in base:
        per.setdefault(r.o_orderstatus, []).append(r.o_orderkey)
    all_rows = engine.sql(
        "SELECT o_orderstatus, o_orderkey FROM orders").collect()
    mins = {}
    for r in all_rows:
        mins.setdefault(r.o_orderstatus, []).append(r.o_orderkey)
    for st, ks in per.items():
        assert ks == sorted(mins[st])[1:3]   # rows 2..3 per group


def test_global_and_final_dialect(engine, views):
    """GLOBAL IN/JOIN hints drop (identical local semantics); FROM t
    FINAL is rejected with the snapshot-upsert route — silently
    ignoring it would return rows the user asked to collapse; a column
    merely named 'final' is untouched."""
    import pytest

    n = engine.sql(
        "SELECT count(*) AS n FROM orders WHERE o_custkey GLOBAL IN "
        "(SELECT c_custkey FROM customer WHERE c_custkey <= 10)"
    ).collect()[0].n
    assert n > 0
    rows = engine.sql(
        "SELECT count(*) AS n FROM orders o GLOBAL LEFT JOIN customer c "
        "ON o.o_custkey = c.c_custkey").collect()
    assert rows[0].n > 0
    with pytest.raises(ValueError, match="FINAL"):
        engine.sql("SELECT * FROM orders FINAL")
    assert engine.sql("SELECT 1 AS final FROM orders LIMIT 1"
                      ).collect()[0].final == 1


def test_system_tables_surface(engine, views):
    """ClickHouse system.* spellings: live catalog introspection for
    tables/databases, and the 1-row system.one dual."""
    r = engine.sql("SELECT dummy FROM system.one").collect()
    assert [x.dummy for x in r] == [0]
    names = {x.name for x in engine.sql(
        "SELECT name FROM system.tables WHERE database = 'main'").collect()}
    assert "orders" in names and "lineitem" in names
    dbs = {x.name for x in
           engine.sql("SELECT name FROM system.databases").collect()}
    assert "main" in dbs


def test_sample_clause_lowering(spark, views):
    """ClickHouse ``FROM t SAMPLE f``: deterministic md5-bucket filter on
    the registered sample key — repeatable, alias-safe, and rejected with
    an actionable error when no key is declared or the row-count form is
    used."""
    import pytest as _pytest

    from clickhouse_datafusion_spark.engine import (
        ClickHouseSparkEngine, SqlFrontDoorError)

    eng = ClickHouseSparkEngine(spark)
    with _pytest.raises(SqlFrontDoorError, match="sample key"):
        eng.sql("SELECT count(*) FROM orders SAMPLE 0.25")
    eng.set_sample_key("orders", "o_orderkey")
    n_all = eng.sql("SELECT count(*) AS n FROM orders").collect()[0].n
    n_s = eng.sql("SELECT count(*) AS n FROM orders SAMPLE 0.25").collect()[0].n
    assert 0 < n_s < n_all
    assert abs(n_s / n_all - 0.25) < 0.08  # uniform md5 bucket, sf-small slack
    # deterministic: the same statement returns the same rows
    ids = lambda q: {r.o_orderkey for r in eng.sql(q).collect()}  # noqa: E731
    q = "SELECT o_orderkey FROM orders SAMPLE 0.1"
    assert ids(q) == ids(q)
    # nested fractions: SAMPLE 0.1 is a subset of SAMPLE 0.25 (same key
    # bucket space — CH's consistent-sampling property)
    assert ids(q) <= ids("SELECT o_orderkey FROM orders SAMPLE 0.25")
    # alias forms
    a1 = eng.sql("SELECT o.o_orderkey FROM orders AS o SAMPLE 0.1 "
                 "WHERE o.o_orderkey > 0").collect()
    a2 = eng.sql("SELECT o.o_orderkey FROM orders o SAMPLE 0.1 "
                 "WHERE o.o_orderkey > 0").collect()
    assert {r.o_orderkey for r in a1} == ids(q) == {r.o_orderkey for r in a2}
    with _pytest.raises(SqlFrontDoorError, match="row-count"):
        eng.sql("SELECT count(*) FROM orders SAMPLE 1000")
    # the bare literal 1 is CH's whole-table fraction, not a 1-row sample
    n_1 = eng.sql("SELECT count(*) AS n FROM orders SAMPLE 1").collect()[0].n
    assert n_1 == n_all
    # a string literal containing SAMPLE is untouched
    r = eng.sql("SELECT 'keep SAMPLE 0.5 text' AS s").collect()[0].s
    assert r == "keep SAMPLE 0.5 text"


def test_rename_table_moves_sample_key(spark, views, tmp_path):
    """RENAME TABLE moves the SAMPLE BY registration with the name: the
    new name samples, the old name (re-created) does NOT inherit the
    stale key (r5 ADVICE)."""
    import pytest as _pytest

    from clickhouse_datafusion_spark.engine import (
        ClickHouseSparkEngine, SqlFrontDoorError)

    eng = ClickHouseSparkEngine(spark)
    eng.sql("CREATE MATERIALIZED VIEW samp_src AS "
            "SELECT o_orderkey FROM orders")
    eng.set_sample_key("samp_src", "o_orderkey")
    assert eng.sql("SELECT count(*) AS n FROM samp_src SAMPLE 0.5"
                   ).collect()[0].n > 0
    eng.sql("RENAME TABLE samp_src TO samp_dst")
    # key followed the rename
    assert eng.sql("SELECT count(*) AS n FROM samp_dst SAMPLE 0.5"
                   ).collect()[0].n > 0
    # a fresh table under the OLD name has no sample key
    eng.sql("CREATE MATERIALIZED VIEW samp_src AS "
            "SELECT o_orderkey FROM orders")
    with _pytest.raises(SqlFrontDoorError, match="sample key"):
        eng.sql("SELECT count(*) FROM samp_src SAMPLE 0.5")
    eng.sql("DROP TABLE samp_src")
    eng.sql("DROP TABLE samp_dst")


def test_failed_rename_leaves_sample_key_in_place(spark, views):
    """A FAILED rename (target exists) must not move the sample key (r6
    ADVICE): the still-existing source keeps sampling, and the unrelated
    pre-existing target does not silently inherit the source's key."""
    import pytest as _pytest

    from clickhouse_datafusion_spark.engine import (
        ClickHouseSparkEngine, SqlFrontDoorError)

    eng = ClickHouseSparkEngine(spark)
    eng.sql("CREATE MATERIALIZED VIEW rn_src AS "
            "SELECT o_orderkey FROM orders")
    eng.sql("CREATE MATERIALIZED VIEW rn_dst AS "
            "SELECT o_custkey FROM orders")
    eng.set_sample_key("rn_src", "o_orderkey")
    with _pytest.raises(SqlFrontDoorError, match="already exists"):
        eng.sql("RENAME TABLE rn_src TO rn_dst")
    # source still samples with its own key
    assert eng.sql("SELECT count(*) AS n FROM rn_src SAMPLE 0.5"
                   ).collect()[0].n > 0
    # target did NOT inherit the source's key
    with _pytest.raises(SqlFrontDoorError, match="sample key"):
        eng.sql("SELECT count(*) FROM rn_dst SAMPLE 0.5")
    eng.sql("DROP TABLE rn_src")
    eng.sql("DROP TABLE rn_dst")


def test_sample_offset_disjoint_windows(spark, views):
    """SAMPLE f OFFSET o: shifted bucket windows partition the table into
    disjoint, collectively-exhaustive samples (CH's parallel-reader
    idiom)."""
    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine

    eng = ClickHouseSparkEngine(spark)
    eng.set_sample_key("orders", "o_orderkey")
    ids = lambda q: {r.o_orderkey for r in eng.sql(q).collect()}  # noqa: E731
    parts = [ids(f"SELECT o_orderkey FROM orders SAMPLE 0.5 OFFSET {o}")
             for o in ("0.0", "0.5")]
    assert parts[0] & parts[1] == set()
    assert parts[0] | parts[1] == ids("SELECT o_orderkey FROM orders")


def test_exists_and_show_create(spark, views, tmp_path):
    """CH client probes: `EXISTS [TABLE] t` returns a 1/0 row; SHOW CREATE
    TABLE on a materialized view prints its defining statement."""
    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine

    eng = ClickHouseSparkEngine(spark, mat_view_dir=str(tmp_path / "mv"))
    assert eng.sql("EXISTS TABLE orders").collect()[0].result == 1
    assert eng.sql("EXISTS orders").collect()[0].result == 1
    assert eng.sql("EXISTS TABLE no_such_tbl").collect()[0].result == 0
    eng.sql("CREATE MATERIALIZED VIEW sc_mv AS SELECT 1 AS one")
    assert eng.sql("EXISTS TABLE sc_mv").collect()[0].result == 1
    stmt = eng.sql("SHOW CREATE TABLE sc_mv").collect()[0].statement
    assert stmt.startswith("CREATE MATERIALIZED VIEW sc_mv AS")
    assert "SELECT 1 AS one" in stmt
    eng.sql("DROP MATERIALIZED VIEW sc_mv")


def test_system_tables_route_names_not_literals(engine, views):
    """Only the name ``system.one`` routes: a literal or a comment that
    spells it keeps its text. The routed relation keeps its table name
    as a qualifier (``one.dummy``, ``system.one.dummy``) unless the
    statement aliases it."""
    r = engine.sql("SELECT 'system.one' AS s, dummy -- system.one\n"
                   "FROM `system`.one").collect()
    assert [(x.s, x.dummy) for x in r] == [("system.one", 0)]
    for q in ("SELECT system.one.dummy FROM system.one",
              "SELECT one.dummy FROM system.one",
              "SELECT o.dummy FROM system.one o",
              "SELECT o.dummy FROM `system`.`one` AS o"):
        assert [tuple(x) for x in engine.sql(q).collect()] == [(0,)], q
    # two routed views in one statement resolve by their table names
    n = engine.sql("SELECT count(*) AS n FROM system.tables JOIN "
                   "system.databases ON tables.database = databases.name"
                   ).first().n
    assert 0 <= n <= engine.sql(
        "SELECT count(*) AS n FROM system.tables").first().n
