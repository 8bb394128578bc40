"""Remote-engine federation seam (S7/J8/S20/W6/F6 — the components the
reference's remote-server design has and a single-engine design
previously marked n/a-by-design). DuckDB plays the remote server; the
federation MACHINERY under test is ours: subtree detection, the
unparser's dialect gate, pooled execution, Arrow hand-back, and the
local fallback. Reference anchors: src/context.rs (whole-subtree
analyzer), tests/e2e.rs:482-809 (federation joins),
src/connection.rs:45-57 + tests/e2e_stress.rs:161-239 (pool +
over-subscription), src/dialect.rs (unparser)."""

from __future__ import annotations

import contextlib
import functools
import threading
import uuid

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from clickhouse_datafusion_spark.sources.remote_engine import (
    RemoteEngine,
    parse_plan,
    plan_nodes,
    plan_refs,
    unparse_for_remote,
)
from tests.conftest import SF_SMOKE, jobs_of


@pytest.fixture(scope="module")
def fed(spark):
    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine

    eng = ClickHouseSparkEngine(spark)
    remote = RemoteEngine(pool_size=4)
    remote.register_parquet_dir(
        SF_SMOKE, tables=["orders", "customer", "lineitem", "nation"])
    eng.attach_remote(remote, db="remote", local_twin_dir=SF_SMOKE)
    return eng, remote


def _rows(df):
    return sorted(tuple((v is None, v) for v in r) for r in df.collect())


def _unparse(spark, sql, tables, **kw):
    """The F6 gate over ``sql``'s parsed plan, remote db ``remote``."""
    return unparse_for_remote(sql, plan_nodes(parse_plan(spark, sql)),
                              "clickhouse", "remote", tables, **kw)


def test_whole_subtree_remote_join_matches_local(fed, spark):
    """S7 + J8: a remote⋈remote join+aggregate ships whole and returns
    exactly the local plan's rows."""
    eng, _ = fed
    q = ("SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n, "
         "CAST(ROUND(sum(CAST(o.o_totalprice AS DECIMAL(28,4))), 2) "
         "AS DOUBLE) AS s "
         "FROM clickhouse.remote.orders o "
         "JOIN clickhouse.remote.customer c ON o.o_custkey = c.c_custkey "
         "GROUP BY c.c_mktsegment")
    df = eng.sql(q)
    assert eng.last_remote_sql is not None
    assert "clickhouse." not in eng.last_remote_sql
    local = spark.sql(q.replace("clickhouse.remote.", ""))
    assert _rows(df) == _rows(local)


def test_unsupported_function_stays_local(fed, spark):
    """F6: a same-name/different-semantics function (Spark LOG is ln,
    DuckDB LOG is log10) must NOT ship — and the local fallback keeps
    Spark's semantics."""
    import math

    eng, _ = fed
    df = eng.sql("SELECT o_orderkey, log(o_totalprice) AS l "
                 "FROM clickhouse.remote.orders ORDER BY o_orderkey LIMIT 1")
    assert eng.last_remote_sql is None
    row = df.first()
    price = spark.sql("SELECT o_totalprice FROM orders "
                      "ORDER BY o_orderkey LIMIT 1").first()[0]
    assert abs(row.l - math.log(price)) < 1e-9      # natural log, not log10


def test_window_validation_w6(fed):
    """W6: supported window functions ship; unsupported ones keep the
    statement local (never a remote error)."""
    eng, _ = fed
    eng.sql("SELECT o_orderkey, row_number() OVER (PARTITION BY "
            "o_orderstatus ORDER BY o_totalprice, o_orderkey) AS rn "
            "FROM clickhouse.remote.orders").collect()
    assert eng.last_remote_sql is not None
    eng.sql("SELECT o_orderkey, percent_rank() OVER (ORDER BY "
            "o_totalprice) AS p FROM clickhouse.remote.orders").collect()
    assert eng.last_remote_sql is None


def test_mixed_and_local_refs_never_ship(fed):
    """A statement touching any non-remote table stays local, as do
    local-only constructs (LIMIT BY, system tables, dictGet)."""
    eng, _ = fed
    eng.catalog.register_parquet_dir(SF_SMOKE, db="main")
    eng.sql("SELECT count(*) AS n FROM clickhouse.main.part").collect()
    assert eng.last_remote_sql is None
    eng.sql("SELECT count(*) AS n FROM clickhouse.main.part p, "
            "clickhouse.remote.nation n").collect()
    assert eng.last_remote_sql is None


def test_ch_function_surface_stays_local(fed):
    """The ClickHouse wrapper surface is a LOCAL rewrite; its lowered
    HOF forms must never reach the remote dialect."""
    eng, _ = fed
    df = eng.sql("SELECT clickhouse(`arrayMap`($x, concat($x, '_p'), "
                 "array(c_mktsegment)), 'List(Utf8)') AS a "
                 "FROM clickhouse.remote.customer LIMIT 3")
    assert eng.last_remote_sql is None
    assert df.count() == 3


def test_pool_over_subscription(fed):
    """S20: 16 concurrent executions over a pool of 4 complete without
    deadlock or error — the reference's over-subscription contract."""
    _, remote = fed
    errs: list[Exception] = []
    results: list[int] = []

    def worker():
        try:
            t = remote.execute(
                "SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem "
                "WHERE l_quantity > 10")
            results.append(t.column("n")[0].as_py())
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=worker) for _ in range(16)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs and len(set(results)) == 1 and len(results) == 16


def test_unparser_gate_unit(fed):
    """F6 unit coverage of the dialect gate itself, through the dry
    run (orders/customer/lineitem/nation are remote, part is not)."""
    eng, _ = fed
    ok = eng.remote_decision(
        "SELECT o_orderkey FROM clickhouse.remote.orders WHERE "
        "o_orderkey < 5")
    assert ok["remote_sql"] == (
        "SELECT o_orderkey FROM orders WHERE o_orderkey < 5")
    # non-SELECT, unknown table, local-only construct, unknown function
    for q in ("INSERT INTO t VALUES (1)",
              "SELECT * FROM clickhouse.remote.part",
              "SELECT * FROM clickhouse.remote.orders SAMPLE 0.1",
              "SELECT xxhash64(o_orderkey) FROM clickhouse.remote.orders",
              # a complex-type Cast under a guarded call (its data type
              # renders as a JSON object, not a string)
              "SELECT round(CAST(o_totalprice AS DECIMAL(10,2)), "
              "size(CAST(array(1) AS ARRAY<INT>))) AS r "
              "FROM clickhouse.remote.orders"):
        assert not eng.remote_decision(q)["ships"], q
    # a string literal containing "foo(" must not trip the gate
    assert eng.remote_decision(
        "SELECT 'log(' AS s FROM clickhouse.remote.orders")["ships"]


@pytest.fixture(scope="module")
def fed_fuzz(fed, spark):
    """Fuzz SQL is generated with bare names; bare names now resolve
    LOCAL-first (the r10 shadow rule), so the federation run qualifies
    every known table into the remote db to exercise the remote path."""
    return fed


from tests.test_differential_fuzz import _join_queries, _queries  # noqa: E402

import re as _re  # noqa: E402

_QUALIFY_RE = _re.compile(
    r"(?i)\b(from|join)\s+(orders|customer|lineitem|nation)\b")


def _qualify(sql: str) -> str:
    return _QUALIFY_RE.sub(
        lambda m: f"{m.group(1)} clickhouse.remote.{m.group(2)}", sql)


@given(_queries())
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_remote_exec_matches_local_on_generated_queries(fed_fuzz, spark, sql):
    """The strongest federation check: hypothesis-generated relational
    queries run through the WHOLE remote path (gate → unparse → pooled
    DuckDB → Arrow → Spark DataFrame) and must return exactly the local
    plan's rows. Queries the gate refuses run locally — also compared,
    so a fallback can never silently change results."""
    eng, _ = fed_fuzz
    rdf = eng.sql(_qualify(sql))
    ldf = spark.sql(sql)
    # schema fidelity under fuzz: names AND dtypes must match whether
    # the statement shipped or fell back (nullability is rebuilt only
    # on the reduced path, so it is asserted in the dedicated test)
    assert ([(f.name, f.dataType) for f in rdf.schema.fields]
            == [(f.name, f.dataType) for f in ldf.schema.fields]), \
        (sql, eng.last_remote_sql)
    got = _rows(rdf)
    want = _rows(ldf)
    assert got == want, (sql, eng.last_remote_sql)


@given(_join_queries())
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_remote_join_exec_matches_local(fed_fuzz, spark, sql):
    """J8 under fuzz: generated INNER/LEFT joins through the remote path
    match the local plan row-for-row."""
    eng, _ = fed_fuzz
    got = _rows(eng.sql(_qualify(sql)))
    want = _rows(spark.sql(sql))
    assert got == want, (sql, eng.last_remote_sql)


# -- r10: divergent-function gate classes (the ADVICE catches) ----------

@st.composite
def _divergent_queries(draw):
    """Queries built around the PROBED Spark/DuckDB divergence classes:
    raw-double ROUND (HALF_UP-shortest-string vs rint), NULL-skipping
    CONCAT, start-0 SUBSTRING, BIGINT-vs-DOUBLE CEIL/FLOOR, double
    rendering under CAST(... AS STRING) — each must
    stay LOCAL (the guard refuses), and the local answer must match
    spark.sql exactly."""
    kind = draw(st.sampled_from(
        ["round", "concat", "substr", "floor", "trim2", "case",
         "caret", "divisor", "decdiv", "caststr"]))
    if kind == "caststr":
        n = draw(st.integers(min_value=4, max_value=9))
        expr = f"CAST(o_totalprice * 1e{n} AS STRING)"  # 1.0E5 locally
    elif kind == "caret":
        n = draw(st.integers(min_value=1, max_value=7))
        expr = f"o_orderkey ^ {n}"               # XOR local, power remote
    elif kind == "divisor":
        col = draw(st.sampled_from(["o_orderkey + 1", "o_custkey + 1"]))
        expr = f"CAST(o_totalprice AS DOUBLE) / ({col})"
    elif kind == "decdiv":
        d = draw(st.integers(min_value=2, max_value=9))
        expr = f"CAST(o_totalprice AS DECIMAL(18,2)) / {d}"
    elif kind == "round":
        scale = draw(st.integers(min_value=0, max_value=3))
        expr = f"round(o_totalprice / 3, {scale})"
    elif kind == "concat":
        expr = "concat(o_orderstatus, NULL, o_orderpriority)"
    elif kind == "substr":
        start = draw(st.sampled_from([0, -2, -1]))
        expr = f"substring(o_orderpriority, {start}, 3)"
    elif kind == "trim2":
        fn = draw(st.sampled_from(["trim", "ltrim", "rtrim"]))
        expr = f"{fn}('O', o_orderstatus)"       # two-arg: opposite order
    elif kind == "case":
        fn = draw(st.sampled_from(["upper", "lower"]))
        expr = f"{fn}(o_orderpriority)"          # unicode case divergence
    else:
        fn = draw(st.sampled_from(["floor", "ceil"]))
        expr = f"{fn}(o_totalprice / 7)"
    lim = draw(st.integers(min_value=1, max_value=5))
    return (f"SELECT o_orderkey, {expr} AS v FROM {{t}} "
            f"ORDER BY o_orderkey LIMIT {lim}")


@given(_divergent_queries())
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_divergent_function_classes_never_ship(fed_fuzz, spark, sql):
    eng, _ = fed_fuzz
    got = _rows(eng.sql(sql.format(t="clickhouse.remote.orders")))
    assert eng.last_remote_sql is None, sql        # the gate refused
    want = _rows(spark.sql(sql.format(t="orders")))
    assert got == want, sql


@st.composite
def _implicit_join_queries(draw):
    """Implicit (comma) and USING joins — the r9 comma-list blind spot."""
    style = draw(st.sampled_from(["comma", "using"]))
    pred = draw(st.sampled_from(
        ["o.o_totalprice > 100000", "o.o_orderstatus = 'F'",
         "o.o_orderkey < 2000"]))
    if style == "comma":
        return ("SELECT c.c_mktsegment AS seg, CAST(count(*) AS BIGINT) "
                "AS n FROM {o} o, {c} c "
                f"WHERE o.o_custkey = c.c_custkey AND {pred} "
                "GROUP BY c.c_mktsegment")
    return ("SELECT CAST(count(*) AS BIGINT) AS n "
            "FROM {o} o JOIN {c} c ON o.o_custkey = c.c_custkey "
            f"WHERE {pred}")


@given(_implicit_join_queries())
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_implicit_join_remote_matches_local(fed_fuzz, spark, sql):
    eng, _ = fed_fuzz
    got = _rows(eng.sql(sql.format(o="clickhouse.remote.orders",
                                   c="clickhouse.remote.customer")))
    assert eng.last_remote_sql is not None, sql    # both-remote ships
    want = _rows(spark.sql(sql.format(o="orders", c="customer")))
    assert got == want, sql


def test_comma_join_mixed_refs_never_ship(fed, spark):
    """r9 blind spot (verdict What's-wrong 3): the SECOND table of a
    comma-separated FROM list must be seen by the gate — a mixed
    remote,local implicit join never ships."""
    def refs(sql):
        return plan_refs(plan_nodes(parse_plan(spark, sql)))

    assert refs("SELECT * FROM orders o, customer c, nation "
                "WHERE o.k = c.k") == {"orders", "customer", "nation"}
    # a comma-continuation hanging off an ON expression is one more
    # relation of the parsed plan, attributed like any other
    assert refs("SELECT * FROM a JOIN b ON a.x = b.x, c") == {"a", "b", "c"}
    assert refs("SELECT x, y FROM a o, b c WHERE o.k = c.k "
                "GROUP BY x, y") == {"a", "b"}
    q = "SELECT count(*) AS n FROM remote.a JOIN remote.b ON a.x = b.x, c"
    assert _unparse(spark, q, {"a", "b"}) is None
    assert _unparse(spark, q, {"a", "b", "c"}) == (
        "SELECT count(*) AS n FROM a JOIN b ON a.x = b.x, c")
    eng, _ = fed
    spark.range(3).selectExpr("id AS p_partkey") \
         .createOrReplaceTempView("local_only_t")
    eng.sql("SELECT CAST(count(*) AS BIGINT) AS n "
            "FROM clickhouse.remote.orders o, local_only_t l "
            "WHERE o.o_orderkey = l.p_partkey").collect()
    assert eng.last_remote_sql is None


def test_remote_insert_contract(fed, spark):
    """Federated INSERT (write half of S7/S20): whole-ship when the
    source is all-remote (no data crosses the seam), Arrow append
    through the pool otherwise; count-row result, OVERWRITE rejected,
    read-only views rejected, schema mismatch typed — all parity with
    the native sink's contract."""
    from clickhouse_datafusion_spark.sink import (
        OverwriteNotSupported,
        SchemaValidationError,
    )

    eng, remote = fed
    remote.create_table("ins_digest", "status VARCHAR, n BIGINT")
    r = eng.sql("INSERT INTO clickhouse.remote.ins_digest "
                "SELECT o_orderstatus, CAST(count(*) AS BIGINT) "
                "FROM clickhouse.remote.orders GROUP BY o_orderstatus")
    assert r.columns == ["count"] and r.first()["count"] == 3
    r2 = eng.sql("INSERT INTO clickhouse.remote.ins_digest VALUES ('X', 42)")
    assert r2.first()["count"] == 1
    total = remote.execute(
        "SELECT CAST(count(*) AS BIGINT) AS c FROM ins_digest")
    assert total.column("c")[0].as_py() == 4
    with pytest.raises(OverwriteNotSupported):
        eng.sql("INSERT OVERWRITE clickhouse.remote.ins_digest "
                "SELECT 'Y', CAST(1 AS BIGINT)")
    with pytest.raises(ValueError, match="read-only"):
        eng.sql("INSERT INTO clickhouse.remote.orders VALUES (1)")
    with pytest.raises(SchemaValidationError):
        eng.sql("INSERT INTO clickhouse.remote.ins_digest "
                "SELECT 'Z', CAST(1 AS BIGINT), 99")


def test_remote_insert_write_stress_over_subscribed(fed):
    """e2e_stress.rs:69-239 parity on the REMOTE write path: 16
    concurrent writers over a pool of 4 append disjoint batches; every
    row arrives exactly once, no deadlock, no error."""
    import pyarrow as pa

    _, remote = fed
    remote.create_table("ins_stress", "wid BIGINT, v BIGINT")
    rows_per = 5_000
    errs: list[Exception] = []

    def writer(wid: int):
        try:
            tbl = pa.table({
                "wid": pa.array([wid] * rows_per, pa.int64()),
                "v": pa.array(range(rows_per), pa.int64())})
            n = remote.insert_arrow("ins_stress", tbl)
            assert n == rows_per
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(16)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs[:2]
    chk = remote.execute(
        "SELECT CAST(count(*) AS BIGINT) AS n, "
        "CAST(count(DISTINCT wid) AS BIGINT) AS w, "
        "CAST(sum(v) AS BIGINT) AS s FROM ins_stress")
    assert chk.column("n")[0].as_py() == 16 * rows_per
    assert chk.column("w")[0].as_py() == 16
    assert chk.column("s")[0].as_py() == 16 * (rows_per - 1) * rows_per // 2


def test_unparser_preserves_literals(fed, spark):
    """r9 self-review catch: qualifier stripping must not touch string
    LITERALS — a value like 'remote.orders' is data and crosses the
    seam untouched; and literal contents never trip the structural
    scans (function gate, table refs)."""
    eng, _ = fed
    df = eng.sql("SELECT 'remote.orders' AS tag, "
                 "CAST(count(*) AS BIGINT) AS n "
                 "FROM clickhouse.remote.orders WHERE o_orderkey < 100")
    assert eng.last_remote_sql is not None          # shipped
    assert "'remote.orders'" in eng.last_remote_sql  # literal intact
    row = df.first()
    assert row.tag == "remote.orders" and row.n > 0
    # a literal holding gate-refused tokens ('sample', 'log(') is a
    # Literal node of the parsed plan: it neither refuses the ship nor
    # changes on the way through
    df2 = eng.sql("SELECT 'free sample log(' AS s, "
                  "CAST(count(*) AS BIGINT) AS n "
                  "FROM clickhouse.remote.orders GROUP BY 1")
    assert "'free sample log('" in eng.last_remote_sql
    r2 = df2.first()
    assert r2.s == "free sample log(" and r2.n == 1500


# -- r10: scale-safe hand-back, shadow rule, observability, remote DDL --

def test_unaggregated_shippable_select_streams_not_materializes(fed, spark):
    """Verdict task 2 (the S7 scale-killer): a shipped SELECT must NOT
    come back as one driver-side Arrow table — it streams batch-by-batch
    (the reference's RecordBatchStream contract, src/stream.rs:110-131),
    spilling to the parquet spool past the local-relation threshold.
    Pinned by intercepting RemoteEngine.execute: the materializing call
    never runs for a shipped read, the full scan and the aggregate
    alike."""
    eng, remote = fed
    calls = {"execute": 0, "stream": 0}
    orig_exec, orig_stream = remote.execute, remote.execute_stream

    def spy_exec(sql, timeout=None):
        calls["execute"] += 1
        return orig_exec(sql, timeout)

    def spy_stream(sql, batch_rows=4096):
        calls["stream"] += 1
        return orig_stream(sql, batch_rows=batch_rows)

    remote.execute, remote.execute_stream = spy_exec, spy_stream
    try:
        df = eng.sql("SELECT o_orderkey, o_totalprice "
                     "FROM clickhouse.remote.orders")
        assert eng.last_remote_sql is not None          # it DID ship
        assert calls["stream"] == 1 and calls["execute"] == 0
        assert df.count() == 1500
        # the aggregate streams too: one hand-back for every shipped read
        n = eng.sql("SELECT CAST(count(*) AS BIGINT) AS n "
                    "FROM clickhouse.remote.orders").first()["n"]
        assert n == 1500
        assert calls["execute"] == 0 and calls["stream"] == 2
    finally:
        remote.execute, remote.execute_stream = orig_exec, orig_stream


def test_bare_name_local_shadow_wins(fed, spark):
    """A bare table name shadowed by a LOCAL view resolves local
    (nearest scope) — attaching a remote can never silently re-point an
    existing view; the qualified form states intent and still ships."""
    eng, remote = fed
    spark.sql("SELECT * FROM orders WHERE o_orderkey <= 7") \
         .createOrReplaceTempView("shadow_probe")
    remote.create_table("shadow_probe", "o_orderkey BIGINT")
    remote.execute_insert(
        "INSERT INTO shadow_probe SELECT o_orderkey FROM orders")
    try:
        want = spark.sql("SELECT count(*) AS n FROM orders "
                         "WHERE o_orderkey <= 7").first()["n"]
        n = eng.sql("SELECT CAST(count(*) AS BIGINT) AS n "
                    "FROM shadow_probe").first()["n"]
        assert eng.last_remote_sql is None and n == want    # local wins
        n2 = eng.sql("SELECT CAST(count(*) AS BIGINT) AS n "
                     "FROM clickhouse.remote.shadow_probe").first()["n"]
        assert eng.last_remote_sql is not None and n2 == 1500
    finally:
        remote.drop_table("shadow_probe")
        spark.catalog.dropTempView("shadow_probe")


def test_remote_observability_bookkeeping(fed, spark):
    """last_remote_sql / last_remote_insert reset on EVERY statement and
    reflect the INSERT ship mode; a remote execution failure is recorded
    on last_remote_error instead of being indistinguishable from a gate
    refusal."""
    eng, remote = fed
    remote.create_table("obs_t", "k BIGINT, v DOUBLE")
    try:
        eng.sql("INSERT INTO clickhouse.remote.obs_t "
                "SELECT o_orderkey, 1.5 FROM clickhouse.remote.orders "
                "WHERE o_orderkey < 5")
        assert eng.last_remote_insert == "whole"
        assert eng.last_remote_sql.lstrip().upper().startswith("INSERT")
        eng.sql("INSERT INTO clickhouse.remote.obs_t VALUES (99, 2.5)")
        assert eng.last_remote_insert == "arrow-stream"
        eng.sql("SELECT 1 AS one").collect()
        assert eng.last_remote_sql is None          # reset, not stale
        assert eng.last_remote_insert is None
        # a local analysis error in the INSERT source surfaces as
        # ITSELF, not as a remote SchemaValidationError
        from clickhouse_datafusion_spark.sink import SchemaValidationError
        with pytest.raises(Exception) as ei:
            eng.sql("INSERT INTO clickhouse.remote.obs_t "
                    "SELECT no_such_column FROM orders")
        assert not isinstance(ei.value, SchemaValidationError)
    finally:
        remote.drop_table("obs_t")
    # remote outage vs gate refusal: a remote view over a missing file
    # errors remotely; the engine records the error and falls back
    remote._root.execute(
        "CREATE VIEW ghost_t AS SELECT error('remote outage') AS x")
    remote._tables.add("ghost_t")
    try:
        with pytest.raises(Exception):
            eng.sql("SELECT max(x) AS n "
                    "FROM clickhouse.remote.ghost_t").collect()
        assert eng.last_remote_error is not None
    finally:
        remote._root.execute("DROP VIEW ghost_t")
        remote._tables.discard("ghost_t")


def test_local_fallback_rewrite_preserves_literals(fed, spark):
    """ADVICE r10: the local-fallback qualifier rewrite must not corrupt
    string literals — 'remote.orders' inside a NON-shippable statement
    (log() forces local) survives verbatim."""
    eng, _ = fed
    row = eng.sql("SELECT 'remote.orders' AS tag, "
                  "log(max(o_totalprice)) AS l "
                  "FROM clickhouse.remote.orders").first()
    assert eng.last_remote_sql is None              # stayed local
    assert row.tag == "remote.orders"


def test_remote_ddl_front_door(fed, spark):
    """Stretch task 8: CREATE TABLE / DROP TABLE targeting the remote db
    route through engine.sql to the attached engine (reference
    src/providers/table_factory.rs:216-275), and SHOW TABLES FROM remote
    re-lists the LIVE remote catalog (catalog.rs:54-69 refresh)."""
    eng, remote = fed
    eng.sql("CREATE TABLE clickhouse.remote.ddl_t (k BIGINT, s VARCHAR)")
    assert "ddl_t" in remote.tables() and "ddl_t" in remote.writable()
    r = eng.sql("INSERT INTO clickhouse.remote.ddl_t VALUES (1, 'a')")
    assert r.first()["count"] == 1
    names = [row.tableName for row in
             eng.sql("SHOW TABLES FROM remote").collect()]
    assert "ddl_t" in names and "orders" in names
    # out-of-band create is picked up by the refresh-on-read listing
    remote._root.execute("CREATE TABLE oob_t (x BIGINT)")
    names2 = [row.tableName for row in
              eng.sql("SHOW TABLES IN clickhouse.remote").collect()]
    assert "oob_t" in names2
    eng.sql("DROP TABLE clickhouse.remote.oob_t")
    eng.sql("DROP TABLE remote.ddl_t")
    assert "ddl_t" not in remote.tables()
    with pytest.raises(ValueError):
        eng.sql("DROP TABLE remote.ddl_t")
    eng.sql("DROP TABLE IF EXISTS remote.ddl_t")    # no raise
    # a second CREATE errors; IF NOT EXISTS is a no-op
    eng.sql("CREATE TABLE remote.ddl2 (k BIGINT)")
    with pytest.raises(ValueError):
        eng.sql("CREATE TABLE remote.ddl2 (k BIGINT)")
    eng.sql("CREATE TABLE IF NOT EXISTS remote.ddl2 (k BIGINT)")
    eng.sql("DROP TABLE remote.ddl2")


def test_remote_ctas_whole_ship_and_local_eval(fed, spark):
    """CREATE TABLE <db>.<t> AS SELECT (r10): an all-remote source runs
    CTAS remotely — zero data crosses the seam; an unshippable source
    (log() forces local) evaluates locally and the Arrow batches append
    into a table created from the result schema. Both forms read back
    identically through the front door."""
    eng, remote = fed
    try:
        eng.sql("CREATE TABLE clickhouse.remote.ctas_digest AS "
                "SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS n "
                "FROM clickhouse.remote.orders GROUP BY o_orderstatus")
        assert eng.last_remote_sql.startswith("CREATE TABLE ctas_digest")
        assert "ctas_digest" in remote.writable()
        rows = {r.st: r.n for r in eng.sql(
            "SELECT st, n FROM clickhouse.remote.ctas_digest").collect()}
        want = {r.o_orderstatus: r.cnt for r in spark.sql(
            "SELECT o_orderstatus, count(*) AS cnt FROM orders "
            "GROUP BY o_orderstatus").collect()}
        assert rows == want
        # duplicate name refuses; IF NOT EXISTS no-ops
        with pytest.raises(ValueError, match="already exists"):
            eng.sql("CREATE TABLE remote.ctas_digest AS "
                    "SELECT 1 AS x FROM clickhouse.remote.orders LIMIT 1")
        eng.sql("CREATE TABLE IF NOT EXISTS remote.ctas_digest AS "
                "SELECT 1 AS x FROM clickhouse.remote.orders LIMIT 1")
        # local-eval path: log() keeps the source local; the result
        # lands remotely with the schema mapped from the local plan
        eng.sql("CREATE TABLE remote.ctas_local AS "
                "SELECT o_orderkey, log(o_totalprice) AS lnp "
                "FROM clickhouse.remote.orders WHERE o_orderkey < 50")
        assert eng.last_remote_insert == "arrow-stream"
        got = eng.sql("SELECT CAST(count(*) AS BIGINT) AS n, "
                      "CAST(max(o_orderkey) AS BIGINT) AS mx "
                      "FROM clickhouse.remote.ctas_local").first()
        wnt = spark.sql("SELECT count(*) AS n, max(o_orderkey) AS mx "
                        "FROM orders WHERE o_orderkey < 50").first()
        assert (got.n, got.mx) == (wnt.n, wnt.mx)
    finally:
        remote.drop_table("ctas_digest", if_exists=True)
        remote.drop_table("ctas_local", if_exists=True)


def test_local_ctas_untouched_by_remote_hook(fed, spark):
    """A CTAS naming a LOCAL table must fall through the remote DDL hook
    to the existing local handling."""
    eng, _ = fed
    eng.sql("DROP TABLE IF EXISTS local_ctas_probe")
    eng.sql("CREATE TABLE local_ctas_probe AS "
            "SELECT 1 AS a, 'x' AS b")
    try:
        assert spark.table("local_ctas_probe").count() == 1
    finally:
        eng.sql("DROP TABLE IF EXISTS local_ctas_probe")


def test_nulls_ordering_translation_unit():
    """F6 r10: the unparser makes Spark's null-ordering defaults
    explicit (ASC → NULLS FIRST, DESC → NULLS LAST) in every ORDER BY —
    windowed and top-level — because the remote dialect defaults ASC to
    NULLS LAST (probed divergence: a NULL row ranks 1 locally, 3
    remotely)."""
    from clickhouse_datafusion_spark.sources.remote_engine import (
        make_nulls_explicit)

    assert make_nulls_explicit(
        "SELECT row_number() OVER (ORDER BY v) AS r FROM t") == \
        "SELECT row_number() OVER (ORDER BY v NULLS FIRST) AS r FROM t"
    assert make_nulls_explicit(
        "SELECT * FROM t ORDER BY a DESC, b ASC, c LIMIT 3") == \
        ("SELECT * FROM t ORDER BY a DESC NULLS LAST,"
         " b ASC NULLS FIRST, c NULLS FIRST LIMIT 3")
    # explicit qualifiers pass through; literals are not ORDER BY
    assert make_nulls_explicit(
        "SELECT 'order by x' AS s FROM t ORDER BY a NULLS LAST") == \
        "SELECT 'order by x' AS s FROM t ORDER BY a NULLS LAST"
    # function args inside an item keep their commas
    assert make_nulls_explicit(
        "SELECT rank() OVER (ORDER BY coalesce(a, b) DESC) FROM t") == \
        "SELECT rank() OVER (ORDER BY coalesce(a, b) DESC NULLS LAST) FROM t"


def test_nullable_order_by_ships_with_spark_semantics(fed, spark):
    """End-to-end: a shipped windowed rank and a shipped ORDER BY+LIMIT
    over a NULLABLE column must return exactly the local plan's rows —
    the null-ordering translation is what makes this hold."""
    eng, remote = fed
    remote.create_table("nullable_t", "k BIGINT, v BIGINT")
    spark.createDataFrame([(1, 10), (2, None), (3, 5), (4, None), (5, 7)],
                          "k bigint, v bigint") \
         .createOrReplaceTempView("nullable_t_local")
    eng.sql("INSERT INTO clickhouse.remote.nullable_t "
            "SELECT k, v FROM nullable_t_local")
    try:
        win = ("SELECT k, row_number() OVER (ORDER BY v, k) AS r FROM {t}")
        got = eng.sql(win.format(t="clickhouse.remote.nullable_t"))
        assert eng.last_remote_sql is not None          # it shipped
        assert "NULLS FIRST" in eng.last_remote_sql     # translated
        assert _rows(got) == _rows(spark.sql(
            win.format(t="nullable_t_local")))
        topk = "SELECT k, v FROM {t} ORDER BY v, k LIMIT 2"
        got2 = eng.sql(topk.format(t="clickhouse.remote.nullable_t"))
        assert eng.last_remote_sql is not None
        assert _rows(got2) == _rows(spark.sql(
            topk.format(t="nullable_t_local")))         # NULL rows win top-2
    finally:
        remote.drop_table("nullable_t")
        spark.catalog.dropTempView("nullable_t_local")


def test_non_utc_session_keeps_time_extraction_local(fed, spark):
    """Time extraction over an LTZ timestamp is session-timezone-
    dependent in Spark (year(TIMESTAMP '1996-01-01 00:00 UTC') = 1995
    under America/New_York — probed r10d) but tz-naive remotely. The
    gate is syntactic — it cannot see whether a column is NTZ or LTZ —
    so under a non-UTC session EVERY extraction function (r10d widened
    this from the sub-day set to year/month/day too) keeps the
    statement local; under UTC they ship."""
    eng, _ = fed
    q = ("SELECT CAST(count(*) AS BIGINT) AS n, "
         "CAST(max(year(o_orderdate)) AS INT) AS y "
         "FROM clickhouse.remote.orders")
    eng.sql(q).collect()
    assert eng.last_remote_sql is not None          # UTC session: ships
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        got = _rows(eng.sql(q))
        assert eng.last_remote_sql is None          # year(): local now
        assert "time extraction" in eng.last_remote_refusal
        assert got == _rows(spark.sql(q.replace("clickhouse.remote.", "")))
        eng.sql("SELECT CAST(max(hour(CAST(o_orderdate AS TIMESTAMP))) "
                "AS INT) AS h FROM clickhouse.remote.orders").collect()
        assert eng.last_remote_sql is None          # hour(): local
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_remote_spool_gc_on_attach(spark, tmp_path):
    """attach_remote garbage-collects spool directories older than the
    TTL (a spool is a read-once scan input) and leaves fresh ones."""
    import os
    import time as _time

    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine

    eng = ClickHouseSparkEngine(spark)
    os.makedirs(eng._remote_spool_dir, exist_ok=True)
    old = os.path.join(eng._remote_spool_dir, "gc_old_probe")
    new = os.path.join(eng._remote_spool_dir, "gc_new_probe")
    os.makedirs(old, exist_ok=True)
    os.makedirs(new, exist_ok=True)
    stale = _time.time() - 7 * 3600
    os.utime(old, (stale, stale))
    remote = RemoteEngine(pool_size=1)
    try:
        eng.attach_remote(remote, db="gcprobe")
        assert not os.path.exists(old)
        assert os.path.exists(new)
    finally:
        os.rmdir(new)


def test_single_arg_trim_ships_two_arg_stays_local(fed, spark):
    """The trim family's guard: single-argument whitespace trim is
    shared and ships; the two-argument form takes opposite argument
    order across the dialects and must stay local (and still answer
    with Spark's semantics through the twin views)."""
    eng, _ = fed
    q1 = ("SELECT trim(o_orderpriority) AS t, CAST(count(*) AS BIGINT) "
          "AS n FROM clickhouse.remote.orders GROUP BY 1")
    got = _rows(eng.sql(q1))
    assert eng.last_remote_sql is not None
    assert got == _rows(spark.sql(
        q1.replace("clickhouse.remote.", "")))
    q2 = ("SELECT ltrim('1', o_orderpriority) AS t FROM "
          "clickhouse.remote.orders ORDER BY o_orderkey LIMIT 3")
    got2 = _rows(eng.sql(q2))
    assert eng.last_remote_sql is None          # two-arg: refused
    assert got2 == _rows(spark.sql(q2.replace("clickhouse.remote.", "")))


# -- r10b: operator-token / arithmetic divergences + schema fidelity ----

def test_caret_xor_vs_power_never_ships(fed, spark):
    """`^` is bitwise XOR locally but POWER remotely (probed r10b:
    2 ^ 3 = 1 vs 8.0) — invisible to the call-shaped allowlist, so the
    gate carries an operator-token check. Stays local, answers with
    Spark's XOR."""
    eng, _ = fed
    q = ("SELECT o_orderkey, o_orderkey ^ 3 AS v FROM "
         "clickhouse.remote.orders ORDER BY o_orderkey LIMIT 4")
    got = _rows(eng.sql(q))
    assert eng.last_remote_sql is None
    assert got == _rows(spark.sql(q.replace("clickhouse.remote.", "")))


def test_data_dependent_divisor_stays_local(fed, spark):
    """x / 0 raises DIVIDE_BY_ZERO locally (ANSI) but returns NULL
    remotely — a data-dependent divisor can hide a zero, so division
    ships only with a nonzero numeric literal divisor."""
    eng, _ = fed
    q = ("SELECT CAST(o_totalprice AS DOUBLE) / o_custkey AS v FROM "
         "clickhouse.remote.orders WHERE o_custkey > 0 "
         "ORDER BY o_orderkey LIMIT 3")
    got = _rows(eng.sql(q))
    assert eng.last_remote_sql is None
    assert got == _rows(spark.sql(q.replace("clickhouse.remote.", "")))
    # and the divergence is REAL in this data: o_custkey contains 0, so
    # the unguarded ship would have silently returned NULL rows where
    # the local surface raises DIVIDE_BY_ZERO
    q0 = ("SELECT CAST(o_totalprice AS DOUBLE) / o_custkey AS v FROM "
          "clickhouse.remote.orders")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        eng.sql(q0).collect()
    assert eng.last_remote_sql is None
    # literal zero divisor likewise refused (stays local -> local error
    # semantics preserved)
    d = eng.remote_decision(
        "SELECT o_orderkey % 0 AS v FROM clickhouse.remote.orders LIMIT 1")
    assert not d["ships"] and "divisor" in d["reason"]


def test_decimal_division_stays_local_double_ships(fed, spark):
    """Decimal division is EXACT decimal arithmetic locally but binary
    DOUBLE remotely (probed r10b) — rounding-boundary flips are
    possible, so `/` ships only when the analyzed output carries no
    decimal. Double-domain division with a literal divisor ships."""
    eng, _ = fed
    qdec = ("SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(15,2)) / 4 "
            "AS v FROM clickhouse.remote.orders ORDER BY o_orderkey "
            "LIMIT 3")
    got = _rows(eng.sql(qdec))
    assert eng.last_remote_sql is None           # decimal output: local
    assert got == _rows(spark.sql(qdec.replace("clickhouse.remote.", "")))
    qdbl = ("SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) / 4 AS v "
            "FROM clickhouse.remote.orders ORDER BY o_orderkey LIMIT 3")
    got2 = _rows(eng.sql(qdbl))
    assert eng.last_remote_sql is not None       # double domain: ships
    assert got2 == _rows(spark.sql(qdbl.replace("clickhouse.remote.", "")))


def test_remote_handback_schema_fidelity(fed, spark):
    """The shipped result must carry the LOCAL analyzed schema: the
    remote dialect returns sum(bigint) as HUGEINT/decimal(38,0) and
    year() as BIGINT (probed r10b); the seam casts the hand-back so
    ship-vs-local is schema-identical by construction."""
    eng, _ = fed
    q = ("SELECT o_orderstatus AS st, sum(o_orderkey) AS s, "
         "year(o_orderdate) AS y FROM clickhouse.remote.orders "
         "GROUP BY o_orderstatus, year(o_orderdate)")
    df = eng.sql(q)
    assert eng.last_remote_sql is not None
    local = spark.sql(q.replace("clickhouse.remote.", ""))
    assert [f.dataType.simpleString() for f in df.schema.fields] == \
           [f.dataType.simpleString() for f in local.schema.fields]
    assert _rows(df) == _rows(local)


def test_remote_only_syntax_refused_by_parse_check(fed, spark):
    """A statement the LOCAL surface cannot parse must never ship even
    when the remote dialect would accept it (SIMILAR TO is remote-only):
    the seam's parse check keeps it local, where the user sees the
    surface's own error."""
    eng, _ = fed
    with pytest.raises(Exception) as ei:
        eng.sql("SELECT o_orderkey FROM clickhouse.remote.orders "
                "WHERE o_orderstatus SIMILAR TO 'F' LIMIT 1").collect()
    assert eng.last_remote_sql is None
    assert "PARSE" in str(ei.value).upper() or "SYNTAX" in str(ei.value).upper()


def test_remote_handback_name_alignment_positional(fed, spark):
    """Auto-generated column names diverge across the dialects
    (count(*) is `count(1)` locally, `count_star()` remotely — probed
    r10b); alignment is positional because both schemas come from the
    SAME statement, so the shipped result must carry the LOCAL names."""
    eng, _ = fed
    q = ("SELECT count(*), min(o_orderkey + 1) FROM "
         "clickhouse.remote.orders")
    df = eng.sql(q)
    assert eng.last_remote_sql is not None
    local = spark.sql(q.replace("clickhouse.remote.", ""))
    assert df.columns == local.columns
    assert df.schema == local.schema
    assert _rows(df) == _rows(local)


def test_backslash_and_double_quote_never_ship(fed, spark):
    """Lexical divergences (probed r10b): Spark interprets backslash
    escapes in string literals and treats double-quoted tokens as
    STRING LITERALS, while the remote dialect takes backslashes
    literally and double quotes as IDENTIFIERS — same statement, both
    valid, different values. Any backslash or double quote keeps the
    statement local, where Spark's semantics answer."""
    eng, _ = fed
    q1 = (r"SELECT count(*) AS n FROM clickhouse.remote.orders "
          r"WHERE o_orderpriority LIKE '%\_%'")
    got = _rows(eng.sql(q1))
    assert eng.last_remote_sql is None
    assert got == _rows(spark.sql(q1.replace("clickhouse.remote.", "")))
    q2 = ('SELECT "o_orderstatus" AS v FROM clickhouse.remote.orders '
          "ORDER BY o_orderkey LIMIT 2")
    got2 = _rows(eng.sql(q2))
    assert eng.last_remote_sql is None
    # locally "o_orderstatus" is the STRING 'o_orderstatus', not the col
    assert got2 == [((False, "o_orderstatus"),)] * 2


def test_avg_decimal_guard(fed, spark):
    """avg(DECIMAL) accumulates in binary DOUBLE remotely but exact
    decimal locally (probed r10b). The involvement check is
    STATEMENT-level (decimal cast, decimal literal, or a
    remotely-decimal-typed column name anywhere), so CTE/alias renames
    cannot smuggle a decimal column past it (r10d review);
    double/int avg still ships."""
    dc = frozenset({"price"})

    def ships(sql):
        return _unparse(spark, sql, {"t"}, decimal_cols=dc) is not None

    assert not ships("SELECT avg(CAST(x AS DECIMAL(10,2))) FROM t")
    assert not ships("SELECT avg(x * 1.00) FROM t")
    assert not ships("SELECT avg(price) FROM t")
    # the alias-rename bypass: price only appears inside the CTE body,
    # but the statement-wide scan still sees it
    assert not ships(
        "WITH s AS (SELECT price AS p FROM t) SELECT avg(p) FROM s")
    assert ships("SELECT avg(x) FROM t")
    eng, _ = fed
    q = ("SELECT avg(CAST(o_totalprice AS DECIMAL(18,2))) AS a "
         "FROM clickhouse.remote.orders")
    got = _rows(eng.sql(q))
    assert eng.last_remote_sql is None
    assert got == _rows(spark.sql(q.replace("clickhouse.remote.", "")))
    q2 = "SELECT avg(o_totalprice) AS a FROM clickhouse.remote.orders"
    got2 = _rows(eng.sql(q2))
    assert eng.last_remote_sql is not None      # double-typed col: ships
    assert got2 == _rows(spark.sql(q2.replace("clickhouse.remote.", "")))


def test_remote_decision_and_explain_diagnostics(fed, spark):
    """The gate's refusal REASONS are observable (the reference
    analyzer's not-pushed diagnostics): remote_decision() dry-runs the
    gate, EXPLAIN prepends the federation verdict to the plan text,
    and last_remote_refusal records why a statement ran locally."""
    eng, _ = fed
    d = eng.remote_decision(
        "SELECT count(*) AS n FROM clickhouse.remote.orders")
    assert d["ships"] and d["remote_sql"] == "SELECT count(*) AS n FROM orders"
    assert set(d) == {"ships", "remote_sql", "reason"}
    q = "SELECT o_orderkey FROM clickhouse.remote.orders WHERE o_orderkey > 7"
    ds = eng.remote_decision(q)
    assert ds["ships"] and ds["remote_sql"] == (
        "SELECT o_orderkey FROM orders WHERE o_orderkey > 7")
    # the route depends on the result size, so only the executed plan
    # shows it: this one fits under the threshold
    plan = eng.sql(q)._jdf.queryExecution().executedPlan().toString()
    assert eng.last_remote_sql == ds["remote_sql"]
    assert "LocalTableScan" in plan, plan
    d2 = eng.remote_decision(
        "SELECT log(o_totalprice) FROM clickhouse.remote.orders LIMIT 1")
    assert not d2["ships"] and "log" in d2["reason"]
    d3 = eng.remote_decision(
        "SELECT o_orderkey ^ 2 FROM clickhouse.remote.orders LIMIT 1")
    assert not d3["ships"] and "XOR" in d3["reason"]
    plan = eng.sql("EXPLAIN SELECT count(*) AS n FROM "
                   "clickhouse.remote.orders").collect()[0][0]
    assert "RemoteEngineExec" in plan and "== Physical Plan ==" in plan
    plan2 = eng.sql("EXPLAIN SELECT log(o_totalprice) AS l FROM "
                    "clickhouse.remote.orders LIMIT 1").collect()[0][0]
    assert "local (" in plan2 and "allowlist: log" in plan2
    eng.sql("SELECT log(o_totalprice) AS l FROM clickhouse.remote.orders "
            "LIMIT 1").collect()
    assert "log" in eng.last_remote_refusal
    eng.sql("SELECT count(*) AS n FROM clickhouse.remote.orders").collect()
    assert eng.last_remote_refusal is None      # shipped: no refusal


def test_insert_and_ctas_sources_go_through_full_gate(fed, spark):
    """The write paths use the FULL gate, not just the unparser: a
    divergent source shipped whole would WRITE wrong rows silently.
    A source with a same-name trap (log = ln vs log10) must evaluate
    locally and Arrow-append Spark's values; a clean all-remote source
    still whole-ships."""
    import math

    eng, remote = fed
    remote.create_table("gate_ins", "k BIGINT, l DOUBLE")
    try:
        eng.sql("INSERT INTO clickhouse.remote.gate_ins "
                "SELECT o_orderkey, log(o_totalprice) "
                "FROM clickhouse.remote.orders ORDER BY o_orderkey LIMIT 3")
        assert eng.last_remote_insert == "arrow-stream"      # gate refused ship
        assert "log" in eng.last_remote_refusal
        got = remote.execute(
            "SELECT l FROM gate_ins ORDER BY k LIMIT 1").column(0)[0].as_py()
        price = spark.sql("SELECT o_totalprice FROM orders "
                          "ORDER BY o_orderkey LIMIT 1").first()[0]
        assert abs(got - math.log(price)) < 1e-9      # ln, not log10
        eng.sql("INSERT INTO clickhouse.remote.gate_ins "
                "SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) "
                "FROM clickhouse.remote.orders ORDER BY o_orderkey LIMIT 2")
        assert eng.last_remote_insert == "whole"      # clean source ships
    finally:
        remote.drop_table("gate_ins")
    eng.sql("CREATE TABLE clickhouse.remote.gate_ctas AS "
            "SELECT o_orderkey AS k, log(o_totalprice) AS l "
            "FROM clickhouse.remote.orders ORDER BY o_orderkey LIMIT 2")
    try:
        assert eng.last_remote_insert == "arrow-stream"      # CTAS gate refused
        got = remote.execute(
            "SELECT l FROM gate_ctas ORDER BY k LIMIT 1").column(0)[0].as_py()
        price = spark.sql("SELECT o_totalprice FROM orders "
                          "ORDER BY o_orderkey LIMIT 1").first()[0]
        assert abs(got - math.log(price)) < 1e-9
    finally:
        remote.drop_table("gate_ctas")


def test_decimal_involvement_is_statement_level(fed, spark):
    """r10d review regressions: (1) decimal division hidden in a WHERE
    predicate (output schema shows no decimal) must stay local;
    (2) avg over a CTE-renamed decimal column must stay local;
    (3) provably-decimal-free division ships even with NO local twin
    views (the involvement check needs no analysis)."""
    from decimal import Decimal

    eng, remote = fed
    remote.create_table("dec_t", "c DECIMAL(12,2)")
    try:
        remote.execute_insert(
            "INSERT INTO dec_t VALUES (0.15), (0.16), (0.14)")
        spark.createDataFrame(
            [(Decimal("0.15"),), (Decimal("0.16"),), (Decimal("0.14"),)],
            "c decimal(12,2)").createOrReplaceTempView("dec_t")
        q = ("SELECT CAST(count(*) AS BIGINT) AS n FROM "
             "clickhouse.remote.dec_t WHERE c / 2 >= 0.075")
        got = _rows(eng.sql(q))
        assert eng.last_remote_sql is None          # predicate division
        assert "decimal" in eng.last_remote_refusal
        assert got == _rows(spark.sql(q.replace("clickhouse.remote.", "")))
        q2 = ("WITH s AS (SELECT c AS p FROM clickhouse.remote.dec_t) "
              "SELECT CAST(avg(p) AS DOUBLE) AS a FROM s")
        got2 = _rows(eng.sql(q2))
        assert eng.last_remote_sql is None          # CTE alias rename
        assert got2 == _rows(spark.sql(q2.replace("clickhouse.remote.", "")))
    finally:
        remote.drop_table("dec_t")
        spark.catalog.dropTempView("dec_t")
    remote.create_table("notwin_t", "a BIGINT, b DOUBLE")
    try:
        remote.execute_insert("INSERT INTO notwin_t VALUES (1, 8.0), (2, 6.0)")
        df = eng.sql("SELECT a, b / 2 AS h FROM clickhouse.remote.notwin_t "
                     "ORDER BY a LIMIT 2")
        assert eng.last_remote_sql is not None      # twin-less, ships
        assert [tuple(r) for r in df.collect()] == [(1, 4.0), (2, 3.0)]
    finally:
        remote.drop_table("notwin_t")


def test_empty_streamed_ship_keeps_schema(fed, spark):
    """A shippable statement with ZERO result rows must
    still ship, return an empty DataFrame, and carry the exact local
    schema — taken from the stream's one zero-row batch, so the remote
    runs the statement exactly once."""
    eng, remote = fed
    calls = {"execute": 0, "stream": 0}
    orig_exec, orig_stream = remote.execute, remote.execute_stream

    def spy_exec(sql, timeout=None):
        calls["execute"] += 1
        return orig_exec(sql, timeout)

    def spy_stream(sql, batch_rows=65536):
        calls["stream"] += 1
        return orig_stream(sql, batch_rows=batch_rows)

    q = ("SELECT o_orderkey, o_orderstatus FROM clickhouse.remote.orders "
         "WHERE o_orderkey < 0")
    remote.execute, remote.execute_stream = spy_exec, spy_stream
    try:
        df = eng.sql(q)
    finally:
        remote.execute, remote.execute_stream = orig_exec, orig_stream
    assert eng.last_remote_sql is not None
    assert calls == {"execute": 0, "stream": 1}
    assert df.count() == 0
    assert df.schema == spark.sql(q.replace("clickhouse.remote.", "")).schema


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
    """A shipped result whose column is ALL NULL must
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


_SHAPES = {
    "group_by_high_cardinality":
        "SELECT o_orderkey, CAST(count(*) AS BIGINT) AS n, "
        "sum(o_totalprice) AS s FROM clickhouse.remote.orders "
        "GROUP BY o_orderkey",
    "order_by_limit":
        "SELECT o_orderkey, o_totalprice FROM clickhouse.remote.orders "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20",
    "windowed_sum":
        "SELECT o_orderkey, sum(o_orderkey) OVER "
        "(PARTITION BY o_custkey) AS s FROM clickhouse.remote.orders",
    "count_star": "SELECT count(*) AS n FROM clickhouse.remote.orders",
}


@pytest.mark.parametrize("shape", list(_SHAPES))
def test_streamed_ship_shapes_match_local(fed, spark, hand_back, shape):
    """Every shipped read takes the one bounded hand-back, whatever its
    output size: a high-cardinality GROUP BY, a top-k, a row-preserving
    windowed SUM and a one-row count all come back exactly as the local
    twin answers them, on both branches, with every cursor returned.
    Where the result fits, the LocalRelation carries the exact local
    schema (count(*) stays non-nullable); a spilled result keeps the
    local types over the spool's nullable columns."""
    eng, remote = fed
    q = _SHAPES[shape]
    df = eng.sql(q)
    assert eng.last_remote_sql is not None
    _assert_hand_back(df, remote, hand_back)
    local = spark.sql(q.replace("clickhouse.remote.", ""))
    if shape == "order_by_limit":
        assert [tuple(r) for r in df.collect()] == \
            [tuple(r) for r in local.collect()]
    else:
        assert _rows(df) == _rows(local)
    assert [f.dataType for f in df.schema] == \
        [f.dataType for f in local.schema]
    if hand_back == "fits":
        assert df.schema == local.schema


def test_failed_spill_removes_partial_spool(fed, spark):
    """A remote stream that breaks after the spill has started leaves
    no half-written spool behind: the statement falls back locally with
    the failure on last_remote_error, the spool directory is removed,
    and the cursor goes back to the pool."""
    import os

    eng, remote = fed
    orig_stream = remote.execute_stream

    def failing_stream(sql, batch_rows=65536):
        inner = orig_stream(sql, batch_rows=2)
        try:
            for i, batch in enumerate(inner):
                if i == 2:
                    raise RuntimeError("remote stream broke")
                yield batch
        finally:
            inner.close()

    key = "spark.sql.execution.arrow.localRelationThreshold"
    prev = spark.conf.get(key)
    spool = eng._remote_spool_dir
    before = set(os.listdir(spool)) if os.path.isdir(spool) else set()
    q = ("SELECT o_orderkey FROM clickhouse.remote.orders "
         "WHERE o_orderkey < 100")
    spark.conf.set(key, "1")
    remote.execute_stream = failing_stream
    try:
        eng.last_remote_error = None
        df = eng.sql(q)
    finally:
        remote.execute_stream = orig_stream
        spark.conf.set(key, prev)
    assert eng.last_remote_sql is None                  # fell back local
    assert "remote stream broke" in str(eng.last_remote_error)
    after = set(os.listdir(spool)) if os.path.isdir(spool) else set()
    assert after <= before
    assert remote._pool.qsize() == remote.pool_size
    assert _rows(df) == _rows(spark.sql(q.replace("clickhouse.remote.", "")))


@contextlib.contextmanager
def _local_insert(eng, spark):
    name = f"ps_{uuid.uuid4().hex[:10]}"
    spark.sql(f"CREATE TABLE {name} (k BIGINT) USING parquet")
    try:
        yield eng.sql(f"INSERT INTO {name} SELECT 1")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


@contextlib.contextmanager
def _remote_insert(eng, spark, source, plane):
    name = f"ps_{uuid.uuid4().hex[:10]}"
    eng._remote.create_table(name, "k BIGINT")
    try:
        df = eng.sql(f"INSERT INTO clickhouse.remote.{name} SELECT {source} "
                     "FROM clickhouse.remote.orders WHERE o_orderkey < 10")
        assert eng.last_remote_insert == plane
        yield df
    finally:
        eng._remote.drop_table(name)


@contextlib.contextmanager
def _remote_create(eng, spark):
    name = f"ps_{uuid.uuid4().hex[:10]}"
    try:
        yield eng.sql(f"CREATE TABLE clickhouse.remote.{name} (k BIGINT)")
    finally:
        eng._remote.drop_table(name, if_exists=True)


@contextlib.contextmanager
def _show_create_mv(eng, spark):
    eng.sql("CREATE MATERIALIZED VIEW ps_mv AS SELECT 1 AS one")
    try:
        yield eng.sql("SHOW CREATE TABLE ps_mv")
    finally:
        eng.sql("DROP MATERIALIZED VIEW ps_mv")


@contextlib.contextmanager
def _streamed_ship(eng, spark):
    q = ("SELECT o_orderkey FROM clickhouse.remote.orders "
         "WHERE o_orderkey < 100")
    d = eng.remote_decision(q)
    assert d["ships"]
    df = eng.sql(q)
    assert eng.last_remote_sql == d["remote_sql"]
    yield df


@pytest.mark.parametrize("frame", [
    _local_insert,
    functools.partial(_remote_insert, source="o_orderkey", plane="whole"),
    functools.partial(_remote_insert, plane="arrow-stream",
                      source="CAST(log(o_orderkey + 1) AS BIGINT)"),
    lambda eng, spark: contextlib.nullcontext(eng.sql("EXISTS TABLE orders")),
    _remote_create,
    _show_create_mv,
    _streamed_ship,
], ids=["local_insert", "remote_insert_whole", "remote_insert_spool",
        "exists", "remote_create", "show_create_mv", "streamed_ship"])
def test_engine_made_frames_plan_local_table_scan(fed, spark, frame):
    """Result frames the engine builds itself (INSERT counts, client
    probes, DDL results, a streamed ship that fits) come from Arrow, so
    Spark plans a LocalTableScan — never a pickled Python RDD
    (``Scan ExistingRDD``), whose collect starts Python workers."""
    eng, _ = fed
    with frame(eng, spark) as df:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def _sorted_pdf(pdf):
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


@pytest.mark.parametrize("frame", [
    _local_insert,
    functools.partial(_remote_insert, source="o_orderkey", plane="whole"),
    _streamed_ship,
], ids=["local_insert", "remote_insert_whole", "streamed_ship"])
def test_engine_made_frames_collect_with_no_job(fed, spark, frame):
    """An INSERT's count frame and a shipped read that fits collect
    from the Arrow already in this process: ``toPandas()`` and
    ``toArrow()`` start no Spark job. A frame derived from one, and its
    ``collect()``, still go through Spark, to the same rows."""
    from pyspark.sql.classic.dataframe import DataFrame

    eng, _ = fed
    with frame(eng, spark) as df:
        (pdf, tbl), jobs = jobs_of(spark, lambda: (df.toPandas(),
                                                   df.toArrow()))
        assert jobs == 0
        jvm = DataFrame(df._jdf, spark)
        pd.testing.assert_frame_equal(pdf, jvm.toPandas(), check_dtype=True)
        assert tbl.equals(jvm.toArrow())
        first = df.columns[0]
        derived, jobs = jobs_of(spark, df.select(first).toPandas)
        assert jobs >= 1
        pd.testing.assert_frame_equal(derived, pdf[[first]])
        assert df.collect() == jvm.collect()


def test_shipped_read_collects_with_no_job(fed, spark, hand_back):
    """``eng.sql(<shipped read>).toPandas()`` starts no Spark job when
    the result fits; a spilled result collects through Spark's scan of
    the spool. Both hand back the local rows."""
    eng, remote = fed
    q = ("SELECT o_orderkey, o_orderstatus FROM clickhouse.remote.orders "
         "WHERE o_orderkey < 200")
    pdf, jobs = jobs_of(spark, lambda: eng.sql(q).toPandas())
    assert eng.last_remote_sql is not None
    df = eng.sql(q)
    _assert_hand_back(df, remote, hand_back)
    tbl, arrow_jobs = jobs_of(spark, df.toArrow)
    if hand_back == "fits":
        assert (jobs, arrow_jobs) == (0, 0)
    else:
        assert jobs >= 1 and arrow_jobs >= 1
    want = spark.sql(q.replace("clickhouse.remote.", "")).toPandas()
    pd.testing.assert_frame_equal(_sorted_pdf(pdf), _sorted_pdf(want))
    pd.testing.assert_frame_equal(_sorted_pdf(tbl.to_pandas()),
                                  _sorted_pdf(want))


# -- r11: streamed federated WRITE path (verdict task 1) ---------------

def test_federated_insert_streams_not_materializes(fed, spark):
    """The write-direction twin of the r10 read-side spool pin: a
    federated INSERT whose source must run locally (gate-refused) must
    NOT materialize the source on the driver via toArrow() — it spools
    the source to parquet (distributed write) and appends batch-wise
    through insert_arrow_batches (the reference sink's streaming
    append, src/sink.rs:129-211). Pinned by spying DataFrame.toArrow
    (must never run) and RemoteEngine.insert_arrow_batches (must run
    once, and receive an ITERATOR it can pull lazily)."""
    from pyspark.sql import DataFrame as _DF

    eng, remote = fed
    calls = {"toArrow": 0, "batches": 0, "batch_count": 0}
    orig_to_arrow = _DF.toArrow
    orig_iab = remote.insert_arrow_batches

    def spy_to_arrow(self):
        calls["toArrow"] += 1
        return orig_to_arrow(self)

    def spy_iab(name, batches, columns="", write_concurrency=4):
        calls["batches"] += 1

        def counted():
            for b in batches:
                calls["batch_count"] += 1
                yield b
        return orig_iab(name, counted(), columns,
                        write_concurrency=write_concurrency)

    _DF.toArrow = spy_to_arrow
    remote.insert_arrow_batches = spy_iab
    remote.create_table("stream_ins", "k BIGINT, l DOUBLE")
    try:
        # log() is gate-refused (ln vs log10 divergence) -> local source
        eng.sql("INSERT INTO clickhouse.remote.stream_ins "
                "SELECT o_orderkey, log(o_totalprice) "
                "FROM clickhouse.remote.orders")
        assert eng.last_remote_insert == "arrow-stream"
        assert calls["toArrow"] == 0          # never driver-materialized
        assert calls["batches"] == 1
        assert calls["batch_count"] >= 1
        n = remote.execute(
            "SELECT CAST(count(*) AS BIGINT) FROM stream_ins"
        ).column(0)[0].as_py()
        assert n == 1500
    finally:
        _DF.toArrow = orig_to_arrow
        remote.insert_arrow_batches = orig_iab
        remote.drop_table("stream_ins")


def test_federated_ctas_streams_and_empty_insert_is_noop(fed, spark):
    """CTAS with a gate-refused source takes the same streamed path
    (toArrow never called); an INSERT whose local source is EMPTY
    appends zero rows without error."""
    from pyspark.sql import DataFrame as _DF

    eng, remote = fed
    calls = {"toArrow": 0}
    orig_to_arrow = _DF.toArrow

    def spy_to_arrow(self):
        calls["toArrow"] += 1
        return orig_to_arrow(self)

    _DF.toArrow = spy_to_arrow
    try:
        eng.sql("CREATE TABLE clickhouse.remote.stream_ctas AS "
                "SELECT o_orderkey AS k, log(o_totalprice) AS l "
                "FROM clickhouse.remote.orders")
        try:
            assert eng.last_remote_insert == "arrow-stream"
            assert calls["toArrow"] == 0
            n = remote.execute(
                "SELECT CAST(count(*) AS BIGINT) FROM stream_ctas"
            ).column(0)[0].as_py()
            assert n == 1500
            # empty local source -> zero-row append, no error
            eng.sql("INSERT INTO clickhouse.remote.stream_ctas "
                    "SELECT o_orderkey, log(o_totalprice) "
                    "FROM clickhouse.remote.orders WHERE o_orderkey < 0")
            assert eng.last_remote_insert == "arrow-stream"
            assert remote.execute(
                "SELECT CAST(count(*) AS BIGINT) FROM stream_ctas"
            ).column(0)[0].as_py() == 1500
        finally:
            remote.drop_table("stream_ctas")
    finally:
        _DF.toArrow = orig_to_arrow


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


def test_insert_arrow_batches_bounded_inflight_and_concurrent():
    """insert_arrow_batches pulls its iterator LAZILY: with
    write_concurrency=W, at most W batches have been pulled-but-not-
    appended at any pull (bounded driver memory — r12 tightened the
    loop to free a slot BEFORE pulling, so the bound is W, not W+1),
    and the total count is exact across many batches."""
    import pyarrow as pa

    remote = RemoteEngine(pool_size=4)
    remote.create_table("iab_t", "k BIGINT")
    try:
        state = {"pulled": 0, "max_ahead": 0, "appended": 0}

        def gen(n_batches):
            for i in range(n_batches):
                state["pulled"] += 1
                ahead = state["pulled"] - state["appended"]
                state["max_ahead"] = max(state["max_ahead"], ahead)
                yield pa.record_batch(
                    [pa.array([i * 10 + j for j in range(10)],
                              type=pa.int64())], names=["k"])

        orig = remote.insert_arrow

        def counting_insert(name, tbl, columns=""):
            n = orig(name, tbl, columns)
            state["appended"] += 1
            return n

        remote.insert_arrow = counting_insert
        total = remote.insert_arrow_batches(
            "iab_t", gen(40), write_concurrency=3)
        remote.insert_arrow = orig
        assert total == 400
        # lazily pulled: never ran unboundedly ahead of the appends
        assert state["max_ahead"] <= 3
        n = remote.execute(
            "SELECT CAST(count(*) AS BIGINT) FROM iab_t"
        ).column(0)[0].as_py()
        assert n == 400
    finally:
        remote.drop_table("iab_t")


# -- the spool write path under a non-UTC session and at batch-row
#    extremes ----------------------------------------------------------

def test_write_spool_timestamp_semantics_non_utc(fed, spark):
    """The spool preserves the SEMANTIC of each timestamp flavor under
    a non-UTC session (the r11 tz gate covers reads; writes carry
    instants too — r11 verdict task 7):

    - TIMESTAMP (LTZ) columns carry INSTANTS. The remote stores the
      UTC rendering regardless of session tz (parquet normalizes to
      UTC), so a written instant reads back as the same instant — the
      naive remote value must equal the UTC rendering, NOT the session
      rendering.
    - TIMESTAMP_NTZ columns carry WALL-CLOCK fields. The remote must
      store the literal fields unshifted — identical under any
      session tz."""
    eng, remote = fed
    remote.create_table("tzw_t", "k BIGINT, ev TIMESTAMP, evn TIMESTAMP")
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        # TIMESTAMP '...' parses in the session tz: 12:00 EST = 17:00 UTC
        src = spark.sql(
            "SELECT CAST(id AS BIGINT) AS k, "
            "TIMESTAMP '2001-01-15 12:00:00.123456' AS ev, "
            "TIMESTAMP_NTZ '2001-01-15 12:00:00.123456' AS evn, "
            "log(id + 1) AS junk FROM range(2)")
        src.createOrReplaceTempView("tzw_src")
        eng.sql("INSERT INTO clickhouse.remote.tzw_t "
                "SELECT k, ev, evn FROM tzw_src WHERE log(k + 1) >= 0")
        assert eng.last_remote_insert == "arrow-stream"
        rows = remote.execute(
            "SELECT ev, evn FROM tzw_t ORDER BY ev LIMIT 1")
        ev, evn = (str(rows.column(0)[0]), str(rows.column(1)[0]))
        assert ev == "2001-01-15 17:00:00.123456"     # instant, UTC form
        assert evn == "2001-01-15 12:00:00.123456"    # wall-clock, as-is
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
        remote.drop_table("tzw_t")
        spark.catalog.dropTempView("tzw_src")


def test_write_then_read_roundtrip_is_instant_faithful(fed, spark):
    """Round trip under non-UTC: INSERT an instant, read it back
    through the seam (or its local fallback) — the value the user
    sees equals the value they wrote, independent of the remote's
    naive storage rendering."""
    from pyspark.sql import functions as F

    eng, remote = fed
    remote.create_table("tzr_t", "k BIGINT, ev TIMESTAMP")
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        src = spark.sql(
            "SELECT CAST(1 AS BIGINT) AS k, "
            "TIMESTAMP '2001-01-15 12:00:00' AS ev, log(2) AS junk")
        src.createOrReplaceTempView("tzr_src")
        eng.sql("INSERT INTO clickhouse.remote.tzr_t "
                "SELECT k, ev FROM tzr_src WHERE log(k + 1) >= 0")
        # read the instant back seam-level (Arrow, tz-naive = UTC form)
        micros = remote.execute(
            "SELECT epoch_us(ev) AS us FROM tzr_t").column(0)[0].as_py()
        want = src.select(
            F.unix_micros("ev").alias("us")).first()["us"]
        assert micros == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
        remote.drop_table("tzr_t")
        spark.catalog.dropTempView("tzr_src")


@given(batch_rows=st.sampled_from([1, 7, 100_000_000]),
       wc=st.sampled_from([1, 8]))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_write_batch_rows_boundaries(fed, spark, batch_rows, wc):
    """The federated streamed INSERT is exact at the batch-size
    extremes: 1-row batches (hundreds of pool round-trips), a tiny
    odd size, and one giant batch larger than the source (single
    append), crossed with 1 and 8 workers over the pool of 4 (over-
    subscribed: pool waits, no deadlock, no timeout)."""
    eng, remote = fed
    prev_b, prev_w = eng.write_batch_rows, eng.write_concurrency
    remote.create_table("bb_t", "k BIGINT")
    try:
        eng.write_batch_rows, eng.write_concurrency = batch_rows, wc
        eng.sql("INSERT INTO clickhouse.remote.bb_t "
                "SELECT CAST(o_orderkey AS BIGINT) FROM "
                "clickhouse.remote.orders WHERE log(o_orderkey + 1) >= 0 "
                "AND o_orderkey < 700")
        got = remote.execute(
            "SELECT CAST(count(*) AS BIGINT) AS n, "
            "CAST(count(DISTINCT k) AS BIGINT) AS d FROM bb_t")
        n, d = got.column(0)[0].as_py(), got.column(1)[0].as_py()
        want = spark.read.parquet(f"{SF_SMOKE}/orders.parquet") \
            .filter("o_orderkey < 700").count()
        assert n == d == want
    finally:
        eng.write_batch_rows, eng.write_concurrency = prev_b, prev_w
        remote.drop_table("bb_t")



# -- r11: advice items — gate widening, scoping, observability ---------

def test_non_utc_session_refuses_remote_timestamp_columns(fed, spark):
    """r11 gate widening (advice): extraction functions are not the
    only tz-dependent construct — a bare projection, comparison, or
    CAST of a remote TIMESTAMP column (and SELECT *) renders instants
    in the session tz locally but naively remotely. Under non-UTC the
    gate refuses any statement touching a timestamp column of a
    referenced table; timestamp-free statements over the same table
    still ship, and unrelated tables are unaffected (scoped, not
    global)."""
    eng, remote = fed
    remote.create_table("ts_gate_t", "k BIGINT, ev TIMESTAMP")
    remote.execute_insert(
        "INSERT INTO ts_gate_t VALUES (1, TIMESTAMP '1996-01-01 00:30:00')")
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        # bare timestamp projection: refused
        d = eng.remote_decision(
            "SELECT k, ev FROM clickhouse.remote.ts_gate_t")
        assert not d["ships"] and "timestamp" in d["reason"]
        # CAST to string (allowlisted function, tz-dependent value)
        d = eng.remote_decision("SELECT CAST(ev AS STRING) AS s "
                                "FROM clickhouse.remote.ts_gate_t")
        assert not d["ships"] and "timestamp" in d["reason"]
        # SELECT * over a timestamp-bearing table: refused
        d = eng.remote_decision(
            "SELECT * FROM clickhouse.remote.ts_gate_t")
        assert not d["ships"]
        # timestamp-free statement over the SAME table: ships
        d = eng.remote_decision("SELECT CAST(count(*) AS BIGINT) AS n "
                                "FROM clickhouse.remote.ts_gate_t "
                                "WHERE k > 0")
        assert d["ships"], d["reason"]
        # unrelated table (no ts columns): unaffected by the widening
        d = eng.remote_decision("SELECT CAST(count(*) AS BIGINT) AS n "
                                "FROM clickhouse.remote.orders")
        assert d["ships"], d["reason"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
        remote.drop_table("ts_gate_t")


def test_timestamp_enumeration_failure_refuses_not_ships(fed, spark):
    """r12 (advice): under a non-UTC session, a FAILURE of the remote's
    timestamp_columns enumeration must refuse the ship (stay local) —
    shipping on an unknown timestamp surface is the divergence the gate
    exists to prevent. Previously the except degraded to frozenset()
    and shipped."""
    eng, remote = fed
    prev = spark.conf.get("spark.sql.session.timeZone")
    orig = remote.timestamp_columns

    def broken(tables=None):
        raise RuntimeError("catalog probe failed")

    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        remote.timestamp_columns = broken
        d = eng.remote_decision("SELECT CAST(count(*) AS BIGINT) AS n "
                                "FROM clickhouse.remote.orders")
        assert not d["ships"]
        assert "timestamp" in d["reason"]
    finally:
        remote.timestamp_columns = orig
        spark.conf.set("spark.sql.session.timeZone", prev)
    # UTC session: the enumeration is never consulted, still ships
    d = eng.remote_decision("SELECT CAST(count(*) AS BIGINT) AS n "
                            "FROM clickhouse.remote.orders")
    assert d["ships"], d["reason"]


def test_empty_source_insert_into_readonly_raises(fed, spark):
    """r12 (advice): an INSERT whose locally-evaluated source is EMPTY
    (zero-partition spool) into a read-only remote view must raise the
    same ValueError as the non-empty path — not silently succeed with
    count 0. The empty-spool branch routes through
    insert_arrow_batches with an empty iterator, which performs the
    writability check."""
    eng, _ = fed
    assert eng.write_mode == "spool"
    empty = spark.createDataFrame([], "o_orderkey bigint")
    with pytest.raises(ValueError, match="read-only"):
        eng.append_remote("orders", empty)


def test_decimal_gate_scoped_to_referenced_tables(fed, spark):
    """r11 scoping (advice): a decimal column name in an UNRELATED
    remote table must not de-federate a division statement that merely
    reuses the word as an alias over a decimal-free table."""
    eng, remote = fed
    remote.create_table("decfar_t", "price DECIMAL(10,2)")
    remote.create_table("decfree_t", "a BIGINT, b BIGINT")
    remote.execute_insert("INSERT INTO decfree_t VALUES (8, 2), (6, 2)")
    try:
        # 'price' is decimal ONLY in decfar_t; this statement never
        # references decfar_t, so the avg ships (avg is the decimal-
        # divergent construct: remote computes avg(DECIMAL) in DOUBLE)
        d = eng.remote_decision(
            "SELECT avg(a) AS price FROM clickhouse.remote.decfree_t")
        assert d["ships"], d["reason"]
        # referencing the decimal-bearing table still refuses
        d = eng.remote_decision(
            "SELECT avg(price) AS h FROM clickhouse.remote.decfar_t")
        assert not d["ships"]
    finally:
        remote.drop_table("decfar_t")
        remote.drop_table("decfree_t")


def test_align_failure_is_observable_not_silent(fed, spark):
    """r11 (advice): _arrow_to_df's fall-through to the generic
    conversion is narrow and OBSERVABLE — a failing Arrow-side cast
    records last_remote_align_error instead of silently passing."""
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    eng, _ = fed
    tbl = pa.table({"v": pa.array(["not-a-number"], type=pa.string())})
    want = StructType([StructField("v", LongType(), False)])
    eng.last_remote_align_error = None
    df = eng._arrow_to_df(tbl, want)
    assert eng.last_remote_align_error is not None     # recorded
    assert df.collect()[0][0] == "not-a-number"        # generic fallback


def test_align_remote_schema_failure_is_observable(fed, spark):
    """r12 (verdict task 2): _align_remote_schema's fall-through is the
    same convention as _arrow_to_df — narrow failure classes, recorded
    on last_remote_align_error, the renamed-but-uncast frame returned
    instead of a silent blanket swallow. Forced here with an un-castable array->long alignment."""
    from pyspark.sql.types import LongType, StructField, StructType

    eng, _ = fed
    src = spark.createDataFrame([([1, 2],)], "arr_v array<bigint>")
    want = StructType([StructField("v", LongType(), True)])
    eng.last_remote_align_error = None
    out = eng._align_remote_schema(src, want)
    assert eng.last_remote_align_error is not None      # recorded
    assert out.columns == ["v"]                         # rename kept
    assert out.collect()[0][0] == [1, 2]                # uncast frame


def test_explain_verdict_matches_executed_decision(fed, spark):
    """r11 (advice): the EXPLAIN federation verdict diagnoses the SAME
    byte-identical statement the executing gate sees (no double
    rewrite) — the shipped SQL in the EXPLAIN head equals
    last_remote_sql after executing the statement."""
    eng, _ = fed
    q = ("SELECT CAST(count(*) AS BIGINT) AS n "
         "FROM clickhouse.remote.orders WHERE o_orderkey < 50")
    head = eng.sql(f"EXPLAIN {q}").first()[0]
    eng.sql(q).collect()
    assert eng.last_remote_sql is not None
    assert eng.last_remote_sql in head


# -- r11: correlated-subquery gate family (verdict task 5) -------------

@st.composite
def _correlated_subquery_queries(draw):
    """Correlated scalar / EXISTS subqueries through the gate — the
    reference's known-failure territory (tests/e2e.rs:1262-1294 runs
    correlated scalars against ClickHouse and documents the failures).
    Whatever the gate decides (ship or refuse -> local fallback), rows
    and schema must match the plain local plan; divergence is the only
    failure."""
    pred = draw(st.sampled_from(
        ["o.o_totalprice > 100000", "o.o_orderstatus = 'F'",
         "o.o_orderkey < 2000", "o.o_orderpriority LIKE '1%'"]))
    k = draw(st.integers(min_value=20, max_value=120))
    shape = draw(st.sampled_from(
        ["scalar_count", "scalar_max", "scalar_where", "exists_agg",
         "not_exists"]))
    if shape == "scalar_count":
        return ("SELECT c.c_custkey, (SELECT CAST(count(*) AS BIGINT) "
                "FROM {o} o WHERE o.o_custkey = c.c_custkey "
                f"AND {pred}) AS n "
                "FROM {c} c WHERE c.c_custkey < " + str(k) +
                " ORDER BY c.c_custkey")
    if shape == "scalar_max":
        return ("SELECT c.c_custkey, (SELECT max(o.o_totalprice) "
                "FROM {o} o WHERE o.o_custkey = c.c_custkey "
                f"AND {pred}) AS m "
                "FROM {c} c WHERE c.c_custkey < " + str(k) +
                " ORDER BY c.c_custkey")
    if shape == "scalar_where":
        return ("SELECT c.c_custkey, c.c_mktsegment FROM {c} c "
                "WHERE c.c_custkey < " + str(k) + " AND c.c_acctbal > "
                "(SELECT CAST(sum(o.o_totalprice) AS DOUBLE) / 1e4 "
                "FROM {o} o WHERE o.o_custkey = c.c_custkey "
                f"AND {pred}) ORDER BY c.c_custkey")
    if shape == "exists_agg":
        return ("SELECT c.c_mktsegment AS seg, "
                "CAST(count(*) AS BIGINT) AS n FROM {c} c "
                "WHERE EXISTS (SELECT 1 FROM {o} o "
                "WHERE o.o_custkey = c.c_custkey "
                f"AND {pred}) GROUP BY c.c_mktsegment")
    return ("SELECT CAST(count(*) AS BIGINT) AS n FROM {c} c "
            "WHERE c.c_custkey < " + str(k) + " AND NOT EXISTS ("
            "SELECT 1 FROM {o} o WHERE o.o_custkey = c.c_custkey "
            f"AND {pred})")


@given(_correlated_subquery_queries())
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_correlated_subqueries_ship_or_refuse_never_diverge(
        fed_fuzz, spark, sql):
    eng, _ = fed_fuzz
    got = _rows(eng.sql(sql.format(o="clickhouse.remote.orders",
                                   c="clickhouse.remote.customer")))
    want = _rows(spark.sql(sql.format(o="orders", c="customer")))
    assert got == want, (sql, eng.last_remote_sql,
                         eng.last_remote_refusal)


def test_streamed_insert_timestamp_roundtrip(fed, spark):
    """The write spool round-trips TIMESTAMP values exactly (Spark
    parquet write → pyarrow batch read → remote append): microsecond
    instants survive unshifted under the UTC session."""
    from pyspark.sql import functions as F

    eng, remote = fed
    remote.create_table("ts_ins_t", "k BIGINT, ev TIMESTAMP")
    try:
        src = spark.sql(
            "SELECT CAST(id AS BIGINT) AS k, "
            "timestampadd(SECOND, CAST(id AS INT), "
            "  TIMESTAMP '1996-12-31 23:59:58.123456') AS ev, "
            "log(id + 1) AS junk FROM range(3)")
        src.createOrReplaceTempView("ts_src")
        eng.sql("INSERT INTO clickhouse.remote.ts_ins_t "
                "SELECT k, ev FROM ts_src WHERE log(k + 1) >= 0")
        assert eng.last_remote_insert == "arrow-stream"
        got = [str(v) for v in remote.execute(
            "SELECT ev FROM ts_ins_t ORDER BY k").column(0).to_pylist()]
        assert got == ["1996-12-31 23:59:58.123456",
                       "1996-12-31 23:59:59.123456",
                       "1997-01-01 00:00:00.123456"]
    finally:
        remote.drop_table("ts_ins_t")
        spark.catalog.dropTempView("ts_src")


def test_insert_arrow_batches_midstream_failure_raises():
    """A failing batch append surfaces to the caller as the original
    exception (never swallowed by the worker pool), and earlier batches
    remain appended — the documented append-only contract (same as the
    reference's streaming sink: no cross-batch transaction)."""
    import pyarrow as pa

    remote = RemoteEngine(pool_size=2)
    remote.create_table("fail_t", "k BIGINT")
    try:
        def gen():
            yield pa.record_batch([pa.array([1, 2], type=pa.int64())],
                                  names=["k"])
            # wrong schema: two columns into a one-column table
            yield pa.record_batch(
                [pa.array([3], type=pa.int64()),
                 pa.array([4], type=pa.int64())], names=["k", "extra"])

        with pytest.raises(Exception):
            remote.insert_arrow_batches("fail_t", gen(),
                                        write_concurrency=1)
        n = remote.execute(
            "SELECT CAST(count(*) AS BIGINT) FROM fail_t"
        ).column(0)[0].as_py()
        assert n == 2          # first batch landed; failure was loud
    finally:
        remote.drop_table("fail_t")


# -- the parsed-plan gate: commands, comments, metamorphic verdicts ----

def test_cte_headed_insert_never_ships_or_runs_in_gate(fed, spark, tmp_path,
                                                      monkeypatch):
    """A CTE-headed INSERT is a command, not a read: the dry run refuses
    it before any analysis (analyzing an INSERT runs it) and lands no
    row. Through the front door it must not ship down the read path nor
    fall back onto the local twin: it lands exactly one remote row, as
    its ``INSERT INTO <t> WITH … SELECT …`` form does."""
    eng, remote = fed
    remote.create_table("cte_w", "a BIGINT")
    spark.sql(f"CREATE TABLE cte_w (a BIGINT) USING parquet "
              f"LOCATION '{tmp_path}'")

    def counts():
        return (remote.execute("SELECT count(*) FROM cte_w")
                .column(0)[0].as_py(),
                spark.sql("SELECT count(*) FROM cte_w").first()[0])

    q = ("WITH c AS (SELECT 7 AS a) "
         "INSERT INTO clickhouse.remote.cte_w SELECT a FROM c")
    try:
        analyzed = []
        monkeypatch.setattr(spark, "sql", lambda *a, **k: analyzed.append(a))
        d = eng.remote_decision(q)
        monkeypatch.undo()
        assert not d["ships"] and "command, not a query" in d["reason"]
        assert not analyzed             # a command is never analyzed
        assert counts() == (0, 0)
        assert eng.sql(q).collect()[0]["count"] == 1
        assert eng.last_remote_insert is not None
        assert counts() == (1, 0)
        eng.sql("INSERT INTO clickhouse.remote.cte_w "
                "WITH c AS (SELECT 7 AS a) SELECT a FROM c")
        assert eng.last_remote_insert is not None
        assert counts() == (2, 0)
    finally:
        remote.drop_table("cte_w")
        spark.sql("DROP TABLE IF EXISTS cte_w")


def test_sql_comments_never_ship(fed, spark):
    """A comment outside string literals keeps the statement local:
    qualifier stripping and explicit null ordering rewrite the shipped
    text and cannot see comments (``-- order by`` used to gain a
    ``NULLS FIRST`` the remote parser rejects, after a wasted round
    trip). A comment marker inside a literal is data and ships."""
    eng, remote = fed
    calls = []
    orig = remote.execute_stream

    def spy(sql, *a, **k):
        calls.append(sql)
        return orig(sql, *a, **k)

    remote.execute_stream = spy
    try:
        for q in ("SELECT o_orderkey FROM clickhouse.remote.orders -- order by"
                  "\n WHERE o_orderkey > 1 LIMIT 1",
                  "SELECT /* log( */ CAST(count(*) AS BIGINT) AS n "
                  "FROM clickhouse.remote.orders"):
            got = _rows(eng.sql(q))
            assert not calls and eng.last_remote_sql is None, q
            assert "comment" in eng.last_remote_refusal
            assert got == _rows(spark.sql(q.replace("clickhouse.remote.", "")))
        eng.sql("SELECT '-- x /* y' AS s FROM clickhouse.remote.orders "
                "LIMIT 1").collect()
        assert len(calls) == 1 and "'-- x /* y'" in eng.last_remote_sql
    finally:
        remote.execute_stream = orig


def test_cte_statement_ships_and_matches_local(fed, spark, monkeypatch):
    """UnresolvedWith is on the node allowlist: a CTE over remote tables
    ships (its statement parsed once) and answers like the local plan;
    a recursive CTE stays local."""
    from clickhouse_datafusion_spark.sources import remote_engine

    eng, _ = fed
    parses = []
    monkeypatch.setattr(remote_engine, "parse_plan",
                        lambda *a: parses.append(a) or parse_plan(*a))
    q = ("WITH big AS (SELECT o_custkey FROM clickhouse.remote.orders "
         "WHERE o_totalprice > 100000) "
         "SELECT c.c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n "
         "FROM big b JOIN clickhouse.remote.customer c "
         "ON b.o_custkey = c.c_custkey GROUP BY c.c_mktsegment")
    got = _rows(eng.sql(q))
    assert eng.last_remote_sql is not None and len(parses) == 1
    assert got == _rows(spark.sql(q.replace("clickhouse.remote.", "")))
    d = eng.remote_decision(
        "WITH RECURSIVE r AS (SELECT 1 AS n UNION ALL SELECT n + 1 FROM r "
        "WHERE n < 3) SELECT count(*) FROM r JOIN clickhouse.remote.nation "
        "ON n = n_nationkey")
    assert not d["ships"] and "UnresolvedWith" in d["reason"]


def test_trim_from_and_substring_from_refuse_as_constructs(fed):
    """The SQL-standard FROM forms parse to their own expression classes
    (StringTrim, Substring), which are not on the node allowlist — the
    refusal names the construct, not a phantom table reference."""
    eng, _ = fed
    for q in ("SELECT trim(BOTH 'x' FROM o_orderpriority) AS t "
              "FROM clickhouse.remote.orders",
              "SELECT substring(o_orderpriority FROM 0) AS t "
              "FROM clickhouse.remote.orders"):
        d = eng.remote_decision(q)
        assert not d["ships"], q
        assert "construct" in d["reason"] or "guard" in d["reason"], d


def test_cte_shadowing_a_qualified_remote_ref_never_answers_wrong(
        fed, spark):
    """A CTE named like a qualified remote ref's bare name would capture
    the ref once the qualifier is stripped: shipped, the remote reads
    the CTE; run locally, so does Spark. The gate refuses such a
    statement, naming both, and the local fallback raises wherever the
    stripped name would bind to the CTE. Inside the CTE's own body the
    name still reaches the table, so that statement runs locally."""
    eng, _ = fed
    q = ("WITH customer AS (SELECT 1 AS c_custkey) "
         "SELECT CAST(count(*) AS BIGINT) AS n "
         "FROM clickhouse.remote.customer")
    d = eng.remote_decision(q)
    assert not d["ships"]
    assert "CTE customer shadows remote ref remote.customer" in d["reason"]
    with pytest.raises(ValueError, match="CTE customer shadows "
                                         "remote.customer"):
        eng.sql(q)
    with pytest.raises(ValueError, match="CTE orders shadows"):
        eng.sql("WITH orders AS (SELECT 1 AS o_orderkey) SELECT * FROM "
                "remote.customer c WHERE c.c_custkey IN "
                "(SELECT o_orderkey FROM remote.orders)")
    own = ("WITH orders AS (SELECT o_orderkey FROM remote.orders "
           "WHERE o_orderkey < 100) "
           "SELECT CAST(count(*) AS BIGINT) AS n FROM orders")
    assert not eng.remote_decision(own)["ships"]
    got = _rows(eng.sql(own))
    assert got == _rows(spark.sql(own.replace("remote.", "")))
    assert got[0][0][1] > 1


_BAD_CALLS = ("upper('a')", "log(2.0)")


def _gate_stmt(shape: str, k: int, cte: str = "c", sel: str = "",
               where: str = "", order: str = "", sub: str = "",
               body: str = "") -> str:
    """A statement over the remote tables whose shape puts a keyword
    before ``(`` — IN (, EXISTS (, OVER (, USING ( — or reads a CTE;
    the keyword arguments splice text into the select list, WHERE,
    ORDER BY, the subquery and the CTE body."""
    head = (f"WITH {cte} AS (SELECT o_orderkey, o_custkey{body} "
            f"FROM remote.orders WHERE o_orderkey > {k}) "
            if shape == "cte" else "")
    src = cte if shape == "cte" else "remote.orders"
    join = (" JOIN remote.orders u USING (o_orderkey)"
            if shape == "using" else "")
    item = (", row_number() OVER (PARTITION BY t.o_custkey "
            "ORDER BY t.o_orderkey) AS rn" if shape == "over" else "")
    sub_q = (f"SELECT c_custkey FROM remote.customer "
             f"WHERE c_nationkey < {k % 25}{sub}")
    pred = (f"EXISTS ({sub_q} AND c_custkey = t.o_custkey)"
            if shape == "exists" else f"t.o_custkey IN ({sub_q})")
    return (f"{head}SELECT t.o_orderkey, abs(t.o_custkey) AS a{item}{sel} "
            f"FROM {src} t{join} WHERE {pred}{where} "
            f"ORDER BY {order}t.o_orderkey LIMIT {k}")


@given(shape=st.sampled_from(["plain", "cte", "exists", "over", "using"]),
       k=st.integers(min_value=1, max_value=500),
       lit=st.sampled_from(["x", "upper(", "log(o_totalprice)", "sample 0.1",
                            "-- c", "/* c */", "remote.lineitem"]),
       bad=st.sampled_from(_BAD_CALLS),
       cte=st.sampled_from(["c", "orders", "customer", "lineitem"]))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_gate_verdicts_are_metamorphic(fed, shape, k, lit, bad, cte):
    """Verdict-only properties of the parsed-plan gate (a dry run, no
    execution): keywords before ``(`` never refuse by themselves; a
    non-allowlisted name inside a string literal or a backquoted alias
    never changes the verdict; the same call in the select list, WHERE,
    ORDER BY, a subquery or a CTE body always refuses; renaming a CTE
    keeps the verdict, unless the new name is the bare name of a
    qualified remote ref the statement reads (``orders``, ``customer``):
    that refuses, naming both."""
    eng, _ = fed

    def ships(shape=shape, **kw):
        return eng.remote_decision(_gate_stmt(shape, k, **kw))["ships"]

    assert ships()
    assert ships(sel=f", '{lit}' AS tag")
    assert (ships(sel=", t.o_orderkey AS `v`")
            == ships(sel=f", t.o_orderkey AS `{bad}`"))
    if cte in ("orders", "customer"):
        d = eng.remote_decision(_gate_stmt("cte", k, cte=cte))
        assert not d["ships"]
        assert f"CTE {cte} shadows remote ref remote.{cte}" in d["reason"]
    else:
        assert ships("cte", cte=cte) == ships("cte")
    for slot, text in (("sel", f", {bad} AS z"),
                       ("where", f" AND {bad} = {bad}"),
                       ("order", f"{bad}, "),
                       ("sub", f" AND {bad} = {bad}")):
        assert not ships(**{slot: text}), slot
    assert not ships("cte", body=f", {bad} AS z")


# -- the parsed dispatch: one parse routes every statement -------------

@pytest.fixture
def route_tables(fed, spark, tmp_path):
    """A writable remote table ``rw (a BIGINT)`` and a local parquet
    table ``lw (a BIGINT)``; ``landed()`` counts both."""
    eng, remote = fed
    remote.create_table("rw", "a BIGINT")
    spark.sql(f"CREATE TABLE lw (a BIGINT) USING parquet "
              f"LOCATION '{tmp_path / 'lw'}'")

    def landed():
        return (remote.execute("SELECT CAST(count(*) AS BIGINT) FROM rw")
                .column(0)[0].as_py(),
                spark.sql("SELECT count(*) FROM lw").first()[0])
    try:
        yield landed
    finally:
        remote.drop_table("rw", if_exists=True)
        remote.drop_table("rw2", if_exists=True)
        spark.sql("DROP TABLE IF EXISTS lw")


def _native_dir(tmp_path) -> str:
    """A parquet directory whose path holds a ')'."""
    import shutil

    d = tmp_path / "a)b"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/nation.parquet", d / "part-0.parquet")
    return str(d)


@pytest.mark.parametrize("case", [
    "cte_headed_local_insert", "comment_led_remote_insert",
    "block_comment_catalog_insert", "backticked_remote_insert",
    "show_tables_backticked", "show_tables_comment_led",
    "comment_led_remote_ctas", "comment_led_explain",
    "native_path_with_paren", "native_location_clause"])
def test_parsed_dispatch_routes_every_spelling(fed, spark, tmp_path,
                                               route_tables, monkeypatch,
                                               case):
    """Each spelling reaches the handler its parsed plan names: a
    statement's kind and target come from Spark's parser, so leading
    comments, a leading WITH, backticks and the catalog prefix change
    nothing. Each case misrouted under the leading-keyword regexes."""
    from clickhouse_datafusion_spark import sink

    eng, remote = fed
    inserts = {
        "cte_headed_local_insert":
            ("WITH c AS (SELECT 3 AS a) INSERT INTO lw SELECT a FROM c",
             (0, 1)),
        "comment_led_remote_insert":
            ("-- note\nINSERT INTO remote.rw SELECT 1", (1, 0)),
        "block_comment_catalog_insert":
            ("/* n */ INSERT INTO clickhouse.remote.rw SELECT 1", (1, 0)),
        "backticked_remote_insert":
            ("INSERT INTO `remote`.`rw` SELECT 1", (1, 0)),
    }
    if case in inserts:
        stmt, delta = inserts[case]
        locks = []
        real = sink._table_write_lock
        monkeypatch.setattr(sink, "_table_write_lock",
                            lambda *a: locks.append(a) or real(*a))
        out = eng.sql(stmt)
        assert out.columns == ["count"] and out.first()["count"] == 1
        assert route_tables() == delta
        # a local row lands under the table's write lock; a remote one
        # through the remote write path
        assert bool(locks) == (delta == (0, 1))
        assert (eng.last_remote_insert is not None) == (delta == (1, 0))
    elif case.startswith("show_tables"):
        stmt = ("SHOW TABLES FROM `remote`" if case.endswith("backticked")
                else "-- x\nSHOW TABLES FROM remote")
        rows = {(r.namespace, r.tableName, r.engine)
                for r in eng.sql(stmt).collect()}
        assert ("remote", "rw", "REMOTE") in rows
        assert {r[2] for r in rows} == {"REMOTE"}
    elif case == "comment_led_remote_ctas":
        eng.sql("-- x\nCREATE TABLE remote.rw2 AS SELECT 1 AS a")
        assert remote.execute("SELECT a FROM rw2").column(0).to_pylist() \
            == [1]
    elif case == "comment_led_explain":
        plan = eng.sql("-- x\nEXPLAIN SELECT count(*) FROM remote.orders"
                       ).first()[0]
        assert plan.startswith("== Remote Federation ==\nRemoteEngineExec")
    else:
        path = _native_dir(tmp_path)
        if case == "native_location_clause":
            # Spark's parser keeps LOCATION '…' and rejects the reserved
            # OPTIONS (location …) spelling with its own error
            from pyspark.errors import ParseException

            with pytest.raises(ParseException, match="LOCATION clause"):
                eng.sql("CREATE TABLE main.nt USING clickhouse_native "
                        f"OPTIONS (location '{path}')")
            where = f"LOCATION '{path}'"
        else:
            where = f"OPTIONS (path '{path}')"
        eng.sql(f"CREATE TABLE main.nt USING clickhouse_native {where}")
        try:
            assert eng.sql("SELECT count(*) FROM main.nt").first()[0] == \
                spark.read.parquet(path).count()
        finally:
            eng.sql("DROP TABLE main.nt")


def test_multi_insert_into_remote_db_raises_before_any_row(
        fed, spark, route_tables, tmp_path):
    """A multi-table INSERT parses to a ``Union`` of INSERTs, which the
    dispatch does not route: when one of them targets the remote db the
    statement raises before any row lands — neither remotely nor in a
    same-named local table, which its qualifier-stripped local run
    would write. EXPLAIN of a remote INSERT raises the same way."""
    eng, _ = fed
    spark.sql(f"CREATE TABLE rw (a BIGINT) USING parquet "
              f"LOCATION '{tmp_path / 'rw_twin'}'")
    try:
        for stmt in (
                "FROM nation INSERT INTO remote.rw SELECT n_regionkey "
                "INSERT INTO remote.rw SELECT n_nationkey",
                "FROM nation INSERT INTO lw SELECT n_regionkey "
                "INSERT INTO clickhouse.remote.rw SELECT n_nationkey",
                "EXPLAIN INSERT INTO remote.rw SELECT 1"):
            with pytest.raises(ValueError, match="must be its own statement"):
                eng.sql(stmt)
            assert route_tables() == (0, 0), stmt
            assert spark.sql("SELECT count(*) FROM rw").first()[0] == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS rw")


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(remote_target=st.booleans(), with_first=st.booleans(),
       comment=st.sampled_from(["", "-- c\n", "/* c */ "]),
       ticks=st.booleans(),
       case=st.sampled_from([str.lower, str.upper, str.title]),
       v=st.integers(0, 10 ** 6))
def test_insert_route_invariant_under_spelling(fed, spark, route_tables,
                                               remote_target, with_first,
                                               comment, ticks, case, v):
    """Comments, backticks, keyword case and the WITH's place around the
    INSERT head change neither an INSERT's route nor the row it lands."""
    eng, remote = fed
    table = ("`remote`.`rw`" if ticks else "remote.rw") if remote_target \
        else ("`lw`" if ticks else "lw")
    cte = f"WITH c AS (SELECT {v} AS a)"
    stmt = (f"{cte} INSERT INTO {table} SELECT a FROM c" if with_first
            else f"INSERT INTO {table} {cte} SELECT a FROM c")
    before = route_tables()
    out = eng.sql(comment + case(stmt)).first()["count"]
    after = route_tables()
    assert out == 1
    assert (after[0] - before[0], after[1] - before[1]) == (
        (1, 0) if remote_target else (0, 1))
    assert (eng.last_remote_insert is not None) == remote_target
    got = (remote.execute(f"SELECT count(*) FROM rw WHERE a = {v}")
           .column(0)[0].as_py() if remote_target
           else spark.sql(f"SELECT count(*) FROM lw WHERE a = {v}").first()[0])
    assert got >= 1


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(comment=st.sampled_from(["", "-- c\n", "/* c */ "]),
       ticks=st.booleans(),
       case=st.sampled_from([str.lower, str.upper, str.title]))
def test_command_route_invariant_under_spelling(fed, route_tables, comment,
                                                ticks, case):
    """The same spellings leave SHOW TABLES and EXPLAIN aimed at the
    remote db on their remote handlers. (The EXPLAINed read itself stays
    local when backticked: the gate refuses a backquote.)"""
    eng, _ = fed
    db = "`remote`" if ticks else "remote"
    shown = {r[1] for r in eng.sql(
        comment + case(f"SHOW TABLES FROM {db}")).collect()}
    assert {"orders", "rw"} <= shown
    plan = eng.sql(comment + case(
        f"EXPLAIN SELECT count(*) FROM {db}.orders")).first()[0]
    assert plan.startswith("== Remote Federation ==\n")
    assert ("RemoteEngineExec" in plan) == (not ticks)


def test_one_parse_per_statement(fed, route_tables, monkeypatch):
    """The front door parses each statement once, through
    ``remote_engine.parse_plan``: a shipped read, a refused read with a
    WITH and a remote qualifier (its local form reads the same plan), a
    local INSERT and a whole-ship and a spool remote INSERT (their
    sources are subtrees of the INSERT's plan). EXPLAIN ANALYZE rewrites
    its statement once."""
    from clickhouse_datafusion_spark.sources import remote_engine

    eng, _ = fed
    parses = []
    monkeypatch.setattr(remote_engine, "parse_plan",
                        lambda *a: parses.append(a) or parse_plan(*a))
    for stmt, shipped in (
            ("SELECT CAST(count(*) AS BIGINT) AS n FROM remote.orders",
             True),
            ("WITH x AS (SELECT o_totalprice FROM remote.orders) "
             "SELECT log(max(o_totalprice)) AS l FROM x", False),
            ("INSERT INTO lw SELECT o_orderkey FROM orders", None),
            ("INSERT INTO remote.rw SELECT o_orderkey FROM remote.orders",
             True),
            ("INSERT INTO remote.rw SELECT CAST(log(o_orderkey) AS BIGINT) "
             "FROM remote.orders", False)):
        parses.clear()
        eng.sql(stmt).collect()
        assert len(parses) <= 1, stmt
        if shipped is not None:
            assert (eng.last_remote_sql is not None) == shipped, stmt
    rewrites = []
    real = eng.rewrite
    monkeypatch.setattr(eng, "rewrite",
                        lambda q: rewrites.append(q) or real(q))
    eng.sql("EXPLAIN ANALYZE INSERT INTO lw SELECT 1")
    assert len(rewrites) == 1


def test_limit_by_over_remote_qualified_name_runs_on_twin(fed, spark):
    """LIMIT BY lowers to Spark SQL before the parse, so a remote-
    qualified LIMIT BY passes the gate (refused: the lowering's
    ``* EXCEPT`` is not proven shared) and runs on the local twin."""
    eng, _ = fed
    got = eng.sql("SELECT n_regionkey AS a, n_name "
                  "FROM clickhouse.remote.nation "
                  "ORDER BY a, n_name LIMIT 1 BY a").collect()
    assert eng.last_remote_sql is None
    assert "allowlist" in eng.last_remote_refusal
    want = spark.sql(
        "SELECT n_regionkey AS a, min(n_name) AS n_name FROM nation "
        "GROUP BY n_regionkey ORDER BY a").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == 5


def test_limit_by_sourced_remote_insert_lands_one_row_per_group(
        fed, route_tables):
    """A remote INSERT whose source has a LIMIT BY lands one row per
    group, through the local source path."""
    eng, _ = fed
    out = eng.sql("INSERT INTO remote.rw SELECT n_regionkey AS a "
                  "FROM nation ORDER BY a LIMIT 1 BY a")
    assert out.first()["count"] == 5
    assert route_tables() == (5, 0)


def test_quoted_spellings_of_a_remote_name_read_right(fed):
    """The local form strips qualifiers from names only: Spark reads
    ``"remote.nation"`` as a string literal, which keeps its text, and a
    backticked ``remote`` qualifier reaches the twin like a bare one."""
    eng, _ = fed
    row = eng.sql('SELECT "remote.nation" AS s, count(*) AS n '
                  "FROM remote.nation").first()
    assert eng.last_remote_sql is None
    assert (row.s, row.n) == ("remote.nation", 25)
    for ref in ("`remote`.nation", "`remote`.`nation`", "remote.`nation`"):
        assert len(eng.sql(f"SELECT * FROM {ref}").collect()) == 25, ref
        assert "backquote" in eng.last_remote_refusal


def test_local_multi_insert_raises_before_any_row(spark, tmp_path):
    """A multi-table INSERT parses to a ``Union`` of INSERTs, which the
    sink does not take (no table lock, no count row): it raises before
    any row lands, with no remote attached too."""
    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine

    eng = ClickHouseSparkEngine(spark)
    spark.sql(f"CREATE TABLE lw (a BIGINT) USING parquet "
              f"LOCATION '{tmp_path / 'lw'}'")
    try:
        with pytest.raises(ValueError, match="must be its own statement"):
            eng.sql("FROM (SELECT 1 AS a) s INSERT INTO lw SELECT a "
                    "INSERT INTO lw SELECT a")
        assert spark.sql("SELECT count(*) FROM lw").first()[0] == 0
        # one INSERT and an EXPLAIN of one still run
        assert eng.sql("FROM (SELECT 1 AS a) s INSERT INTO lw SELECT a"
                       ).first()["count"] == 1
        assert "InsertIntoStatement" in eng.sql(
            "EXPLAIN EXTENDED INSERT INTO lw SELECT 2").first()[0]
    finally:
        spark.sql("DROP TABLE IF EXISTS lw")


def test_dry_run_reads_the_lowered_statement(fed):
    """``remote_decision`` applies the same query lowerings as ``sql``:
    a PREWHERE read dry-runs as the shipped statement ``sql`` sends, and
    a LIMIT BY or SAMPLE read dry-runs with the refusal ``sql`` records."""
    eng, _ = fed
    q = "SELECT count(*) AS n FROM remote.orders PREWHERE o_orderkey > 3"
    d = eng.remote_decision(q)
    eng.sql(q).collect()
    assert d["ships"] and d["remote_sql"] == eng.last_remote_sql
    eng.set_sample_key("orders", "o_orderkey")
    try:
        for q in ("SELECT o_orderstatus, o_orderkey FROM remote.orders "
                  "ORDER BY o_orderkey LIMIT 1 BY o_orderstatus",
                  "SELECT count(*) AS n FROM remote.orders SAMPLE 0.5"):
            d = eng.remote_decision(q)
            eng.sql(q).collect()
            assert not d["ships"] and eng.last_remote_sql is None, q
            assert d["reason"] == eng.last_remote_refusal, q
    finally:
        eng._sample_keys.pop("orders")
    assert "sample key" in eng.remote_decision(
        "SELECT * FROM remote.orders SAMPLE 0.5")["reason"]
    # a system.* read dry-runs as the routed text sql() gates, and the
    # dry run builds no system view
    for q in ("SELECT dummy FROM system.one",
              "SELECT name FROM system.databases"):
        eng.spark.catalog.dropTempView("_ch_system_databases")
        d = eng.remote_decision(q)
        assert not eng.spark.catalog.tableExists("_ch_system_databases")
        eng.sql(q).collect()
        assert not d["ships"] and d["reason"] == eng.last_remote_refusal, q


# Adversarial spans for the identifier-hygiene property: each kind's
# body is drawn from text that spells the routed names and the other
# kinds' delimiters.
_NAMES = ["remote.nation", "`remote`.nation", "system.one", "from nddl",
          "JOIN main.nddl", "table nddl", " ", "x"]
_SPANS = {
    "single": ("'", "'", _NAMES + ["''", "\\'", "\\\\", '"', "`", "--",
                                   "/*", "*/"]),
    "double": ('"', '"', _NAMES + ["'", "\\'", "`", "--", "/*", "*/"]),
    "line": ("--", "\n", _NAMES + ["'", '"', "`", "/*", "*/", "--"]),
    "block": ("/*", "*/", _NAMES + ["'", '"', "`", "--", "\n"]),
    "tick": ("`", "`", [n for n in _NAMES if "`" not in n]
             + ["'", '"', "--", "/*", "*/"]),
}
_span = st.sampled_from(sorted(_SPANS)).flatmap(
    lambda k: st.lists(st.sampled_from(_SPANS[k][2]), max_size=5).map(
        lambda body, k=k: _SPANS[k][0] + "".join(body) + _SPANS[k][1]))
# code references and what each pass rewrites them to
_REMOTE_REFS = {"remote.nation": "nation", "`remote`.nation": "nation",
                "`remote`.`nation`": "`nation`", "REMOTE . Nation": "Nation",
                "clickhouse.remote.nation": "nation"}
_SYSTEM_REFS = ["system.one", "`system`.`one`", "SYSTEM.ONE",
                "system . one"]
_NATIVE_REFS = ["nddl", "`nddl`", "main.nddl", "`main`.`nddl`", "NDDL"]


@pytest.fixture(scope="module")
def lexer_eng(fed, spark):
    """An engine over ``fed``'s remote (``nation`` is remote) with a
    native table ``main.nddl`` routed to ``__v``."""
    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine

    eng = ClickHouseSparkEngine(spark)
    eng.attach_remote(fed[1], db="remote")
    eng._native_tables.update({"main.nddl": "__v", "nddl": "__v"})
    return eng


@settings(max_examples=80, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(spans=st.lists(_span, min_size=5, max_size=5),
       r=st.sampled_from(sorted(_REMOTE_REFS)),
       s=st.sampled_from(_SYSTEM_REFS), n=st.sampled_from(_NATIVE_REFS))
def test_text_rewrites_touch_names_only(lexer_eng, spans, r, s, n):
    """Literals (with ``''`` and ``\\'``), double-quoted spans, ``--``
    and ``/* */`` comments and backticked identifiers come out of the
    local form, the ``system.*`` routing and the native-table routing
    byte-identical, wherever they sit around the references; every
    reference, backticked or not, is rewritten."""
    def stmt(r, s, n, col):
        a, b, c, d, e = spans
        return (f"SELECT {a} AS c0, {col}.n_name, {b} FROM {r} {c} "
                f"JOIN {n} ON {d} = 1 CROSS JOIN {s} {e} "
                f"WHERE 1 IN (SELECT 1 FROM {n})")

    q = stmt(r, s, n, f"{r}")
    local = _REMOTE_REFS[r]
    assert lexer_eng._local_form(q, ()) == stmt(local, s, n, local)
    # the routed relation takes its table name as alias unless a
    # backticked name after it already aliases it
    one = "(SELECT 0 AS dummy)" + ("" if spans[4][0] == "`" else " AS one")
    assert lexer_eng._route_system_tables(q) == stmt(r, one, n, r)
    assert lexer_eng._route_native_tables(q) == stmt(r, s, "__v", r)
