"""The executor_direct federated write plane — the scale extension of
the driver-funnel spool path: each source partition streams its Arrow
batches straight to the remote's ingest server over its own TCP
connection. Reference anchor: the sink
ships RecordBatches over a client connection (src/sink.rs:102-211); the
extension turns 1 client into N (one per partition), with per-partition
transactional atomicity the reference's no-transaction sink lacks."""

from __future__ import annotations

import json
import socket

import pyarrow as pa
import pytest

from clickhouse_datafusion_spark.sources.remote_engine import RemoteEngine
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def fed(spark):
    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine

    eng = ClickHouseSparkEngine(spark)
    remote = RemoteEngine(pool_size=4)
    remote.register_parquet_dir(SF_SMOKE, tables=["orders", "customer"])
    eng.attach_remote(remote, db="remote", local_twin_dir=SF_SMOKE)
    remote.start_ingest_server()
    eng.write_mode = "executor_direct"
    yield eng, remote
    remote.stop_ingest_server()


def test_executor_insert_exact_and_parallel(fed, spark):
    """A federated INSERT with an unshippable source on executor_direct
    appends exactly once per source row, reports the server-acked
    count, and uses one connection PER NON-EMPTY PARTITION after the
    coalesce to ``write_concurrency`` (the wire is parallel, not
    driver-serialized)."""
    eng, remote = fed
    remote.create_table("ew_t", "k BIGINT, v DOUBLE")
    before = remote._ingest.connections_served
    try:
        r = eng.sql(
            "INSERT INTO clickhouse.remote.ew_t "
            "SELECT CAST(o_orderkey AS BIGINT), log(o_totalprice) "
            "FROM clickhouse.remote.orders WHERE o_orderkey < 2000")
        assert eng.last_remote_insert == "executor-direct"
        want = spark.read.parquet(f"{SF_SMOKE}/orders.parquet") \
            .filter("o_orderkey < 2000").count()
        assert r.first()["count"] == want
        got = remote.execute(
            "SELECT CAST(count(*) AS BIGINT) AS n, "
            "CAST(count(DISTINCT k) AS BIGINT) AS d FROM ew_t")
        assert got.column(0)[0].as_py() == want
        assert got.column(1)[0].as_py() == want
        # the single-file smoke source collapses to ONE partition —
        # exactly one connection for the statement above
        assert remote._ingest.connections_served - before == 1
        # parallel wire: an explicitly 4-partition source, coalesced to
        # write_concurrency = 4, opens one connection PER non-empty
        # partition
        assert eng.write_concurrency == 4
        before2 = remote._ingest.connections_served
        src = (spark.range(0, 4000)
               .selectExpr("id + 1000000 AS k", "CAST(id AS DOUBLE) AS v")
               .repartition(4))
        n = eng._stream_insert_executors_direct("ew_t", src)
        assert n == 4000
        assert remote._ingest.connections_served - before2 == 4
    finally:
        remote.drop_table("ew_t")


def test_executor_insert_matches_spool_path_values(fed, spark):
    """Mode equivalence: the same INSERT — and the same CTAS — through
    every write plane produces identical table contents (including
    float and timestamp columns) — the data plane changes, the values
    don't. The SQL front door (INSERT and CTAS alike) under 'direct'
    DEMOTES to a batch-size-bounded plane (r13 ADVICE: an unbounded
    INSERT..SELECT must never be collected whole on the driver); the
    DataFrame API keeps 'direct' for its trigger-bounded contract."""
    eng, remote = fed

    def run2(mode):
        remote.create_table("ew_m", "k BIGINT, v DOUBLE, ev TIMESTAMP")
        try:
            eng.write_mode = mode
            eng.sql(
                "INSERT INTO clickhouse.remote.ew_m "
                "SELECT CAST(o_orderkey AS BIGINT), log(o_totalprice), "
                "TIMESTAMP '1996-12-31 23:59:58.123456' "
                "FROM clickhouse.remote.orders WHERE o_orderkey < 300")
            tbl = remote.execute(
                "SELECT k, v, CAST(ev AS VARCHAR) AS e "
                "FROM ew_m ORDER BY k")
            return list(zip(*(tbl.column(i).to_pylist()
                              for i in range(3))))
        finally:
            remote.drop_table("ew_m")

    def run_df_direct():
        """The direct plane's legitimate entry: the DataFrame API with
        a bounded source (the per-micro-batch shape)."""
        remote.create_table("ew_m", "k BIGINT, v DOUBLE, ev TIMESTAMP")
        try:
            eng.write_mode = "direct"
            src = eng.sql(
                "SELECT CAST(o_orderkey AS BIGINT) AS k, "
                "log(o_totalprice) AS v, "
                "TIMESTAMP '1996-12-31 23:59:58.123456' AS ev "
                "FROM clickhouse.remote.orders WHERE o_orderkey < 300")
            eng.append_remote("ew_m", src)
            tbl = remote.execute(
                "SELECT k, v, CAST(ev AS VARCHAR) AS e "
                "FROM ew_m ORDER BY k")
            return list(zip(*(tbl.column(i).to_pylist()
                              for i in range(3))))
        finally:
            remote.drop_table("ew_m")

    def run_ctas(mode):
        """CTAS with a gate-refused source: the table is created from
        the local result schema and filled through the write plane."""
        try:
            eng.write_mode = mode
            eng.sql(
                "CREATE TABLE clickhouse.remote.ew_m AS "
                "SELECT CAST(o_orderkey AS BIGINT) AS k, "
                "log(o_totalprice) AS v, "
                "TIMESTAMP '1996-12-31 23:59:58.123456' AS ev "
                "FROM clickhouse.remote.orders WHERE o_orderkey < 300")
            tbl = remote.execute(
                "SELECT k, v, CAST(ev AS VARCHAR) AS e "
                "FROM ew_m ORDER BY k")
            return list(zip(*(tbl.column(i).to_pylist()
                              for i in range(3))))
        finally:
            remote.drop_table("ew_m", if_exists=True)

    try:
        b = run2("spool")
        assert eng.last_remote_insert == "arrow-stream"
        c = run2("direct")      # SQL front door: demoted (r13 ADVICE)
        assert eng.last_remote_insert == "executor-direct"
        assert eng.last_write_plane_demoted
        d = run2("executor_direct")
        assert eng.last_remote_insert == "executor-direct"
        assert not eng.last_write_plane_demoted
        e = run_df_direct()     # DataFrame API: direct stays direct
        assert eng.last_remote_insert == "direct-arrow"
        assert not eng.last_write_plane_demoted
        # CTAS follows write_mode, and is demoted like INSERT
        f = run_ctas("spool")
        assert eng.last_remote_insert == "arrow-stream"
        g = run_ctas("direct")
        assert eng.last_remote_insert == "executor-direct"
        assert eng.last_write_plane_demoted
        h = run_ctas("executor_direct")
        assert eng.last_remote_insert == "executor-direct"
        assert not eng.last_write_plane_demoted
        assert b == c == d == e == f == g == h and len(b) > 0
        assert b[0][2] == "1996-12-31 23:59:58.123456"
    finally:
        eng.write_mode = "executor_direct"


@pytest.mark.parametrize("mode", ["executor", "executor-direct", "Spool"])
def test_unknown_write_mode_raises_before_any_row_lands(fed, spark, mode):
    """There are three write planes; any other ``write_mode`` — the
    deleted r12 'executor' plane, or a typo — raises ValueError naming
    them from every remote append entry point (DataFrame API,
    exactly-once, SQL INSERT front door), before a row or a commit
    marker lands."""
    eng, remote = fed
    remote.create_table("ew_bad", "k BIGINT")
    src = spark.range(0, 10).selectExpr("id AS k")
    try:
        eng.write_mode = mode
        with pytest.raises(ValueError, match="executor_direct"):
            eng.append_remote("ew_bad", src)
        with pytest.raises(ValueError, match="executor_direct"):
            eng.append_remote_exactly_once("ew_bad", src, 0, sink_id="s")
        with pytest.raises(ValueError, match="executor_direct"):
            eng.sql("INSERT INTO clickhouse.remote.ew_bad "
                    "SELECT CAST(c_custkey AS BIGINT) "
                    "FROM clickhouse.remote.customer "
                    "WHERE log(c_custkey + 1) >= 0")
        assert remote.execute(
            "SELECT CAST(count(*) AS BIGINT) FROM ew_bad"
        ).column(0)[0].as_py() == 0
        assert "ew_bad__commits" not in remote.tables()
    finally:
        eng.write_mode = "executor_direct"
        remote.drop_table("ew_bad")


def test_executor_insert_readonly_fails_fast(fed, spark):
    """Writability is checked driver-side BEFORE a distributed job
    launches — same ValueError contract as the spool path."""
    eng, _ = fed
    with pytest.raises(ValueError, match="read-only"):
        eng.sql("INSERT INTO clickhouse.remote.orders "
                "SELECT CAST(c_custkey AS BIGINT) AS o_orderkey "
                "FROM clickhouse.remote.customer "
                "WHERE log(c_custkey + 1) >= 0")


def test_ingest_connection_is_transactional(fed):
    """A connection whose stream fails mid-way (schema mismatch on the
    SECOND batch) leaves NOTHING behind — the per-connection
    transaction rolls back, which is what makes Spark task retries
    safe. The error surfaces in the protocol response; the server
    stays up for subsequent connections."""
    eng, remote = fed
    remote.create_table("ew_tx", "k BIGINT")
    host, port = remote.ingest_address
    try:
        with socket.create_connection((host, port)) as s:
            f = s.makefile("rwb")
            hdr = json.dumps({"table": "ew_tx", "columns": ""}).encode()
            f.write(len(hdr).to_bytes(4, "big"))
            f.write(hdr)
            schema = pa.schema([("k", pa.int64()), ("extra", pa.int64())])
            w = pa.ipc.new_stream(f, schema)
            w.write_batch(pa.record_batch(
                [pa.array([1, 2]), pa.array([1, 2])], schema=schema))
            w.close()
            f.flush()
            assert f.read(1) == b"\x01"            # error reported
            ln = int.from_bytes(f.read(4), "big")
            assert len(f.read(ln)) == ln
        n = remote.execute(
            "SELECT CAST(count(*) AS BIGINT) FROM ew_tx"
        ).column(0)[0].as_py()
        assert n == 0                              # nothing leaked
        # server still serves: a good connection right after succeeds
        with socket.create_connection((host, port)) as s:
            f = s.makefile("rwb")
            hdr = json.dumps({"table": "ew_tx", "columns": ""}).encode()
            f.write(len(hdr).to_bytes(4, "big"))
            f.write(hdr)
            schema = pa.schema([("k", pa.int64())])
            w = pa.ipc.new_stream(f, schema)
            w.write_batch(pa.record_batch([pa.array([7, 8, 9])],
                                          schema=schema))
            w.close()
            f.flush()
            assert f.read(1) == b"\x00"
            assert int.from_bytes(f.read(8), "big") == 3
    finally:
        remote.drop_table("ew_tx")


def test_ingest_transaction_concurrent_appends_commit():
    """Two concurrent transactional ingests into the same table both
    commit (append-append is not a write-write conflict)."""
    import threading

    remote = RemoteEngine(pool_size=4)
    remote.create_table("tx_c", "k BIGINT")
    errs = []

    def run(lo):
        try:
            remote.ingest_transaction("tx_c", iter([pa.record_batch(
                [pa.array(range(lo, lo + 500), type=pa.int64())],
                names=["k"])]))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    try:
        ts = [threading.Thread(target=run, args=(lo,))
              for lo in (0, 10_000)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=60)
        assert not errs, errs
        n = remote.execute(
            "SELECT CAST(count(DISTINCT k) AS BIGINT) FROM tx_c"
        ).column(0)[0].as_py()
        assert n == 1000
    finally:
        remote.drop_table("tx_c")


def test_concurrent_executor_inserts_through_one_server(fed, spark):
    """Four concurrent federated INSERTs on executor_direct share one
    ingest server and one cursor pool: every statement's rows land
    exactly once (the server-level twin of the reference's
    multi-client stress, tests/e2e_stress.rs:241-250)."""
    import threading

    eng, remote = fed
    eng.write_mode = "executor_direct"
    remote.create_table("ew_cc", "k BIGINT")
    errs = []

    def client(i):
        try:
            eng.sql(f"INSERT INTO clickhouse.remote.ew_cc "
                    f"SELECT CAST(c_custkey + {i * 1_000_000} AS BIGINT) "
                    f"FROM clickhouse.remote.customer "
                    f"WHERE log(c_custkey + 1) >= 0")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    try:
        n_cust = spark.read.parquet(
            f"{SF_SMOKE}/customer.parquet").count()
        ts = [threading.Thread(target=client, args=(i,)) for i in range(4)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=180)
        assert not errs, errs
        got = remote.execute(
            "SELECT CAST(count(*) AS BIGINT) AS n, "
            "CAST(count(DISTINCT k) AS BIGINT) AS d FROM ew_cc")
        assert got.column(0)[0].as_py() == 4 * n_cust
        assert got.column(1)[0].as_py() == 4 * n_cust
    finally:
        remote.drop_table("ew_cc")


def test_executor_insert_with_server_down_fails_loud(fed, spark):
    """If the ingest endpoint is unreachable the INSERT fails loudly
    (wrapped as the sink's SchemaValidationError chain), never
    silently; the read-only precheck still runs first."""
    from clickhouse_datafusion_spark.sink import SchemaValidationError

    eng, remote = fed
    eng.write_mode = "executor_direct"
    remote.create_table("ew_down", "k BIGINT")
    addr = remote.ingest_address
    try:
        remote.stop_ingest_server()
        # no server attached anymore -> engine falls back to the spool
        # plane (ingest_address is None), which must still succeed
        eng.sql("INSERT INTO clickhouse.remote.ew_down "
                "SELECT CAST(c_custkey AS BIGINT) "
                "FROM clickhouse.remote.customer "
                "WHERE log(c_custkey + 1) >= 0 AND c_custkey < 50")
        assert eng.last_remote_insert == "arrow-stream"
        # a STALE address (server gone, attribute forged) fails loud
        remote._ingest = type("S", (), {"address": addr,
                                        "close": lambda self: None})()
        with pytest.raises(SchemaValidationError):
            eng.sql("INSERT INTO clickhouse.remote.ew_down "
                    "SELECT CAST(c_custkey AS BIGINT) "
                    "FROM clickhouse.remote.customer "
                    "WHERE log(c_custkey + 1) >= 0 AND c_custkey < 50")
    finally:
        remote._ingest = None
        remote.start_ingest_server()
        remote.drop_table("ew_down")


def test_executor_plane_timestamp_semantics_non_utc(fed, spark):
    """Under a non-UTC session every plane stores the UTC rendering of a
    TIMESTAMP instant (mapInArrow hands the executor plane tz-aware
    Arrow columns; the remote normalizes them to UTC exactly like the
    spool's parquet normalization) — the planes cannot diverge on
    instants whichever one a deployment picks."""
    eng, remote = fed
    prev = spark.conf.get("spark.sql.session.timeZone")
    vals = {}
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        for mode in ("spool", "direct", "executor_direct"):
            eng.write_mode = mode
            remote.create_table("ew_tz", "k BIGINT, ev TIMESTAMP")
            try:
                src = spark.sql(
                    "SELECT CAST(1 AS BIGINT) AS k, "
                    "TIMESTAMP '2001-01-15 12:00:00.123456' AS ev, "
                    "log(2) AS j")
                src.createOrReplaceTempView("ew_tz_src")
                eng.sql("INSERT INTO clickhouse.remote.ew_tz "
                        "SELECT k, ev FROM ew_tz_src WHERE log(k+1) >= 0")
                vals[mode] = str(remote.execute(
                    "SELECT ev FROM ew_tz").column(0)[0])
            finally:
                remote.drop_table("ew_tz")
        # 12:00 EST == 17:00 UTC — the instant, in UTC form, all planes
        assert vals == {
            "spool": "2001-01-15 17:00:00.123456",
            "direct": "2001-01-15 17:00:00.123456",
            "executor_direct": "2001-01-15 17:00:00.123456"}
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
        eng.write_mode = "executor_direct"
        spark.catalog.dropTempView("ew_tz_src")


def test_ingest_truncated_stream_rolls_back(fed):
    """A client that dies MID-STREAM (socket closed after a partial
    Arrow IPC body — the wire shape of an executor task killed mid
    partition, e.g. by preemption or OOM) must leave nothing behind:
    the reader raises inside the transaction, the transaction rolls
    back, and the server keeps serving. This is the byte-level twin of
    the schema-mismatch test above — there the stream is well-formed
    and the INSERT fails; here the stream itself is cut."""
    eng, remote = fed
    remote.create_table("ew_cut", "k BIGINT")
    host, port = remote.ingest_address
    try:
        schema = pa.schema([("k", pa.int64())])
        sink = pa.BufferOutputStream()
        w = pa.ipc.new_stream(sink, schema)
        w.write_batch(pa.record_batch(
            [pa.array(list(range(1000)))], schema=schema))
        w.write_batch(pa.record_batch(
            [pa.array(list(range(1000, 2000)))], schema=schema))
        w.close()
        body = sink.getvalue().to_pybytes()
        with socket.create_connection((host, port)) as s:
            f = s.makefile("rwb")
            hdr = json.dumps({"table": "ew_cut", "columns": ""}).encode()
            f.write(len(hdr).to_bytes(4, "big"))
            f.write(hdr)
            # cut inside the SECOND batch's body: the reader yields
            # batch 1 (it may already be INSERTed inside the open
            # transaction) and then hits the truncation
            f.write(body[: len(body) - 4000])
            f.flush()
            s.shutdown(socket.SHUT_WR)            # client "dies"
            status = f.read(1)                    # server reports, or
            if status:                            # the pipe is gone —
                assert status == b"\x01"          # either way no commit
        n = remote.execute(
            "SELECT CAST(count(*) AS BIGINT) FROM ew_cut"
        ).column(0)[0].as_py()
        assert n == 0                  # batch 1 rolled back with the cut
        # the server survives a dead client: a clean insert lands
        with socket.create_connection((host, port)) as s:
            f = s.makefile("rwb")
            hdr = json.dumps({"table": "ew_cut", "columns": ""}).encode()
            f.write(len(hdr).to_bytes(4, "big"))
            f.write(hdr)
            w = pa.ipc.new_stream(f, schema)
            w.write_batch(pa.record_batch([pa.array([1, 2, 3])],
                                          schema=schema))
            w.close()
            f.flush()
            assert f.read(1) == b"\x00"
            assert int.from_bytes(f.read(8), "big") == 3
    finally:
        remote.drop_table("ew_cut")


def test_ingest_garbage_header_stays_up(fed):
    """A connection that opens with bytes that are not the protocol
    (a port scanner, a confused client) gets the error frame — not a
    hang, not a crash — and the acceptor keeps serving."""
    eng, remote = fed
    host, port = remote.ingest_address
    with socket.create_connection((host, port)) as s:
        f = s.makefile("rwb")
        junk = b"\x00\x00\x00\x08notjson!"
        f.write(junk)
        f.flush()
        s.shutdown(socket.SHUT_WR)
        status = f.read(1)
        if status:                      # error frame (or dropped pipe)
            assert status == b"\x01"
            ln = int.from_bytes(f.read(4), "big")
            assert len(f.read(ln)) == ln
    # still serving
    remote.create_table("ew_after_junk", "k BIGINT")
    try:
        with socket.create_connection((host, port)) as s:
            f = s.makefile("rwb")
            hdr = json.dumps({"table": "ew_after_junk",
                              "columns": ""}).encode()
            f.write(len(hdr).to_bytes(4, "big"))
            f.write(hdr)
            schema = pa.schema([("k", pa.int64())])
            w = pa.ipc.new_stream(f, schema)
            w.write_batch(pa.record_batch([pa.array([42])], schema=schema))
            w.close()
            f.flush()
            assert f.read(1) == b"\x00"
            assert int.from_bytes(f.read(8), "big") == 1
    finally:
        remote.drop_table("ew_after_junk")


def test_slow_but_alive_client_survives_io_timeout():
    """The connection io_timeout bounds STALLS (zero byte movement),
    not total duration: a client that keeps trickling batches with
    pauses below the timeout completes a transaction that takes far
    longer than the timeout overall — a legit slow executor is never
    dropped; only a frozen one is."""
    import time

    remote = RemoteEngine(pool_size=2)
    remote.create_table("slow_t", "k BIGINT")
    host, port = remote.start_ingest_server(io_timeout=1.5)
    try:
        with socket.create_connection((host, port)) as s:
            f = s.makefile("rwb")
            hdr = json.dumps({"table": "slow_t", "columns": ""}).encode()
            f.write(len(hdr).to_bytes(4, "big"))
            f.write(hdr)
            schema = pa.schema([("k", pa.int64())])
            w = pa.ipc.new_stream(f, schema)
            t0 = time.time()
            for i in range(5):
                w.write_batch(pa.record_batch(
                    [pa.array([i * 10 + j for j in range(10)])],
                    schema=schema))
                f.flush()
                time.sleep(0.8)          # alive, just slow (< timeout)
            w.close()
            f.flush()
            assert time.time() - t0 > 3.0   # total far exceeds timeout
            assert f.read(1) == b"\x00"
            assert int.from_bytes(f.read(8), "big") == 50
        n = remote.execute(
            "SELECT CAST(count(*) AS BIGINT) FROM slow_t"
        ).column(0)[0].as_py()
        assert n == 50
    finally:
        remote.stop_ingest_server()
