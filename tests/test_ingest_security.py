"""r13 (ADVICE hardening of the Arrow ingest/query wire):

* the ``query`` op is READ-ONLY — any peer that can reach the port
  could previously run arbitrary DDL/DML on a pooled cursor,
  bypassing the ``_writable`` contract the ingest op enforces;
* an optional shared-secret ``token`` gates EVERY op (required the
  moment the server binds beyond loopback);
* tail-source options that reach SQL text are identifier-validated at
  construction (the source is registrable by format name, so options
  arrive from arbitrary ``readStream.option(...)`` calls);
* mid-stream query failures TRUNCATE (close) instead of writing an
  error frame the client's IPC reader would misparse, and are
  surfaced on ``stream_errors``/``last_stream_error``;
* a fresh query's ``initialOffset`` resets a reused tail_id's stale
  progress row (plus the explicit ``reset_tail_progress`` helper).
"""

from __future__ import annotations

import contextlib
import json
import socket
import threading

import pyarrow as pa
import pytest

from clickhouse_datafusion_spark.sources import wire
from clickhouse_datafusion_spark.sources.clickhouse_tail import (
    _progress_op,
    _wire_query,
    reset_tail_progress,
)
from clickhouse_datafusion_spark.sources.remote_engine import (
    RemoteEngine,
    assert_read_only_sql,
)


@pytest.fixture()
def remote():
    r = RemoteEngine(pool_size=4)
    yield r
    r.stop_ingest_server()


def _load(remote, tbl, n, start=1):
    remote.create_table(tbl, "k BIGINT, v DOUBLE")
    remote.insert_arrow(tbl, pa.table({
        "k": list(range(start, start + n)),
        "v": [i * 0.5 for i in range(start, start + n)]}))


# -- the read-only SQL gate -------------------------------------------------

@pytest.mark.parametrize("sql", [
    "SELECT 1",
    "  select k from t where v > 3 order by k limit 5",
    "WITH a AS (SELECT 1 AS x) SELECT * FROM a",
    "VALUES (1), (2)",
    "SELECT 'insert into t' AS s",              # write verb in a literal
    'SELECT "delete" FROM t',                   # quoted identifier
    "SELECT 1 -- drop table t\n",               # write verb in a comment
    "SELECT /* update t */ 1",
    "SELECT 1;",                                # trailing semicolon ok
    "FROM t SELECT k",                          # duckdb FROM-first form
])
def test_read_only_gate_accepts(sql):
    assert_read_only_sql(sql)


@pytest.mark.parametrize("sql", [
    "INSERT INTO t VALUES (1)",
    "DROP TABLE t",
    "insert /**/ into t values (1)",
    "WITH a AS (SELECT 1) INSERT INTO t SELECT * FROM a",
    "SELECT 1; DROP TABLE t",                   # second statement
    "CREATE TABLE t (x INT)",
    "UPDATE t SET x = 1",
    "DELETE FROM t",
    "PRAGMA database_list",
    "SET threads=1",
    "COPY t TO 'f.csv'",
    "ATTACH 'x.db'",
    "SELECT $$drop table t$$",                  # dollar quotes: refuse
    "",
])
def test_read_only_gate_rejects(sql):
    with pytest.raises(PermissionError):
        assert_read_only_sql(sql)


def test_query_op_rejects_writes_on_the_wire(remote):
    """The wire-level proof: op:query can no longer INSERT into a
    read-only view or DROP a table — the r12 bypass of the ingest
    op's _writable check."""
    _load(remote, "sec_t", 5)
    host, port = remote.start_ingest_server()
    with pytest.raises(RuntimeError, match="read-only"):
        list(_wire_query(host, port, "DROP TABLE sec_t"))
    with pytest.raises(RuntimeError, match="read-only"):
        list(_wire_query(host, port, "INSERT INTO sec_t VALUES (9, 9.0)"))
    # the table is intact and still readable through the same op
    n = sum(b.num_rows for b in _wire_query(
        host, port, "SELECT * FROM sec_t"))
    assert n == 5


# -- shared-secret token ----------------------------------------------------

def _ingest_once(host, port, table, batch, token=None):
    with wire.request(host, port, table=table, columns="",
                      token=token) as f:
        w = pa.ipc.new_stream(f, batch.schema)
        w.write_batch(batch)
        w.close()
        f.flush()
        return wire.read_count(f, "ingest")


def test_token_gates_every_op(remote):
    _load(remote, "tok_t", 3)
    host, port = remote.start_ingest_server(token="s3cret")
    assert remote.ingest_token == "s3cret"
    batch = pa.record_batch({"k": [10], "v": [5.0]})
    # no token / wrong token: refused on every op
    with pytest.raises(RuntimeError, match="token"):
        list(_wire_query(host, port, "SELECT 1"))
    with pytest.raises(RuntimeError, match="token"):
        list(_wire_query(host, port, "SELECT 1", token="nope"))
    with pytest.raises(RuntimeError, match="token"):
        _ingest_once(host, port, "tok_t", batch)
    with pytest.raises(RuntimeError, match="token"):
        _progress_op(host, port, "tok_t", "x", "get", token="nope")
    # right token: all three ops work
    assert sum(b.num_rows for b in _wire_query(
        host, port, "SELECT * FROM tok_t", token="s3cret")) == 3
    assert _ingest_once(host, port, "tok_t", batch, token="s3cret") == 1
    assert _progress_op(host, port, "tok_t", "x", "get",
                        token="s3cret") is None


def test_tokened_tail_end_to_end(spark, remote):
    """The wrapper plumbs the token automatically — a capped tail
    (scalar polls + progress row + executor range pulls, every wire
    op) drains correctly against a token-gated server."""
    from clickhouse_datafusion_spark.streaming import tail_remote_table
    from clickhouse_datafusion_spark.streaming.events import (
        drain_tail_until_stable)

    _load(remote, "tok_e2e", 900)
    remote.start_ingest_server(token="t0k")
    stream = tail_remote_table(spark, remote, "tok_e2e", "k",
                               max_rows_per_batch=400)
    q = (stream.writeStream.format("memory").queryName("tok_e2e_sink")
         .outputMode("append").start())
    try:
        drain_tail_until_stable(q)
        assert spark.table("tok_e2e_sink").count() == 900
    finally:
        q.stop()


def test_nonloopback_bind_requires_token():
    r = RemoteEngine(pool_size=1)
    with pytest.raises(ValueError, match="token"):
        r.start_ingest_server(host="0.0.0.0")


# -- identifier validation of tail options ----------------------------------

@pytest.mark.parametrize("opts", [
    {"table": "t; DROP TABLE x"},
    {"table": "t", "key": "k); DELETE FROM t --"},
    {"table": "t", "key": "k", "columns": "k, v FROM other; --"},
    {"table": "t", "key": "k", "key_type": "varchar"},
])
def test_tail_reader_refuses_malformed_options(opts):
    from clickhouse_datafusion_spark.sources.clickhouse_tail import (
        ClickHouseTailStreamReader)

    base = {"host": "127.0.0.1", "port": "1", "table": "t", "key": "k"}
    base.update(opts)
    with pytest.raises(ValueError):
        ClickHouseTailStreamReader(base)


def test_tail_load_refuses_malformed_table(spark, remote):
    """End to end: the refusal surfaces at load() via the schema
    probe, before any stream starts."""
    from clickhouse_datafusion_spark.sources.clickhouse_tail import (
        register_clickhouse_tail)

    _load(remote, "t_mal", 3)
    host, port = remote.start_ingest_server()
    register_clickhouse_tail(spark)
    r = (spark.readStream.format("clickhouse_tail")
         .option("host", host).option("port", str(port))
         .option("table", "t_mal; DROP TABLE t_mal").option("key", "k"))
    with pytest.raises(Exception, match="identifier"):
        r.load().writeStream.format("noop").start()
    # nothing was dropped
    assert sum(b.num_rows for b in _wire_query(
        host, port, "SELECT * FROM t_mal")) == 3


# -- stale progress row on a reused tail_id ----------------------------------

def test_fresh_query_resets_stale_progress(spark, remote, tmp_path):
    """A capped tail persists its plan-time watermark under tail_id;
    a NEW query reusing that tail_id must not inherit it as its cap
    base forever — initialOffset (fresh queries only) deletes the row,
    and reset_tail_progress clears it explicitly."""
    from clickhouse_datafusion_spark.streaming import tail_remote_table
    from clickhouse_datafusion_spark.streaming.events import (
        drain_tail_until_stable)

    _load(remote, "t_st", 600)
    host, port = remote.start_ingest_server()

    def run(ckpt):
        stream = tail_remote_table(spark, remote, "t_st", "k",
                                   max_rows_per_batch=250,
                                   tail_id="stale-demo")
        name = f"t_st_sink_{ckpt}"
        q = (stream.writeStream.format("memory").queryName(name)
             .option("checkpointLocation",
                     str(tmp_path / f"ck{ckpt}"))
             .outputMode("append").start())
        try:
            drain_tail_until_stable(q)
            return spark.table(name).count()
        finally:
            q.stop()

    assert run(0) == 600
    stored = _progress_op(host, port, "t_st", "stale-demo", "get")
    assert stored == 600          # the incarnation left its watermark
    # a genuinely fresh query (new checkpoint), same tail_id: its
    # initialOffset deletes the stale row and the re-read still sees
    # every key
    assert run(1) == 600
    # explicit cleanup helper
    _progress_op(host, port, "t_st", "stale-demo", "put", watermark=99)
    reset_tail_progress(remote, "t_st", tail_id="stale-demo")
    assert _progress_op(host, port, "t_st", "stale-demo", "get") is None


def test_reused_tail_id_first_batch_clamped_by_previous_watermark(
        spark, remote, tmp_path):
    """r14 (VERDICT task 4): the incarnation marker closes the
    documented first-batch over-read. Spark's traced call order on a
    fresh query polls latestOffset once BEFORE initialOffset, so a
    reused tail_id used to plan its first batch from the STALE base —
    spanning everything up to ``stale_watermark + cap`` (here 850
    rows). With the marker, a first poll that recovers a FOREIGN
    incarnation's row clamps to the stored watermark: the first batch
    never spans new keys past the previous incarnation's watermark,
    and every subsequent batch is cap-bounded."""
    from clickhouse_datafusion_spark.streaming import tail_remote_table
    from clickhouse_datafusion_spark.streaming.events import (
        drain_tail_until_stable)

    _load(remote, "t_cl", 600)
    host, port = remote.start_ingest_server()

    def run(ckpt):
        got = []
        stream = tail_remote_table(spark, remote, "t_cl", "k",
                                   max_rows_per_batch=250,
                                   tail_id="clamp-demo")
        q = (stream.writeStream.outputMode("append")
             .option("checkpointLocation", str(tmp_path / f"cl{ckpt}"))
             .foreachBatch(lambda b, i: got.append(b.count())).start())
        try:
            drain_tail_until_stable(q)
        finally:
            q.stop()
        return [g for g in got if g]

    first = run(0)
    assert sum(first) == 600 and all(s <= 250 for s in first)
    assert _progress_op(host, port, "t_cl", "clamp-demo", "get") == 600
    # 400 NEW rows land, then the tail_id is reused on a fresh
    # checkpoint (an intentional full re-read without
    # reset_tail_progress)
    remote.insert_arrow("t_cl", pa.table({
        "k": list(range(601, 1001)), "v": [0.0] * 400}))
    second = run(1)
    assert sum(second) == 1000                 # complete, exactly once
    # THE CLAMP: the ambiguous first batch is bounded by the previous
    # incarnation's watermark (600) — under the pre-r14 behavior it
    # was 850 (stale base 600 + one cap of new keys); every later
    # batch obeys the cap
    assert second[0] <= 600
    assert all(s <= 250 for s in second[1:])


# -- wire robustness ---------------------------------------------------------

def test_wire_query_server_closed_is_clean_error():
    srv = socket.create_server(("127.0.0.1", 0))
    host, port = srv.getsockname()

    def accept_and_slam():
        conn, _ = srv.accept()
        conn.close()

    t = threading.Thread(target=accept_and_slam, daemon=True)
    t.start()
    with pytest.raises(RuntimeError, match="connection closed by server"):
        list(_wire_query(host, port, "SELECT 1"))
    t.join(timeout=2)
    srv.close()


@contextlib.contextmanager
def _hang_up_server(reply: bytes):
    """A wire peer that reads each request — the header, and an ingest's
    Arrow stream — then sends ``reply`` (nothing, or a reply cut short)
    and hangs up. With an empty ``reply`` it hangs up on a marker-gated
    ingest before the gate byte; otherwise it lets the ingest proceed.
    The frames are spelled in raw bytes: they are what is under test."""
    srv = socket.create_server(("127.0.0.1", 0))
    srv.settimeout(0.2)
    stop = threading.Event()

    def serve():
        while not stop.is_set():
            try:
                conn, _ = srv.accept()
            except TimeoutError:
                continue
            conn.settimeout(None)
            with conn, conn.makefile("rwb") as f:
                hdr = json.loads(f.read(int.from_bytes(f.read(4), "big")))
                if hdr.get("op", "ingest") == "ingest":
                    if "marker" in hdr:
                        if not reply:
                            continue
                        f.write(b"\x10")
                        f.flush()
                    for _ in pa.ipc.open_stream(f):
                        pass
                f.write(reply)
                f.flush()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    try:
        yield srv.getsockname()
    finally:
        stop.set()
        t.join(timeout=5)
        srv.close()


# an error frame whose length says 100 bytes, of which 4 arrive
_SHORT_ERROR = b"\x01" + (100).to_bytes(4, "big") + b"Perm"
_SHORT_REPLY = {
    "ingest": b"\x00" + b"\x00\x00\x07",         # 3 of 8 count bytes
    "ingest_marker": b"\x00" + b"\x00\x00\x07",
    "query": _SHORT_ERROR,
    "progress": b"\x00\x01" + b"\x00\x00\x07",   # 3 of 8 watermark bytes
    "schema_probe": _SHORT_ERROR,
}


@pytest.fixture(scope="module")
def wire_engine(spark):
    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine

    return ClickHouseSparkEngine(spark)


@pytest.mark.parametrize("cut", ["before_status", "short_reply"])
@pytest.mark.parametrize("op", list(_SHORT_REPLY))
def test_dropped_connection_is_clean_error(spark, wire_engine, monkeypatch,
                                           op, cut):
    """Every client of the wire — the executor_direct writer (with and
    without its exactly-once marker), the query op, the progress op and
    the tail's schema probe — reports a server that hangs up before the
    status byte, or cuts its reply short, as ``<what> failed: connection
    closed by server``: never an empty message, a partial error text or
    a count or watermark decoded from fewer than its 8 bytes."""
    import types

    from clickhouse_datafusion_spark.sources.clickhouse_tail import (
        ClickHouseTailDataSource)

    reply = b"" if cut == "before_status" else _SHORT_REPLY[op]
    with _hang_up_server(reply) as (host, port):
        monkeypatch.setattr(wire_engine, "_remote", types.SimpleNamespace(
            ingest_address=(host, port), ingest_token=None,
            assert_writable=lambda name: None))
        calls = {
            "ingest": ("remote ingest", lambda: (
                wire_engine._stream_insert_executors_direct(
                    "t", spark.range(10)))),
            "ingest_marker": ("remote ingest", lambda: (
                wire_engine._stream_insert_executors_direct(
                    "t", spark.range(10), commits="t__commits", sink="s",
                    batch_id=0))),
            "query": ("remote query", lambda: list(
                _wire_query(host, port, "SELECT 1"))),
            "progress": ("tail progress op", lambda: _progress_op(
                host, port, "t", "x", "get")),
            "schema_probe": ("clickhouse_tail schema probe", lambda: (
                ClickHouseTailDataSource(
                    {"host": host, "port": str(port), "table": "t"})
                .schema())),
        }
        what, call = calls[op]
        with pytest.raises(Exception, match=(
                f"{what} failed: connection closed by server")):
            call()


def test_midstream_failure_truncates_not_error_frame(remote):
    """Once the 0x00 status byte is out, a failure must CLOSE the
    connection (the client's IPC reader sees truncation) — a late
    0x01 frame would be parsed as corrupt Arrow bytes. The failure is
    recorded on the server for observability."""
    _load(remote, "t_mid", 50)
    remote.start_ingest_server()
    srv = remote._ingest

    class ExplodingFile:
        """Accepts the status byte + schema, then fails the stream."""

        def __init__(self):
            self.wrote = b""
            self.closed = False

        def write(self, b):
            if len(self.wrote) > 16:      # after status + schema start
                raise OSError("peer vanished mid-stream")
            self.wrote += bytes(b)
            return len(b)

        def flush(self):
            pass

        def close(self):
            self.closed = True

    f = ExplodingFile()
    before = srv.stream_errors
    # must NOT raise (the handler records + truncates), must not write
    # an error frame after the status byte
    srv._handle_query(f, {"sql": "SELECT * FROM t_mid"})
    assert srv.stream_errors == before + 1
    assert "peer vanished" in srv.last_stream_error
    assert f.closed
    assert b"\x01" not in f.wrote[1:2]    # no error frame after status


# -- adversarial fuzz of the read-only gate ----------------------------------

try:
    from hypothesis import given, settings, strategies as st

    _IDENT = st.from_regex(r"[a-z_][a-z_0-9]{0,10}", fullmatch=True)
    _WRITE_STMT = st.sampled_from([
        "INSERT INTO {t} VALUES (1)",
        "DELETE FROM {t}",
        "UPDATE {t} SET x = 1",
        "DROP TABLE {t}",
        "CREATE TABLE {t} (x INT)",
        "ALTER TABLE {t} ADD COLUMN y INT",
        "COPY {t} TO 'out.csv'",
        "ATTACH 'x.db' AS {t}",
    ])
    _NOISE = st.sampled_from([
        "", " ", "\n", "\t", "-- a comment\n", "/* block */ ",
        "/* nested /* looks nested */ ", "  \r\n",
    ])

    @given(stmt=_WRITE_STMT, t=_IDENT, pre=_NOISE, mid=_NOISE)
    @settings(max_examples=200, deadline=None)
    def test_gate_refuses_decorated_writes(stmt, t, pre, mid):
        """No amount of comment/whitespace decoration sneaks a write
        verb past the gate — including a write as a trailing second
        statement after a legitimate SELECT."""
        s = pre + stmt.format(t=t)
        with pytest.raises(PermissionError):
            assert_read_only_sql(s)
        with pytest.raises(PermissionError):
            assert_read_only_sql(f"SELECT 1;{mid}{s}")

    @given(t=_IDENT, col=_IDENT, lit=st.text(
        alphabet=st.characters(blacklist_characters="$"), max_size=40),
        pre=_NOISE)
    @settings(max_examples=200, deadline=None)
    def test_gate_accepts_selects_with_hostile_literals(t, col, lit, pre):
        """Write verbs INSIDE string literals (any text, quotes
        escaped) or comments never trigger refusal of a pure SELECT —
        the gate lexes, it does not substring-match."""
        esc = lit.replace("'", "''")
        assert_read_only_sql(
            f"{pre}SELECT {col}, 'insert {esc} drop' AS s "
            f"FROM {t} WHERE {col} > 3 -- delete from {t}")

    @given(t=_IDENT)
    @settings(max_examples=50, deadline=None)
    def test_gate_quoted_identifier_collisions_pass(t):
        """Identifiers that collide with write keywords pass when
        quoted (the documented escape hatch) and refuse when bare."""
        assert_read_only_sql(f'SELECT "delete", "create" FROM {t}')
        with pytest.raises(PermissionError):
            assert_read_only_sql(f"SELECT delete FROM {t}")
except ImportError:  # pragma: no cover - hypothesis is baked in here
    pass
