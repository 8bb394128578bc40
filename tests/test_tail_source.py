"""r12: the ``clickhouse_tail`` streaming SOURCE — tailing a growing
remote table by a monotonic key, with executor-side key-range pulls
over the remote's Arrow endpoint (the read-direction twin of the
executor-parallel write; reference anchor src/stream.rs:110-131, here
distributed N-ways and made restartable via checkpointed offsets)."""

from __future__ import annotations

import datetime as dt
import random

import pyarrow as pa
import pytest

from clickhouse_datafusion_spark.sources.clickhouse_tail import (
    ClickHouseTailStreamReader,
    _wire_query,
)
from clickhouse_datafusion_spark.sources.remote_engine import RemoteEngine
from clickhouse_datafusion_spark.streaming import tail_remote_table
from clickhouse_datafusion_spark.streaming.events import (
    drain_tail_until_stable)


@pytest.fixture()
def remote():
    r = RemoteEngine(pool_size=4)
    yield r
    r.stop_ingest_server()


def _load(remote, tbl, n, start=1):
    remote.create_table(tbl, "k BIGINT, v DOUBLE, s VARCHAR")
    remote.insert_arrow(tbl, pa.table({
        "k": list(range(start, start + n)),
        "v": [i * 0.5 for i in range(start, start + n)],
        "s": [f"s{i}" for i in range(start, start + n)]}))


def test_tail_initial_then_delta(spark, remote):
    """The first micro-batch covers the table; rows appended remote-side
    AFTER the stream starts arrive as exactly one delta batch."""
    _load(remote, "t_a", 1000)
    got = []
    stream = tail_remote_table(spark, remote, "t_a", "k",
                               num_partitions=3)
    q = (stream.writeStream.outputMode("append")
         .foreachBatch(lambda b, i: got.append(b.count())).start())
    try:
        q.processAllAvailable()
        remote.insert_arrow("t_a", pa.table({
            "k": list(range(1001, 1251)),
            "v": [0.0] * 250, "s": ["d"] * 250}))
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(got) == 1250
    assert [g for g in got if g][0] == 1000          # initial batch
    assert [g for g in got if g][1:] == [250]        # exactly the delta


def test_tail_values_roundtrip(spark, remote):
    """Every column survives the wire bit-exactly (bigint, double,
    string) — compare the drained stream against the remote's own
    table, row for row."""
    _load(remote, "t_v", 500)
    stream = tail_remote_table(spark, remote, "t_v", "k")
    q = (stream.writeStream.outputMode("append")
         .format("memory").queryName("t_v_sink").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(spark.table("t_v_sink").collect(),
                 key=lambda r: r["k"])
    want = remote.execute("SELECT * FROM t_v ORDER BY k").to_pylist()
    assert len(got) == len(want) == 500
    for g, w in zip(got, want):
        assert (g["k"], g["v"], g["s"]) == (w["k"], w["v"], w["s"])


def test_tail_backpressure_max_rows(spark, remote):
    """``max_rows_per_batch`` caps each micro-batch (the
    maxOffsetsPerTrigger analog) INCLUDING the first catch-up batch
    (the progress-row base): 100 initial rows + a 1200-row burst drain
    with no batch above the cap, nothing lost or duplicated. A capped
    stream reports the capped offset as latest, so the drain loops
    until the counts stabilize — exactly what an interval trigger does
    in production."""
    _load(remote, "t_bp", 100)
    got = []
    stream = tail_remote_table(spark, remote, "t_bp", "k",
                               max_rows_per_batch=300)
    q = (stream.writeStream.outputMode("append")
         .foreachBatch(lambda b, i: got.append(b.count())).start())

    def drain():
        prev = -1
        while sum(got) != prev:
            prev = sum(got)
            q.processAllAvailable()

    try:
        drain()
        assert [g for g in got if g] == [100]       # initial rows
        remote.insert_arrow("t_bp", pa.table({
            "k": list(range(101, 1301)),
            "v": [0.0] * 1200, "s": ["d"] * 1200}))
        drain()
    finally:
        q.stop()
    sizes = [g for g in got if g]
    assert sum(sizes) == 1300
    assert len(sizes) >= 5
    assert all(s <= 300 for s in sizes)             # EVERY batch capped


def test_tail_capped_restart_catchup_stays_capped(spark, remote,
                                                  tmp_path):
    """The cap survives a restart: rows that accumulate while the
    query is DOWN drain after restart in capped batches (the progress
    row gives the restart-safe base), never one giant catch-up — and
    exactly once."""
    _load(remote, "t_cr", 200)
    ckpt = str(tmp_path / "ckpt_cap")

    def run():
        got = []
        stream = tail_remote_table(spark, remote, "t_cr", "k",
                                   max_rows_per_batch=150)
        q = (stream.writeStream.outputMode("append")
             .option("checkpointLocation", ckpt)
             .foreachBatch(lambda b, i: got.append(b.count())).start())
        try:
            prev = -1
            while sum(got) != prev:
                prev = sum(got)
                q.processAllAvailable()
        finally:
            q.stop()
        return [g for g in got if g]

    first = run()
    assert sum(first) == 200 and all(s <= 150 for s in first)
    # 600 rows land while the query is down
    remote.insert_arrow("t_cr", pa.table({
        "k": list(range(201, 801)),
        "v": [0.0] * 600, "s": ["d"] * 600}))
    second = run()
    assert sum(second) == 600                       # exactly the delta
    assert len(second) >= 4
    assert all(s <= 150 for s in second)            # capped catch-up


def test_tail_checkpoint_restart_resumes(spark, remote, tmp_path):
    """A restarted query with the same checkpoint resumes from the
    COMMITTED watermark: rows drained before the stop are not re-read;
    rows appended while the stream was down arrive in the first batch
    after restart. This is what makes the source exactly-once end to
    end (chain with stream_to_remote_table(exactly_once=True))."""
    _load(remote, "t_ck", 400)
    ckpt = str(tmp_path / "ckpt")

    def drain():
        got = []
        stream = tail_remote_table(spark, remote, "t_ck", "k")
        q = (stream.writeStream.outputMode("append")
             .option("checkpointLocation", ckpt)
             .foreachBatch(lambda b, i: got.append(b.count())).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sum(got)

    assert drain() == 400
    # appended while the query is DOWN
    remote.insert_arrow("t_ck", pa.table({
        "k": [401, 402, 403], "v": [1.0, 2.0, 3.0],
        "s": ["x", "y", "z"]}))
    assert drain() == 3                      # only the delta — no re-read


def test_tail_partitions_split_at_data_boundaries(remote):
    """Partition planning is skew-proof: with keys clustered at both
    ends of a huge range, ntile boundaries give each partition ~equal
    ROWS (an arithmetic midpoint split would put all rows in two of
    them)."""
    remote.create_table("t_sk", "k BIGINT, v DOUBLE, s VARCHAR")
    keys = list(range(1, 501)) + list(range(10_000_000, 10_000_500))
    remote.insert_arrow("t_sk", pa.table({
        "k": keys, "v": [0.0] * 1000, "s": ["x"] * 1000}))
    host, port = remote.start_ingest_server()
    rd = ClickHouseTailStreamReader({
        "host": host, "port": str(port), "table": "t_sk", "key": "k",
        "num_partitions": "4"})
    parts = rd.partitions({"key": 0}, {"key": max(keys)})
    assert len(parts) == 4
    counts = [
        _scalar_rows(p) for p in parts]
    assert sum(counts) == 1000
    assert max(counts) <= 300                # ~250 each, never half


def _scalar_rows(p) -> int:
    return sum(b.num_rows for b in _wire_query(p.host, p.port, p.sql,
                                               p.batch_rows))


def test_tail_wire_query_error_frame(remote):
    """A bad statement through the query op is a clean error frame
    (RuntimeError with the remote's message), and the endpoint keeps
    serving BOTH planes — a query and an ingest — afterwards."""
    remote.create_table("t_er", "k BIGINT")
    host, port = remote.start_ingest_server()
    with pytest.raises(RuntimeError, match="remote query failed"):
        list(_wire_query(host, port, "SELECT nope FROM t_er"))
    # query plane still up
    assert list(_wire_query(host, port,
                            "SELECT CAST(count(*) AS BIGINT) FROM t_er"
                            ))[0].column(0)[0].as_py() == 0
    # ingest plane still up (shared server, shared pool)
    n = remote.ingest_transaction(
        "t_er", iter([pa.record_batch([pa.array([1, 2])], names=["k"])]))
    assert n == 2


def test_end_to_end_exactly_once_pipeline(spark, remote, tmp_path):
    """The round-trip flagship: tail a remote SOURCE table, transform,
    and land in a remote SINK table with exactly_once=True — then
    crash the query between micro-batches and restart it from the
    checkpoint. Every source row must appear in the sink exactly once:
    the source side cannot re-read below the committed watermark, and
    the sink side skips any replayed batch via its commit log. This is
    the CDC-replication shape neither half can prove alone."""
    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine

    eng = ClickHouseSparkEngine(spark)
    eng.attach_remote(remote, db="remote")
    _load(remote, "p_src", 600)
    remote.create_table("p_dst", "k BIGINT, v2 DOUBLE")
    ckpt = str(tmp_path / "pipe_ckpt")

    def run_once(max_batches: int | None = None):
        """Drive the pipeline; optionally crash after max_batches."""
        from pyspark.sql import functions as F

        stream = tail_remote_table(spark, remote, "p_src", "k",
                                   max_rows_per_batch=250)
        seen = {"batches": 0}

        def fn(batch, bid):
            if batch.isEmpty():
                return
            if (max_batches is not None
                    and seen["batches"] >= max_batches):
                raise RuntimeError("injected crash")
            seen["batches"] += 1
            eng.append_remote_exactly_once(
                "p_dst", batch.select("k", (F.col("v") * 2).alias("v2")),
                bid, sink_id="pipe")

        q = (stream.writeStream.outputMode("append")
             .option("checkpointLocation", ckpt)
             .foreachBatch(fn).start())
        try:
            prev = -1
            for _ in range(10):
                q.processAllAvailable()
                if seen["batches"] == prev:
                    break
                prev = seen["batches"]
        except Exception:
            pass                      # the injected crash surfaces here
        finally:
            q.stop()

    run_once(max_batches=1)           # crash after the first 250 rows
    run_once()                        # restart from the checkpoint
    n, dups, vbad = (remote.execute(
        "SELECT CAST(count(*) AS BIGINT), "
        "CAST(count(*) - count(DISTINCT k) AS BIGINT), "
        "CAST(sum(CASE WHEN v2 <> k THEN 1 ELSE 0 END) AS BIGINT) "
        "FROM p_dst").to_pylist()[0].values())
    assert n == 600                   # nothing lost
    assert dups == 0                  # nothing duplicated
    assert vbad == 0                  # transform applied (v = k*0.5 -> v2 = k)


def test_tail_duplicate_keys_never_split_or_lost(spark, remote):
    """Keys are not required to be unique — only monotone in arrival.
    With a duplicate-heavy multiset (1000 rows over 13 distinct keys,
    fewer than num_partitions), quantile boundaries collapse and rows
    with equal keys land in exactly one range: the drained multiset
    equals the table's, nothing split, lost, or doubled."""
    import random

    rng = random.Random(7)
    keys = sorted(rng.choice(range(1, 14)) for _ in range(1000))
    remote.create_table("t_dup", "k BIGINT, v DOUBLE, s VARCHAR")
    remote.insert_arrow("t_dup", pa.table({
        "k": keys, "v": [float(k) for k in keys],
        "s": [f"s{k}" for k in keys]}))
    stream = tail_remote_table(spark, remote, "t_dup", "k",
                               num_partitions=32)
    q = (stream.writeStream.outputMode("append")
         .format("memory").queryName("t_dup_sink").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r["k"] for r in spark.table("t_dup_sink").collect())
    assert got == keys


def test_tail_more_partitions_than_pool_cursors(spark, remote):
    """Pool over-subscription across the query plane: 8 concurrent
    partition pulls over a pool of 4 cursors (plus the driver's offset
    polls on the same pool) must COMPLETE — waiting, never deadlock —
    the reference pool's over-subscription contract extended to the
    read direction."""
    _load(remote, "t_ps", 2000)
    stream = tail_remote_table(spark, remote, "t_ps", "k",
                               num_partitions=8)   # pool_size is 4
    q = (stream.writeStream.outputMode("append")
         .format("memory").queryName("t_ps_sink").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.table("t_ps_sink").count() == 2000


def test_stalled_query_client_cannot_pin_the_pool():
    """A STALLED query client — connected, alive, but not draining its
    result — parks the handler thread in the kernel send with a pooled
    cursor checked out; without the server's io_timeout that is a
    slow-client denial of the whole pool (this test found it: the
    handler sat in socket.send forever). With the timeout, the cursor
    returns and BOTH planes keep working on a pool of ONE."""
    import time

    from clickhouse_datafusion_spark.sources import wire

    remote = RemoteEngine(pool_size=1)
    remote.create_table("t_qd", "k BIGINT, s VARCHAR")
    remote.insert_arrow("t_qd", pa.table({
        "k": list(range(200_000)),
        "s": [f"pad_{i:032d}" for i in range(200_000)]}))
    host, port = remote.start_ingest_server(io_timeout=2.0)
    try:
        with wire.request(host, port, op="query",
                          sql="SELECT * FROM t_qd") as f:
            assert wire.read_status(f, "query") == wire.OK
            f.read(1024)   # take a sip, then stall (socket stays OPEN)
            # the handler must time out, roll back, and free the cursor
            deadline = time.time() + 15
            while True:
                try:
                    n = remote.execute(
                        "SELECT CAST(count(*) AS BIGINT) FROM t_qd",
                        timeout=5).column(0)[0].as_py()
                    break
                except Exception:
                    if time.time() > deadline:
                        raise
            assert n == 200_000
            assert remote.ingest_transaction("t_qd", iter([pa.record_batch(
                [pa.array([1]), pa.array(["x"])], names=["k", "s"])])) == 1
    finally:
        remote.stop_ingest_server()


def test_tail_timestamp_key(spark, remote):
    """Event-time tailing (key_type='timestamp'): watermarks track
    epoch MICROSECONDS exactly — two rows 1 microsecond apart straddle
    a watermark correctly (the committed one never re-reads, the later
    one arrives in the delta), and predicates compare the raw column
    against timestamp literals so a remote layout keyed on the column
    stays usable."""
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 12, 0, 0, 500000)
    remote.create_table("t_ts", "ts TIMESTAMP, v BIGINT")
    first = [(base + dt.timedelta(seconds=i), i) for i in range(500)]
    remote.insert_arrow("t_ts", pa.table({
        "ts": pa.array([r[0] for r in first],
                       type=pa.timestamp("us")),
        "v": [r[1] for r in first]}))
    got = []
    stream = tail_remote_table(spark, remote, "t_ts", "ts",
                               key_type="timestamp", num_partitions=4)
    q = (stream.writeStream.outputMode("append")
         .foreachBatch(lambda b, i: got.append(b.count())).start())
    try:
        q.processAllAvailable()
        assert sum(got) == 500
        # 1 microsecond AFTER the committed watermark (the max ts)
        edge = first[-1][0] + dt.timedelta(microseconds=1)
        remote.insert_arrow("t_ts", pa.table({
            "ts": pa.array([edge], type=pa.timestamp("us")),
            "v": [999]}))
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(got) == 501                   # exactly the 1-us edge row


def test_tail_lag_reports_backlog(spark, remote):
    """r13: the consumer-lag monitoring hook. Mid-drain, a capped tail's
    lag = rows above its persisted plan-time watermark; fully drained,
    backlog is zero; keys above the watermark appended later reappear
    as backlog."""
    from clickhouse_datafusion_spark.sources.clickhouse_tail import (
        tail_lag)
    from clickhouse_datafusion_spark.streaming.events import (
        drain_tail_until_stable)

    _load(remote, "t_lag", 1000)
    stream = tail_remote_table(spark, remote, "t_lag", "k",
                               max_rows_per_batch=400, tail_id="lagdemo")
    q = (stream.writeStream.format("memory").queryName("t_lag_sink")
         .outputMode("append").start())
    try:
        drain_tail_until_stable(q)
        lag = tail_lag(remote, "t_lag", "k", tail_id="lagdemo")
        assert lag == {"latest_key": 1000, "watermark": 1000,
                       "backlog_rows": 0}
        # new keys above the watermark: backlog until the next trigger
        remote.insert_arrow("t_lag", pa.table({
            "k": list(range(1001, 1201)),
            "v": [i * 0.5 for i in range(1001, 1201)],
            "s": [f"s{i}" for i in range(1001, 1201)]}))
        lag2 = tail_lag(remote, "t_lag", "k", tail_id="lagdemo")
        assert lag2["latest_key"] == 1200
        assert lag2["watermark"] == 1000
        assert lag2["backlog_rows"] == 200
        drain_tail_until_stable(q)
        assert spark.table("t_lag_sink").count() == 1200
        assert tail_lag(remote, "t_lag", "k",
                        tail_id="lagdemo")["backlog_rows"] == 0
    finally:
        q.stop()
    # no progress row (unknown tail_id): watermark None, backlog 0
    lag3 = tail_lag(remote, "t_lag", "k", tail_id="nosuch")
    assert lag3["watermark"] is None and lag3["backlog_rows"] == 0


def test_tail_keyword_named_columns_end_to_end(spark, remote, tmp_path):
    """r14 (r13 ADVICE executed, not just rendered): a table whose KEY
    and VALUE columns collide with the wire's write keywords —
    ``commit`` and ``load`` — tails end-to-end, capped, with tail_lag
    working over the same names. Every emitted statement quotes its
    identifiers, so the read-only gate never refuses the stream its
    own columns."""
    from clickhouse_datafusion_spark.sources.clickhouse_tail import (
        tail_lag)

    remote.create_table("t_kw", '"commit" BIGINT, "load" DOUBLE')
    remote.insert_arrow("t_kw", pa.table({
        "commit": list(range(1, 901)),
        "load": [i / 4.0 for i in range(1, 901)]}))
    got = []
    stream = tail_remote_table(spark, remote, "t_kw", "commit",
                               max_rows_per_batch=400, tail_id="kw14")
    q = (stream.writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "kw"))
         .foreachBatch(lambda b, i: got.append(
             (b.count(), b.agg({"commit": "max"}).collect()[0][0])))
         .start())
    try:
        q.processAllAvailable()
        q.processAllAvailable()
        q.processAllAvailable()
    finally:
        q.stop()
    counts = [c for c, _ in got if c]
    assert sum(counts) == 900
    assert all(c <= 400 for c in counts)             # cap respected
    assert max(m for c, m in got if c) == 900
    lag = tail_lag(remote, "t_kw", "commit", tail_id="kw14")
    assert lag["latest_key"] == 900
    assert lag["backlog_rows"] == 0
    remote.drop_table("t_kw")


def test_tail_lag_monotone_under_concurrent_appends(spark, remote,
                                                    tmp_path):
    """While a capped tail drains AND a writer keeps appending, every
    tail_lag sample must show a non-decreasing watermark and a
    non-negative backlog; once the writer stops and the tail drains,
    backlog is exactly 0, the watermark equals the true max key, and
    the sink holds every row exactly once."""
    import threading
    import time

    from clickhouse_datafusion_spark.sources.clickhouse_tail import tail_lag
    from clickhouse_datafusion_spark.streaming.events import (
        drain_tail_until_stable)

    remote.create_table("t_mono", "k BIGINT, v DOUBLE")
    remote.insert_arrow("t_mono", pa.table({
        "k": list(range(1, 2001)), "v": [0.5] * 2000}))
    stop = threading.Event()
    wrote = [2000]

    def writer():
        nxt = 2001
        for _ in range(8):
            remote.insert_arrow("t_mono", pa.table({
                "k": list(range(nxt, nxt + 300)), "v": [1.5] * 300}))
            nxt += 300
            wrote[0] += 300
            time.sleep(0.15)
        stop.set()

    stream = tail_remote_table(spark, remote, "t_mono", "k",
                               max_rows_per_batch=500, tail_id="mono14")
    q = (stream.writeStream.format("memory").queryName("t_mono_sink")
         .option("checkpointLocation", str(tmp_path / "ck_mono"))
         .outputMode("append").start())
    t = threading.Thread(target=writer, daemon=True)
    samples = []
    try:
        t.start()
        while not stop.is_set():
            q.processAllAvailable()
            samples.append(tail_lag(remote, "t_mono", "k",
                                    tail_id="mono14"))
        t.join()
        drain_tail_until_stable(q)
        final = tail_lag(remote, "t_mono", "k", tail_id="mono14")
        wms = [s["watermark"] for s in samples if s["watermark"]
               is not None]
        assert wms == sorted(wms), f"watermark regressed: {wms}"
        assert all(s["backlog_rows"] >= 0 for s in samples)
        assert final["backlog_rows"] == 0
        assert final["latest_key"] == wrote[0] == 4400
        assert final["watermark"] == wrote[0]
        assert spark.table("t_mono_sink").count() == wrote[0]
        assert (spark.table("t_mono_sink").select("k").distinct().count()
                == wrote[0])
    finally:
        stop.set()
        q.stop()
        remote.drop_table("t_mono")


def test_duplicate_timestamp_keys_at_partition_boundaries(spark, remote):
    """Heavy key duplication makes quantile boundaries LAND on
    duplicated values (few distinct keys, many rows each, random per
    seed) — the half-open range split must still deliver every row
    exactly once, across two insert phases and a capped catch-up."""
    rng = random.Random(131)
    base = dt.datetime(2026, 1, 1, 12, 0, 0)

    def phase(n_rows, lo_s, hi_s, id0):
        # ~8 distinct timestamps covering the second-range — guarantees
        # every quantile boundary is a duplicated key
        ticks = sorted(rng.sample(range(lo_s, hi_s), 8))
        ts = [base + dt.timedelta(seconds=rng.choice(ticks))
              for _ in range(n_rows)]
        ids = list(range(id0, id0 + n_rows))
        return pa.table({
            "ts": pa.array(sorted(ts), type=pa.timestamp("us")),
            "id": ids})

    remote.create_table("t_dupk", "ts TIMESTAMP, id BIGINT")
    remote.insert_arrow("t_dupk", phase(1200, 0, 1000, 0))
    stream = tail_remote_table(spark, remote, "t_dupk", "ts",
                               key_type="timestamp", num_partitions=4,
                               max_rows_per_batch=300)
    q = (stream.writeStream.format("memory").queryName("t_dupk_sink")
         .outputMode("append").start())
    try:
        drain_tail_until_stable(q)
        # phase 2: strictly above the committed watermark (the
        # append-only-in-key contract), same duplication shape
        remote.insert_arrow("t_dupk", phase(800, 2000, 3000, 1200))
        drain_tail_until_stable(q)
        got = spark.table("t_dupk_sink").toPandas()
    finally:
        q.stop()
    assert len(got) == 2000
    assert sorted(got["id"].tolist()) == list(range(2000)), \
        "duplicate-key ranges lost or doubled rows"
