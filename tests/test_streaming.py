"""Structured Streaming smoke tests: replay the events fixture through a
file source → windowed aggs → memory sink, and cross-check totals against
the same aggregation run in batch mode.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from clickhouse_datafusion_spark.catalog import resolve_parquet_path
from clickhouse_datafusion_spark.sources.remote_engine import RemoteEngine
from clickhouse_datafusion_spark.streaming import (
    read_events_stream,
    run_to_memory_sink,
    session_windows,
    sliding_value_sums,
    tail_remote_table,
    tumbling_counts,
)
from clickhouse_datafusion_spark.streaming.events import (
    drain_tail_until_stable)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """Directory with the events parquet split into a few files (so
    maxFilesPerTrigger yields multiple micro-batches)."""
    d = tmp_path_factory.mktemp("events_stream")
    src = resolve_parquet_path(f"{SF_SMOKE}/events.parquet")
    for i in range(3):
        shutil.copy(src, d / f"part_{i}.parquet")
    # 3 identical files = 3x the data; totals scale by 3 vs batch
    return str(d)


def test_tumbling_window_matches_batch(spark, events_dir):
    # all files in one micro-batch: every watermark-closed window saw the
    # full data, so closed windows must equal the batch aggregation exactly
    # (with 1-file triggers, later copies would correctly be dropped as
    # late data — covered by the subset assertion below anyway)
    stream = tumbling_counts(
        read_events_stream(spark, events_dir, max_files_per_trigger=3))
    name = f"t_{uuid.uuid4().hex[:8]}"
    out = run_to_memory_sink(stream, name)
    got = {(r.w_start, r.event_type): (r.n, r.total) for r in out.collect()}
    assert got, "no windows emitted"

    batch = (spark.read.parquet(events_dir)
             .groupBy(F.window("ts", "1 hour"), "event_type")
             .agg(F.count("*").alias("n"), F.sum("value").alias("total")))
    want = {(r["window"].start, r.event_type): (r.n, r.total)
            for r in batch.collect()}
    # append mode emits only watermark-closed windows → subset of batch
    assert set(got) <= set(want)
    assert len(got) >= len(want) // 2
    for k, (n, total) in got.items():
        assert want[k][0] == n
        # stream totals are exact decimals; batch comparator is a double sum
        assert abs(want[k][1] - float(total)) < 1e-6


def test_sliding_and_session_windows_run(spark, events_dir):
    out1 = run_to_memory_sink(
        sliding_value_sums(read_events_stream(spark, events_dir)),
        f"s_{uuid.uuid4().hex[:8]}")
    assert out1.count() > 0
    out2 = run_to_memory_sink(
        session_windows(read_events_stream(spark, events_dir)),
        f"sess_{uuid.uuid4().hex[:8]}")
    rows = out2.collect()
    assert rows and all(r.s_end >= r.s_start for r in rows)


def test_stateful_running_totals(spark, events_dir):
    from clickhouse_datafusion_spark.streaming.events import (
        running_user_totals_stateful)

    stream = running_user_totals_stateful(read_events_stream(spark, events_dir))
    out = run_to_memory_sink(stream, f"st_{uuid.uuid4().hex[:8]}")
    rows = out.collect()
    assert rows
    # final state per user must equal the batch totals
    final = {}
    for r in rows:  # later batches append updated rows; keep max n
        if r.user_id not in final or r.n_events > final[r.user_id][0]:
            final[r.user_id] = (r.n_events, r.total)
    batch = {r.user_id: (r.n, r.total) for r in
             spark.read.parquet(events_dir).groupBy("user_id")
             .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
             .collect()}
    assert set(final) == set(batch)
    for uid, (n, total) in final.items():
        assert batch[uid][0] == n and abs(batch[uid][1] - total) < 1e-6


def test_streaming_dedup_by_event_id(spark, events_dir):
    """3 identical files replayed file-per-trigger: every event_id after the
    first delivery is a duplicate held in watermark state → output equals
    ONE copy exactly."""
    from clickhouse_datafusion_spark.streaming import dedup_stream

    stream = dedup_stream(
        read_events_stream(spark, events_dir, max_files_per_trigger=1))
    name = f"dd_{uuid.uuid4().hex[:8]}"
    out = run_to_memory_sink(stream, name)
    one_copy = spark.read.parquet(f"{events_dir}/part_0.parquet")
    assert out.count() == one_copy.count()
    assert out.select("event_id").distinct().count() == one_copy.count()


def test_streaming_dedup_by_content(spark, events_dir):
    from clickhouse_datafusion_spark.streaming import dedup_content_stream

    stream = dedup_content_stream(
        read_events_stream(spark, events_dir, max_files_per_trigger=1))
    name = f"dc_{uuid.uuid4().hex[:8]}"
    out = run_to_memory_sink(stream, name)
    one_copy = spark.read.parquet(f"{events_dir}/part_0.parquet")
    n_distinct = (one_copy.select("user_id", "event_type", "value", "props")
                  .distinct().count())
    assert out.count() == n_distinct
    # schema passes through unchanged (helper column dropped)
    assert out.columns == one_copy.columns


def test_st_entries_restore_session_timezone(spark):
    """The st* registry entries pin UTC internally but must not leak it:
    under a non-UTC session the result is identical (eagerly materialized
    inside the UTC context) and the caller's timezone survives (r4
    advice: the old one-way set leaked into later tz-sensitive queries)."""
    from clickhouse_datafusion_spark.queries import QUERIES

    fn = QUERIES["st1_streaming_tumbling"].spark_fn
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        got = {tuple(r) for r in fn(spark, SF_SMOKE).collect()}
        assert spark.conf.get("spark.sql.session.timeZone") == \
            "America/New_York", "st1 leaked its UTC pin"
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        want = {tuple(r) for r in fn(spark, SF_SMOKE).collect()}
        assert got == want, "non-UTC session shifted the st1 output"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_stream_static_enrich_matches_batch_join(spark, events_dir):
    """Stream-static inner join must emit exactly the batch join's rows:
    every replayed event enriched once, none dropped, none duplicated
    (file-per-trigger replay exercises the per-micro-batch re-join)."""
    from clickhouse_datafusion_spark.streaming import stream_static_enrich

    dim = spark.createDataFrame(
        [(i, f"seg_{i % 3}") for i in range(50)], "k bigint, segment string")
    stream = stream_static_enrich(
        read_events_stream(spark, events_dir, max_files_per_trigger=1),
        dim, F.col("user_id") % 50, "k")
    name = f"se_{uuid.uuid4().hex[:8]}"
    out = run_to_memory_sink(stream, name)
    got = {(r.event_id, r.segment) for r in
           out.select("event_id", "segment").collect()}
    batch = (spark.read.parquet(events_dir)
             .join(dim, F.col("user_id") % 50 == F.col("k")))
    want = {(r.event_id, r.segment) for r in
            batch.select("event_id", "segment").collect()}
    assert got == want
    assert out.count() == batch.count()  # multiplicity, not just the set


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Inner interval stream-stream join is append-complete: a bounded
    replay must emit exactly the batch self-join's matched pairs."""
    from clickhouse_datafusion_spark.streaming import (
        stream_stream_interval_join,
    )

    src = resolve_parquet_path(f"{SF_SMOKE}/events.parquet")
    d = tmp_path / "ss_join"
    d.mkdir()
    shutil.copy(src, d / "all.parquet")  # one file = one micro-batch
    views = read_events_stream(spark, str(d)).filter(
        F.col("event_type") == "view")
    clicks = read_events_stream(spark, str(d)).filter(
        F.col("event_type") == "click")
    out = run_to_memory_sink(
        stream_stream_interval_join(views, clicks, within="30 minutes"),
        f"ssj_{uuid.uuid4().hex[:8]}")
    got = {(r.l_event_id, r.r_event_id) for r in
           out.select("l_event_id", "r_event_id").collect()}

    ev = spark.read.parquet(str(d))
    v = ev.filter(F.col("event_type") == "view").alias("v")
    c = ev.filter(F.col("event_type") == "click").alias("c")
    batch = v.join(c, (F.col("v.user_id") == F.col("c.user_id"))
                   & (F.col("c.ts") >= F.col("v.ts"))
                   & (F.col("c.ts") <= F.col("v.ts")
                      + F.expr("INTERVAL 30 minutes")))
    want = {(r[0], r[1]) for r in
            batch.select("v.event_id", "c.event_id").collect()}
    assert got == want and len(got) > 0


def test_stream_stream_outer_join_seal_semantics(spark, tmp_path):
    """Left-outer emission = matched pairs + unmatched lefts sealed by the
    global watermark, where the watermark is the min over PER-SIDE
    filtered maxima (the subtlety the st6 oracle encodes)."""
    import datetime

    from clickhouse_datafusion_spark.streaming import (
        stream_stream_interval_join,
    )

    src = resolve_parquet_path(f"{SF_SMOKE}/events.parquet")
    d = tmp_path / "ss_outer"
    d.mkdir()
    shutil.copy(src, d / "all.parquet")
    views = read_events_stream(spark, str(d)).filter(
        F.col("event_type") == "view")
    clicks = read_events_stream(spark, str(d)).filter(
        F.col("event_type") == "click")
    out = run_to_memory_sink(
        stream_stream_interval_join(views, clicks, how="left_outer"),
        f"ssl_{uuid.uuid4().hex[:8]}")
    nulls = {r.l_event_id for r in
             out.filter(F.col("r_event_id").isNull()).collect()}

    ev = spark.read.parquet(str(d))
    mx_v = ev.filter(F.col("event_type") == "view").agg(F.max("ts")).first()[0]
    mx_c = ev.filter(F.col("event_type") == "click").agg(F.max("ts")).first()[0]
    wm = min(mx_v, mx_c) - datetime.timedelta(hours=2)
    v = ev.filter(F.col("event_type") == "view").alias("v")
    c = ev.filter(F.col("event_type") == "click").alias("c")
    jc = ((F.col("v.user_id") == F.col("c.user_id"))
          & (F.col("c.ts") >= F.col("v.ts"))
          & (F.col("c.ts") <= F.col("v.ts") + F.expr("INTERVAL 30 minutes")))
    unmatched = v.join(c, jc, "left_anti")
    sealed = {r.event_id for r in unmatched.filter(
        F.col("ts") + F.expr("INTERVAL 30 minutes") <= F.lit(wm)).collect()}
    assert nulls == sealed and len(sealed) > 0
    # views newer than the per-side watermark must NOT have emitted nulls
    fresh = {r.event_id for r in unmatched.filter(
        F.col("ts") + F.expr("INTERVAL 30 minutes") > F.lit(wm)).collect()}
    assert fresh and not (fresh & nulls)


def test_dedup_against_corpus_matches_batch(spark, tmp_path):
    """Stream-static anti-join dedup: the replayed stream must emit
    exactly the batch anti-join's distinct content."""
    from clickhouse_datafusion_spark.streaming import dedup_against_corpus

    src = resolve_parquet_path(f"{SF_SMOKE}/events.parquet")
    d = tmp_path / "corpus_dedup"
    d.mkdir()
    shutil.copy(src, d / "all.parquet")
    ev = spark.read.parquet(str(d))
    cols = ["user_id", "event_type", "value", "props"]
    seen = (ev.filter(F.col("event_id") < 500)
            .select(F.md5(F.concat_ws("\x1f", *cols)).alias("h")).distinct())
    out = run_to_memory_sink(
        dedup_against_corpus(read_events_stream(spark, str(d)), seen),
        f"cd_{uuid.uuid4().hex[:8]}")
    got = {tuple(r) for r in out.select(*cols).collect()}

    batch = (ev.withColumn("_h", F.md5(F.concat_ws("\x1f", *cols)))
             .join(seen.withColumnRenamed("h", "_h"), "_h", "left_anti")
             .select(*cols).distinct())
    want = {tuple(r) for r in batch.collect()}
    assert got == want and 0 < len(got) < ev.count()


def test_stream_upsert_snapshot_batch_split_invariant(spark, tmp_path):
    """The merged final state must equal the global per-key argmax no
    matter how rows are split into micro-batches — including an
    adversarial split where a key's NEWEST row arrives in an EARLIER
    batch than an older row (plain batch-order last-write-wins fails
    this); every batch commit remains a pinnable version."""
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.layout import (
        list_snapshots, read_snapshot)
    from clickhouse_datafusion_spark.streaming import (
        read_events_stream, stream_upsert_snapshot)
    from clickhouse_datafusion_spark.streaming.events import EVENTS_SCHEMA

    rows = [
        # user 1: newest (ts=300) lands in FILE 0, older in file 1
        Row(event_id=10, ts=300, user_id=1, event_type="new", value=3.0),
        Row(event_id=11, ts=100, user_id=1, event_type="old", value=1.0),
        # user 2: newest in the last file (the easy direction)
        Row(event_id=20, ts=100, user_id=2, event_type="old", value=1.0),
        Row(event_id=21, ts=400, user_id=2, event_type="new", value=4.0),
        # user 3: ts tie broken by event_id
        Row(event_id=30, ts=500, user_id=3, event_type="a", value=1.0),
        Row(event_id=31, ts=500, user_id=3, event_type="b", value=2.0),
    ]

    def to_df(rs):
        return spark.createDataFrame(
            [Row(event_id=r.event_id,
                 ts=__import__("datetime").datetime(2024, 1, 1, 0, 0, 0,
                                                    r.ts * 100),
                 user_id=r.user_id, event_type=r.event_type,
                 value=r.value, props="{}") for r in rs], EVENTS_SCHEMA)

    want = {1: "new", 2: "new", 3: "b"}
    for split_name, files in (
            ("adversarial", [[rows[0]], [rows[1], rows[2]],
                             [rows[3], rows[4]], [rows[5]]]),
            ("single", [rows])):
        src = tmp_path / f"src_{split_name}"
        src.mkdir()
        for i, chunk in enumerate(files):
            to_df(chunk).coalesce(1).write.parquet(str(src / f"f_{i:02d}"))
        # flatten nested dirs into one file-per-batch layout
        flat = tmp_path / f"flat_{split_name}"
        flat.mkdir()
        import glob
        import shutil as sh
        for i, d in enumerate(sorted(glob.glob(str(src / "f_*")))):
            pq = glob.glob(os.path.join(d, "*.parquet"))[0]
            sh.copy(pq, flat / f"{i:02d}.parquet")
        snap = str(tmp_path / f"snap_{split_name}")
        stream_upsert_snapshot(
            read_events_stream(spark, str(flat), max_files_per_trigger=1),
            snap)
        got = {r.user_id: r.event_type
               for r in read_snapshot(spark, snap).collect()}
        assert got == want, (split_name, got)
        assert len(list_snapshots(snap)) >= 1   # every commit pinnable


def test_dedup_state_evicts_behind_watermark(spark, tmp_path):
    """r8 verdict task 5 (eviction bound): dropDuplicatesWithinWatermark
    state must be bounded by the WATERMARK HORIZON's key population, not
    the corpus — the property that makes ingestion-time dedup viable at
    100 TB. Three micro-batches of 2,000 distinct keys each, one day
    apart in event time, watermark 1 hour: by batch 3 the first two
    batches' keys are far behind the watermark and must be GONE from the
    state store (asserted from StreamingQueryProgress.stateOperators —
    the same metric a production monitor reads)."""
    import datetime as dt
    import json as _json
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from clickhouse_datafusion_spark.streaming import dedup_stream

    d = tmp_path / "evict"
    d.mkdir()
    base = dt.datetime(2024, 1, 1)
    n, batches = 2000, 5
    now = _time.time()
    for b in range(batches):
        # flat FILES (pyarrow), not df.write.parquet directories — the
        # file stream does not descend into non-partition subdirs
        tbl = pa.table({
            "event_id": pa.array([b * 1_000_000 + i for i in range(n)],
                                 pa.int64()),
            "ts": pa.array([base + dt.timedelta(days=b, seconds=i % 600)
                            for i in range(n)], pa.timestamp("us")),
            "user_id": pa.array([i % 50 for i in range(n)], pa.int64()),
            "event_type": pa.array(["click"] * n),
            "value": pa.array([float(i) for i in range(n)]),
            "props": pa.array(["p"] * n),
        })
        p = str(d / f"b{b}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (now + b, now + b))   # file source orders by modTime
    stream = dedup_stream(
        read_events_stream(spark, str(d), max_files_per_trigger=1),
        watermark="1 hour")
    name = f"ev_{uuid.uuid4().hex[:8]}"
    q = (stream.writeStream.outputMode("append").format("memory")
         .queryName(name).start())
    try:
        q.processAllAvailable()
        prog = [_json.loads(p.json) for p in q.recentProgress
                if p.numInputRows > 0 and _json.loads(p.json)
                .get("stateOperators")]
    finally:
        q.stop()
    state_rows = [p["stateOperators"][0]["numRowsTotal"] for p in prog]
    assert len(state_rows) >= batches
    # the committed state holds at most the current batch's keys plus the
    # previous batch's (eviction lags one commit: a batch's keys leave
    # when the NEXT batch advances the watermark past them) — bounded by
    # the horizon-adjacent population, never approaching the corpus size
    assert max(state_rows) <= 2 * n, state_rows
    assert state_rows[-1] <= 2 * n < batches * n, state_rows
    # nothing was lost: every distinct event_id flowed through
    assert (spark.sql(f"SELECT count(*) FROM {name}").first()[0]
            == batches * n)


def test_stream_to_remote_table_federated_sink(spark, tmp_path):
    """r12: the streaming federated sink drains a file stream into a
    writable remote table micro-batch by micro-batch through
    engine.append_remote — totals match the batch read exactly, and the
    same stream lands identically under the executor_direct plane."""
    import shutil

    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine
    from clickhouse_datafusion_spark.sources.remote_engine import (
        RemoteEngine)
    from clickhouse_datafusion_spark.streaming.events import (
        read_events_stream, stream_to_remote_table)
    from tests.conftest import SF_SMOKE
    from clickhouse_datafusion_spark.catalog import resolve_parquet_path

    d = tmp_path / "ev"
    d.mkdir()
    src = resolve_parquet_path(f"{SF_SMOKE}/events.parquet")
    for i in range(3):
        shutil.copy(src, d / f"part_{i}.parquet")
    want = spark.read.parquet(str(d)).count()

    eng = ClickHouseSparkEngine(spark)
    remote = RemoteEngine(pool_size=4)
    eng.attach_remote(remote, db="remote")
    remote.create_table(
        "ev_sink", "event_id BIGINT, user_id BIGINT, event_type VARCHAR, "
        "ts TIMESTAMP, value BIGINT")

    def drained():
        return remote.execute(
            "SELECT CAST(count(*) AS BIGINT) FROM ev_sink"
        ).column(0)[0].as_py()

    try:
        stream = read_events_stream(spark, str(d),
                                    max_files_per_trigger=1) \
            .select("event_id", "user_id", "event_type", "ts", "value")
        n = stream_to_remote_table(stream, eng, "ev_sink")
        assert n == want
        assert drained() == want
        assert eng.last_remote_insert == "arrow-stream"
        # executor_direct plane: same totals
        remote.start_ingest_server()
        eng.write_mode = "executor_direct"
        n2 = stream_to_remote_table(stream, eng, "ev_sink")
        assert n2 == want
        assert drained() == 2 * want
        assert eng.last_remote_insert == "executor-direct"
        # direct-arrow plane (r13): the trigger-bounded fast path —
        # same totals, and exactly-once rides it too (the single-
        # cursor transactional drain is plane-independent)
        eng.write_mode = "direct"
        n3 = stream_to_remote_table(stream, eng, "ev_sink")
        assert n3 == want
        assert drained() == 3 * want
        assert eng.last_remote_insert == "direct-arrow"
        n4 = stream_to_remote_table(stream, eng, "ev_sink",
                                    exactly_once=True, sink_id="d1")
        assert n4 == want and drained() == 4 * want
        assert eng.last_remote_insert == "exactly-once-txn"
        # replayed run (same sink_id, ids restart): skipped whole
        n5 = stream_to_remote_table(stream, eng, "ev_sink",
                                    exactly_once=True, sink_id="d1")
        assert n5 == 0 and drained() == 4 * want
    finally:
        eng.write_mode = "spool"
        remote.stop_ingest_server()
        remote.drop_table("ev_sink")
        remote.drop_table("ev_sink__commits", if_exists=True)


def test_stream_to_remote_table_exactly_once(spark, tmp_path):
    """r12: the EXACTLY-ONCE sink. A replay of the same logical stream
    (same sink_id, same batch ids — the shape foreachBatch produces
    after a crash-restart from the checkpoint) appends NOTHING; a
    different sink_id namespaces a genuinely new stream into the same
    table. The commit log carries one marker per non-empty batch."""
    import shutil

    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine
    from clickhouse_datafusion_spark.sources.remote_engine import (
        RemoteEngine)
    from clickhouse_datafusion_spark.streaming.events import (
        read_events_stream, stream_to_remote_table)
    from tests.conftest import SF_SMOKE
    from clickhouse_datafusion_spark.catalog import resolve_parquet_path

    d = tmp_path / "ev1"
    d.mkdir()
    src = resolve_parquet_path(f"{SF_SMOKE}/events.parquet")
    for i in range(3):
        shutil.copy(src, d / f"part_{i}.parquet")
    want = spark.read.parquet(str(d)).count()

    eng = ClickHouseSparkEngine(spark)
    remote = RemoteEngine(pool_size=4)
    eng.attach_remote(remote, db="remote")
    remote.create_table(
        "ev_x1", "event_id BIGINT, user_id BIGINT, event_type VARCHAR, "
        "ts TIMESTAMP, value BIGINT")

    def drained():
        return remote.execute(
            "SELECT CAST(count(*) AS BIGINT) FROM ev_x1"
        ).column(0)[0].as_py()

    try:
        def stream():
            return read_events_stream(spark, str(d),
                                      max_files_per_trigger=1) \
                .select("event_id", "user_id", "event_type", "ts", "value")

        # exactly_once without a checkpoint requires an EXPLICIT
        # sink_id (r13 ADVICE: batch ids restart at 0 per invocation,
        # so the default table-name sink_id would silently skip new
        # batches colliding with a prior run's markers)
        import pytest

        with pytest.raises(ValueError, match="checkpoint_location"):
            stream_to_remote_table(stream(), eng, "ev_x1",
                                   exactly_once=True)
        n = stream_to_remote_table(stream(), eng, "ev_x1",
                                   exactly_once=True, sink_id="ev_x1")
        assert n == want
        assert drained() == want
        # one marker per non-empty micro-batch (3 files x 1 per trigger)
        marks = remote.execute(
            "SELECT CAST(count(*) AS BIGINT) FROM ev_x1__commits "
            "WHERE sink_id = 'ev_x1'").column(0)[0].as_py()
        assert marks == 3
        # crash-replay: same sink_id, batch ids restart at 0 -> every
        # batch's marker already exists -> nothing appends (this is
        # run-scoped semantics, OWNED by the caller who reuses the id)
        n2 = stream_to_remote_table(stream(), eng, "ev_x1",
                                    exactly_once=True, sink_id="ev_x1")
        assert n2 == 0
        assert drained() == want
        # a NEW logical stream into the same table: its own namespace
        n3 = stream_to_remote_table(stream(), eng, "ev_x1",
                                    exactly_once=True, sink_id="run2")
        assert n3 == want
        assert drained() == 2 * want
    finally:
        remote.drop_table("ev_x1")
        remote.drop_table("ev_x1__commits", if_exists=True)


def test_exactly_once_checkpointed_across_invocations(spark, tmp_path):
    """r13 (ADVICE): the DURABLE exactly-once shape. Without a
    checkpoint, batch ids restart at 0 per invocation, so a source
    that gained data between runs would reuse (sink_id, batch_id)
    pairs and the new rows would be silently skipped. WITH a
    checkpoint_location the WAL advances batch ids across invocations
    — a second run over a grown source appends exactly the delta, and
    an unchanged source appends nothing."""
    import shutil

    from clickhouse_datafusion_spark.catalog import resolve_parquet_path
    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine
    from clickhouse_datafusion_spark.sources.remote_engine import (
        RemoteEngine)
    from clickhouse_datafusion_spark.streaming.events import (
        read_events_stream, stream_to_remote_table)
    from tests.conftest import SF_SMOKE

    d = tmp_path / "ev_ck"
    d.mkdir()
    src = resolve_parquet_path(f"{SF_SMOKE}/events.parquet")
    per_file = spark.read.parquet(src).count()
    for i in range(2):
        shutil.copy(src, d / f"part_{i}.parquet")
    ckpt = str(tmp_path / "eo_ckpt")

    eng = ClickHouseSparkEngine(spark)
    remote = RemoteEngine(pool_size=4)
    eng.attach_remote(remote, db="remote")
    remote.create_table(
        "ev_ck", "event_id BIGINT, user_id BIGINT, event_type VARCHAR, "
        "ts TIMESTAMP, value BIGINT")

    def run():
        stream = read_events_stream(spark, str(d),
                                    max_files_per_trigger=1) \
            .select("event_id", "user_id", "event_type", "ts", "value")
        # default sink_id is fine HERE: the checkpoint makes batch ids
        # stable identities across invocations
        return stream_to_remote_table(stream, eng, "ev_ck",
                                      exactly_once=True,
                                      checkpoint_location=ckpt)

    def drained():
        return remote.execute(
            "SELECT CAST(count(*) AS BIGINT) FROM ev_ck"
        ).column(0)[0].as_py()

    try:
        assert run() == 2 * per_file
        assert drained() == 2 * per_file
        # the source GAINS data between invocations — the scenario a
        # non-checkpointed rerun silently drops
        shutil.copy(src, d / "part_2.parquet")
        assert run() == per_file          # exactly the delta
        assert drained() == 3 * per_file  # nothing lost, nothing doubled
        assert run() == 0                 # unchanged source: no-op
        assert drained() == 3 * per_file
    finally:
        remote.drop_table("ev_ck")
        remote.drop_table("ev_ck__commits", if_exists=True)


def test_append_remote_exactly_once_atomic_rollback(spark):
    """The commit marker is atomic WITH the rows: a batch that fails
    mid-transaction leaves neither rows nor marker (the retry with the
    same batch_id appends, once), and a committed batch_id is skipped
    whole on replay — the no-rows-without-marker /
    no-marker-without-rows invariant that makes the sink exactly-once
    rather than at-least-once-with-dedup-races."""
    import pytest

    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine
    from clickhouse_datafusion_spark.sources.remote_engine import (
        RemoteEngine)

    eng = ClickHouseSparkEngine(spark)
    remote = RemoteEngine(pool_size=2)
    eng.attach_remote(remote, db="remote")
    remote.create_table("x1_tbl", "k BIGINT")

    def count(sql):
        return remote.execute(sql).column(0)[0].as_py()

    try:
        bad = spark.range(5).selectExpr("id AS k", "id AS extra")
        with pytest.raises(Exception):
            eng.append_remote_exactly_once("x1_tbl", bad, 7)
        # neither rows nor marker survived the rollback
        assert count("SELECT CAST(count(*) AS BIGINT) FROM x1_tbl") == 0
        assert count("SELECT CAST(count(*) AS BIGINT) "
                     "FROM x1_tbl__commits WHERE batch_id = 7") == 0
        # the retry with the SAME id appends exactly once
        good = spark.range(5).selectExpr("id AS k")
        assert eng.append_remote_exactly_once("x1_tbl", good, 7) == 5
        assert eng.last_remote_insert == "exactly-once-txn"
        assert eng.append_remote_exactly_once("x1_tbl", good, 7) == 0
        assert eng.last_remote_insert == "exactly-once-skip"
        assert count("SELECT CAST(count(*) AS BIGINT) FROM x1_tbl") == 5
        # an EMPTY committed batch still lands its marker, so its
        # replay skips without a distributed job's worth of work
        empty = good.limit(0)
        assert eng.append_remote_exactly_once("x1_tbl", empty, 8) == 0
        assert count("SELECT CAST(count(*) AS BIGINT) "
                     "FROM x1_tbl__commits WHERE batch_id = 8") == 1
        assert eng.append_remote_exactly_once("x1_tbl", empty, 8) == 0
        assert eng.last_remote_insert == "exactly-once-skip"
    finally:
        remote.drop_table("x1_tbl")
        remote.drop_table("x1_tbl__commits", if_exists=True)


def test_exactly_once_zombie_writer_fenced(spark):
    """Two concurrent writers claiming the SAME (sink_id, batch_id) —
    the lingering pre-restart query racing its replacement — both pass
    the marker pre-check, but the commit log's PRIMARY KEY lets only
    one transaction commit: the loser rolls back rows and marker
    together, so the sink lands the batch EXACTLY once even under the
    zombie race."""
    import threading

    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine
    from clickhouse_datafusion_spark.sources.remote_engine import (
        RemoteEngine)

    eng = ClickHouseSparkEngine(spark)
    remote = RemoteEngine(pool_size=4)
    eng.attach_remote(remote, db="remote")
    remote.create_table("zw_tbl", "k BIGINT")
    df = spark.range(2000).selectExpr("id AS k")
    df.count()                       # materialize outside the race
    results, errors = [], []

    def writer():
        try:
            results.append(
                eng.append_remote_exactly_once("zw_tbl", df, 42))
        except Exception as e:       # the fenced loser
            errors.append(e)

    try:
        ts = [threading.Thread(target=writer) for _ in range(3)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        n = remote.execute(
            "SELECT CAST(count(*) AS BIGINT) FROM zw_tbl"
        ).column(0)[0].as_py()
        assert n == 2000             # exactly once, never 4000/6000
        marks = remote.execute(
            "SELECT CAST(count(*) AS BIGINT) FROM zw_tbl__commits"
        ).column(0)[0].as_py()
        assert marks == 1
        # winners append 2000 or skip with 0; losers raise — and a
        # post-race replay skips cleanly
        assert sorted(r for r in results if r) in ([], [2000])
        assert eng.append_remote_exactly_once("zw_tbl", df, 42) == 0
    finally:
        remote.drop_table("zw_tbl")
        remote.drop_table("zw_tbl__commits", if_exists=True)


def test_stream_to_remote_table_exactly_once_executor_direct(
        spark, tmp_path):
    """r14: the exactly-once streaming sink over the executor_direct
    plane, end-to-end — per-partition wire transactions with partition
    markers, whole-batch markers per micro-batch, crash-replay appends
    nothing, and values match the spool plane's run bit-for-bit."""
    import shutil

    from clickhouse_datafusion_spark.catalog import resolve_parquet_path
    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine
    from clickhouse_datafusion_spark.sources.remote_engine import (
        RemoteEngine)
    from clickhouse_datafusion_spark.streaming.events import (
        read_events_stream, stream_to_remote_table)
    from tests.conftest import SF_SMOKE

    d = tmp_path / "evxd"
    d.mkdir()
    src = resolve_parquet_path(f"{SF_SMOKE}/events.parquet")
    for i in range(3):
        shutil.copy(src, d / f"part_{i}.parquet")
    want = spark.read.parquet(str(d)).count()

    eng = ClickHouseSparkEngine(spark)
    remote = RemoteEngine(pool_size=4)
    eng.attach_remote(remote, db="remote")
    remote.start_ingest_server()
    eng.write_mode = "executor_direct"
    cols = "event_id BIGINT, user_id BIGINT, event_type VARCHAR, " \
           "ts TIMESTAMP, value BIGINT"
    remote.create_table("ev_xd", cols)
    remote.create_table("ev_sp", cols)

    def stream():
        return read_events_stream(spark, str(d),
                                  max_files_per_trigger=1) \
            .select("event_id", "user_id", "event_type", "ts", "value")

    def scalar(sql):
        return remote.execute(sql).column(0)[0].as_py()

    try:
        n = stream_to_remote_table(stream(), eng, "ev_xd",
                                   exactly_once=True, sink_id="xd")
        assert n == want
        assert scalar("SELECT count(*) FROM ev_xd") == want
        # one whole-batch marker per micro-batch, plus >=1 partition
        # marker per batch in the sink#bN namespace
        assert scalar("SELECT count(*) FROM ev_xd__commits "
                      "WHERE sink_id = 'xd'") == 3
        assert scalar("SELECT count(*) FROM ev_xd__commits "
                      "WHERE sink_id LIKE 'xd#b%'") >= 3
        # crash-replay (same sink_id, batch ids restart): nothing lands
        assert stream_to_remote_table(stream(), eng, "ev_xd",
                                      exactly_once=True,
                                      sink_id="xd") == 0
        assert scalar("SELECT count(*) FROM ev_xd") == want
        # plane identity: the spool plane's run is value-identical
        eng.write_mode = "spool"
        stream_to_remote_table(stream(), eng, "ev_sp",
                               exactly_once=True, sink_id="sp")
        q = ("SELECT CAST(count(*) AS BIGINT), "
             "CAST(sum(event_id * 31 + value) AS BIGINT), "
             "CAST(bit_xor(CAST(epoch_us(ts) AS BIGINT)) AS BIGINT) "
             "FROM {}")
        assert (remote.execute(q.format("ev_xd")).to_pylist()
                == remote.execute(q.format("ev_sp")).to_pylist())
    finally:
        eng.write_mode = "spool"
        remote.stop_ingest_server()
        for t in ("ev_xd", "ev_xd__commits", "ev_sp", "ev_sp__commits"):
            remote.drop_table(t, if_exists=True)


@pytest.fixture()
def remote():
    r = RemoteEngine(pool_size=3)   # small pool: force contention
    yield r
    r.stop_ingest_server()


def test_self_referential_cdc_loop_converges(spark, remote, tmp_path):
    """Tail table T and exactly-once-append the transform BACK INTO T
    (sink == source — the feedback cycle). Each written generation
    re-enters the tail; with the transform forwarding only gen < 3,
    the loop must CONVERGE to exactly one row per (origin, generation)
    for generations 0..3 — exactly-once on every lap of the cycle.
    Keys are re-minted above the current high-water mark per lap, so
    the append-only-in-key contract holds around the loop."""
    from pyspark.sql import functions as F

    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine

    eng = ClickHouseSparkEngine(spark)
    eng.attach_remote(remote, db="remote")
    N, GENS = 200, 3
    remote.create_table("t_loop", "k BIGINT, origin BIGINT, gen BIGINT")
    remote.insert_arrow("t_loop", pa.table({
        "k": list(range(1, N + 1)),
        "origin": list(range(1, N + 1)),
        "gen": [0] * N}))

    stream = tail_remote_table(spark, remote, "t_loop", "k")

    def lap(batch, bid):
        fwd = (batch.filter(F.col("gen") < GENS)
               .select((F.col("k") + 1_000_000).alias("k"), "origin",
                       (F.col("gen") + 1).alias("gen")))
        if not fwd.isEmpty():
            eng.append_remote_exactly_once("t_loop", fwd, bid,
                                           sink_id="loop")

    q = (stream.writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "loop_ckpt"))
         .foreachBatch(lap).start())
    try:
        drain_tail_until_stable(q, stable_rounds=3)
    finally:
        q.stop()
    tbl = remote.execute(
        "SELECT CAST(gen AS BIGINT) AS gen, "
        "CAST(count(*) AS BIGINT) AS n, "
        "CAST(count(DISTINCT origin) AS BIGINT) AS d "
        "FROM t_loop GROUP BY gen ORDER BY gen").to_pydict()
    assert tbl["gen"] == [0, 1, 2, 3]
    assert tbl["n"] == [N] * 4, f"a lap doubled or dropped rows: {tbl}"
    assert tbl["d"] == [N] * 4
    total = remote.execute(
        "SELECT CAST(count(*) AS BIGINT) FROM t_loop"
    ).column(0)[0].as_py()
    assert total == (GENS + 1) * N
