"""Concurrent-writer contention stress — the Spark analog of the
reference's max-concurrency / over-subscription write suites
(reference tests/e2e_stress.rs:69-239: 100k rows through 16 concurrent
writers into one table, count + integrity verified, no lost parts).

The reference stresses a connection POOL (writers can deadlock on pool
starvation); Spark's write path is task-parallel with no shared
connection resource, so deadlock is impossible by construction — these
tests provide the evidence-parity: N driver threads appending
concurrently into ONE table through both write paths, then exact
count/sum/distinct verification that no rows were lost or duplicated.
"""

from __future__ import annotations

import uuid
import threading
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from clickhouse_datafusion_spark.sources.remote_engine import RemoteEngine

N_WRITERS = 16
ROWS_PER_WRITER = 6_250  # 16 × 6,250 = 100k rows, the reference's volume


def _writer_slice(spark, w: int):
    """Distinct id range per writer so lost/duplicated rows are detectable
    by count + sum + distinct — the reference's integrity check."""
    lo = w * ROWS_PER_WRITER
    return spark.range(lo, lo + ROWS_PER_WRITER).select(
        F.col("id").cast("bigint"),
        F.concat(F.lit("user_"), F.col("id")).alias("name"),
        (F.col("id") % 97).cast("double").alias("val"))


@pytest.fixture()
def stress_tbl(spark, engine):
    short = f"stress_{uuid.uuid4().hex[:10]}"
    name = f"main.{short}"
    engine.catalog.create_table(
        "main", short, "id BIGINT NOT NULL, name STRING, val DOUBLE")
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_concurrent_insert_into_catalog_table(spark, stress_tbl):
    """16 threads × 6,250 rows through sink.insert_into against ONE catalog
    table: every per-writer count row must report its slice, and the table
    must hold exactly the union (no lost parts, no duplicates)."""
    from clickhouse_datafusion_spark.sink import insert_into

    def write(w: int) -> int:
        res = insert_into(spark, _writer_slice(spark, w), stress_tbl,
                          write_concurrency=2)
        return res.collect()[0]["count"]

    with ThreadPoolExecutor(max_workers=N_WRITERS) as ex:
        counts = list(ex.map(write, range(N_WRITERS)))
    assert counts == [ROWS_PER_WRITER] * N_WRITERS

    total = N_WRITERS * ROWS_PER_WRITER
    agg = spark.table(stress_tbl).agg(
        F.count("*").alias("n"),
        F.countDistinct("id").alias("d"),
        F.sum("id").alias("s")).collect()[0]
    assert agg["n"] == total
    assert agg["d"] == total                      # no duplicated rows
    assert agg["s"] == total * (total - 1) // 2   # no lost/corrupt ids


def test_concurrent_connector_writers(spark, tmp_path):
    """16 threads appending through the clickhouse_native Arrow writer into
    one table directory: one part file per task, atomic-per-writer commit,
    exact union recovered on read-back."""
    from clickhouse_datafusion_spark.sources import (
        ensure_thread_session, register_clickhouse_source)

    register_clickhouse_source(spark)
    d = str(tmp_path / "stress_native")

    def write(w: int) -> None:
        # fresh py4j threads have no JVM active session → Python data
        # source lookup fails without this pin (see sources docstring)
        ensure_thread_session(spark)
        (_writer_slice(spark, w).coalesce(1)
         .write.format("clickhouse_native").option("path", d)
         .mode("append").save())

    with ThreadPoolExecutor(max_workers=N_WRITERS) as ex:
        list(ex.map(write, range(N_WRITERS)))

    back = spark.read.format("clickhouse_native").option("path", d).load()
    total = N_WRITERS * ROWS_PER_WRITER
    agg = back.agg(
        F.count("*").alias("n"),
        F.countDistinct("id").alias("d"),
        F.sum("id").alias("s")).collect()[0]
    assert agg["n"] == total
    assert agg["d"] == total
    assert agg["s"] == total * (total - 1) // 2


# -- concurrent insert_arrow_batches callers sharing ONE remote pool --

def _batches(lo: int, n_batches: int, rows_per: int):
    for i in range(n_batches):
        base = lo + i * rows_per
        yield pa.record_batch(
            [pa.array(range(base, base + rows_per), type=pa.int64())],
            names=["k"])


def test_concurrent_batch_writers_two_tables_one_pool():
    """Two threads stream interleaved batch appends into TWO tables
    through ONE shared pool (pool_size=2, each caller asking for 4
    workers = 8 writers over 2 cursors): no deadlock, no lost or
    cross-wired rows, exact disjoint key sets per table — the
    reference's multi-client stress analog (e2e_stress.rs:241-250)."""
    remote = RemoteEngine(pool_size=2)
    remote.create_table("cc_a", "k BIGINT")
    remote.create_table("cc_b", "k BIGINT")
    errs: list[Exception] = []
    counts = {}

    def writer(table, lo):
        try:
            counts[table] = remote.insert_arrow_batches(
                table, _batches(lo, 40, 25), write_concurrency=4)
        except Exception as e:  # pragma: no cover - fails the assert
            errs.append(e)

    try:
        ts = [threading.Thread(target=writer, args=("cc_a", 0)),
              threading.Thread(target=writer, args=("cc_b", 1_000_000))]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=120)
        assert not errs, errs
        assert counts == {"cc_a": 1000, "cc_b": 1000}
        for table, lo in (("cc_a", 0), ("cc_b", 1_000_000)):
            got = remote.execute(
                f"SELECT CAST(count(*) AS BIGINT) AS n, "
                f"CAST(min(k) AS BIGINT) AS mn, "
                f"CAST(max(k) AS BIGINT) AS mx, "
                f"CAST(count(DISTINCT k) AS BIGINT) AS d FROM {table}")
            n, mn, mx, d = (got.column(i)[0].as_py() for i in range(4))
            assert (n, mn, mx, d) == (1000, lo, lo + 999, 1000)
    finally:
        remote.drop_table("cc_a")
        remote.drop_table("cc_b")


def test_concurrent_writers_same_table_exact_union():
    """Both callers target the SAME table: the union of both key
    ranges lands exactly once each (append-only, no lost update)."""
    remote = RemoteEngine(pool_size=2)
    remote.create_table("cc_s", "k BIGINT")
    errs: list[Exception] = []

    def writer(lo):
        try:
            remote.insert_arrow_batches(
                "cc_s", _batches(lo, 20, 50), write_concurrency=3)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    try:
        ts = [threading.Thread(target=writer, args=(lo,))
              for lo in (0, 500_000)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=120)
        assert not errs, errs
        got = remote.execute(
            "SELECT CAST(count(*) AS BIGINT) AS n, "
            "CAST(count(DISTINCT k) AS BIGINT) AS d FROM cc_s")
        assert (got.column(0)[0].as_py(),
                got.column(1)[0].as_py()) == (2000, 2000)
    finally:
        remote.drop_table("cc_s")
