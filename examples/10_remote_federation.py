"""Remote-engine federation (reference examples/05 + the whole-subtree
analyzer in src/context.rs): attach a pooled remote engine, ship
eligible statements whole, fall back locally, and INSERT through the
pool."""

from _common import SF_DIR, engine

from clickhouse_datafusion_spark.sources.remote_engine import RemoteEngine

eng = engine()

remote = RemoteEngine(pool_size=4)
remote.register_parquet_dir(SF_DIR, tables=["orders", "customer"])
eng.attach_remote(remote, db="remote", local_twin_dir=SF_DIR)

# Both tables are remote -> the whole join+aggregate executes in the
# remote engine; only the 5-row result crosses the seam.
eng.sql("""
    SELECT c.c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n
    FROM clickhouse.remote.orders o
    JOIN clickhouse.remote.customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY n DESC
""").show()
print("shipped remote SQL:", eng.last_remote_sql)

# The dialect gate keeps same-name traps local (Spark LOG is ln,
# the remote engine's LOG is log10) — this runs on the local twin.
eng.sql("""
    SELECT round(log(o_totalprice), 4) AS ln_price
    FROM clickhouse.remote.orders ORDER BY o_orderkey LIMIT 3
""").show()
print("stayed local:", eng.last_remote_sql is None)

# Federated INSERT: an all-remote source ships whole (remote-side
# INSERT..SELECT — no data crosses the seam).
remote.create_table("order_digest", "status VARCHAR, n BIGINT")
eng.sql("""
    INSERT INTO clickhouse.remote.order_digest
    SELECT o_orderstatus, CAST(count(*) AS BIGINT)
    FROM clickhouse.remote.orders GROUP BY o_orderstatus
""").show()
eng.sql("SELECT * FROM clickhouse.remote.order_digest ORDER BY n DESC").show()

# r10: the STREAMED hand-back — a shippable statement that is not
# output-reducing (no aggregate/LIMIT) never materializes on the
# driver; it flows batch-by-batch through a parquet spool into a
# distributed scan (the reference's RecordBatchStream contract).
wide = eng.sql("""
    SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS p
    FROM clickhouse.remote.orders WHERE o_orderstatus <> 'P'
""")
print("streamed rows:", wide.count(), "| shipped:", eng.last_remote_sql)

# r10: remote DDL through the SQL front door — CREATE/DROP/CTAS on the
# remote db route to the attached engine; SHOW TABLES re-lists the
# LIVE remote catalog (refresh-on-read).
eng.sql("""
    CREATE TABLE clickhouse.remote.seg_digest AS
    SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n
    FROM clickhouse.remote.customer GROUP BY c_mktsegment
""")
print("remote CTAS shipped:", eng.last_remote_sql)
eng.sql("SHOW TABLES FROM remote").show()
eng.sql("SELECT * FROM clickhouse.remote.seg_digest ORDER BY n DESC").show()
eng.sql("DROP TABLE clickhouse.remote.seg_digest")

# r10d: federation diagnostics — WHY did a statement ship or stay
# local? remote_decision() dry-runs the gate; EXPLAIN prepends the
# verdict (RemoteEngineExec + shipped SQL, or the refusal reason) to
# the plan text; last_remote_refusal records it per statement.
print(eng.remote_decision(
    "SELECT count(*) AS n FROM clickhouse.remote.orders"))
print(eng.remote_decision(
    "SELECT o_orderkey ^ 2 AS v FROM clickhouse.remote.orders LIMIT 1"))
print(eng.sql("EXPLAIN SELECT count(*) AS n FROM clickhouse.remote.orders")
      .collect()[0][0].split("\n")[1])

# Write data planes. Default = the streamed driver spool (bounded
# memory, single-client parity with the reference sink,
# src/sink.rs:102-211). For a server-mode remote reachable from
# executors, write_mode="executor_direct" streams each source partition
# straight to the remote's Arrow ingest endpoint — the driver never
# touches a row, and each partition appends in ONE remote transaction
# (task retries re-stream atomically). Without an ingest server it
# falls back to the spool.
remote.create_table("order_wide", "k BIGINT, v DOUBLE")
addr = remote.start_ingest_server()     # (host, port), loopback here
eng.write_mode = "executor_direct"
eng.sql("""
    INSERT INTO clickhouse.remote.order_wide
    SELECT CAST(o_orderkey AS BIGINT), log(o_totalprice)
    FROM clickhouse.remote.orders
""").show()
print("insert mode:", eng.last_remote_insert, "| ingest endpoint:", addr)
eng.write_mode = "spool"
remote.stop_ingest_server()
eng.sql("DROP TABLE clickhouse.remote.order_wide")
eng.sql("DROP TABLE clickhouse.remote.order_digest")

# r12b: the streaming seam, both directions. READ — tail a growing
# remote table by its monotonic key: micro-batch = the key-range delta
# above the committed watermark, partitions pulled by EXECUTORS over
# the ingest server's Arrow query endpoint (the distributed,
# checkpoint-restartable extension of the reference's single-client
# result stream, src/stream.rs:110-131). WRITE — land a stream in a
# remote table; exactly_once=True commits each micro-batch's rows
# atomically WITH a (sink_id, batch_id) marker in <table>__commits,
# so a crash-replayed batch is skipped whole. Chained, they make an
# exactly-once remote -> Spark -> remote pipeline.
from pyspark.sql import functions as F

from clickhouse_datafusion_spark.streaming import (
    stream_to_remote_table, tail_remote_table)

remote.create_table("cdc_src", "k BIGINT, v DOUBLE")
remote.create_table("cdc_dst", "k BIGINT, v2 DOUBLE")
eng.append_remote("cdc_src", eng.spark.range(1, 5001).select(
    F.col("id").alias("k"), (F.col("id") * 0.5).alias("v")))

tail = tail_remote_table(eng.spark, remote, "cdc_src", "k",
                         num_partitions=4)
q = (tail.select("k", (F.col("v") * 2).alias("v2"))
     .writeStream.outputMode("append")
     .foreachBatch(lambda b, bid: eng.append_remote_exactly_once(
         "cdc_dst", b, bid, sink_id="cdc")).start())
q.processAllAvailable()
eng.append_remote("cdc_src", eng.spark.range(5001, 6001).select(
    F.col("id").alias("k"), (F.col("id") * 0.5).alias("v")))
q.processAllAvailable()          # the delta arrives as one micro-batch
q.stop()
print("cdc rows landed:",
      remote.execute("SELECT CAST(count(*) AS BIGINT) FROM cdc_dst")
      .column(0)[0].as_py(), "| batches committed:",
      remote.execute("SELECT CAST(count(*) AS BIGINT) "
                     "FROM cdc_dst__commits").column(0)[0].as_py())
remote.stop_ingest_server()
for t in ("cdc_src", "cdc_dst", "cdc_dst__commits"):
    remote.drop_table(t, if_exists=True)

# r13: the hardened wire + the direct plane, in one breath. A server
# started with a shared-secret token refuses every unauthenticated op
# (the wrapper and the executor plane plumb the token automatically);
# the query op is READ-ONLY server-side regardless — DDL/DML must come
# through the writability-checked ingest op or the engine API. And for
# trigger-bounded micro-batches, write_mode="direct" skips the parquet
# spool round trip entirely (659k rows/s on the st12 replay vs 519k;
# BASELINE.md r13).
from clickhouse_datafusion_spark.sources.clickhouse_tail import (
    _wire_query)

remote.create_table("sec_demo", "k BIGINT, v DOUBLE")
host, port = remote.start_ingest_server(token="demo-secret")
try:
    list(_wire_query(host, port, "DROP TABLE sec_demo"))   # no token
except RuntimeError as e:
    print("unauthenticated op refused:", str(e)[:60], "...")
try:
    list(_wire_query(host, port, "DROP TABLE sec_demo",
                     token="demo-secret"))             # token, but DDL
except RuntimeError as e:
    print("write via query op refused:", str(e)[:60], "...")

eng.write_mode = "direct"
eng.append_remote("sec_demo", eng.spark.range(1, 1001).select(
    F.col("id").alias("k"), (F.col("id") * 1.5).alias("v")))
print("direct-plane append:", eng.last_remote_insert, "| rows:",
      remote.execute("SELECT CAST(count(*) AS BIGINT) FROM sec_demo")
      .column(0)[0].as_py())
eng.write_mode = "spool"
remote.stop_ingest_server()
remote.drop_table("sec_demo")

# r14: the executor-parallel twin of 'direct' — per-partition Arrow
# streams over the token-gated wire, each in its own remote
# transaction, with per-partition exactly-once markers: a task retry,
# a speculative twin, or a foreachBatch replay lands every partition
# exactly once, and driver memory stays flat at ANY batch size (the
# plane for large micro-batches / bulk ingest; 'direct' remains the
# fixed-cost winner for small trigger-bounded batches).
remote.create_table("xd_demo", "k BIGINT, v DOUBLE")
host, port = remote.start_ingest_server()
eng.write_mode = "executor_direct"
src = eng.spark.range(1, 100001).select(
    F.col("id").alias("k"), (F.col("id") / 7.0).alias("v"))
n1 = eng.append_remote_exactly_once("xd_demo", src, batch_id=1,
                                    sink_id="xd_example")
n2 = eng.append_remote_exactly_once("xd_demo", src, batch_id=1,
                                    sink_id="xd_example")   # replay
print("executor_direct exactly-once:", eng.last_remote_insert,
      "| first:", n1, "| replay:", n2, "| rows:",
      remote.execute("SELECT CAST(count(*) AS BIGINT) FROM xd_demo")
      .column(0)[0].as_py())
eng.write_mode = "spool"
remote.stop_ingest_server()
remote.drop_table("xd_demo")
