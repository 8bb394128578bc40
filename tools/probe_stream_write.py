#!/usr/bin/env python
"""Streamed federated WRITE throughput + driver-memory probe (r11).

The write-direction twin of the r10c streamed-read table: a federated
``INSERT INTO remote.t SELECT ...`` whose source is gate-refused (log()
divergence) evaluates locally and must stream through the parquet spool
+ pooled batch appends (the engine's 'spool' write plane ->
RemoteEngine.insert_arrow_batches — the reference sink's
``buffer_unordered(write_concurrency)`` append, src/sink.rs:129-211)
WITHOUT ever materializing the source on the driver. This probe
measures rows/s and Python-driver maxrss at two source scales, and a
write_concurrency sweep at the larger one (the reference's worker
matrix, examples/10_large_scale.rs:253-276).

Usage: ``python tools/probe_stream_write.py`` → markdown rows + one
JSON line, recorded in BASELINE.md.
"""
from __future__ import annotations

import json
import os
import resource
import sys
import time

sys.path.insert(0, "/root/repo")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def maxrss_gb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1e6


def main() -> None:
    from pyspark.sql import SparkSession

    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine
    from clickhouse_datafusion_spark.sources.remote_engine import (
        RemoteEngine)

    spark = (SparkSession.builder.master("local[8]")
             .appName("probe_stream_write")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.driver.memory", "8g")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    eng = ClickHouseSparkEngine(spark)
    remote = RemoteEngine(pool_size=8)
    remote.register_parquet_dir(SF_DIR, tables=["lineitem"])
    eng.attach_remote(remote, db="remote", local_twin_dir=SF_DIR)

    # unshippable source: log() is gate-refused (ln-vs-log10 divergence)
    base = ("SELECT l_orderkey + {off} AS k, log(l_extendedprice) AS v "
            "FROM clickhouse.remote.lineitem")
    n_li = spark.read.parquet(os.path.join(
        SF_DIR, "lineitem.parquet")).count()

    results = []
    # scale sweep at default write_concurrency
    for copies in (1, 10):
        src = " UNION ALL ".join(
            base.format(off=i * 100_000_000) for i in range(copies))
        remote.create_table("probe_w", "k BIGINT, v DOUBLE")
        try:
            t0 = time.time()
            eng.sql(f"INSERT INTO clickhouse.remote.probe_w {src}")
            wall = time.time() - t0
            assert eng.last_remote_insert == "arrow-stream"
            n = remote.execute(
                "SELECT CAST(count(*) AS BIGINT) FROM probe_w"
            ).column(0)[0].as_py()
            assert n == n_li * copies, (n, n_li, copies)
            results.append({"case": f"scale_{copies}x", "rows": n,
                            "wall_s": round(wall, 1),
                            "rows_per_s": round(n / wall),
                            "maxrss_gb": round(maxrss_gb(), 2)})
            print(results[-1])
        finally:
            remote.drop_table("probe_w")

    # workers x batch-size matrix at 10x (the reference harness shape,
    # examples/10_large_scale.rs:253-276)
    src10 = " UNION ALL ".join(
        base.format(off=i * 100_000_000) for i in range(10))
    for wc in (1, 2, 4, 8):
        for br in (16_384, 65_536, 262_144):
            eng.write_concurrency = wc
            eng.write_batch_rows = br
            remote.create_table("probe_w", "k BIGINT, v DOUBLE")
            try:
                t0 = time.time()
                eng.sql(f"INSERT INTO clickhouse.remote.probe_w {src10}")
                wall = time.time() - t0
                n = remote.execute(
                    "SELECT CAST(count(*) AS BIGINT) FROM probe_w"
                ).column(0)[0].as_py()
                results.append({"case": f"wc{wc}_br{br}", "rows": n,
                                "wall_s": round(wall, 1),
                                "rows_per_s": round(n / wall),
                                "maxrss_gb": round(maxrss_gb(), 2)})
                print(results[-1])
            finally:
                remote.drop_table("probe_w")

    print(json.dumps({"probe": "stream_write", "sf_dir": SF_DIR,
                      "results": results}))


if __name__ == "__main__":
    main()
