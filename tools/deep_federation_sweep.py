#!/usr/bin/env python
"""One-off deep sweep of the federation seam (the r9 700-query
differential sweep, pointed at the REMOTE path): hundreds of generated
queries run through eng.sql with every table qualified into the
attached remote db — whatever the gate decides (ship direct, ship
streamed, refuse -> local fallback), the rows AND (name, dtype) schema
must equal the plain local plan's. Also tallies the ship/refuse split
so a gate regression that silently stops shipping everything is
visible, not just a correctness pass.

The draws are derandomized (Hypothesis ``derandomize=True``, no example
database), so every run sees the same statements and prints the same
per-family ship counts.

Usage: python tools/deep_federation_sweep.py [N_per_family]  (default 100)
"""
from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

N = int(sys.argv[1]) if len(sys.argv) > 1 else 100
SF = os.environ.get("SPARK_GRAFT_SWEEP_SF_DIR", "/root/testdata/sf0.001")


def draws(strategy, n: int) -> list:
    """Up to ``n`` examples of ``strategy``, the same ones on every run
    (fewer only when the strategy has fewer distinct examples)."""
    from hypothesis import HealthCheck, Phase, given, settings

    out: list = []

    @settings(derandomize=True, database=None, max_examples=n,
              deadline=None, phases=[Phase.generate],
              suppress_health_check=list(HealthCheck))
    @given(strategy)
    def collect(example):
        out.append(example)

    collect()
    return out[:n]


def main() -> int:
    from pyspark.sql import SparkSession

    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine
    from clickhouse_datafusion_spark.sources.remote_engine import (
        RemoteEngine)
    from tests.test_differential_fuzz import (
        _double_arith_queries,
        _join_queries,
        _queries,
        _setop_queries,
        _window_queries,
    )
    from tests.test_remote_engine import (
        _correlated_subquery_queries,
        _divergent_queries,
        _implicit_join_queries,
        _qualify,
    )

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    eng = ClickHouseSparkEngine(spark)
    remote = RemoteEngine(pool_size=4)
    remote.register_parquet_dir(
        SF, tables=["orders", "customer", "lineitem", "nation"])
    eng.attach_remote(remote, db="remote", local_twin_dir=SF)

    def rows(df):
        return sorted(tuple((v is None, v) for v in r) for r in df.collect())

    def one(local_sql: str, fed_sql: str):
        rdf = eng.sql(fed_sql)
        ldf = spark.sql(local_sql)
        assert ([(f.name, f.dataType) for f in rdf.schema.fields]
                == [(f.name, f.dataType) for f in ldf.schema.fields]), \
            ("SCHEMA", local_sql, eng.last_remote_sql)
        assert rows(rdf) == rows(ldf), ("ROWS", local_sql,
                                        eng.last_remote_sql)
        return eng.last_remote_sql is not None

    families = [
        ("relational", _queries(), lambda s: (s, _qualify(s))),
        ("join", _join_queries(), lambda s: (s, _qualify(s))),
        ("window", _window_queries(), lambda s: (s, _qualify(s))),
        ("setop", _setop_queries(), lambda s: (s, _qualify(s))),
        ("double-arith", _double_arith_queries(),
         lambda s: (s, _qualify(s))),
        ("divergent", _divergent_queries(),
         lambda s: (s.format(t="orders"),
                    s.format(t="clickhouse.remote.orders"))),
        ("implicit-join", _implicit_join_queries(),
         lambda s: (s.format(o="orders", c="customer"),
                    s.format(o="clickhouse.remote.orders",
                             c="clickhouse.remote.customer"))),
        # r11 (verdict task 5): correlated scalar/EXISTS subqueries —
        # the reference's known-failure territory (tests/e2e.rs:
        # 1262-1294); ship or refuse, never diverge
        ("correlated-subquery", _correlated_subquery_queries(),
         lambda s: (s.format(o="orders", c="customer"),
                    s.format(o="clickhouse.remote.orders",
                             c="clickhouse.remote.customer"))),
    ]
    total = shipped = 0
    for name, strat, render in families:
        fam_ship = 0
        sqls = draws(strat, N)
        for sql in sqls:
            local_sql, fed_sql = render(sql)
            if one(local_sql, fed_sql):
                fam_ship += 1
        total += len(sqls)
        shipped += fam_ship
        print(f"{name}: {len(sqls)} queries, {fam_ship} shipped, all agree")
    print(f"\nDEEP FEDERATION SWEEP: {total} queries, {shipped} shipped "
          f"({100 * shipped // total}%), 0 mismatches")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
