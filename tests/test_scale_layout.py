"""Data-layout features that carry the 100 TB story: partition pruning,
bucketed co-located joins, metadata-only COUNT(*), and IVF ANN's
partitionable index.
"""

from __future__ import annotations

import threading
import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from clickhouse_datafusion_spark.plans.explain import executed_plan
from tests.conftest import SF_SMOKE


def test_partition_pruning(spark, views):
    """A year-partitioned table + year filter must show PartitionFilters and
    scan only matching partitions."""
    name = f"part_{uuid.uuid4().hex[:8]}"
    (spark.table("orders")
     .withColumn("o_year", F.year("o_orderdate"))
     .write.partitionBy("o_year").saveAsTable(name))
    try:
        df = spark.table(name).filter(F.col("o_year") == 1996) \
            .select("o_orderkey")
        p = executed_plan(df)
        assert "PartitionFilters: [" in p and "o_year" in p.split(
            "PartitionFilters")[1][:120]
        years = [r.o_year for r in
                 spark.table(name).filter(F.col("o_year") == 1996)
                 .select("o_year").distinct().collect()]
        assert years == [1996]
        # pruned scan reads strictly fewer files than the full table
        full = spark.table(name).inputFiles()
        pruned = spark.table(name).filter(F.col("o_year") == 1996).inputFiles()
        assert len(pruned) < len(full)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_join_no_shuffle(spark, views):
    """bucketBy on the join key co-locates both sides: the join plan must
    contain NO hash-partitioning exchange (the 100 TB co-located join)."""
    from clickhouse_datafusion_spark.operators.layout import write_bucketed

    a = f"ba_{uuid.uuid4().hex[:8]}"
    b = f"bb_{uuid.uuid4().hex[:8]}"
    write_bucketed(spark.table("orders")
                   .select("o_orderkey", "o_custkey", "o_totalprice"),
                   a, ["o_orderkey"], n_buckets=8)
    write_bucketed(spark.table("lineitem").select("l_orderkey", "l_quantity"),
                   b, ["l_orderkey"], n_buckets=8)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = (spark.table(a).join(spark.table(b),
                                  F.col("o_orderkey") == F.col("l_orderkey"))
              .groupBy("o_orderkey").agg(F.sum("l_quantity").alias("q")))
        p = executed_plan(df)
        join_seg = p.split("SortMergeJoin")[0]
        assert "SortMergeJoin" in p
        assert "Exchange hashpartitioning" not in join_seg, p[:3000]
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
        spark.sql(f"DROP TABLE IF EXISTS {a}")
        spark.sql(f"DROP TABLE IF EXISTS {b}")


def test_estimated_scan_partitions_contract(spark, tmp_path):
    """The RDD-free scan-split estimator must (a) return None for
    non-file-backed plans, (b) never underestimate below 1, and (c) stay
    within a small factor of the true partition count — it replaces
    df.rdd.getNumPartitions() in skip-repartition/coalesce decisions,
    where an overestimate is benign and an RDD conversion is the bug."""
    from clickhouse_datafusion_spark.plans import estimated_scan_partitions

    local = spark.createDataFrame([(1, "a")], "id int, v string")
    assert estimated_scan_partitions(local) is None

    p = str(tmp_path / "est")
    spark.range(200_000).selectExpr(
        "id", "repeat(uuid(), 8) AS pad").write.parquet(p)
    df = spark.read.parquet(p)
    est = estimated_scan_partitions(df)
    actual = df.rdd.getNumPartitions()
    assert est is not None and est >= 1
    assert est >= actual / 2, (est, actual)   # no gross underestimate
    assert est <= actual * 4 + 4, (est, actual)  # no runaway overestimate


def test_width_rule_reads_files_once(spark, tmp_path, monkeypatch):
    """plans.explain.width is clamp(ceil(scan_bytes / bytes_per_task), 2,
    cap) over the scan's on-disk bytes, ``cap`` for a non-file-backed
    plan, and one width decision lists the scan's files exactly once —
    including the widen, which also derives its split-count gate and
    lower bound from that same read."""
    import glob
    import math
    import os

    from clickhouse_datafusion_spark.operators.dedup import (
        _ensure_parallelism)
    from clickhouse_datafusion_spark.plans.explain import width

    p = str(tmp_path / "w")
    spark.range(30_000).selectExpr(
        "id", "repeat(uuid(), 4) AS pad").repartition(3).write.parquet(p)
    total = sum(os.path.getsize(f) for f in glob.glob(f"{p}/*.parquet"))
    df = spark.read.parquet(p)
    for bpt in (1, 1 << 10, total // 5, total, 1 << 40):
        for cap in (2, 4, 64):
            want = min(cap, max(2, math.ceil(total / bpt)))
            assert width(df, bpt, cap) == want, (bpt, cap)
    assert width(spark.createDataFrame([(1,)], "a int"), 1, 7) == 7

    calls = []
    real = type(df).inputFiles

    def counting(self):
        calls.append(1)
        return real(self)

    monkeypatch.setattr(type(df), "inputFiles", counting)
    width(df, 1 << 10, 8)
    assert len(calls) == 1
    calls.clear()
    _ensure_parallelism(df)
    assert len(calls) == 1


def test_count_star_empty_projection(spark, views):
    """S3: COUNT(*) never reads data columns — ReadSchema is empty struct."""
    df = spark.table("lineitem").groupBy().count()
    p = executed_plan(df)
    seg = p.split("ReadSchema: ")[1].split("\n")[0]
    assert seg.strip().rstrip(",") == "struct<>", seg


def test_ivf_ann_recall_on_planted(spark):
    from clickhouse_datafusion_spark.operators.similarity import (
        cosine_topk, ivf_ann_topk)

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    planted = spark.createDataFrame(
        [(200_000 + i, [v + 0.005 * ((i + j) % 3) for j, v in enumerate(qvec)], 0)
         for i in range(9)],
        "vec_id bigint, embedding array<float>, label int")
    corpus = emb.unionByName(planted)
    exact = [r.vec_id for r in cosine_topk(corpus, qvec, k=10).collect()]
    approx = [r.vec_id for r in ivf_ann_topk(corpus, qvec, k=10).collect()]
    # near-identical vectors land in the query's own cluster → full recall
    overlap = len(set(exact) & set(approx))
    assert overlap >= 9, (exact, approx)


def test_range_sorted_write_produces_disjoint_files(spark, tmp_path):
    from clickhouse_datafusion_spark.operators.layout import (
        file_key_ranges, write_range_sorted)

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    out = str(tmp_path / "orders_sorted")
    write_range_sorted(orders, out, ["o_custkey"], n_files=4)

    ranges = [r for r in file_key_ranges(out, "o_custkey") if r[1] is not None]
    assert len(ranges) >= 3
    spans = sorted((lo, hi) for _, lo, hi in ranges)
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next, f"overlapping file ranges: {spans}"

    # round-trip integrity
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    assert back.agg(F.sum("o_orderkey")).first()[0] == \
        orders.agg(F.sum("o_orderkey")).first()[0]


def test_range_sorted_write_respects_max_records(spark, tmp_path):
    import os

    from clickhouse_datafusion_spark.operators.layout import write_range_sorted

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    n = orders.count()
    out = str(tmp_path / "orders_capped")
    write_range_sorted(orders, out, ["o_orderdate"], n_files=2,
                       max_records_per_file=n // 6)
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) >= 6


def test_write_hive_partitioned_prunes_and_compacts(spark, tmp_path):
    """write_hive_partitioned: one file per directory at the default, a
    lang filter on the read side prunes to the matching directory at
    planning time (PartitionFilters), and the salted mode bounds files per
    directory instead of exploding tasks x partitions slivers."""
    import os

    from clickhouse_datafusion_spark.operators.layout import (
        write_hive_partitioned,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").repartition(8)
    path = str(tmp_path / "by_lang")
    write_hive_partitioned(docs, path, ["lang"])
    dirs = [d for d in os.listdir(path) if d.startswith("lang=")]
    assert len(dirs) >= 2
    for d in dirs:
        files = [f for f in os.listdir(os.path.join(path, d))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)  # no sliver files

    rd = spark.read.parquet(path).filter(F.col("lang") == "en") \
        .select("doc_id")
    p = executed_plan(rd)
    assert "PartitionFilters: [" in p
    assert "lang" in p.split("PartitionFilters")[1][:160]
    want = docs.filter(F.col("lang") == "en").count()
    assert rd.count() == want

    path3 = str(tmp_path / "by_lang3")
    write_hive_partitioned(docs, path3, ["lang"], files_per_partition=3)
    for d in [d for d in os.listdir(path3) if d.startswith("lang=")]:
        files = [f for f in os.listdir(os.path.join(path3, d))
                 if f.endswith(".parquet")]
        assert 1 <= len(files) <= 3, (d, files)
    assert spark.read.parquet(path3).count() == docs.count()


def test_snapshot_versioning_pins_and_appends(spark, tmp_path):
    from clickhouse_datafusion_spark.operators.layout import (
        list_snapshots, read_snapshot, write_snapshot)

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    path = str(tmp_path / "corpus")
    v1 = write_snapshot(docs.limit(100), path)
    v2 = write_snapshot(docs.limit(250), path)
    assert (v1, v2) == (1, 2) and list_snapshots(path) == [1, 2]
    assert read_snapshot(spark, path).count() == 250          # latest
    assert read_snapshot(spark, path, version=1).count() == 100  # pinned
    # a refresh cannot clobber history
    v3 = write_snapshot(docs, path)
    assert read_snapshot(spark, path, version=1).count() == 100
    assert read_snapshot(spark, path, version=v3).count() == docs.count()
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError, match="v=9 not found"):
        read_snapshot(spark, path, version=9)


def test_upsert_snapshot_merge_semantics(spark, tmp_path):
    """MERGE semantics on the snapshot store: update-in-place by key,
    insert new keys, delete the take-down set, leave the rest
    byte-identical — and never mutate the prior version."""
    import pytest as _pytest
    from clickhouse_datafusion_spark.operators.layout import (
        read_snapshot, upsert_snapshot, write_snapshot)

    base = spark.createDataFrame(
        [(i, "old", f"body-{i}") for i in range(10)],
        "doc_id bigint, source string, text string")
    path = str(tmp_path / "corpus")
    assert write_snapshot(base, path) == 1

    updates = spark.createDataFrame(
        [(7, "new", "body-7b"), (8, "new", "body-8b"),
         (42, "new", "body-42")],
        "doc_id bigint, source string, text string")
    deletes = spark.createDataFrame([(0,), (1,)], "doc_id bigint")
    v2 = upsert_snapshot(spark, path, updates, deletes=deletes)
    assert v2 == 2

    got = {r.doc_id: (r.source, r.text)
           for r in read_snapshot(spark, path, version=2).collect()}
    assert 0 not in got and 1 not in got                  # deleted
    assert got[7] == ("new", "body-7b")                   # updated
    assert got[42] == ("new", "body-42")                  # inserted
    assert got[5] == ("old", "body-5")                    # untouched
    assert len(got) == 9                                  # 10 - 2 del + 1 ins
    # history intact
    assert read_snapshot(spark, path, version=1).count() == 10

    # schema drift is rejected, not silently merged
    bad = updates.drop("text")
    with _pytest.raises(ValueError, match="schema-pinned"):
        upsert_snapshot(spark, path, bad)


def test_snapshot_diff_statuses_and_schema_guard(spark, tmp_path):
    """added/removed/changed statuses are exact; untouched and
    byte-identical rows never appear; schema drift raises."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from clickhouse_datafusion_spark.operators.layout import (
        snapshot_diff, write_snapshot)

    v1 = spark.createDataFrame(
        [(i, f"b-{i}") for i in range(6)], "doc_id bigint, text string")
    # v2: drop 0, change 3, add 9, keep 1/2/4/5 byte-identical
    v2 = spark.createDataFrame(
        [(1, "b-1"), (2, "b-2"), (3, "CHANGED"), (4, "b-4"), (5, "b-5"),
         (9, "b-9")], "doc_id bigint, text string")
    path = str(tmp_path / "snap")
    write_snapshot(v1, path)
    write_snapshot(v2, path)
    got = {r.doc_id: r.status
           for r in snapshot_diff(spark, path, 1, 2).collect()}
    assert got == {0: "removed", 3: "changed", 9: "added"}

    # a NULL-vs-empty-string flip still registers as changed
    v3 = v2.withColumn(
        "text", F.when(F.col("doc_id") == 1, F.lit(None)).otherwise(
            F.col("text")))
    write_snapshot(v3, path)
    got23 = {r.doc_id: r.status
             for r in snapshot_diff(spark, path, 2, 3).collect()}
    assert got23 == {1: "changed"}

    write_snapshot(v2.drop("text"), str(tmp_path / "other"))
    write_snapshot(v2, str(tmp_path / "other"))
    with _pytest.raises(ValueError, match="schemas differ"):
        snapshot_diff(spark, str(tmp_path / "other"), 1, 2)


def test_compact_snapshot_shrinks_files_losslessly(spark, tmp_path):
    """Compaction collapses a fragmented snapshot to the byte-target file
    count, preserves every row, and leaves the fragmented version pinned
    and readable."""
    import glob

    from clickhouse_datafusion_spark.operators.layout import (
        compact_snapshot, read_snapshot, write_snapshot)

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    path = str(tmp_path / "frag")
    write_snapshot(docs.repartition(40), path)
    n_before = len(glob.glob(f"{path}/v=1/*.parquet"))
    assert n_before >= 30

    v2 = compact_snapshot(spark, path, target_bytes=64 * 1024 * 1024)
    n_after = len(glob.glob(f"{path}/v={v2}/*.parquet"))
    assert n_after < n_before and n_after <= 2

    a = {r.doc_id: r.text for r in read_snapshot(spark, path, 1).collect()}
    b = {r.doc_id: r.text for r in read_snapshot(spark, path, v2).collect()}
    assert a == b                        # byte-lossless
    # tiny target on the fragmented version → ceil sizing honored
    # (coalesce only merges, so file count caps at the input's splits)
    v3 = compact_snapshot(spark, path, target_bytes=16 * 1024, version=1)
    assert 1 < len(glob.glob(f"{path}/v={v3}/*.parquet")) <= n_before


def test_zorder_write_prunes_on_both_dimensions(spark, tmp_path):
    """Z-ordered files cover small hyper-rectangles: a footer-stat filter
    on EITHER key skips most files, where a range-sort on x alone cannot
    prune on y at all."""
    from pyspark.sql import functions as F

    from clickhouse_datafusion_spark.operators.layout import (
        file_key_ranges, write_range_sorted, write_zordered)

    df = spark.range(40_000).select(
        (F.col("id") % 200).alias("x"), (F.col("id") / 200).cast("long").alias("y"))
    zpath, rpath = str(tmp_path / "z"), str(tmp_path / "r")
    write_zordered(df, zpath, ["x", "y"], bits=8, n_files=16)
    write_range_sorted(df, rpath, ["x"], n_files=16)

    def overlapping(path, col, lo, hi):
        rngs = file_key_ranges(path, col)
        assert rngs, path
        return sum(1 for _, mn, mx in rngs if not (mx < lo or mn > hi)), len(rngs)

    # y-filter: x-sorted layout cannot prune (every file spans all y)
    zy, zn = overlapping(zpath, "y", 10, 20)
    ry, rn = overlapping(rpath, "y", 10, 20)
    assert ry == rn            # range-on-x: zero pruning on y
    assert zy <= zn // 2       # z-order: most files skipped on y
    # x-filter: both layouts prune
    zx, _ = overlapping(zpath, "x", 10, 20)
    rx, _ = overlapping(rpath, "x", 10, 20)
    assert rx <= rn // 2
    assert zx <= zn // 2


def test_ttl_partition_drop(spark, tmp_path):
    """TTL = directory unlink: expired date partitions disappear without
    touching surviving files; reads after the drop see only kept days."""
    import os

    import pyspark.sql.functions as F

    from clickhouse_datafusion_spark.operators.layout import (
        drop_expired_partitions, write_hive_partitioned)

    path = str(tmp_path / "ttl")
    df = spark.range(100).select(
        F.col("id"),
        F.concat(F.lit("2024-01-"),
                 F.lpad((F.col("id") % 9 + 1).cast("string"), 2, "0"))
        .alias("day"))
    write_hive_partitioned(df, path, ["day"])
    before = {n for n in os.listdir(path) if n.startswith("day=")}
    assert len(before) == 9
    dropped = drop_expired_partitions(path, "day", "2024-01-04")
    assert dropped == ["2024-01-01", "2024-01-02", "2024-01-03"]
    kept = spark.read.parquet(path)
    assert kept.select("day").distinct().count() == 6
    # Spark infers the partition dir value as a DATE — compare as string
    assert str(kept.agg(F.min("day")).collect()[0][0]) == "2024-01-04"
    # idempotent: nothing left to drop below the watermark
    assert drop_expired_partitions(path, "day", "2024-01-04") == []


def test_register_bucketed_reattaches_exchange_free_layout(spark, views):
    """The deployment round trip (r10): write_bucketed pays the
    co-partitioning shuffle ONCE; register_bucketed re-attaches the same
    files under a new catalog entry (what a later session does instead
    of re-writing 100 TB) and the join is still exchange-free. A
    mis-declared bucket spec must not error — it silently loses the
    layout (documented) — but the matching spec must keep it."""
    from clickhouse_datafusion_spark.operators.layout import (
        register_bucketed,
        write_bucketed,
    )

    a = f"ra_{uuid.uuid4().hex[:8]}"
    b = f"rb_{uuid.uuid4().hex[:8]}"
    write_bucketed(spark.table("orders")
                   .select("o_orderkey", "o_totalprice"),
                   a, ["o_orderkey"], n_buckets=8)
    write_bucketed(spark.table("lineitem").select("l_orderkey", "l_quantity"),
                   b, ["l_orderkey"], n_buckets=8)
    loc_a = spark.sql(f"DESCRIBE EXTENDED {a}").where(
        "col_name = 'Location'").first()["data_type"]
    loc_b = spark.sql(f"DESCRIBE EXTENDED {b}").where(
        "col_name = 'Location'").first()["data_type"]
    a2, b2 = f"{a}_re", f"{b}_re"
    try:
        register_bucketed(spark, a2, loc_a, ["o_orderkey"], n_buckets=8)
        register_bucketed(spark, b2, loc_b, ["l_orderkey"], n_buckets=8)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = (spark.table(a2).join(
                  spark.table(b2),
                  F.col("o_orderkey") == F.col("l_orderkey"))
              .groupBy("o_orderkey").agg(F.sum("l_quantity").alias("q")))
        p = executed_plan(df)
        join_seg = p.split("SortMergeJoin")[0]
        assert "SortMergeJoin" in p
        assert "Exchange hashpartitioning" not in join_seg, p[:3000]
        # re-registered tables read the same rows as the originals
        assert df.count() == spark.table(a).join(
            spark.table(b),
            F.col("o_orderkey") == F.col("l_orderkey")) \
            .select("o_orderkey").distinct().count()
        # same-name double registration refuses (a managed-table drop
        # would delete the attached files)
        with pytest.raises(ValueError, match="already exists"):
            register_bucketed(spark, a2, loc_a, ["o_orderkey"], n_buckets=8)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
        for t in (a2, b2):   # external: drop leaves files for the owners
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        for t in (a, b):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


# ---------------------------------------------------------------------
# register_bucketed under concurrent re-attach
# ---------------------------------------------------------------------

def test_register_bucketed_concurrent_reattach(spark, tmp_path):
    """Two sessions racing to re-attach the same bucketed layout under
    one table name: exactly one CREATE wins, every loser gets a raised
    error (never a silent no-op), and the winner's table answers
    queries — the deployment round trip is safe to retry."""
    from clickhouse_datafusion_spark.operators.layout import (
        register_bucketed, write_bucketed)

    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    spark.sql("DROP TABLE IF EXISTS race_src")
    write_bucketed(df, "race_src", ["k"], 4)
    path = (spark.sql("DESCRIBE TABLE EXTENDED race_src")
            .filter("col_name = 'Location'").first()[1])
    results: list = [None] * 4

    def attempt(i):
        try:
            register_bucketed(spark, "race_bkt", path, ["k"], 4)
            results[i] = "ok"
        except Exception as e:
            results[i] = type(e).__name__

    ts = [threading.Thread(target=attempt, args=(i,)) for i in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    try:
        assert results.count("ok") >= 1          # someone won
        # losers raised (ValueError from the exists-check or the
        # catalog's AnalysisException from the CREATE race) — never a
        # silent success beyond one
        assert all(r is not None for r in results)
        assert spark.sql("SELECT count(*) FROM race_bkt").first()[0] == 1000
    finally:
        spark.sql("DROP TABLE IF EXISTS race_bkt")
        spark.sql("DROP TABLE IF EXISTS race_src")


# ---------------------------------------------------------------------
# compaction idempotence under adversarial small-file distributions
# ---------------------------------------------------------------------

@given(parts=st.integers(min_value=1, max_value=24),
       rows=st.integers(min_value=0, max_value=2000))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_compaction_idempotent_and_monotone(spark, tmp_path_factory,
                                            parts, rows):
    """compact_snapshot under generated small-file layouts: (a) data is
    row-identical across versions, (b) the file count never grows
    (compaction only shrinks), (c) compacting an already-compacted
    snapshot is idempotent on layout — a second pass cannot
    re-fragment."""
    import os

    from clickhouse_datafusion_spark.operators.layout import (
        compact_snapshot, list_snapshots, read_snapshot, write_snapshot)

    path = str(tmp_path_factory.mktemp("compact"))

    def n_files(v):
        vdir = os.path.join(path, f"v={v}")
        return sum(1 for f in os.listdir(vdir) if f.endswith(".parquet"))

    df = spark.range(rows).select(
        F.col("id").alias("k"),
        F.concat(F.lit("doc_"), F.col("id")).alias("text"))
    v1 = write_snapshot(df.repartition(parts), path)
    v2 = compact_snapshot(spark, path, target_bytes=1 << 30)
    v3 = compact_snapshot(spark, path, target_bytes=1 << 30)
    assert list_snapshots(path) == [v1, v2, v3]
    base = sorted(tuple(r) for r in read_snapshot(spark, path, v1).collect())
    for v in (v2, v3):
        assert sorted(tuple(r)
                      for r in read_snapshot(spark, path, v).collect()) \
            == base
    assert n_files(v2) <= max(1, n_files(v1))
    assert n_files(v3) == n_files(v2)          # idempotent on layout
