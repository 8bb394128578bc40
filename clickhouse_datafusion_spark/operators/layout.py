"""Output data-layout operators: range-sorted writes for scan pruning.

At 100 TB, how you WRITE determines how every later job READS. A parquet
file carries per-column min/max statistics; if each output file covers a
disjoint key range, any downstream filter on that key prunes whole files
before a single byte is read (plus intra-file row-group skipping). The
reference has no layout story (its sink streams batches to a remote server,
reference src/sink.rs:102-211); this is the Spark-native equivalent of
ClickHouse's ORDER BY clustering for MergeTree tables.

``repartitionByRange`` samples the key distribution (one extra pass over a
sample, not the data) to build balanced range bounds — so skewed keys still
give even file sizes, where hash partitioning would not preserve order and
fixed-width ranges would produce elephant files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickhouse_datafusion_spark.fragments import sql_ident


def write_range_sorted(df: DataFrame, path: str, key_cols: list[str],
                       n_files: int | None = None,
                       max_records_per_file: int | None = None,
                       mode: str = "overwrite") -> None:
    """Write parquet range-clustered on ``key_cols``: rows are range-
    partitioned across ``n_files`` output files and sorted within each, so
    every file covers a disjoint key range and downstream equality/range
    filters on the key skip non-matching files via footer stats alone.

    ``max_records_per_file`` bounds file size at fixed row count (Spark
    splits a partition into several files, each still sorted and
    range-disjoint because the partition itself is sorted).
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    if n_files is not None and n_files < 1:
        raise ValueError(f"n_files must be >= 1, got {n_files}")
    keys = [F.col(c) for c in key_cols]
    out = (df.repartitionByRange(n_files, *keys) if n_files
           else df.repartitionByRange(*keys))
    writer = out.sortWithinPartitions(*keys).write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def write_bucketed(df: DataFrame, table: str, key_cols: list[str],
                   n_buckets: int, sort_cols: list[str] | None = None,
                   mode: str = "overwrite") -> None:
    """Write ``df`` as a bucketed, sorted managed parquet table.

    Bucketing is the Spark-native analog of co-locating MergeTree parts by
    ORDER BY key: both sides of a join bucketed on the join key with the
    same bucket count scan bucket-aligned files and sort-merge-join with
    ZERO shuffle exchanges — at 100 TB the single biggest cost in a
    fact-to-fact join is that shuffle, and this removes it for every
    downstream join/aggregation on the bucket key, paid once at write time
    (aggregations need ``spark.sql.sources.bucketing.enabled`` — on by
    default — and grouping keys covering the bucket keys). Caveat: the
    Exchange is what bucketing eliminates; a per-partition Sort may remain
    in the join plan when a bucket spans multiple files, since Spark only
    trusts sortBy metadata for single-file buckets.

    ``n_buckets`` should be sized so one bucket of the LARGER table fits an
    executor's memory comfortably (e.g. 100 TB fact / 8192 buckets ≈ 12 GB
    per bucket before column pruning). Bucket counts must match across
    tables you intend to co-join, or be integer multiples with
    ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    sort_cols = sort_cols or key_cols
    (df.write.mode(mode)
       .bucketBy(n_buckets, key_cols[0], *key_cols[1:])
       .sortBy(sort_cols[0], *sort_cols[1:])
       .format("parquet")
       .saveAsTable(table))


def register_bucketed(spark, table: str, path: str, key_cols: list[str],
                      n_buckets: int, sort_cols: list[str] | None = None,
                      schema_ddl: str | None = None) -> None:
    """Re-attach an EXISTING bucketed parquet layout as a catalog table.

    :func:`write_bucketed` pays the co-partitioning shuffle once; this is
    the other half of the deployment contract — every later session (or
    another cluster reading the same storage) re-registers the files and
    inherits the exchange-free joins, instead of re-writing 100 TB. Spark
    reads the bucket id from the writer's file names (``..._00042.c000``)
    but the bucket SPEC lives in the catalog, so ``key_cols``/
    ``n_buckets`` here MUST match what :func:`write_bucketed` used — a
    mismatch silently reintroduces the shuffle rather than erroring (the
    planner just stops trusting the layout).

    ``table`` is a name as Spark's catalog API takes it (``db.t``,
    backticks allowed), like :func:`write_bucketed`'s; column names and
    ``path`` are taken verbatim. ``schema_ddl`` overrides the schema
    (otherwise inferred from one parquet footer read). Raises if
    ``table`` already exists — dropping a same-name MANAGED table would
    delete the very files being attached, so replacement is deliberately
    left to the caller.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if spark.catalog.tableExists(table):
        raise ValueError(f"table {table!r} already exists; drop it "
                         "explicitly before re-registering")
    sort_cols = sort_cols or key_cols
    if schema_ddl is None:
        sch = spark.read.parquet(path).schema
        schema_ddl = ", ".join(
            f"{sql_ident(f.name)} {f.dataType.simpleString()}"
            for f in sch.fields)
    keys = ", ".join(map(sql_ident, key_cols))
    sorts = ", ".join(map(sql_ident, sort_cols))
    # LOCATION takes a string token, not an expression: bind the path
    spark.sql(
        f"CREATE TABLE {table} ({schema_ddl}) USING parquet "
        f"CLUSTERED BY ({keys}) SORTED BY ({sorts}) "
        f"INTO {n_buckets} BUCKETS LOCATION :path", args={"path": path})


def write_hive_partitioned(df: DataFrame, path: str,
                           partition_cols: list[str],
                           files_per_partition: int | None = 1,
                           mode: str = "overwrite") -> None:
    """Write parquet Hive-partitioned on ``partition_cols`` (one directory
    per value, e.g. ``lang=en/``): downstream reads filtering on a
    partition column prune whole DIRECTORIES at planning time — the
    coarsest and cheapest skipping there is, visible as PartitionFilters
    in the scan (vs footer-stat skipping, which still lists every file).
    The standard layout for corpus slices read mostly one way (by
    language, by source, by date).

    ``files_per_partition`` controls the small-files problem — the classic
    failure of naive partitioned writes, where every input task emits one
    sliver per directory (tasks × partitions files). 1 (default) hash-
    repartitions on the partition columns so each value lands in exactly
    one task → one file per directory; n > 1 adds a deterministic
    content-hash salt so each directory gets ~n files (parallel writers
    per partition without the sliver explosion). ``None`` keeps the
    incoming layout. Keep partition cardinality moderate (≲ 10⁴
    directories); high-cardinality keys belong in
    :func:`write_range_sorted` files, not directories.
    """
    if not partition_cols:
        raise ValueError("partition_cols must be non-empty")
    out = df
    if files_per_partition == 1:
        out = df.repartition(*[F.col(c) for c in partition_cols])
    elif files_per_partition:
        salt = F.pmod(F.xxhash64(*df.columns), F.lit(files_per_partition))
        out = df.repartition(*[F.col(c) for c in partition_cols], salt)
    (out.write.mode(mode).partitionBy(*partition_cols).parquet(path))


def zorder_key(cols: list, bits: int = 16):
    """Z-value (Morton code) interleaving the low ``bits`` bits of each
    input column — inputs must already be non-negative ints < 2**bits
    (see :func:`write_zordered` for the normalization pass).

    Bit positions are Python-side constants, so this expands to a flat
    codegen-friendly expression (same pattern as SimHash's bit votes);
    total output width bits × len(cols) must stay < 63.
    """
    if bits * len(cols) > 62:
        raise ValueError(f"z-value would need {bits * len(cols)} bits; "
                         "reduce bits or columns (max 62)")
    n = len(cols)
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, c in enumerate(cols):
            cc = (F.col(c) if isinstance(c, str) else c).cast("bigint")
            bit = F.shiftright(cc, b).bitwiseAND(F.lit(1))
            z = z + bit * F.lit(1 << (b * n + i)).cast("bigint")
    return z


def write_zordered(df: DataFrame, path: str, key_cols: list[str],
                   bits: int = 16, n_files: int | None = None,
                   mode: str = "overwrite") -> None:
    """Write parquet Z-order-clustered on ``key_cols`` — the multi-column
    generalization of :func:`write_range_sorted`. Range-sorting on (a, b)
    prunes perfectly on ``a`` but barely on ``b``; Z-ordering interleaves
    the key bits so every file covers a small HYPER-RECTANGLE of the key
    space and filters on ANY subset of the keys skip most files via
    footer stats (the same clustering Delta's OPTIMIZE ZORDER BY
    performs).

    Normalization: each key is min-max scaled to [0, 2**bits) with one
    tiny global aggregate (a scalar per column, broadcast back into the
    projection — not a per-row window, so no extra shuffle over the
    data). Min-max scaling keeps the map order-preserving per column;
    heavily skewed keys flatten toward one corner — pre-apply a
    rank/ntile pass for those (documented trade: that IS a shuffle).

    The z-value is a transient sort expression — repartitionByRange +
    sortWithinPartitions take the expression directly, so the output
    schema is untouched.
    """
    if len(key_cols) < 2:
        raise ValueError("z-ordering needs >= 2 key columns; use "
                         "write_range_sorted for one")
    aggs = []
    for c in key_cols:
        aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
    stats = df.agg(*aggs).first()
    scale = (1 << bits) - 1
    norm_cols = []
    for c in key_cols:
        lo = stats[f"_lo_{c}"]
        hi = stats[f"_hi_{c}"]
        span = (hi - lo) or 1
        norm_cols.append(
            F.floor((F.col(c) - F.lit(lo)).cast("double")
                    * scale / F.lit(float(span))).cast("bigint"))
    z = zorder_key(norm_cols, bits)
    out = (df.repartitionByRange(n_files, z) if n_files
           else df.repartitionByRange(z))
    out.sortWithinPartitions(z).write.mode(mode).parquet(path)


def file_key_ranges(path: str, key_col: str) -> list[tuple]:
    """(file, min, max) of ``key_col`` per data file from parquet footers —
    metadata only, nothing is scanned. Used to verify layout disjointness
    and by tests; at scale the same stats drive the engine's file skipping.
    """
    import os

    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        f = os.path.join(path, name)
        pf = pq.ParquetFile(f)
        idx = pf.schema_arrow.get_field_index(key_col)
        lo, hi = None, None
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(idx).statistics
            if st is None:
                continue
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        out.append((name, lo, hi))
    return out


def write_snapshot(df: DataFrame, path: str) -> int:
    """Append an immutable numbered snapshot of ``df`` under
    ``path/v=N`` and return N — lightweight corpus versioning so a
    training run can PIN its exact input ("train on corpus v7") and be
    re-run byte-identically months later, while refreshes keep landing as
    new versions. Old snapshots are never mutated; retention is an
    explicit delete of ``v=K`` directories (parquet is immutable here —
    this is the poor man's Iceberg/Delta snapshot, no table format
    dependency).

    Concurrency note: version allocation is read-dir + write-new; two
    concurrent writers could race to the same N on object stores without
    atomic rename. Coordinate refreshes through one writer (the normal
    corpus-pipeline shape) or an external lock.
    """
    import os
    import re

    os.makedirs(path, exist_ok=True)
    versions = [int(m.group(1)) for d in os.listdir(path)
                if (m := re.fullmatch(r"v=(\d+)", d))]
    n = max(versions, default=0) + 1
    df.write.mode("error").parquet(os.path.join(path, f"v={n}"))
    return n


def upsert_snapshot(spark, path: str, updates: DataFrame,
                    key_col: str = "doc_id",
                    deletes: DataFrame | None = None) -> int:
    """MERGE INTO for the snapshot store: apply keyed upserts (and optional
    deletes) to the latest snapshot and write the result as a NEW immutable
    version — SCD-1 semantics (``WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED
    THEN INSERT, [WHEN MATCHED BY delete-set THEN DELETE]``) without a
    table-format dependency. Corpus refreshes are exactly this shape:
    re-crawled pages replace their old row by URL/doc key, new pages append,
    take-down requests delete — and every training run keeps pinning the
    version it started from (reference has no mutation story at all; its
    sink only appends, src/sink.rs:102-211).

    ``updates`` must carry the current snapshot's full schema (schema-pinned
    like the JSONL boundary — silent column drift in a merge is how corpora
    rot); ``deletes`` needs only ``key_col``. Returns the new version
    number.

    Scale shape: ONE key-shuffled anti-join (current rows whose key is NOT
    touched) + a union with the updates — AQE broadcasts the touched-key
    side when the refresh is small, which is the common case (daily delta ≪
    corpus). This is copy-on-write at snapshot granularity: the whole
    corpus is rewritten per merge. At 100 TB, partition the snapshot by a
    stable bucket of the key (write_hive_partitioned) and rewrite ONLY the
    buckets containing touched keys, copying the rest forward by file
    manifest — or graduate to Iceberg/Delta, whose MERGE does file-level
    copy-on-write natively. The semantics gated here are identical.
    """
    cur = read_snapshot(spark, path)
    if set(updates.columns) != set(cur.columns):
        raise ValueError(
            f"updates schema {sorted(updates.columns)} != snapshot schema "
            f"{sorted(cur.columns)}; upsert is schema-pinned")
    touched = updates.select(key_col)
    if deletes is not None:
        touched = touched.unionByName(deletes.select(key_col))
    kept = cur.join(touched.distinct(), key_col, "left_anti")
    return write_snapshot(kept.unionByName(updates.select(*cur.columns)),
                          path)


def snapshot_diff(spark, path: str, v_old: int, v_new: int,
                  key_col: str = "doc_id") -> DataFrame:
    """What changed between two pinned snapshot versions: one row per
    touched key with status ``added`` / ``removed`` / ``changed`` — the
    audit view every corpus refresh should publish (and the input to
    incremental re-embedding: only ``added``+``changed`` keys need new
    vectors).

    Change detection hashes the full row (every non-key column, null-safe
    via a field separator) so ANY column drift surfaces; byte-identical
    rows are dropped from the diff. Scale shape: ONE key-shuffled
    full-outer join of the two versions carrying an 8-byte-per-row hash
    projection — no row payloads move beyond the scan.
    """
    old = read_snapshot(spark, path, v_old)
    new = read_snapshot(spark, path, v_new)
    cols = [c for c in old.columns if c != key_col]
    if set(old.columns) != set(new.columns):
        raise ValueError(
            f"snapshot schemas differ: {sorted(old.columns)} vs "
            f"{sorted(new.columns)}; diff requires a stable schema")

    def hashed(d: DataFrame, out: str) -> DataFrame:
        h = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                         for c in cols])
        return d.select(F.col(key_col), h.alias(out))

    o, n = hashed(old, "_ho"), hashed(new, "_hn")
    j = o.join(n, key_col, "full_outer")
    return (j.withColumn(
        "status",
        F.when(F.col("_ho").isNull(), F.lit("added"))
        .when(F.col("_hn").isNull(), F.lit("removed"))
        .when(F.col("_ho") != F.col("_hn"), F.lit("changed")))
        .filter(F.col("status").isNotNull())
        .select(key_col, "status"))


def compact_snapshot(spark, path: str,
                     target_bytes: int = 128 * 1024 * 1024,
                     version: int | None = None) -> int:
    """Small-files compaction: rewrite a snapshot version into
    ``ceil(bytes/target_bytes)`` files as a NEW version — the maintenance
    pass every long-lived ingest needs (streaming CDC merges and
    per-batch appends accrete files; at 100 TB a million 1 MB files turn
    every scan into a metadata storm and every task into a 1 MB read).
    Data is byte-identical, only the layout changes; readers pinned to
    old versions are untouched (same immutability contract as every
    other snapshot write).

    Sizing reads the CURRENT version's on-disk bytes (parquet-compressed,
    the right estimate for the rewrite) — no data pass. The rewrite uses
    ``coalesce``, which merges input splits WITHOUT a shuffle: each
    output file is a concatenation of input splits, so the job is
    scan+write bound — and the output file count therefore caps at the
    input's split count (compaction only shrinks; it never re-fragments).
    Use Z-order/range writes instead when you also want clustering, not
    just fewer files.
    """
    import math
    import os

    versions = list_snapshots(path)
    if not versions:
        raise FileNotFoundError(f"no snapshots under {path}")
    version = versions[-1] if version is None else version
    vdir = os.path.join(path, f"v={version}")
    nbytes = sum(os.path.getsize(os.path.join(r, f))
                 for r, _, fs in os.walk(vdir) for f in fs
                 if f.endswith(".parquet"))
    n_files = max(1, math.ceil(nbytes / target_bytes))
    df = read_snapshot(spark, path, version)
    return write_snapshot(df.coalesce(n_files), path)


def list_snapshots(path: str) -> list[int]:
    import os
    import re

    if not os.path.isdir(path):
        return []
    return sorted(int(m.group(1)) for d in os.listdir(path)
                  if (m := re.fullmatch(r"v=(\d+)", d)))


def read_snapshot(spark, path: str, version: int | None = None) -> DataFrame:
    """Read a pinned snapshot (or the latest when ``version`` is None).
    Raises if the version does not exist — a pinned training input that
    silently fell back to 'latest' would be a reproducibility bug."""
    import os

    versions = list_snapshots(path)
    if not versions:
        raise FileNotFoundError(f"no snapshots under {path}")
    if version is None:
        version = versions[-1]
    elif version not in versions:
        raise FileNotFoundError(
            f"snapshot v={version} not found under {path}; have {versions}")
    return spark.read.parquet(os.path.join(path, f"v={version}"))


def drop_expired_partitions(path: str, partition_col: str,
                            keep_from: str) -> list[str]:
    """TTL enforcement for Hive-partitioned corpora (the ClickHouse
    ``TTL ... DELETE`` analog at the layout level): delete every
    ``partition_col=<value>`` directory whose value sorts strictly below
    ``keep_from``. Returns the dropped partition values.

    This is the ONLY sane retention mechanism at 100 TB: expiry is a
    directory unlink per partition — no data pass, no rewrite, no
    tombstones — which is exactly why time-partitioned layouts
    (``write_hive_partitioned`` on a date column) are the ingestion
    default. String comparison is intentional: Hive directory values are
    strings, and ISO dates (``day=2024-01-31``) sort correctly as
    strings; zero-pad numeric partition values or this will misorder
    them (documented, not guessed).

    Row-level TTL inside a partition (mixed-age rows) is a different
    operation — a filtered rewrite via ``upsert_snapshot``/compaction —
    and deliberately not this function's job.
    """
    import os
    import shutil

    prefix = f"{partition_col}="
    dropped = []
    for name in sorted(os.listdir(path)):
        if not name.startswith(prefix):
            continue
        value = name[len(prefix):]
        if value < keep_from:
            shutil.rmtree(os.path.join(path, name))
            dropped.append(value)
    return dropped
