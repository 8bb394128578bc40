"""Catalog layer — the ``ClickHouseBuilder``/``ClickHouseCatalogBuilder`` analog.

The reference registers remote ClickHouse databases/tables as a DataFusion
catalog ``clickhouse.<db>.<table>`` (src/providers/catalog.rs:21-148,
src/builders.rs:221-344).  Here the Spark session catalog is authoritative:
databases are real session-catalog databases and tables are parquet-backed
catalog tables (full Catalyst pushdown + stats), addressed as ``db.table``.
The engine's SQL front door additionally accepts the reference's 3-part
spelling ``clickhouse.db.table`` and strips the virtual catalog prefix
(mirror of src/analyzer/function_pushdown.rs:460-473).

Differences vs the reference, by design (SURVEY §3.4):
- no passive-refresh dance — the session catalog is always in sync; ``refresh``
  exists for parity and refreshes cached file listings/statistics;
- ``drop_table`` drops the catalog entry (and for parity with the remote DROP
  issued by the reference's deregister, src/providers/catalog.rs:202-240, it
  is idempotent via IF EXISTS).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

from clickhouse_datafusion_spark.fragments import sql_ident

TESTDATA_TABLES = ("region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem", "events", "documents", "embeddings")

DEFAULT_CATALOG = "clickhouse"  # virtual prefix, stripped by the SQL front door

# Spark's parquet reader rejects TIMESTAMP(NANOS) columns (PARQUET_TYPE_ILLEGAL).
# The driver's `events` table carries a ns timestamp, so we rewrite affected
# files once (ns → us, value-preserving for these data) into a local cache.
_TDCACHE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        ".tdcache")


_RESOLVE_CACHE: dict[str, str] = {}


def resolve_parquet_path(path: str) -> str:
    """Return a Spark-readable path for a parquet file, converting
    nanosecond-precision timestamps to microseconds and re-chunking large
    single-row-group files via a cached rewrite.

    Spark parallelizes parquet scans at row-group granularity: the driver's
    600k-row single-group lineitem pins every scan to ONE task regardless of
    core count. Real 100 TB data has millions of row groups; re-chunking
    restores the layout the engine is designed for (one-time, cached, the
    read-only originals are untouched)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cache_key = os.path.abspath(path)
    hit = _RESOLVE_CACHE.get(cache_key)
    if hit is not None:
        return hit

    schema = pq.read_schema(path)
    pf = pq.ParquetFile(path)
    has_ns = any(
        pa.types.is_timestamp(f.type) and f.type.unit == "ns" for f in schema)
    needs_chunks = (pf.num_row_groups == 1
                    and pf.metadata.num_rows >= 100_000)
    if not (has_ns or needs_chunks):
        _RESOLVE_CACHE[cache_key] = path
        return path
    tag = os.path.basename(os.path.dirname(os.path.abspath(path)))
    out = os.path.join(_TDCACHE, tag, os.path.basename(path))
    if not (os.path.exists(out)
            and os.path.getmtime(out) >= os.path.getmtime(path)):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        tbl = pq.read_table(path)
        fields = [
            pa.field(f.name, pa.timestamp("us", f.type.tz))
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns" else f
            for f in tbl.schema
        ]
        # allow_time_truncation: sub-microsecond precision is dropped; oracle
        # queries must not compare raw ns timestamps (truncate in both engines).
        import pyarrow.compute as pc

        cols = [
            pc.cast(tbl.column(f.name),
                    options=pc.CastOptions(f.type, allow_time_truncate=True))
            for f in fields
        ]
        fixed = pa.Table.from_arrays(cols, schema=pa.schema(fields))
        pq.write_table(fixed, out,
                       row_group_size=max(fixed.num_rows // 32, 16_384))
    _RESOLVE_CACHE[cache_key] = out
    return out


def _qname(db: str, table: str) -> str:
    return f"{sql_ident(db)}.{sql_ident(table)}"


class ClickHouseCatalog:
    def __init__(self, spark: SparkSession, catalog_name: str = DEFAULT_CATALOG):
        self.spark = spark
        self.name = catalog_name

    # -- DDL ---------------------------------------------------------------
    def create_database(self, db: str) -> None:
        """Reference: src/utils/create.rs:17-40 (CREATE DATABASE, default no-op)."""
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {sql_ident(db)}")

    def drop_database(self, db: str, cascade: bool = True) -> None:
        self.spark.sql(
            f"DROP DATABASE IF EXISTS {sql_ident(db)} "
            f"{'CASCADE' if cascade else ''}")

    def register_parquet_table(self, db: str, table: str, path: str) -> None:
        """Register one parquet file/dir as an external catalog table."""
        self.create_database(db)
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {_qname(db, table)} USING parquet "
            "LOCATION :path", args={"path": path})

    def register_parquet_dir(self, sf_dir: str, db: str = "main",
                             tables: tuple[str, ...] | None = None) -> list[str]:
        """Register every ``<sf_dir>/<name>.parquet`` as ``db.name``."""
        found = []
        names = tables or tuple(
            f[:-8] for f in sorted(os.listdir(sf_dir)) if f.endswith(".parquet"))
        for t in names:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.register_parquet_table(db, t, resolve_parquet_path(p))
                found.append(t)
        return found

    def register_existing_table(self, name: str, name_as: str,
                                db: str = "main") -> None:
        """Alias an existing table (reference src/builders.rs:409-436)."""
        if not self.table_exists(db, name):
            raise ValueError(f"table {db}.{name} does not exist")
        self.spark.sql(
            f"CREATE OR REPLACE VIEW {_qname(db, name_as)} AS "
            f"SELECT * FROM {_qname(db, name)}")

    def drop_table(self, db: str, table: str, if_exists: bool = True) -> None:
        """Reference: src/providers/catalog.rs:202-240 (DROP TABLE IF EXISTS)."""
        ie = "IF EXISTS " if if_exists else ""
        self.spark.sql(f"DROP TABLE {ie}{_qname(db, table)}")

    def create_table(self, db: str, table: str, schema_ddl: str,
                     engine: str = "MergeTree",
                     order_by: list[str] | None = None,
                     primary_keys: list[str] | None = None,
                     partition_by: str | None = None,
                     ttl: str | None = None,
                     defaults: dict[str, str] | None = None,
                     if_not_exists: bool = True) -> None:
        """CREATE TABLE with the reference's CreateOptions surface
        (src/utils/params.rs:42-69, src/utils/create.rs:48-82).

        ClickHouse-physical knobs (engine, order_by, primary_keys, sampling,
        ttl) have no Spark execution meaning — they are recorded as
        TBLPROPERTIES for round-tripping; ``partition_by`` maps to real
        Spark partitioning; ``defaults`` become column DEFAULTs.
        """
        self.create_database(db)
        cols = [c.strip() for c in schema_ddl.split(",")]
        if defaults:
            cols = [
                f"{c} DEFAULT {defaults[c.split()[0]]}"
                if c.split()[0] in defaults else c
                for c in cols
            ]
        # Spark normalizes parquet-table schemas to nullable, dropping NOT
        # NULL; record the constraint as a property so the strict sink
        # (sink.py) can enforce it at write time like the reference does.
        not_null = [c.split()[0] for c in cols if "NOT NULL" in c.upper()]
        props = {"clickhouse.engine": engine}
        if not_null:
            props["clickhouse.not_null"] = ",".join(not_null)
        if order_by:
            props["clickhouse.order_by"] = ",".join(order_by)
        if primary_keys:
            props["clickhouse.primary_keys"] = ",".join(primary_keys)
        if ttl:
            props["clickhouse.ttl"] = ttl
        # property values are bound as parameters, not spliced
        props_sql = ", ".join(f"'{k}'=:p{i}" for i, k in enumerate(props))
        ine = "IF NOT EXISTS " if if_not_exists else ""
        part = f"PARTITIONED BY ({partition_by}) " if partition_by else ""
        self.spark.sql(
            f"CREATE TABLE {ine}{_qname(db, table)} ({', '.join(cols)}) "
            f"USING parquet {part}TBLPROPERTIES ({props_sql})",
            args={f"p{i}": v for i, v in enumerate(props.values())})

    def register_native_table(self, db_or_name: str, table: str | None,
                              path: str) -> None:
        """Register a ``clickhouse_native`` table (the Python DataSource
        connector) as a queryable temp view.

        Spark does not forward storage options of catalog tables to Python
        data source readers (the DDL `USING clickhouse_native` path loses
        the location), so the connector is surfaced through the reader API.
        Name resolves as ``<db>_<table>`` or just ``db_or_name`` when
        ``table`` is None.
        """
        from clickhouse_datafusion_spark.sources import register_clickhouse_source

        register_clickhouse_source(self.spark)
        name = f"{db_or_name}_{table}" if table else db_or_name
        (self.spark.read.format("clickhouse_native").option("path", path)
         .load().createOrReplaceTempView(name))

    def table_properties(self, db: str, table: str) -> dict[str, str]:
        rows = self.spark.sql(
            f"SHOW TBLPROPERTIES {_qname(db, table)}").collect()
        return {r["key"]: r["value"] for r in rows}

    # -- listing / refresh (src/providers/catalog.rs:54-200) ---------------
    def schema_names(self) -> list[str]:
        return [d.name for d in self.spark.catalog.listDatabases()]

    def table_names(self, db: str) -> list[str]:
        return [t.name for t in self.spark.catalog.listTables(db)]

    def table_exists(self, db: str, table: str) -> bool:
        return self.spark.catalog.tableExists(_qname(db, table))

    def refresh_catalog(self, db: str | None = None) -> None:
        for d in ([db] if db else self.schema_names()):
            for t in self.spark.catalog.listTables(d):
                # listTables includes session temp views (e.g. streaming
                # memory sinks) — only file-backed tables are refreshable
                if t.tableType in ("MANAGED", "EXTERNAL"):
                    self.spark.sql(f"REFRESH TABLE {_qname(d, t.name)}")

    # -- reads -------------------------------------------------------------
    def table(self, db: str, table: str) -> DataFrame:
        return self.spark.table(_qname(db, table))


# One registration per (session, sf_dir): the driver gate runs ~90 queries
# through one SparkSession, and re-registering 10 parquet views per query
# (10 footer/schema reads each) was the dominant per-query setup cost in
# round 1 (VERDICT.md "What's missing" #1). Weak-keyed by the session so a
# garbage-collected session can never alias a new one (id() values are
# reused after GC; temp views are per-session, so a stale hit would silently
# skip registration for the new session).
_VIEWS_REGISTERED: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary())


def register_testdata_views(spark: SparkSession, sf_dir: str,
                            force: bool = False) -> None:
    """Register the driver's testdata parquet as bare-name temp views
    (``region`` .. ``embeddings``), matching the DuckDB oracle's view names.

    Idempotent per (session, sf_dir) — repeated calls with the same scale
    factor are free; switching sf_dir re-registers (views are overwritten).
    """
    sf_abs = os.path.abspath(sf_dir)
    if not force and _VIEWS_REGISTERED.get(spark) == sf_abs:
        return
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            spark.read.parquet(resolve_parquet_path(p)).createOrReplaceTempView(t)
    _VIEWS_REGISTERED[spark] = sf_abs
