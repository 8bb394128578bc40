"""Write path — analog of ``ClickHouseDataSink`` (reference src/sink.rs).

Reference semantics reproduced here:
- strict pre-write schema validation with distinct error categories: field
  count mismatch, missing field by name, type mismatch, nullability violation
  (src/sink.rs:46-81, 143-176; tests/e2e.rs:1590-1650);
- ``INSERT`` returns a one-row, one-column ``count`` result (src/sink.rs:202-210,
  examples/03_joins.rs:79-81) — Spark normally returns an empty DataFrame.
  The count comes from the write job itself: an ``Observation`` on the
  DataFrame path (:func:`insert_into`), the write command's
  ``numOutputRows`` metric on the SQL path (:func:`run_insert_sql`), which
  runs every INSERT shape as Spark's own command;
- configurable write concurrency, default 4 (src/connection.rs:45-57): the
  reference fans batches out over ``buffer_unordered(n)``; the Spark analog is
  one writer task per partition, so we ``repartition(n)`` before the write;
- ``InsertOp::Overwrite`` rejected (src/providers/table.rs:148-152).

Nullability is validated against the *data* (an in-job guard on each
non-nullable target field) rather than the DataFrame's static nullable flags,
because Spark marks most derived columns nullable even when no nulls can
occur; the reference's per-batch check is likewise a data-level check.
"""

from __future__ import annotations

import re
import threading

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

DEFAULT_WRITE_CONCURRENCY = 4


class SchemaValidationError(ValueError):
    """Raised when an inserted DataFrame does not match the target table."""


class OverwriteNotSupported(NotImplementedError):
    """Parity with the reference rejecting InsertOp::Overwrite."""


# Spark's FileOutputCommitter stages EVERY concurrent job writing a path
# under the same <path>/_temporary/0 directory; two jobs committing the same
# table concurrently delete each other's staged part files (lost parts /
# FileNotFoundException at commit). The reference never hits this because a
# ClickHouse INSERT is an independent server-side transaction
# (tests/e2e_stress.rs runs 16 truly-concurrent writers). Spark analog: a
# driver-side per-table mutex around the WHOLE write job — execution AND
# commit serialize for same-table writers, because insertInto and Spark's
# own SQL INSERT stage into _temporary from the first task, so there is no
# commit-only window to lock without a staged-directory write path (the
# clickhouse_native connector has exactly that — one part_<uuid> file per
# task, no staging dir — and therefore takes no lock; route
# truly-concurrent same-table load through it). Task parallelism inside each job is untouched and
# different tables proceed concurrently; the lock is process-local, so
# multi-DRIVER writers sharing a path still need an external committer.
_TABLE_WRITE_LOCKS: dict[tuple, threading.Lock] = {}
_LOCKS_GUARD = threading.Lock()


def _parser(spark: SparkSession):
    return spark._jsparkSession.sessionState().sqlParser()  # noqa: SLF001


def _table_write_lock(spark: SparkSession, name_parts) -> threading.Lock:
    """The write mutex of one table, for the DataFrame and the SQL
    insert paths alike. ``name_parts`` is the parser's multipart name (a
    Scala Seq); the key is its parts lowercased, a one-part name
    qualified by the current database — so ``pbw.w_local``,
    ```pbw`.`w_local``` and ``PBW.W_LOCAL`` share one lock."""
    key = tuple(name_parts.apply(i).lower() for i in range(name_parts.size()))
    if len(key) == 1:
        key = (spark.catalog.currentDatabase().lower(),) + key
    with _LOCKS_GUARD:
        return _TABLE_WRITE_LOCKS.setdefault(key, threading.Lock())


class _HeldArrowFrame(ClassicDataFrame):
    """A frame whose data is exactly ``_held``, the Arrow table its JVM
    ``LocalRelation`` was built from. ``toPandas()`` and ``toArrow()``
    read their batches through ``_collect_as_arrow``, so serving the held
    batches there collects with no Spark job. Everything else
    (``collect()``, ``schema``, views, every transformation) goes through
    the JVM frame; a derived frame is a plain ``DataFrame``."""

    def _collect_as_arrow(self, split_batches: bool = False,
                          empty_list_if_zero_records: bool = True):
        import pyarrow as pa

        held = self._held
        if held.num_rows == 0:
            if empty_list_if_zero_records:
                return []
            return [pa.RecordBatch.from_arrays(
                [pa.array([], f.type) for f in held.schema],
                schema=held.schema)]
        batches = held.to_batches()
        if split_batches:
            # selfDestruct frees each column as it converts: give it its
            # own copy, as PySpark's collect does, and keep ``_held``
            batches = [pa.RecordBatch.from_arrays(
                [pa.concat_arrays([a]) for a in b], schema=b.schema)
                for b in batches]
        return batches


def arrow_frame(spark: SparkSession, data, schema=None) -> DataFrame:
    """The one way the engine builds a result frame it made itself.

    ``data`` is a pyarrow Table, or a list of row tuples laid out by
    ``schema`` (a StructType or a DDL string). Either way the frame is
    built from Arrow, which Spark plans as a ``LocalRelation`` (a
    ``LocalTableScan``) up to ``spark.sql.execution.arrow.
    localRelationThreshold`` — the reference hands results back as Arrow
    RecordBatches (src/stream.rs:110-131). A Python list would become a
    pickled RDD instead (``Scan ExistingRDD``), so collecting even one
    count row would start Python workers.

    The frame also keeps the Arrow table exactly as it was sent to the
    JVM (:class:`_HeldArrowFrame`), so ``toPandas()`` and ``toArrow()``
    of it run no Spark job — and so no SQL-execution listener event
    fires for that collect. The held table is built from the same input
    the way ``createDataFrame`` builds what it sends (timestamps
    localized in the session timezone, then cast to Spark's Arrow
    schema), shares its buffers where the cast is a no-op, and lives
    as long as the frame."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import (
        _check_arrow_table_timestamps_localize, to_arrow_schema)

    if not isinstance(data, pa.Table):
        if isinstance(schema, str):
            schema = T.DataType.fromDDL(schema)
        arrow_schema = to_arrow_schema(schema)
        data = pa.Table.from_arrays(
            [pa.array([row[i] for row in data], type=f.type)
             for i, f in enumerate(arrow_schema)], schema=arrow_schema)
    conf = spark._jconf  # noqa: SLF001
    tz, large = conf.sessionLocalTimeZone(), conf.arrowUseLargeVarTypes()
    df = spark.createDataFrame(data, schema)
    struct = df._schema  # noqa: SLF001 — the StructType it sent under
    out = _HeldArrowFrame(df._jdf, spark)  # noqa: SLF001
    out._held = _check_arrow_table_timestamps_localize(
        data, struct, True, tz).cast(to_arrow_schema(
            struct, error_on_duplicated_field_names_in_struct=True,
            prefers_large_types=large))
    return out


_COUNT_SCHEMA = T.StructType([T.StructField("count", T.LongType(), False)])


def _count_df(spark: SparkSession, n: int) -> DataFrame:
    return arrow_frame(spark, [(n,)], _COUNT_SCHEMA)


# Logical nodes that (can) change the partitioning between the file scan
# and the write, invalidating the file-split partition estimate.
_RESHUFFLE_NODES = ("Aggregate", "Join", "Window", "Sort", "Distinct",
                    "Deduplicate", "Repartition", "GlobalLimit", "Expand")


def _plan_may_reshuffle(df: DataFrame) -> bool:
    """True when the analyzed logical plan contains a node that may insert
    an exchange (so the scan-split estimate no longer predicts the final
    partition count). Reads the ALREADY-ANALYZED logical plan — no
    physical re-planning, unlike an ``df.rdd`` probe."""
    try:
        s = df._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
    except Exception:
        return True
    return any(n in s for n in _RESHUFFLE_NODES)


def validate_schema(df: DataFrame, target_schema: T.StructType) -> None:
    """Strict name/type validation (reference src/sink.rs:46-81)."""
    src = {f.name.lower(): f for f in df.schema.fields}
    tgt = {f.name.lower(): f for f in target_schema.fields}
    if len(df.schema.fields) != len(target_schema.fields):
        raise SchemaValidationError(
            f"field count mismatch: input has {len(df.schema.fields)} fields, "
            f"table has {len(target_schema.fields)}")
    for name, tf in tgt.items():
        if name not in src:
            raise SchemaValidationError(f"missing field: {tf.name}")
        sf = src[name]
        if sf.dataType != tf.dataType:
            raise SchemaValidationError(
                f"type mismatch for field {tf.name}: input "
                f"{sf.dataType.simpleString()}, table {tf.dataType.simpleString()}")


def _not_null_columns(spark: SparkSession, table: str,
                      target_schema: T.StructType) -> list[str]:
    """NOT NULL columns of a table: schema flags plus the
    ``clickhouse.not_null`` property (Spark drops NOT NULL from parquet
    catalog-table schemas, so catalog.create_table records it there)."""
    cols = [f.name for f in target_schema.fields if not f.nullable]
    try:
        rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
        props = {r["key"]: r["value"] for r in rows}
        cols += [c for c in props.get("clickhouse.not_null", "").split(",") if c]
    except AnalysisException:
        # temp views / non-catalog relations have no TBLPROPERTIES —
        # the schema-flag columns above are the whole answer there
        pass
    return sorted(set(cols))


_NULL_GUARD_MARK = "nullability violation"


def _null_guarded(col_name: str, dtype: T.DataType):
    """Column expression that errors at *write time* on a NULL in a
    non-nullable field — the Spark analog of the reference's per-batch
    nullability check inside the write stream (src/sink.rs:143-176).
    A task failure aborts the job before the file commit, so no bad data
    lands, and the input is never scanned a second time."""
    msg = (f"{_NULL_GUARD_MARK}: field {col_name} is non-nullable but input "
           f"contains null(s)")
    return (F.when(F.col(col_name).isNotNull(), F.col(col_name))
            .otherwise(F.raise_error(F.lit(msg)).cast(dtype))
            .alias(col_name))


def insert_into(spark: SparkSession, df: DataFrame, table: str,
                write_concurrency: int = DEFAULT_WRITE_CONCURRENCY,
                overwrite: bool = False) -> DataFrame:
    """Append ``df`` into catalog table ``table`` and return a count DataFrame.

    Single-pass: the row count comes from ``df.observe`` on the write job and
    nullability is enforced inside the same job (``_null_guarded``), so the
    input plan executes exactly once — the reference likewise folds counts
    from the write stream itself (src/sink.rs:202-210) instead of re-running
    the input.
    """
    if overwrite:
        raise OverwriteNotSupported(
            "overwrite not supported (reference parity: "
            "src/providers/table.rs:148-152)")
    target_schema = spark.table(table).schema
    validate_schema(df, target_schema)
    non_nullable = {c.lower()
                    for c in _not_null_columns(spark, table, target_schema)}
    # Statically non-nullable inputs cannot violate the constraint — skip
    # the per-row CASE WHEN guard for them so a clean pipeline pays zero
    # guard cost (the data-level check only matters when Catalyst cannot
    # prove non-nullness).
    src_nullable = {f.name.lower(): f.nullable for f in df.schema.fields}
    # Reorder columns by name to match the table; one writer task per
    # concurrency slot (reference buffer_unordered(write_concurrency)).
    ordered = df.select([
        _null_guarded(f.name, f.dataType)
        if (f.name.lower() in non_nullable
            and src_nullable.get(f.name.lower(), True))
        else F.col(f.name)
        for f in target_schema.fields])
    obs = Observation()
    observed = ordered.observe(obs, F.count(F.lit(1)).alias("rows"))
    # Bounding writer parallelism does not require a shuffle: coalesce
    # collapses partitions in place when the input already has ≥n, which at
    # 100 TB deletes a full exchange of the inserted data; repartition only
    # when we must fan OUT to reach the requested concurrency.
    if write_concurrency:
        # Partition probe = file-split estimate off the pre-observe plan
        # (projection and observe preserve partitioning) — NOT df.rdd,
        # whose RDD conversion re-plans the query. The estimate only
        # describes the SCAN, so it is trusted (→ cheap coalesce) only for
        # scan/project-shaped inputs; any shuffle-inducing node between
        # scan and write (agg/join/AQE-coalesced exchange) can leave far
        # fewer partitions than the file count says, and coalesce can only
        # shrink — it would silently under-deliver the requested write
        # concurrency (r4 advice). Those plans, and None estimates
        # (in-memory VALUES inserts), take the safe repartition: such
        # inputs already shuffled at least once, so one more exchange of
        # the insert set is marginal.
        from clickhouse_datafusion_spark.plans.explain import (
            estimated_scan_partitions)

        cur = estimated_scan_partitions(ordered)
        if (cur is not None and cur >= write_concurrency
                and not _plan_may_reshuffle(ordered)):
            writer = observed.coalesce(write_concurrency)
        else:
            writer = observed.repartition(write_concurrency)
    else:
        writer = observed
    # v1 write path (works for parquet catalog tables); positional resolution,
    # hence the explicit column reorder above.
    try:
        with _table_write_lock(
                spark, _parser(spark).parseMultipartIdentifier(table)):
            writer.write.insertInto(table, overwrite=False)
    except Exception as e:  # surface the in-job null guard as a typed error
        m = re.search(
            rf"{_NULL_GUARD_MARK}: field \S+ is non-nullable but input "
            rf"contains null\(s\)", str(e))
        if m:
            raise SchemaValidationError(m.group(0)) from e
        raise
    return _count_df(spark, obs.get["rows"])




def parse_insert(spark: SparkSession, insert_sql: str):
    """Spark's parsed plan of a table INSERT (an ``InsertIntoStatement``).
    Any other INSERT-led command (``INSERT OVERWRITE DIRECTORY``,
    ``REPLACE WHERE``) raises ValueError."""
    plan = _parser(spark).parsePlan(insert_sql)
    kind = plan.getClass().getSimpleName()
    if kind != "InsertIntoStatement":
        raise ValueError(f"not a table INSERT ({kind}): {insert_sql[:80]}")
    return plan


def run_insert_sql(spark: SparkSession, insert_sql: str,
                   plan=None) -> DataFrame:
    """Execute a SQL INSERT, returning the reference-style count row.

    Every shape (plain, column list, ``VALUES``, static or dynamic
    ``PARTITION``, ``OVERWRITE``) runs as Spark's own command:
    ``spark.sql`` executes it eagerly under the target's write lock, and
    the count is the write command's ``numOutputRows`` metric, so no
    job reads the table or the source a second time — the reference
    likewise folds the count from its write stream
    (src/sink.rs:202-210). ``plan`` is the statement's
    parsed plan when the caller already holds one (the engine parses
    once to route the source); otherwise it is parsed here."""
    if plan is None:
        plan = parse_insert(spark, insert_sql)
    with _table_write_lock(spark, plan.table().multipartIdentifier()):
        done = spark.sql(insert_sql)
    qe = done._jdf.queryExecution()  # noqa: SLF001
    write = qe.executedPlan().commandPhysicalPlan()
    if write.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        # a source with an exchange runs adaptively; the plan is final
        # by now, so this reads it without running anything again
        write = write.finalPhysicalPlan()
    return _count_df(
        spark, write.cmd().metrics().apply("numOutputRows").value())
