"""The engine front door — analog of the reference's ``ClickHouseSessionContext``
(src/context.rs:248-304).

``engine.sql(q)``:
1. rewrites the ClickHouse function surface (``clickhouse()/clickhouse_eval()/
   apply()`` + backticked names + ``$x`` lambdas) into native Spark expressions
   with explicit casts — the Spark analog of the reference's analyzer running
   before TypeCoercion (src/context.rs:104-116);
2. strips the virtual ``clickhouse.`` catalog prefix from 3-part names
   (src/analyzer/function_pushdown.rs:460-473);
3. delegates to ``spark.sql`` — Catalyst provides parse/analyze/optimize
   (predicate pushdown, column pruning, limit pushdown, join selection, AQE),
   which is the built-in equivalent of the reference's federation pushdown
   (SURVEY §4.1).

INSERT statements return a one-row ``count`` DataFrame like the reference's
sink (src/sink.rs:202-210, examples/03_joins.rs:79-81) instead of Spark's
empty result.
"""

from __future__ import annotations

import contextlib
import re

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from clickhouse_datafusion_spark.catalog import ClickHouseCatalog, DEFAULT_CATALOG
from clickhouse_datafusion_spark.fragments import sql_ident
from clickhouse_datafusion_spark.functions.rewrite import rewrite_sql
from clickhouse_datafusion_spark.sink import arrow_frame


class ClickHouseSparkEngine:
    def __init__(self, spark: SparkSession, catalog_name: str = DEFAULT_CATALOG,
                 coercion: bool = False, mat_view_dir: str | None = None):
        """``coercion=True`` is the analog of the reference's
        ``ClickHouseBuilder::with_coercion`` (src/builders.rs:128-135):
        declared-type mismatches coerce to NULL (TRY_CAST) instead of
        erroring. ``mat_view_dir`` roots materialized-view storage
        (default: ``spark-warehouse/_matviews`` under the CURRENT
        directory, made absolute so the JVM and Python agree)."""
        import os

        self.spark = spark
        self.catalog = ClickHouseCatalog(spark, catalog_name)
        self._catalog_names = {catalog_name.lower()}
        self.coercion = coercion
        self._native_tables = {}
        self._mat_views = {}
        self._sample_keys = {}
        self._mat_view_dir = os.path.abspath(
            mat_view_dir or os.path.join("spark-warehouse", "_matviews"))
        self._remote = None
        self._remote_db = None
        self.last_remote_sql: str | None = None
        # observability of the federation seam (r10): the swallowed
        # fallback exception (a remote outage is distinguishable from a
        # dialect-gate refusal) and the INSERT ship mode
        # ('whole' | 'arrow' | None).
        self.last_remote_error: Exception | None = None
        self.last_remote_align_error: Exception | None = None
        self.last_remote_insert: str | None = None
        self.last_remote_refusal: str | None = None
        self._remote_spool_dir = os.path.abspath(
            os.path.join("spark-warehouse", "_remote_spool"))
        # pooled writers + batch granularity for the streamed federated
        # write path (the reference sink's write_concurrency +
        # batch_size matrix, src/sink.rs:129-211,
        # examples/10_large_scale.rs:253-276)
        self.write_concurrency = 4
        self.write_batch_rows = 65536
        # federated-write data plane, one of three (see append_remote;
        # _write_plane is the one rule that picks it): 'spool' = the
        # driver-funnel streamed append (parity with the reference's
        # single-client sink, src/sink.rs:102-211); 'direct' = trigger-
        # bounded driver-funnel Arrow collect; 'executor_direct' =
        # per-partition wire transactions straight from executors to
        # the remote's ingest server (remote.start_ingest_server())
        self.write_mode = "spool"
        self.last_write_plane_demoted = False
        # test-only fault injection for the executor_direct plane's
        # exactly-once property suite (partition ids that raise)
        self._x1_fault_partitions: frozenset | None = None

    # ---------------------------------------------------------------------
    def attach_remote(self, remote, db: str = "remote",
                      local_twin_dir: str | None = None) -> None:
        """Attach a :class:`~clickhouse_datafusion_spark.sources.
        remote_engine.RemoteEngine` as the federated backend for
        ``clickhouse.<db>.*`` / ``<db>.*`` references; bare names also
        resolve remote, but only while no LOCAL table or view of the
        same name exists (nearest-scope rule — attaching a remote never
        silently re-points an existing local view).

        After attaching, :meth:`sql` ships any WHOLE statement whose
        table references all live in the remote engine and that passes
        the dialect gate (S7 whole-subtree exec; a remote⋈remote join
        ships with it — J8); everything else runs locally as before.
        ``local_twin_dir`` optionally registers the same parquet files
        as local Spark views, so non-shippable statements over the
        same names still resolve (the reference's TableProvider scan
        fallback)."""
        import os
        import shutil
        import time as _time

        from clickhouse_datafusion_spark.catalog import (
            register_testdata_views)

        # best-effort GC of prior sessions' remote-result spools: a spool
        # is a read-once scan input for one streamed hand-back, so
        # anything older than a few hours is dead weight
        try:
            if os.path.isdir(self._remote_spool_dir):
                cutoff = _time.time() - 6 * 3600
                for d in os.listdir(self._remote_spool_dir):
                    p = os.path.join(self._remote_spool_dir, d)
                    if os.path.getmtime(p) < cutoff:
                        shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
        self._remote = remote
        self._remote_db = db
        if local_twin_dir is not None:
            register_testdata_views(self.spark, local_twin_dir)

    def _remote_gate(self, sql: str, reasons: list | None = None):
        """Every check that decides WHETHER a statement ships — shared
        by the executing path (:meth:`_try_remote_exec`) and the
        dry-run diagnostics surface (:meth:`remote_decision`, EXPLAIN).
        Returns ``(shipped_sql | None, local_schema | None)``; on
        refusal the WHY is appended to ``reasons`` — the analog of the
        reference analyzer's not-pushed diagnostics.

        Past the lexical refusals (``remote_engine.lexical_refusal``)
        every decision reads Spark's parsed plan, parsed ONCE per
        statement: a statement the local surface cannot parse (or whose
        plan cannot be serialized) stays local, where the fallback
        raises the surface's own error; a command (any ``*Statement`` /
        ``*Command`` node) stays local before anything is analyzed, and
        an INSERT into the remote db that reached here (a CTE-headed or
        multi-insert form the INSERT front door does not route) raises
        ValueError before any row lands."""
        from clickhouse_datafusion_spark.sources import remote_engine as rx

        def refuse(why: str):
            if reasons is not None:
                reasons.append(why)
            return None, None

        if self._remote is None:
            return refuse("no remote engine attached")
        why = rx.lexical_refusal(sql)
        if why is not None:
            return refuse(why)
        try:
            nodes = rx.parse_plan(self.spark, sql)
        except Exception:
            return refuse("statement does not parse on the local surface "
                          "(remote-only syntax)")
        cmd = next((n for n in nodes
                    if n["cls"].endswith(("Statement", "Command"))), None)
        if cmd is not None:
            target = (rx.node_name(cmd["table"])
                      if cmd["cls"] == "InsertIntoStatement" else "")
            if self._remote_bare(target) is not None:
                raise ValueError(
                    f"an INSERT into remote table {target} must start with "
                    f"INSERT: write it as INSERT INTO {target} WITH … "
                    "SELECT …")
            return refuse(f"command, not a query: {cmd['cls']}")
        refs = rx.plan_refs(nodes)
        # ALL time extraction is session-timezone-dependent in Spark
        # (timestamps are instants rendered in the session tz — even
        # year() flips on a New Year's Eve instant) but tz-naive in the
        # remote engine: identical ONLY when the session runs UTC —
        # otherwise those statements stay local (errs toward not
        # shipping, like every other gate). r10d widened this from the
        # sub-day set: year/month/day are equally tz-dependent.
        tz = self.spark.conf.get("spark.sql.session.timeZone", "UTC")
        if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z"):
            if any(n["cls"] == "UnresolvedFunction"
                   and rx.node_name(n) in _TIME_FUNCS for n in nodes):
                return refuse(f"time extraction under non-UTC session "
                              f"timezone ({tz}) is tz-dependent locally "
                              "but tz-naive remotely")
            # r11 widening (advice): extraction functions are not the
            # only tz-dependent construct — ANY flow of a remote
            # TIMESTAMP column (bare projection, comparison, CAST to
            # date/string, SELECT *) renders instants in the session tz
            # locally but naively remotely. Scoped to the statement's
            # referenced tables; errs toward staying local.
            try:
                ts_cols = self._remote.timestamp_columns(tables=refs)
            except Exception as e:
                # r12 advice fix: a timestamp_columns failure under a
                # non-UTC session must REFUSE (stay local), not ship —
                # shipping on an unknown timestamp surface is exactly
                # the divergence the gate exists to prevent
                return refuse(
                    f"cannot enumerate remote timestamp columns under "
                    f"non-UTC session timezone ({tz}): {e!r}")
            if ts_cols and any(
                    n["cls"] == "UnresolvedStar"
                    or (n["cls"] == "UnresolvedAttribute"
                        and rx.node_name(n).rsplit(".", 1)[-1] in ts_cols)
                    for n in nodes):
                return refuse(
                    f"remote timestamp column under non-UTC session "
                    f"timezone ({tz}): rendering is tz-dependent "
                    "locally but tz-naive remotely")
        try:
            # scoped to the referenced tables (r11, advice): a decimal
            # column name in an unrelated remote table must not
            # de-federate statements that merely reuse the word
            dec_cols = self._remote.decimal_columns(tables=refs)
        except Exception:  # pragma: no cover - remote without the API
            dec_cols = frozenset()
        shipped = rx.unparse_for_remote(
            sql, nodes, next(iter(self._catalog_names)),
            self._remote_db or "remote", self._remote.tables(),
            local_tables=self._remote_shadows(refs),
            decimal_cols=dec_cols, reasons=reasons)
        if shipped is None:
            return None, None                   # reason already recorded
        # Schema fidelity (r10b): the LOCAL analyzed schema is the engine
        # surface's contract; remote result dtypes legitimately differ
        # (sum(int) -> HUGEINT, date_trunc(_, DATE) -> DATE, year/length
        # -> BIGINT, greatest -> DOUBLE — probed r10b,
        # tools/audit_remote_allowlist.py). Analysis is lazy and
        # driver-only; with no local twins registered the hand-back
        # ships uncast, best-effort.
        local_schema = None
        if self._local_twins_resolve(refs):
            try:
                local_schema = self.spark.sql(self._local_form(sql)).schema
            except Exception as e:
                # no local analysis = no alignment hint: the hand-back
                # keeps the remote's own names/types. Recorded, not
                # silent (seam observability convention, r11/r12)
                self.last_remote_align_error = e
        return shipped, local_schema

    def remote_decision(self, query: str,
                        pre_rewritten: bool = False) -> dict:
        """Gate-only dry run: would ``query`` ship to the attached
        remote engine, and if not, why not — the reference analyzer's
        federation diagnostics surfaced as an API (``EXPLAIN`` prepends
        the same verdict to the plan text). Never executes anything.
        ``pre_rewritten=True`` skips the dialect rewrite — the EXPLAIN
        path passes text :meth:`sql` already rewrote, and the diagnosed
        statement must stay byte-identical to what the executing gate
        sees (r11, advice: a non-idempotent rewrite pass must not make
        the dry-run verdict diverge from the executed decision)."""
        reasons: list = []
        stmt = query if pre_rewritten else self.rewrite(query)
        try:
            shipped, _ = self._remote_gate(stmt, reasons)
        except ValueError as e:     # a statement sql() would reject
            shipped = None
            reasons.append(str(e))
        return {"ships": shipped is not None,
                "remote_sql": shipped,
                "reason": "; ".join(reasons) or None}

    def _explain_with_federation(self, mode: str, inner: str):
        """``EXPLAIN [mode] <stmt>`` with a remote attached: the local
        plan text (over twin views when they resolve), headed by the
        federation verdict — RemoteEngineExec + the exact shipped SQL,
        or the gate's refusal reason (src/context.rs EXPLAIN shows the
        federated exec nodes the same way)."""
        d = self.remote_decision(inner, pre_rewritten=True)
        if d["ships"]:
            head = ("== Remote Federation ==\nRemoteEngineExec "
                    f"[db={self._remote_db}]: {d['remote_sql']}")
        else:
            head = f"== Remote Federation ==\nlocal ({d['reason']})"
        try:
            stmt = self._route_native_tables(
                self._local_form(f"EXPLAIN {mode or ''} {inner}"))
            body = self.spark.sql(stmt).collect()[0][0]
        except Exception as e:
            body = (f"(local plan unavailable: {type(e).__name__}: "
                    f"{str(e)[:200]})")
        return arrow_frame(self.spark, [(f"{head}\n\n{body}",)],
                           "plan string")

    def _try_remote_exec(self, sql: str):
        """S7/J8: return a DataFrame when the whole statement shipped,
        else None. Never raises out of the federation seam — a remote
        failure falls back to the local plan, recorded on
        ``last_remote_error`` (so an outage is distinguishable from a
        dialect-gate refusal, which records ``last_remote_refusal``).

        Scale contract: every shipped read STREAMS batch-by-batch
        (``_spool_remote_stream``, the reference's RecordBatchStream
        hand-back, src/stream.rs:110-131). A result that fits under
        Spark's local-relation threshold comes back as an Arrow
        LocalRelation; past it the stream spills to a parquet spool, so
        no shipped result — an unaggregated
        ``SELECT * FROM remote.lineitem`` or a high-cardinality GROUP BY
        alike — holds more than the threshold in driver memory. Bare
        table names resolve LOCAL-first (nearest scope): a statement
        whose bare ref is shadowed by an existing local table/view
        stays local."""
        reasons: list = []
        shipped, local_schema = self._remote_gate(sql, reasons)
        if shipped is None:
            self.last_remote_refusal = "; ".join(reasons) or None
            return None
        try:
            df = self._spool_remote_stream(shipped, local_schema)
        except Exception as e:
            self.last_remote_error = e
            return None
        if local_schema is None or df.schema != local_schema:
            df = self._align_remote_schema(df, local_schema)
        self.last_remote_sql = shipped
        return df

    def _arrow_to_df(self, tbl, local_schema):
        """Arrow table -> DataFrame in ONE conversion: rename + cast on
        the Arrow side to the local analyzed schema (exact names, dtypes
        AND nullability), falling back to the generic conversion +
        :meth:`_align_remote_schema` when the cast cannot apply."""
        if local_schema is not None and len(local_schema) == tbl.num_columns:
            import pyarrow as pa
            try:
                from pyspark.sql.pandas.types import to_arrow_schema
                cast = (tbl.rename_columns(
                    [f.name for f in local_schema.fields])
                    .cast(to_arrow_schema(local_schema)))
                return arrow_frame(self.spark, cast, local_schema)
            except (pa.ArrowInvalid, pa.ArrowNotImplementedError,
                    pa.ArrowTypeError, ValueError, TypeError,
                    KeyError) as e:
                # narrow on purpose (r11, advice): only the known
                # cast/rename/unsupported-type failures fall through to
                # the generic conversion (which the caller still
                # positionally aligns); anything else raises. The fall-
                # through is OBSERVABLE, not silent:
                self.last_remote_align_error = e
        return arrow_frame(self.spark, tbl)

    def _local_twins_resolve(self, refs) -> bool:
        """True when every table ref (:func:`remote_engine.plan_refs`)
        exists in the local catalog under its local-form name — the
        precondition for the driver-only schema analysis (avoids a
        spurious JVM TABLE_OR_VIEW_NOT_FOUND error log when no twin
        views were registered)."""
        try:
            return all(self.spark.catalog.tableExists(self._local_form(r))
                       for r in refs)
        except Exception:  # pragma: no cover - defensive
            return False

    def _local_form(self, stmt: str) -> str:
        """The statement as the LOCAL fallback would run it: remote db
        qualifiers stripped (literal-safe) so twin views resolve — the
        exact rewrite :meth:`sql` applies when the gate refuses."""
        from clickhouse_datafusion_spark.sources.remote_engine import (
            sub_outside_literals)

        return sub_outside_literals(
            rf"\b{re.escape(self._remote_db)}\.(\w+)\b",
            lambda m: m.group(1)
            if m.group(1).lower() in self._remote.tables()
            else m.group(0),
            stmt)

    def _align_remote_schema(self, df, local_schema):
        """Align a remote hand-back to the locally-analyzed schema so
        ship-vs-local is schema-identical BY CONSTRUCTION — the
        reference enforces its logical schema on returned RecordBatches
        the same way (src/stream.rs schema contract). Alignment is
        POSITIONAL: both schemas come from the SAME statement, so
        column order is identical by definition, while auto-generated
        names diverge (``count(*)`` is ``count(1)`` locally but
        ``count_star()`` remotely — probed r10b) — the local name wins.
        Best-effort: an arity mismatch skips the alignment rather than
        failing the ship."""
        if local_schema is None or len(local_schema) != len(df.columns):
            return df
        out = df.toDF(*[f.name for f in local_schema.fields])
        try:
            from pyspark.sql import functions as F
            names = [f.name for f in local_schema.fields]
            if len({n.lower() for n in names}) == len(names):
                out = out.select([
                    F.col(sql_ident(f.name)).cast(f.dataType).alias(f.name)
                    for f in local_schema.fields])
        except (AnalysisException, ValueError, TypeError, KeyError) as e:
            # narrow on purpose (r12 — the _arrow_to_df convention):
            # only the known cast failure classes keep the renamed-but-
            # uncast frame, and the fall-through is OBSERVABLE, not
            # silent; anything else raises
            self.last_remote_align_error = e
        return out

    def _remote_shadows(self, refs) -> set[str]:
        """Bare table refs that exist BOTH remotely and as a local
        table/view — those resolve local (nearest scope) and keep the
        statement from shipping."""
        remote_tables = self._remote.tables()
        return {r for r in refs
                if "." not in r and r in remote_tables
                and self.spark.catalog.tableExists(r)}

    def _spool_remote_stream(self, shipped: str, local_schema) -> DataFrame:
        """Hand back a shipped remote result from its RecordBatch
        stream. Batches buffer on the driver up to Spark's
        own ``spark.sql.execution.arrow.localRelationThreshold``: a
        stream that ends under it comes back through
        :meth:`_arrow_to_df` (one Arrow-side cast to the local analyzed
        schema, a LocalRelation — no spool file, no schema-inference
        job). Past the threshold it spills to a parquet spool — the
        buffered batches, then the rest one at a time — and Spark scans
        the spool, so driver memory stays bounded by the threshold. A
        stream that fails mid-spill takes its partial spool with it."""
        import os
        import shutil
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        limit = (self.spark._jsparkSession.sessionState().conf()  # noqa: SLF001
                 .arrowLocalRelationThreshold())
        stream = self._remote.execute_stream(shipped)
        buffered, size = [], 0
        try:
            for batch in stream:
                buffered.append(batch)
                size += batch.nbytes
                if size > limit:
                    break
            else:
                return self._arrow_to_df(pa.Table.from_batches(buffered),
                                         local_schema)
            path = os.path.join(self._remote_spool_dir, uuid.uuid4().hex)
            os.makedirs(path, exist_ok=True)
            try:
                with pq.ParquetWriter(
                        os.path.join(path, "part-00000.parquet"),
                        buffered[0].schema) as writer:
                    for batch in buffered:
                        writer.write_batch(batch)
                    del buffered    # drain the rest one batch at a time
                    for batch in stream:
                        writer.write_batch(batch)
                return self.spark.read.parquet(path)
            except BaseException:
                shutil.rmtree(path, ignore_errors=True)
                raise
        finally:
            stream.close()

    # write plane -> its last_remote_insert label
    _APPEND_LABELS = {"spool": "arrow-stream", "direct": "direct-arrow",
                      "executor_direct": "executor-direct"}

    def _write_plane(self, allow_direct: bool) -> str:
        """The one write-plane policy every remote append goes through
        (``append_remote``, ``append_remote_exactly_once``, the CTAS
        local-eval path). ``write_mode`` must name one of the three
        planes; anything else raises before a row moves. 'direct'
        collects the whole source on the driver, so an unbounded
        source (``allow_direct=False``: the SQL front door) demotes it
        to 'executor_direct' — or to 'spool' when no ingest server is
        attached, which is also where 'executor_direct' itself falls
        back. ``last_write_plane_demoted`` records a demotion."""
        mode = self.write_mode
        if mode not in self._APPEND_LABELS:
            raise ValueError(
                f"write_mode must be 'spool', 'direct' or "
                f"'executor_direct', got {mode!r}")
        self.last_write_plane_demoted = mode == "direct" and not allow_direct
        if self.last_write_plane_demoted:
            mode = "executor_direct"
        if mode == "executor_direct" and self._remote.ingest_address is None:
            return "spool"
        return mode

    @contextlib.contextmanager
    def _plane_batches(self, plane: str, src_df):
        """The source side of the driver-drained planes: an iterator of
        ``write_batch_rows`` Arrow RecordBatches for the remote drain
        (pooled ``insert_arrow_batches`` or atomic
        ``ingest_transaction``).

        'direct' collects the source as ONE Arrow table — a trigger-
        bounded micro-batch skips the parquet round trip. 'spool'
        writes the source to a parquet spool DISTRIBUTED (executors
        write their partitions; the driver holds no rows) and streams
        it back, so at most the drain's in-flight batches exist in
        driver memory and a 100 TB ``INSERT INTO remote.t SELECT ...``
        is bounded by batch size, not source size — the write-direction
        twin of :meth:`_spool_remote_stream`. A zero-partition source
        yields an empty iterator, which still runs the drain's
        writability check (an empty INSERT into a read-only view raises
        like a non-empty one)."""
        if plane == "direct":
            yield iter(src_df.toArrow().to_batches(
                max_chunksize=self.write_batch_rows))
            return
        import os
        import shutil
        import uuid

        import pyarrow.dataset as pads

        path = os.path.join(self._remote_spool_dir,
                            "w_" + uuid.uuid4().hex)
        try:
            src_df.write.parquet(path)
            files = sorted(
                os.path.join(path, f) for f in os.listdir(path)
                if f.endswith(".parquet") and not f.startswith("."))
            yield (pads.dataset(files, format="parquet").to_batches(
                batch_size=self.write_batch_rows) if files else iter(()))
        finally:
            shutil.rmtree(path, ignore_errors=True)

    def _append(self, plane: str, bare: str, src_df, cols: str = "") -> int:
        """Append ``src_df`` into remote table ``bare`` on ``plane`` (as
        chosen by :meth:`_write_plane`); returns the appended rows."""
        if plane == "executor_direct":
            n = self._stream_insert_executors_direct(bare, src_df, cols)
        else:
            with self._plane_batches(plane, src_df) as batches:
                n = self._remote.insert_arrow_batches(
                    bare, batches, cols,
                    write_concurrency=self.write_concurrency)
        self.last_remote_insert = self._APPEND_LABELS[plane]
        return n

    def _stream_insert_executors_direct(self, bare: str, src_df,
                                        cols: str = "",
                                        commits: str | None = None,
                                        sink: str | None = None,
                                        batch_id: int | None = None
                                        ) -> int:
        """The executor_direct write plane (r14): the executor-parallel
        twin of the driver-funnel 'direct' plane — each source partition
        streams its Arrow batches over its own connection to the
        remote's token-gated ingest server, inside its own server-side
        transaction (no spool, no driver funnel; a Spark task RETRY
        re-streams atomically instead of duplicating a partial prefix).
        The count is the sum of server acks. Micro-batch cost cuts:

        * partitions coalesce to ``write_concurrency`` (wire
          parallelism is cursor-pool-bound anyway, so 32 source
          partitions as 32 tasks/connections for a 200k-row
          micro-batch is pure per-task fixed cost — a narrow
          dependency, no shuffle);
        * per-partition counts return via a bare ``collect()`` (an
          ``agg(sum)`` final stage adds an exchange + AQE round per
          micro-batch for a ≤wc-row sum the driver can do itself);
        * the writability fast-fail is a driver-side catalog check,
          not an empty wire insert round trip.

        With ``commits``/``sink``/``batch_id`` set (the exactly-once
        path, append_remote_exactly_once), every partition's header
        carries a ``(sink#b<batch_id>, partition_id)`` commit-log
        marker: the server skips a partition whose marker already
        landed (gate byte, before any data ships) and otherwise
        commits rows + marker in ONE transaction — so a Spark task
        RETRY, a mid-job crash + foreachBatch replay, or a zombie
        speculative attempt can never double-append a partition
        (commit-log PRIMARY KEY fences the race; the reference
        anchor is src/sink.rs:129-211's buffer_unordered writers,
        which are executor-side, not driver-side). Replay idempotence
        at partition grain assumes the replayed micro-batch
        recomputes deterministically (Spark's own foreachBatch replay
        contract for replayable sources)."""
        host, port = self._remote.ingest_address
        token = self._remote.ingest_token
        # fail fast driver-side before launching a distributed job
        self._remote.assert_writable(bare)
        # the remote append is POSITIONAL, so source column names are
        # free — normalize them: mapInArrow resolves columns by
        # unescaped name, and an auto-generated alias containing a dot
        # (e.g. a bare TIMESTAMP '...58.123456' literal) breaks it
        src_df = src_df.toDF(*[f"_c{i}"
                               for i in range(len(src_df.columns))])
        src_df = src_df.coalesce(max(1, int(self.write_concurrency)))
        batch_rows = self.write_batch_rows
        marker_base = (None if commits is None
                       else {"commits": commits,
                             "sink": f"{sink}#b{int(batch_id)}"})
        # test-only fault injection (tests/test_property_r14.py): the
        # named partitions raise before connecting, simulating a task
        # crash mid-job — the exactly-once property under partial
        # partition commits is the thing under test
        fault_parts = self._x1_fault_partitions

        def write_partition(batches):
            import json
            import socket
            from itertools import chain

            import pyarrow as pa
            from pyspark import TaskContext

            if fault_parts and TaskContext.get().partitionId() in fault_parts:
                raise RuntimeError("injected executor_direct fault (test)")
            it = iter(batches)
            try:
                first = next(it)
            except StopIteration:   # empty partition: nothing to send
                yield pa.record_batch(
                    [pa.array([0], type=pa.int64())], names=["n"])
                return
            with socket.create_connection((host, port)) as s:
                f = s.makefile("rwb")
                req = {"table": bare, "columns": cols}
                if token is not None:
                    req["token"] = token
                if marker_base is not None:
                    req["marker"] = dict(
                        marker_base,
                        batch=TaskContext.get().partitionId())
                hdr = json.dumps(req).encode()
                f.write(len(hdr).to_bytes(4, "big"))
                f.write(hdr)
                f.flush()
                if marker_base is not None:
                    gate = f.read(1)
                    if gate == b"\x11":      # partition already landed
                        yield pa.record_batch(
                            [pa.array([0], type=pa.int64())],
                            names=["n"])
                        return
                    if gate == b"\x01":
                        ln = int.from_bytes(f.read(4), "big")
                        raise RuntimeError("remote ingest failed: "
                                           + f.read(ln).decode())
                    if gate != b"\x10":
                        raise RuntimeError(
                            "remote ingest failed: bad gate byte "
                            f"{gate!r} (server closed?)")
                writer = pa.ipc.new_stream(f, first.schema)
                # coalesce Spark's small (~10k-row) Arrow batches up to
                # write_batch_rows: each received batch costs the server
                # one register+INSERT round trip
                buf, nbuf = [], 0

                def flush_buf():
                    tbl = pa.Table.from_batches(buf).combine_chunks()
                    writer.write_table(tbl)

                for b in chain([first], it):
                    buf.append(b)
                    nbuf += b.num_rows
                    if nbuf >= batch_rows:
                        flush_buf()
                        buf, nbuf = [], 0
                if buf:
                    flush_buf()
                writer.close()
                f.flush()
                status = f.read(1)
                if status == b"\x00":
                    n = int.from_bytes(f.read(8), "big")
                else:
                    ln = int.from_bytes(f.read(4), "big")
                    raise RuntimeError("remote ingest failed: "
                                       + f.read(ln).decode())
            yield pa.record_batch(
                [pa.array([n], type=pa.int64())], names=["n"])

        counts = src_df.mapInArrow(write_partition, schema="n bigint")
        # ≤ write_concurrency one-int rows: a driver-side sum, not an
        # agg exchange
        return int(sum(r["n"] for r in counts.collect()))

    def append_remote(self, table: str, df, cols: str = "",
                      allow_direct: bool = True) -> int:
        """Append a DataFrame into a writable remote table through the
        engine's write data plane — the DataFrame-API twin of
        ``INSERT INTO clickhouse.<db>.<table>`` and the
        per-micro-batch body of the streaming federated sink
        (streaming.events.stream_to_remote_table). Returns the
        appended row count.

        ``write_mode`` names one of three planes:

        * 'spool' (default): the source writes a parquet spool
          distributed, which streams back through ``write_concurrency``
          pooled writers — parity with the reference's single-client
          sink (src/sink.rs:102-211); driver memory is batch-bounded.
        * 'direct': collect the DataFrame as ONE Arrow table on the
          driver and stream it into the pooled writers — no spool
          round trip, for TRIGGER-BOUNDED sources only (a streaming
          micro-batch is bounded by maxFilesPerTrigger /
          maxOffsetsPerTrigger by construction).
        * 'executor_direct': every partition streams its Arrow batches
          straight to the remote's ingest server inside its own
          server-side transaction; throughput scales with partitions
          and driver memory stays flat at any batch size.

        One rule picks the plane (:meth:`_write_plane`):
        ``allow_direct=False`` (what the SQL front door passes — its
        source is unbounded) demotes 'direct' to 'executor_direct',
        and 'executor_direct' falls back to 'spool' when no ingest
        server is attached; ``last_write_plane_demoted`` records a
        demotion. Any other ``write_mode`` raises ValueError."""
        bare = table.lower().rsplit(".", 1)[-1]
        if self._remote is None or bare not in self._remote.tables():
            raise ValueError(f"no remote table {table!r}")
        return self._append(self._write_plane(allow_direct), bare, df, cols)

    def append_remote_exactly_once(self, table: str, df, batch_id: int,
                                   cols: str = "",
                                   sink_id: str | None = None) -> int:
        """IDEMPOTENT transactional append — the per-micro-batch body of
        the EXACTLY-ONCE streaming federated sink
        (streaming.events.stream_to_remote_table(exactly_once=True)).

        Structured Streaming's foreachBatch replays a failed micro-batch
        with the SAME ``batch_id``; a plain append therefore delivers
        at-least-once (the reference sink's contract — src/sink.rs has
        no transaction at all). This method upgrades that to
        exactly-once with the standard commit-log pattern: the batch's
        rows AND a ``(sink_id, batch_id)`` marker row land inside ONE
        remote transaction (``RemoteEngine.ingest_transaction``'s
        ``pre_commit_sql`` hook), and a replayed batch whose marker
        already exists is skipped whole. Crash before COMMIT → neither
        rows nor marker (the replay appends); crash after COMMIT →
        marker present (the replay skips); there is no window in which
        rows are visible without their marker.

        The commit log is ``<table>__commits (sink_id VARCHAR,
        batch_id BIGINT)`` in the remote, auto-created. ``sink_id``
        (default: the table name) namespaces independent streams
        writing the same table. The plane follows the same rule as
        :meth:`append_remote` (a micro-batch is trigger-bounded, so
        'direct' is never demoted). On 'spool' and 'direct' the drain
        is one cursor per TRANSACTION — cross-connection atomicity does
        not exist. 'executor_direct' instead drops the batch-grain
        transaction to PARTITION grain: every partition commits its
        rows with its own ``(sink#b<batch_id>, partition)`` marker in
        one wire transaction (server-side gate skips already-committed
        partitions before any data ships), and the whole-batch
        ``(sink, batch_id)`` marker lands after the job so a replayed
        batch skips in one probe — any crash point leaves each
        partition either fully committed (replay skips it) or absent
        (replay appends it), never partial. ``sink_id`` values must
        not themselves end in ``#b<digits>`` (the partition-marker
        namespace). Returns the appended row count (0 for a skipped
        replay; on a partial-crash replay, only the missing
        partitions' rows are counted)."""
        bare = table.lower().rsplit(".", 1)[-1]
        if self._remote is None or bare not in self._remote.tables():
            raise ValueError(f"no remote table {table!r}")
        plane = self._write_plane(allow_direct=True)
        commits = f"{bare}__commits"
        sink = (sink_id or bare).replace("'", "''")
        bid = int(batch_id)
        # commit-log statements are profile-rendered (dialect_profile
        # .py, construction-selected on the remote) so the ClickHouse
        # retarget transcripts pin the swap
        profile = self._remote.profile
        if commits not in self._remote.tables():
            # PRIMARY KEY = zombie-writer fencing: two concurrent
            # transactions claiming the same (sink, batch) — a
            # lingering pre-restart query racing its replacement — both
            # pass the seen-check, but only ONE marker insert can
            # commit; the loser's whole transaction (rows included)
            # rolls back, so the race cannot double-append
            self._remote.execute(profile.commits_create(commits))
            self._remote.refresh()
        seen = self._remote.execute(
            profile.commits_seen(commits, sink, bid)
        ).column(0)[0].as_py()
        if seen:
            self.last_remote_insert = "exactly-once-skip"
            return 0
        marker = profile.commits_marker(commits, sink, bid)
        if plane == "executor_direct":
            n = self._stream_insert_executors_direct(
                bare, df, cols, commits=commits, sink=sink,
                batch_id=bid)
            try:
                self._remote.execute(marker)
            except Exception:
                # a zombie/speculative twin may have raced the whole-
                # batch marker in; the commit-log PRIMARY KEY made one
                # of us lose — rows are partition-fenced either way,
                # so "marker present" is the only postcondition
                still = self._remote.execute(
                    profile.commits_seen(commits, sink, bid)
                ).column(0)[0].as_py()
                if not still:
                    raise
            self.last_remote_insert = "exactly-once-executor"
            return n
        # an empty batch still commits its marker (and runs the
        # writability check) so a replay of it skips cheaply
        with self._plane_batches(plane, df) as batches:
            n = self._remote.ingest_transaction(
                bare, batches, cols, pre_commit_sql=marker)
        self.last_remote_insert = "exactly-once-txn"
        return n

    _REMOTE_INSERT_RE = re.compile(
        r"(?is)^\s*insert\s+(?P<kind>into|overwrite)\s+(?:table\s+)?"
        r"(?P<name>[\w.]+)\s*(?P<cols>\([^)]*\))?\s*(?P<src>(select|with|"
        r"values)\b.*)$")

    def _try_remote_insert(self, sql: str):
        """Federated INSERT (the write half of S7/S20): a statement
        targeting a writable remote table either ships WHOLE (source
        also all-remote: the remote engine runs INSERT..SELECT itself —
        no data crosses the seam at all) or evaluates the source locally
        and appends the Arrow batches through the pooled connection
        (the reference sink shipping RecordBatches,
        src/sink.rs:180-197). Returns the sink-contract one-row count
        DataFrame, or None when the target is not remote. INSERT
        OVERWRITE raises the sink's OverwriteNotSupported — parity with
        the native path (reference src/providers/table.rs:148-152)."""
        if self._remote is None:
            return None
        from clickhouse_datafusion_spark import sink

        m = self._REMOTE_INSERT_RE.match(sql)
        if not m:
            return None
        name = m.group("name").lower()
        cat = next(iter(self._catalog_names))
        db = self._remote_db or "remote"
        bare = None
        for p in (f"{cat}.{db}.", f"{db}."):
            if name.startswith(p):
                bare = name[len(p):]
                break
        if bare is None or "." in bare or bare not in self._remote.tables():
            return None
        if m.group("kind").lower() == "overwrite":
            raise sink.OverwriteNotSupported(
                "remote tables are append-only (INSERT OVERWRITE is "
                "rejected, like the native sink)")
        cols = m.group("cols") or ""
        src = m.group("src").strip()
        # Source analysis runs OUTSIDE the remote-failure wrap: a typo in
        # the SELECT is a local AnalysisException and must surface as
        # itself, not be mislabeled a remote schema problem (r10).
        # The source goes through the FULL gate (_remote_gate), not just
        # the unparser: a divergent source (tz-dependent extraction,
        # decimal division, remote-only syntax) shipped whole would
        # WRITE wrong rows silently — worse than returning them (r10d).
        reasons: list = []
        shipped, _ = self._remote_gate(src, reasons)
        src_df = self.sql(src) if shipped is None else None
        if shipped is None:
            # set AFTER the nested self.sql(src), which resets the
            # per-statement diagnostics (r10d review)
            self.last_remote_refusal = "; ".join(reasons) or None
        try:
            if shipped is not None:
                stmt = f"INSERT INTO {bare} {cols} {shipped}"
                n = self._remote.execute_insert(stmt)
                self.last_remote_sql = stmt
                self.last_remote_insert = "whole"
            else:
                # allow_direct=False: the INSERT's source is unbounded
                # (no trigger caps it), so the driver-funnel 'direct'
                # plane is ineligible by its own contract (r13 ADVICE)
                n = self.append_remote(bare, src_df, cols,
                                       allow_direct=False)
        except ValueError:
            raise
        except Exception as e:
            raise sink.SchemaValidationError(
                f"remote insert into {bare!r} failed: {e}") from e
        return sink._count_df(self.spark, n)

    _REMOTE_CREATE_RE = re.compile(
        r"(?is)^\s*create\s+table\s+(?:(?P<ine>if\s+not\s+exists)\s+)?"
        r"(?P<name>[\w.]+)\s*\((?P<cols>.*)\)\s*;?\s*$")
    _REMOTE_CTAS_RE = re.compile(
        r"(?is)^\s*create\s+table\s+(?:(?P<ine>if\s+not\s+exists)\s+)?"
        r"(?P<name>[\w.]+)\s+as\s+(?P<src>(?:select|with)\b.*)$")
    _REMOTE_DROP_RE = re.compile(
        r"(?is)^\s*drop\s+table\s+(?:(?P<ie>if\s+exists)\s+)?"
        r"(?P<name>[\w.]+)\s*;?\s*$")
    _REMOTE_SHOW_RE = re.compile(
        r"(?is)^\s*show\s+tables\s+(?:from|in)\s+(?P<db>[\w.]+)\s*;?\s*$")

    def _remote_bare(self, name: str) -> str | None:
        """The bare remote table name when ``name`` is qualified into the
        attached remote db (``<db>.<t>`` or ``<catalog>.<db>.<t>``),
        else None — unqualified and other-db names belong to the local
        handlers."""
        cat = next(iter(self._catalog_names))
        db = (self._remote_db or "remote").lower()
        low = name.lower().strip("`")
        for p in (f"{cat}.{db}.", f"{db}."):
            if low.startswith(p):
                bare = low[len(p):]
                return bare if "." not in bare else None
        return None

    def _try_remote_ddl(self, sql: str):
        """Remote DDL through the SQL front door (reference
        src/providers/table_factory.rs:216-275 CREATE/DROP routing +
        src/providers/catalog.rs:54-69 catalog refresh/listing):
        ``CREATE TABLE <db>.<t> (cols)`` / ``DROP TABLE [IF EXISTS]
        <db>.<t>`` targeting the attached remote db execute THERE;
        ``SHOW TABLES FROM <db>`` re-lists the live remote catalog
        (refresh-on-read — introspection is never stale). Statements
        not aimed at the remote db return None for the local path."""
        db = (self._remote_db or "remote").lower()
        cat = next(iter(self._catalog_names))
        sh = self._REMOTE_SHOW_RE.match(sql)
        if sh and sh.group("db").lower() in (db, f"{cat}.{db}"):
            rows = [(db, t, "REMOTE") for t in sorted(self._remote.refresh())]
            return arrow_frame(
                self.spark, rows,
                "namespace string, tableName string, engine string")
        c = self._REMOTE_CREATE_RE.match(sql)
        if c:
            bare = self._remote_bare(c.group("name"))
            if bare is None:
                return None
            if bare in self._remote.tables():
                if c.group("ine"):
                    return arrow_frame(self.spark, [], "result string")
                raise ValueError(f"remote table {bare!r} already exists")
            self._remote.create_table(bare, c.group("cols"))
            return arrow_frame(self.spark, [], "result string")
        ct = self._REMOTE_CTAS_RE.match(sql)
        if ct:
            bare = self._remote_bare(ct.group("name"))
            if bare is None:
                return None
            if bare in self._remote.tables():
                if ct.group("ine"):
                    return arrow_frame(self.spark, [], "result string")
                raise ValueError(f"remote table {bare!r} already exists")
            return self._remote_ctas(bare, ct.group("src").strip())
        d = self._REMOTE_DROP_RE.match(sql)
        if d:
            bare = self._remote_bare(d.group("name"))
            if bare is None:
                return None
            self._remote.drop_table(bare, if_exists=bool(d.group("ie")))
            return arrow_frame(self.spark, [], "result string")
        return None

    # Spark simpleString -> remote-dialect column type for the local-eval
    # CTAS path. Conservative: complex/nested types raise rather than
    # silently mistranslate.
    _REMOTE_COL_TYPES = {
        "string": "VARCHAR", "int": "INTEGER", "bigint": "BIGINT",
        "smallint": "SMALLINT", "tinyint": "TINYINT", "double": "DOUBLE",
        "float": "FLOAT", "boolean": "BOOLEAN", "date": "DATE",
        "timestamp": "TIMESTAMP", "binary": "BLOB",
    }

    def _remote_col_type(self, dt) -> str:
        s = dt.simpleString()
        if s in self._REMOTE_COL_TYPES:
            return self._REMOTE_COL_TYPES[s]
        if s.startswith("decimal"):
            return s.upper()
        raise ValueError(f"remote CTAS cannot map column type {s!r}")

    def _remote_ctas(self, bare: str, src: str):
        """CREATE TABLE <db>.<t> AS SELECT — the write form of the
        whole-subtree decision (reference
        src/providers/table_factory.rs:216-275): an all-remote source
        runs CTAS remotely (zero data crosses the seam); otherwise the
        source evaluates locally, the remote table is created from the
        result schema, and the Arrow batches append through the pool."""
        # full gate, not just the unparser: a divergent CTAS source
        # shipped whole would MATERIALIZE wrong rows remotely (r10d)
        reasons: list = []
        shipped, _ = self._remote_gate(src, reasons)
        if shipped is not None:
            self._remote.create_table_as(bare, shipped)
            self.last_remote_sql = f"CREATE TABLE {bare} AS {shipped}"
        else:
            # an unbounded source, like the INSERT front door's
            plane = self._write_plane(allow_direct=False)
            df = self.sql(src)
            # set AFTER the nested self.sql(src), which resets the
            # per-statement diagnostics (r10d review)
            self.last_remote_refusal = "; ".join(reasons) or None
            schema_sql = ", ".join(
                f"{f.name} {self._remote_col_type(f.dataType)}"
                for f in df.schema.fields)
            self._remote.create_table(bare, schema_sql)
            self._append(plane, bare, df)
        return arrow_frame(self.spark, [], "result string")

    # ---------------------------------------------------------------------
    def rewrite(self, query: str) -> str:
        """Expose the SQL rewrite (for tests / EXPLAIN of the rewritten text)."""
        return rewrite_sql(query, self._catalog_names, coercion=self.coercion)

    def register_udf(self, name: str, fn, return_type) -> None:
        """Session-scoped scalar UDF registration (reference
        src/context.rs:98-99 register_udf passthrough)."""
        self.spark.udf.register(name, fn, return_type)

    def register_dictionary(self, name: str, source, key_col: str | None = None,
                            defaults: dict | None = None) -> None:
        """ClickHouse external-dictionary analog: after registration,
        ``dictGet('name', 'attr', key)`` / ``dictGetOrDefault`` /
        ``dictHas`` work in any ``sql()`` query as constant-map lookups
        (whole-stage codegen, no Python, no shuffle).

        ``source`` is either ``{key: {attr: value}}`` or a small
        DataFrame with ``key_col`` naming the key column (every other
        column becomes an attribute). Bounded at
        ``dictionaries.MAX_ENTRIES`` — beyond that it is a dimension
        table: broadcast-join it instead (identical physical plan,
        build side shipped once per executor rather than inlined).
        ``defaults`` gives per-attribute values for missing keys
        (ClickHouse returns the configured default, not NULL).
        """
        from clickhouse_datafusion_spark.functions.dictionaries import (
            MAX_ENTRIES, register_dictionary)

        if isinstance(source, DataFrame):
            if not key_col:
                raise ValueError("key_col is required for DataFrame sources")
            rows = source.limit(MAX_ENTRIES + 1).collect()
            if len(rows) > MAX_ENTRIES:
                raise ValueError(
                    f"dictionary source exceeds {MAX_ENTRIES} rows; "
                    "broadcast-join the dimension instead")
            attrs = [c for c in source.columns if c != key_col]
            source = {r[key_col]: {c: r[c] for c in attrs} for r in rows}
        register_dictionary(name, source, defaults)

    # -- materialized views ------------------------------------------------
    # ClickHouse MVs are insert-triggered incremental transforms; the
    # Spark-native analog here is refresh-on-demand with VERSIONED
    # storage (operators/layout.py snapshot store): every refresh writes
    # a new immutable version and atomically swaps the view binding, so
    # readers mid-query keep their files and any historical version stays
    # pinnable (read_snapshot(path, v)). The continuous-maintenance
    # analog is streaming/events.py::stream_upsert_snapshot (st9) —
    # foreachBatch MERGE, every batch commit a pinnable version.

    def _mv_key(self, name: str) -> str:
        name = name.replace("`", "")
        parts = name.split(".")
        if len(parts) > 1 and parts[0].lower() in self._catalog_names:
            parts = parts[1:]
        return parts[-1].lower()

    def _create_mat_view(self, name: str, select_sql: str,
                         if_not_exists: bool = False) -> DataFrame:
        from clickhouse_datafusion_spark.operators.layout import (
            read_snapshot, write_snapshot)

        key = self._mv_key(name)
        if key in self._mat_views:
            if if_not_exists:
                mv = self._mat_views[key]
                return self._mv_result(key, mv["version"])
            raise ValueError(f"materialized view {key!r} already exists")
        import os
        import shutil

        path = os.path.join(self._mat_view_dir, key)
        # an orphan dir (crashed prior session) has no binding in this
        # engine — the CREATE owns the name, so clear it
        shutil.rmtree(path, ignore_errors=True)
        df = self.spark.sql(self._route_native_tables(select_sql))
        v = write_snapshot(df, path)
        read_snapshot(self.spark, path, v).createOrReplaceTempView(key)
        self._mat_views[key] = {"sql": select_sql, "path": path,
                                "version": v}
        return self._mv_result(key, v)

    def _refresh_mat_view(self, name: str) -> DataFrame:
        from clickhouse_datafusion_spark.operators.layout import (
            read_snapshot, write_snapshot)

        key = self._mv_key(name)
        mv = self._mat_views.get(key)
        if mv is None:
            raise ValueError(f"unknown materialized view {key!r}; "
                             f"registered: {sorted(self._mat_views)}")
        df = self.spark.sql(self._route_native_tables(mv["sql"]))
        v = write_snapshot(df, mv["path"])
        read_snapshot(self.spark, mv["path"], v).createOrReplaceTempView(key)
        mv["version"] = v
        return self._mv_result(key, v)

    def _drop_mat_view(self, name: str, if_exists: bool = False) -> DataFrame:
        import shutil

        key = self._mv_key(name)
        mv = self._mat_views.pop(key, None)
        if mv is None:
            if if_exists:
                return self._mv_result(key, -1)
            raise ValueError(f"unknown materialized view {key!r}")
        self.spark.catalog.dropTempView(key)
        shutil.rmtree(mv["path"], ignore_errors=True)
        return self._mv_result(key, mv["version"])

    def _optimize_mat_view(self, name: str) -> DataFrame:
        """``OPTIMIZE TABLE mv [FINAL]`` — ClickHouse's merge trigger,
        mapped to small-files compaction of the materialized view's
        current snapshot version (layout.compact_snapshot: coalesce
        rewrite, byte-identical data, a NEW pinnable version, old pins
        untouched). Only materialized views are optimizable here —
        plain parquet tables are immutable-by-layout in this engine and
        get compaction through the layout operators directly."""
        from clickhouse_datafusion_spark.operators.layout import (
            compact_snapshot, read_snapshot)

        key = self._mv_key(name)
        mv = self._mat_views.get(key)
        if mv is None:
            raise ValueError(
                f"OPTIMIZE TABLE targets a materialized view; unknown "
                f"{key!r} (registered: {sorted(self._mat_views)}). For "
                "plain tables use operators.layout.compact_snapshot / "
                "write_* directly.")
        v = compact_snapshot(self.spark, mv["path"])
        read_snapshot(self.spark, mv["path"], v).createOrReplaceTempView(key)
        mv["version"] = v
        return self._mv_result(key, v)

    def _show_mat_views(self) -> DataFrame:
        rows = [(k, mv["version"], mv["sql"].strip())
                for k, mv in sorted(self._mat_views.items())]
        return arrow_frame(self.spark, rows,
                           "view string, version int, definition string")

    def _mv_result(self, key: str, version: int) -> DataFrame:
        return arrow_frame(self.spark, [(key, version)],
                           "view string, version int")

    # -- mutations ---------------------------------------------------------
    def _mutate_mat_view(self, name: str, kind: str, tail: str) -> DataFrame:
        """``ALTER TABLE t UPDATE a = expr, ... WHERE p`` / ``ALTER TABLE t
        DELETE WHERE p`` — ClickHouse mutations, mapped onto the snapshot
        store exactly the way CH maps them onto parts: the mutation rewrites
        affected data into NEW immutable storage (here: one new snapshot
        version; there: new parts), readers pinned to an old version never
        see it, and the table binding swaps atomically. CH semantics kept:
        WHERE is mandatory (``WHERE 1`` mutates all rows), every RHS sees
        PRE-mutation column values (so ``UPDATE a = b, b = a`` swaps), a
        NULL predicate leaves the row untouched, and the assigned value is
        cast back to the column's declared type (mutations never drift the
        schema). Only materialized views are mutable here — plain parquet
        tables are immutable-by-layout; route them through
        layout.upsert_snapshot."""
        from pyspark.sql import functions as F

        from clickhouse_datafusion_spark.operators.layout import (
            read_snapshot, write_snapshot)

        key = self._mv_key(name)
        mv = self._mat_views.get(key)
        if mv is None:
            raise SqlFrontDoorError(
                f"ALTER TABLE ... {kind} (a ClickHouse mutation) targets a "
                f"materialized view; unknown {key!r} (registered: "
                f"{sorted(self._mat_views)}). Plain tables are immutable by "
                "layout — use layout.upsert_snapshot for keyed merges.")
        assigns, where = _parse_mutation_tail(kind, tail)
        cur = read_snapshot(self.spark, mv["path"])
        pred = F.coalesce(F.expr(where).cast("boolean"), F.lit(False))
        if kind == "DELETE":
            new = cur.filter(~pred)
        else:
            by_lower = {c.lower(): c for c in cur.columns}
            unknown = [c for c, _ in assigns if c.lower() not in by_lower]
            if unknown:
                raise SqlFrontDoorError(
                    f"UPDATE assigns unknown column(s) {unknown}; "
                    f"columns: {cur.columns}")
            exprs = {by_lower[c.lower()]: e for c, e in assigns}
            sel = [F.when(pred, F.expr(exprs[f.name]).cast(f.dataType))
                   .otherwise(F.col(f.name)).alias(f.name)
                   if f.name in exprs else F.col(f.name)
                   for f in cur.schema.fields]
            new = cur.select(*sel)
        v = write_snapshot(new, mv["path"])
        read_snapshot(self.spark, mv["path"], v).createOrReplaceTempView(key)
        mv["version"] = v
        return self._mv_result(key, v)

    def _truncate_table(self, name: str) -> DataFrame:
        """``TRUNCATE TABLE`` — for a materialized view this is the empty
        mutation (a new 0-row snapshot version; pinned readers keep their
        data); anything else delegates to Spark's own TRUNCATE."""
        from clickhouse_datafusion_spark.operators.layout import (
            read_snapshot, write_snapshot)

        key = self._mv_key(name)
        mv = self._mat_views.get(key)
        if mv is None:
            return self.spark.sql(f"TRUNCATE TABLE {name}")
        v = write_snapshot(read_snapshot(self.spark, mv["path"]).limit(0),
                           mv["path"])
        read_snapshot(self.spark, mv["path"], v).createOrReplaceTempView(key)
        mv["version"] = v
        return self._mv_result(key, v)

    def _rename_table(self, a: str, b: str) -> DataFrame:
        """ClickHouse ``RENAME TABLE a TO b``: a materialized view renames
        its BINDING (the snapshot directory keeps its name — storage paths
        are immutable here, only the catalog entry moves, which is also how
        CH's Atomic database engine implements rename); catalog tables
        lower to Spark's ``ALTER TABLE ... RENAME TO``."""
        from clickhouse_datafusion_spark.operators.layout import read_snapshot

        ka, kb = self._mv_key(a), self._mv_key(b)
        # the SAMPLE BY registration follows the name (CH keeps SAMPLE BY
        # through RENAME) — but only move it AFTER the rename itself
        # succeeds (r6 ADVICE): a failed rename (target exists, ALTER
        # throws) must leave the source's key usable and must not graft it
        # onto an unrelated pre-existing target.
        sa = a.replace("`", "").split(".")[-1].lower()
        sb = b.replace("`", "").split(".")[-1].lower()

        def _move_sample_key() -> None:
            if sa in self._sample_keys:
                self._sample_keys[sb] = self._sample_keys.pop(sa)

        if ka in self._mat_views:
            if kb in self._mat_views:
                raise SqlFrontDoorError(
                    f"RENAME TABLE target {kb!r} already exists")
            mv = self._mat_views.pop(ka)
            self._mat_views[kb] = mv
            read_snapshot(self.spark, mv["path"],
                          mv["version"]).createOrReplaceTempView(kb)
            self.spark.catalog.dropTempView(ka)
            _move_sample_key()
            return self._mv_result(kb, mv["version"])
        out = self.spark.sql(f"ALTER TABLE {a} RENAME TO {b}")
        _move_sample_key()
        return out

    # -- SAMPLE clause -----------------------------------------------------
    def set_sample_key(self, table: str, key_col: str) -> None:
        """Declare the sampling key for ``FROM table SAMPLE f`` — the
        engine-side analog of MergeTree's ``SAMPLE BY`` table clause (a
        table without one cannot be sampled in CH either)."""
        self._sample_keys[table.replace("`", "").split(".")[-1].lower()] = \
            key_col

    def _lower_sample(self, sql: str) -> str:
        """Lower ClickHouse's ``FROM t SAMPLE f`` (0 < f ≤ 1) to a
        deterministic md5-bucket filter on the table's registered sample
        key: ``t`` becomes ``(SELECT * FROM t WHERE md5-bucket(key) <
        f·10⁶) t`` — a plain filtered subquery Catalyst collapses into the
        scan, so sampling prunes IO instead of reading-then-dropping.
        Divergence from CH (documented): CH samples by the raw SAMPLE BY
        key's value range, so a skewed key skews the sample; the md5
        bucket is uniform regardless of key distribution and reproducible
        byte-for-byte by any engine (same family as sampling.hash_split).
        The row-count form ``SAMPLE n`` is rejected toward
        sampling.uniform_sample_k — exact-k needs a global rank, not a
        per-row filter."""
        from clickhouse_datafusion_spark.functions.rewrite import (
            BTICK, NUM, PUNCT, QIDENT, WORD, tokenize)

        toks = tokenize(sql)

        def sig_prev(i):
            j = i - 1
            while j >= 0 and toks[j].kind == "WS":
                j -= 1
            return j

        def sig_next(i):
            j = i + 1
            while j < len(toks) and toks[j].kind == "WS":
                j += 1
            return j

        def dotted_start(end):
            # walk `db . t` / backticked segments leftward from `end`
            s = end
            while True:
                p = sig_prev(s)
                if p >= 1 and toks[p].kind == PUNCT and toks[p].text == ".":
                    q = sig_prev(p)
                    if q >= 0 and toks[q].kind in (WORD, BTICK, QIDENT):
                        s = q
                        continue
                return s

        i = 0
        while i < len(toks):
            t = toks[i]
            if not (t.kind == WORD and t.text.upper() == "SAMPLE"
                    and _prev_is_table_name(toks, i)):
                i += 1
                continue
            f_i = sig_next(i)
            if f_i >= len(toks) or toks[f_i].kind != NUM:
                i += 1
                continue
            # CH treats the bare literal 1 as the whole-table fraction
            # (commonly emitted by query generators), NOT a 1-row sample —
            # only integers >= 2 are the row-count form
            if "." not in toks[f_i].text and toks[f_i].text != "1":
                raise SqlFrontDoorError(
                    f"SAMPLE {toks[f_i].text} (row-count form) is not a "
                    "per-row filter; use sampling.uniform_sample_k for an "
                    "exact-k deterministic sample, or a fraction SAMPLE 0.1")
            frac = float(toks[f_i].text)
            if not 0.0 < frac <= 1.0:
                raise SqlFrontDoorError(f"SAMPLE fraction {frac} not in (0, 1]")
            # SAMPLE f OFFSET o — shift the bucket window so disjoint
            # workers can split one table into non-overlapping samples
            # (CH's parallel-reader idiom); lowered to [o·10⁶, (o+f)·10⁶)
            off = 0.0
            end_i = f_i
            o_i = sig_next(f_i)
            if (o_i < len(toks) and toks[o_i].kind == WORD
                    and toks[o_i].text.upper() == "OFFSET"):
                v_i = sig_next(o_i)
                if v_i >= len(toks) or toks[v_i].kind != NUM \
                        or "." not in toks[v_i].text:
                    raise SqlFrontDoorError(
                        "SAMPLE ... OFFSET takes a fraction (e.g. OFFSET 0.5)")
                off = float(toks[v_i].text)
                if not 0.0 <= off < 1.0 or off + frac > 1.0 + 1e-12:
                    raise SqlFrontDoorError(
                        f"SAMPLE {frac} OFFSET {off} window exceeds (0, 1]")
                end_i = v_i
            # table ref (possibly `t alias` or `t AS alias`) before SAMPLE
            a_end = sig_prev(i)
            a_start = dotted_start(a_end)
            p = sig_prev(a_start)
            if p >= 0 and toks[p].kind == WORD and toks[p].text.upper() == "AS":
                t_end = sig_prev(p)
                t_start = dotted_start(t_end)
                alias = toks[a_end].text
            elif p >= 0 and (toks[p].kind in (BTICK, QIDENT)
                             or (toks[p].kind == WORD
                                 and toks[p].text.upper()
                                 not in _SQL_KEYWORDS)):
                t_end, t_start = p, dotted_start(p)
                alias = toks[a_end].text
            else:
                t_start, t_end = a_start, a_end
                alias = toks[a_end].text.replace("`", "")
            table_sql = "".join(x.text for x in toks[t_start:t_end + 1])
            base = toks[t_end].text.replace("`", "").lower()
            key_col = self._sample_keys.get(base)
            if key_col is None:
                raise SqlFrontDoorError(
                    f"table {base!r} has no sample key; call "
                    "engine.set_sample_key(table, key_col) first (the "
                    "analog of MergeTree's SAMPLE BY clause)")
            lo = int(round(off * 1_000_000))
            hi = int(round((off + frac) * 1_000_000))
            bucket = (f"pmod(cast(conv(substring(md5(cast({key_col} as "
                      f"string)), 1, 8), 16, 10) as bigint), 1000000)")
            cond = f"{bucket} < {hi}" if lo == 0 \
                else f"{bucket} >= {lo} AND {bucket} < {hi}"
            repl = f"(SELECT * FROM {table_sql} WHERE {cond}) {alias}"
            pre = "".join(x.text for x in toks[:t_start])
            post = "".join(x.text for x in toks[end_i + 1:])
            return self._lower_sample(pre + repl + post)
        return sql

    def sql(self, query: str) -> DataFrame:
        ea = _EXPLAIN_ANALYZE_RE.match(query)
        if ea:
            return self.explain_analyze(query[ea.end():])
        # federation observability resets for EVERY statement kind, so a
        # probe after an INSERT/DDL never reads a stale prior answer
        self.last_remote_sql = None
        self.last_remote_error = None
        self.last_remote_align_error = None
        self.last_remote_insert = None
        self.last_remote_refusal = None
        rewritten = self.rewrite(query)
        # OPTIMIZE TABLE mv [FINAL] is matched BEFORE the dialect pass:
        # its FINAL is the merge-trigger modifier, not the read-time
        # collapse the dialect pass rejects on table references.
        opt = _OPTIMIZE_RE.match(rewritten)
        if opt:
            return self._optimize_mat_view(opt.group("name"))
        mut = _ALTER_MUT_RE.match(rewritten)
        if mut:
            return self._mutate_mat_view(
                mut.group("name"), mut.group("kind").upper(),
                rewritten[mut.end():])
        tr = _TRUNCATE_RE.match(rewritten)
        if tr:
            return self._truncate_table(tr.group("name"))
        rn = _RENAME_RE.match(rewritten)
        if rn:
            return self._rename_table(rn.group("a"), rn.group("b"))
        ex = _EXISTS_RE.match(rewritten)
        if ex:
            # CH client probe: `EXISTS [TABLE] t` -> one row, UInt8 analog
            key = self._mv_key(ex.group("name"))
            found = (key in self._mat_views
                     or self.spark.catalog.tableExists(ex.group("name"))
                     or self.spark.catalog.tableExists(key))
            return arrow_frame(self.spark, [(1 if found else 0,)],
                               "result int")
        sc = _SHOW_CREATE_RE.match(rewritten)
        if sc:
            key = self._mv_key(sc.group("name"))
            mv = self._mat_views.get(key)
            if mv is not None:
                stmt = (f"CREATE MATERIALIZED VIEW {key} AS "
                        f"{mv['sql'].strip()}")
                return arrow_frame(self.spark, [(stmt,)],
                                   "statement string")
            return self.spark.sql(f"SHOW CREATE TABLE {sc.group('name')}")
        if re.search(r"\b(prewhere|totals|format|global|final)\b",
                     rewritten, re.IGNORECASE):
            rewritten = _dialect_transforms(rewritten)
        if re.search(r"\bSAMPLE\b", rewritten, re.IGNORECASE):
            rewritten = self._lower_sample(rewritten)
        mv = _CREATE_MV_RE.match(rewritten)
        if mv:
            return self._create_mat_view(mv.group("name"),
                                         rewritten[mv.end():].rstrip("; \t\n"),
                                         if_not_exists=bool(mv.group("ine")))
        rmv = _REFRESH_MV_RE.match(rewritten)
        if rmv:
            return self._refresh_mat_view(rmv.group("name"))
        dmv = _DROP_MV_RE.match(rewritten)
        if dmv:
            return self._drop_mat_view(dmv.group("name"),
                                       if_exists=bool(dmv.group("ie")))
        if _SHOW_MV_RE.match(rewritten):
            return self._show_mat_views()
        if self._remote is not None:
            rddl = self._try_remote_ddl(rewritten)
            if rddl is not None:
                return rddl
        m = _CREATE_NATIVE_RE.match(rewritten)
        if m:
            return self._create_native_table(m)
        d = _DROP_TABLE_RE.match(rewritten)
        if d:
            self._drop_native_mapping(d.group("name"))
            return self.spark.sql(rewritten)
        if _is_insert(rewritten):
            remote_ins = self._try_remote_insert(rewritten)
            if remote_ins is not None:
                return remote_ins
            # INSERT is detected BEFORE routing: the target stays on the
            # writable catalog table (the connector temp view is read-only);
            # only the source query is routed to the connector view.
            return self._insert_sql(self._route_insert_source(rewritten))
        if _SYSTEM_TABLE_RE.search(rewritten):
            rewritten = self._route_system_tables(rewritten)
        lb = _parse_limit_by(rewritten)
        if lb is not None:
            return self._run_limit_by(*lb)
        if self._remote is not None:
            ex = _EXPLAIN_PLAIN_RE.match(rewritten)
            if ex:
                return self._explain_with_federation(
                    ex.group("mode") or "", rewritten[ex.end():])
            remote_df = self._try_remote_exec(rewritten)
            if remote_df is not None:
                return remote_df
            # local fallback for a non-shippable statement: remote-
            # qualified names resolve to the local twin views (the
            # reference's TableProvider scan when the analyzer cannot
            # push the subtree). Literal-safe: a string like
            # 'remote.orders' is data and must not be rewritten.
            rewritten = self._local_form(rewritten)
        rewritten = self._route_native_tables(rewritten)
        return self.spark.sql(rewritten)

    def _route_system_tables(self, sql: str) -> str:
        """ClickHouse ``system.*`` introspection tables, rebuilt from the
        live Spark catalog on every reference (introspection must never
        be stale): ``system.tables`` (database, name, engine),
        ``system.databases`` (name), and ``system.one`` (the 1-row dual
        with ``dummy = 0`` that CH clients probe). The information_schema
        surface (O11) remains the ANSI route; this is the spelling pasted
        CH queries use."""
        spark = self.spark
        if _SYS_ONE_RE.search(sql):
            sql = _SYS_ONE_RE.sub(" (SELECT 0 AS dummy) ", sql)
        if _SYS_TABLES_RE.search(sql):
            rows = []
            for db in spark.catalog.listDatabases():
                for tbl in spark.catalog.listTables(db.name):
                    rows.append((tbl.namespace[0] if tbl.namespace else "",
                                 tbl.name, tbl.tableType or "VIEW"))
            arrow_frame(spark, rows,
                        "database string, name string, engine string"
                        ).createOrReplaceTempView("_ch_system_tables")
            sql = _SYS_TABLES_RE.sub(" _ch_system_tables ", sql)
        if _SYS_DATABASES_RE.search(sql):
            rows = [(db.name,) for db in spark.catalog.listDatabases()]
            arrow_frame(spark, rows, "name string"
                        ).createOrReplaceTempView("_ch_system_databases")
            sql = _SYS_DATABASES_RE.sub(" _ch_system_databases ", sql)
        return sql

    def _run_limit_by(self, base: str, order_sql: str, by_sql: str,
                      offset: int, n: int,
                      trailing_limit: int | None) -> DataFrame:
        """ClickHouse ``LIMIT n BY cols``: keep the first n rows per
        group in result order (``LIMIT offset, n BY`` skips the
        group's first ``offset`` rows first). CH leaves un-ordered
        LIMIT BY
        layout-dependent; this engine REQUIRES the ORDER BY (checked in
        the parser) so the kept rows are deterministic. Because the
        query is wrapped as a subquery, the ORDER BY must reference
        OUTPUT columns (select-list names/aliases), not dropped base
        columns — alias what you sort by. Compiles to a
        group-partitioned row_number — one shuffle keyed by the BY
        columns, never a self-join; the final global ORDER BY is
        top-k-able when a trailing LIMIT follows."""
        base = self._route_native_tables(base)
        inner = (f"SELECT __q.*, row_number() OVER ("
                 f"PARTITION BY {by_sql} ORDER BY {order_sql}) AS __rn_lb "
                 f"FROM ({base}) __q")
        outer = (f"SELECT * FROM ({inner}) WHERE __rn_lb > {offset} "
                 f"AND __rn_lb <= {offset + n} ORDER BY {order_sql}")
        if trailing_limit is not None:
            outer += f" LIMIT {trailing_limit}"
        return self.spark.sql(outer).drop("__rn_lb")

    def table(self, name: str) -> DataFrame:
        """Accepts ``db.table`` or ``clickhouse.db.table`` (prefix stripped)."""
        parts = name.split(".")
        if len(parts) == 3 and parts[0].lower() in self._catalog_names:
            name = ".".join(parts[1:])
        view = self._native_tables.get(name.replace("`", "").lower())
        if view:
            return self.spark.table(view)
        return self.spark.table(name)

    # -- connector DDL path (reference src/providers/table_factory.rs:216-275)
    # Spark does not hand storage OPTIONS of catalog tables to Python
    # DataSource readers at scan time (probe: reader options == {}), so the
    # `CREATE TABLE ... USING clickhouse_native` SQL spelling is made
    # first-class here in the front door: the statement registers a
    # connector-backed view, creates a real catalog entry (listing / DROP /
    # other sessions), and later references to the table name are routed to
    # the connector view so scans run through the Python DataSource
    # (pushFilters / row-group partitions).
    _native_tables: dict[str, str]

    def _create_native_table(self, m) -> DataFrame:
        name = m.group("name").replace("`", "")
        opts = dict(_OPTION_RE.findall(m.group("opts") or ""))
        path = opts.get("path") or opts.get("location")
        if not path:
            raise ValueError(
                "CREATE TABLE ... USING clickhouse_native requires a "
                "'path' option")
        parts = name.split(".")
        if len(parts) == 3 and parts[0].lower() in self._catalog_names:
            parts = parts[1:]
        db, tbl = (parts if len(parts) == 2 else ("main", parts[0]))
        view = f"__ch_native_{db}_{tbl}"
        self.catalog.register_native_table(view, None, path)
        self._native_tables[f"{db}.{tbl}".lower()] = view
        self._native_tables[tbl.lower()] = view
        # catalog entry: listable/droppable, scannable from other sessions
        # (plain parquet scan there — same data, same schema)
        ine = "IF NOT EXISTS " if m.group("ine") else ""
        self.catalog.create_database(db)
        # the path is bound as a parameter, not spliced; note
        # `_CREATE_NATIVE_RE` cannot parse an OPTIONS body containing ')' —
        # such paths must use catalog.register_native_table directly
        return self.spark.sql(
            f"CREATE TABLE {ine}{sql_ident(db)}.{sql_ident(tbl)} USING "
            "parquet LOCATION :path TBLPROPERTIES ('clickhouse.native'="
            "'true', 'clickhouse.native.path'=:path)", args={"path": path})

    def _drop_native_mapping(self, name: str) -> None:
        name = name.replace("`", "")
        parts = name.split(".")
        if len(parts) == 3 and parts[0].lower() in self._catalog_names:
            parts = parts[1:]
        key = ".".join(parts).lower()
        view = self._native_tables.pop(key, None)
        if view:
            # drop the bare-name alias too, and the backing temp view
            for k in [k for k, v in self._native_tables.items() if v == view]:
                del self._native_tables[k]
            self.spark.catalog.dropTempView(view)

    def _route_native_tables(self, q: str) -> str:
        """Rewrite *table references* to native-DDL tables into their
        connector views.

        The substitution fires only (a) outside single-quoted string
        literals and (b) in table-reference position — immediately after
        FROM / JOIN / TABLE — so columns, aliases, and string contents that
        happen to share the table's (bare) name are left untouched. Comma
        FROM-lists are intentionally not rewritten; use explicit JOINs with
        native tables.
        """
        if not self._native_tables:
            return q
        # split on single-quoted literals ('' is the embedded-quote escape);
        # literals land at odd indices and are passed through verbatim
        segments = _STRING_LITERAL_SPLIT.split(q)
        for key, view in self._native_tables.items():
            name_pat = r"`?" + r"`?\s*\.\s*`?".join(
                re.escape(p) for p in key.split(".")) + r"`?"
            pat = re.compile(
                r"\b(?P<kw>from|join|table)(?P<ws>\s+)(?P<name>" + name_pat +
                r")(?![\w.`$])", re.IGNORECASE)
            segments = [
                pat.sub(lambda m: m.group("kw") + m.group("ws") + view, s)
                if i % 2 == 0 else s
                for i, s in enumerate(segments)]
        return "".join(segments)

    def _route_insert_source(self, q: str) -> str:
        """Route native-table references in an INSERT's *source query* only,
        leaving the insert target untouched (it must resolve to the writable
        catalog table, not the read-only connector view)."""
        from clickhouse_datafusion_spark.sink import _INSERT_HEAD_RE

        m = _INSERT_HEAD_RE.match(q)
        if not m:
            return q  # unroutable shape: leave for Spark to diagnose
        return q[:m.end()] + self._route_native_tables(q[m.end():])

    def explain_analyze(self, query: str) -> DataFrame:
        """``EXPLAIN ANALYZE <q>`` — execute the query and return per-operator
        executed metrics as rows (operator, depth, metric, value), with
        Spark's ``numOutputRows`` surfaced under the reference's
        ``output_rows`` name (tests/e2e.rs:2184-2208)."""
        from pyspark.sql import types as T

        from clickhouse_datafusion_spark.plans.explain import executed_metrics

        rows: list[tuple] = []
        if _is_insert(self.rewrite(query)):
            # write path: the sink's observed row count IS the write-side
            # output_rows metric (reference src/sink.rs:100-114)
            count = self.sql(query).collect()[0]["count"]
            rows.append(("ClickHouseDataSink", 0, "output_rows", int(count)))
            nodes = []
        else:
            nodes = executed_metrics(self.sql(query), execute=True)
        for node in nodes:
            for metric, value in sorted(node["metrics"].items()):
                name = "output_rows" if metric == "numOutputRows" else metric
                rows.append((node["operator"], node["depth"], name, int(value)))
        schema = T.StructType([
            T.StructField("operator", T.StringType(), False),
            T.StructField("depth", T.IntegerType(), False),
            T.StructField("metric", T.StringType(), False),
            T.StructField("value", T.LongType(), False)])
        return arrow_frame(self.spark, rows, schema)

    def explain_str(self, query: str, mode: str = "formatted") -> str:
        df = self.sql(query)
        return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), mode)

    # ---------------------------------------------------------------------
    def _insert_sql(self, rewritten: str) -> DataFrame:
        """Run INSERT, returning a single-row `count` DataFrame (UInt64 in the
        reference → BIGINT here), matching src/sink.rs:202-210 semantics."""
        from clickhouse_datafusion_spark import sink

        return sink.run_insert_sql(self.spark, rewritten)


# Spark functions whose value depends on the session timezone
_TIME_FUNCS = frozenset(
    ("year", "month", "day", "hour", "minute", "second", "date_trunc"))

_SYSTEM_TABLE_RE = re.compile(r"\bsystem\s*\.\s*(tables|databases|one)\b",
                              re.IGNORECASE)
_SYS_TABLES_RE = re.compile(r"\bsystem\s*\.\s*tables\b", re.IGNORECASE)
_SYS_DATABASES_RE = re.compile(r"\bsystem\s*\.\s*databases\b", re.IGNORECASE)
_SYS_ONE_RE = re.compile(r"\bsystem\s*\.\s*one\b", re.IGNORECASE)

_OPTIMIZE_RE = re.compile(
    r"^\s*OPTIMIZE\s+TABLE\s+(?P<name>[\w.`]+)(?:\s+FINAL)?\s*;?\s*$",
    re.IGNORECASE)

_ALTER_MUT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[\w.`]+)\s+(?P<kind>UPDATE|DELETE)\b",
    re.IGNORECASE)

_TRUNCATE_RE = re.compile(
    r"^\s*TRUNCATE\s+TABLE\s+(?P<name>[\w.`]+)\s*;?\s*$", re.IGNORECASE)

_RENAME_RE = re.compile(
    r"^\s*RENAME\s+TABLE\s+(?P<a>[\w.`]+)\s+TO\s+(?P<b>[\w.`]+)\s*;?\s*$",
    re.IGNORECASE)

_EXISTS_RE = re.compile(
    r"^\s*EXISTS\s+(?:TABLE\s+)?(?P<name>[\w.`]+)\s*;?\s*$", re.IGNORECASE)

_SHOW_CREATE_RE = re.compile(
    r"^\s*SHOW\s+CREATE\s+TABLE\s+(?P<name>[\w.`]+)\s*;?\s*$",
    re.IGNORECASE)


def _parse_mutation_tail(kind: str, tail: str):
    """Split a mutation statement's tail into (assignments, where_sql).
    UPDATE: ``a = expr, b = expr WHERE p`` — commas and the WHERE are
    located at paren depth 0 so function calls and subqueries inside
    expressions can't confuse the split; every RHS must be non-empty.
    DELETE: ``WHERE p``. WHERE is mandatory for both, exactly as in
    ClickHouse (mutate-everything is spelled ``WHERE 1``, never implied).
    """
    from clickhouse_datafusion_spark.functions.rewrite import (
        PUNCT, WORD, tokenize)

    toks = tokenize(tail.rstrip().rstrip(";"))
    depth = 0
    where_at = None
    commas = []
    eqs = []
    for idx, t in enumerate(toks):
        if t.kind == PUNCT:
            if t.text == "(":
                depth += 1
            elif t.text == ")":
                depth -= 1
            elif depth == 0 and t.text == ",":
                commas.append(idx)
            elif depth == 0 and t.text == "=":
                eqs.append(idx)
        elif (depth == 0 and t.kind == WORD
              and t.text.upper() == "WHERE" and where_at is None):
            where_at = idx
    if where_at is None:
        raise SqlFrontDoorError(
            f"ALTER TABLE ... {kind} requires WHERE (ClickHouse mutation "
            "semantics; mutate every row with WHERE 1)")
    where_sql = "".join(t.text for t in toks[where_at + 1:]).strip()
    if not where_sql:
        raise SqlFrontDoorError(f"empty WHERE in ALTER TABLE ... {kind}")
    if kind == "DELETE":
        head = "".join(t.text for t in toks[:where_at]).strip()
        if head:
            raise SqlFrontDoorError(
                f"unexpected tokens before WHERE in DELETE mutation: {head!r}")
        return [], where_sql
    assigns = []
    start = 0
    for stop in commas + [where_at]:
        if stop > where_at:
            break
        eq = next((e for e in eqs if start <= e < stop), None)
        if eq is None:
            raise SqlFrontDoorError(
                "UPDATE assignment must be `column = expr`: "
                + "".join(t.text for t in toks[start:stop]).strip())
        col = "".join(t.text for t in toks[start:eq]).strip().strip("`")
        expr = "".join(t.text for t in toks[eq + 1:stop]).strip()
        if not col or not expr:
            raise SqlFrontDoorError(
                f"malformed UPDATE assignment around {col!r}")
        assigns.append((col, expr))
        start = stop + 1
    return assigns, where_sql

_CREATE_MV_RE = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>[\w.`]+)\s+AS\s+", re.IGNORECASE)

_REFRESH_MV_RE = re.compile(
    r"^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(?P<name>[\w.`]+)\s*;?\s*$",
    re.IGNORECASE)

_DROP_MV_RE = re.compile(
    r"^\s*DROP\s+MATERIALIZED\s+VIEW\s+(?P<ie>IF\s+EXISTS\s+)?"
    r"(?P<name>[\w.`]+)\s*;?\s*$", re.IGNORECASE)

_SHOW_MV_RE = re.compile(
    r"^\s*SHOW\s+MATERIALIZED\s+VIEWS\s*;?\s*$", re.IGNORECASE)

_CREATE_NATIVE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>[\w.`]+)\s+USING\s+clickhouse_native"
    r"(?:\s+OPTIONS\s*\((?P<opts>[^)]*)\))?\s*;?\s*$",
    re.IGNORECASE)

# OPTIONS (path '/x', key = 'v') — both `k 'v'` and `k = 'v'` spellings
_OPTION_RE = re.compile(r"(\w+)\s*=?\s*'([^']*)'")

# single-quoted SQL string literals ('' = embedded quote); used to mask
# literals from the native-table routing substitution
_STRING_LITERAL_SPLIT = re.compile(r"('(?:[^']|'')*')")

_EXPLAIN_ANALYZE_RE = re.compile(r"^\s*EXPLAIN\s+ANALYZE\s+", re.IGNORECASE)
_EXPLAIN_PLAIN_RE = re.compile(
    r"^\s*EXPLAIN\s+(?:(?P<mode>EXTENDED|CODEGEN|COST|FORMATTED)\s+)?"
    r"(?=SELECT|WITH)", re.IGNORECASE)

_DROP_TABLE_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(?P<name>[\w.`]+)\s*;?\s*$",
    re.IGNORECASE)


def _is_insert(q: str) -> bool:
    s = q.lstrip()
    # skip leading comments
    while True:
        if s.startswith("--"):
            nl = s.find("\n")
            s = "" if nl == -1 else s[nl + 1:].lstrip()
        elif s.startswith("/*"):
            end = s.find("*/")
            s = "" if end == -1 else s[end + 2:].lstrip()
        else:
            break
    return s[:6].upper() == "INSERT"


_SQL_KEYWORDS = {
    "SELECT", "FROM", "WHERE", "GROUP", "BY", "ORDER", "HAVING", "LIMIT",
    "JOIN", "ON", "AS", "AND", "OR", "NOT", "IN", "UNION", "ALL", "WITH",
    "DISTINCT", "CASE", "WHEN", "THEN", "ELSE", "END", "INNER", "LEFT",
    "RIGHT", "FULL", "CROSS", "USING", "TOTALS", "PREWHERE", "FORMAT",
}


def _prev_is_table_name(toks, i: int) -> bool:
    """True when the token before position i is an identifier in table
    position (a non-keyword WORD, backticked, or quoted name) — the
    shape of ``FROM t FINAL`` / ``JOIN db.t FINAL``. Keeps a column or
    literal merely NAMED 'final' from tripping the FINAL rejection."""
    j = i - 1
    while j >= 0 and toks[j].kind == "WS":
        j -= 1
    if j < 0:
        return False
    t = toks[j]
    if t.kind in ("BTICK", "QIDENT"):
        return True
    return t.kind == "WORD" and t.text.upper() not in _SQL_KEYWORDS


def _parse_limit_by(sql: str):
    """Detect a top-level ClickHouse ``ORDER BY ... LIMIT n BY cols
    [LIMIT m]`` tail. Returns (base_sql, order_sql, by_cols_sql, n,
    trailing_limit|None), or None when the query has no LIMIT BY.

    Token-level scan with paren-depth tracking, so ORDER BY / LIMIT
    inside subqueries or string literals never confuse the parse.
    """
    from clickhouse_datafusion_spark.functions.rewrite import (
        NUM, WORD, tokenize)

    toks = tokenize(sql)
    depth = 0
    level = []
    for idx, t in enumerate(toks):
        if t.kind == "PUNCT":
            if t.text == "(":
                depth += 1
            elif t.text == ")":
                depth -= 1
        level.append(depth)

    def _word(i):
        return toks[i].kind == WORD and toks[i].text.upper()

    def _next_sig(i):
        j = i + 1
        while j < len(toks) and toks[j].kind == "WS":
            j += 1
        return j

    # LIMIT n BY cols  |  LIMIT offset, n BY cols (CH offset form)
    lb = None  # (limit_tok_idx, by_idx, offset, n)
    for i, t in enumerate(toks):
        if level[i] == 0 and _word(i) == "LIMIT":
            j = _next_sig(i)
            if j < len(toks) and toks[j].kind == NUM:
                k = _next_sig(j)
                off = 0
                if (k < len(toks) and toks[k].kind == "PUNCT"
                        and toks[k].text == ","):
                    m2 = _next_sig(k)
                    if m2 < len(toks) and toks[m2].kind == NUM:
                        off = int(toks[j].text)
                        j = m2
                        k = _next_sig(m2)
                if k < len(toks) and _word(k) == "BY":
                    lb = (i, k, off, int(toks[j].text))
                    break
    if lb is None:
        return None
    limit_i, by_i, offset, n = lb

    # BY-column list runs until a top-level LIMIT (trailing) or the end
    end = len(toks)
    trailing = None
    for i in range(by_i + 1, len(toks)):
        if level[i] == 0 and _word(i) == "LIMIT":
            j = _next_sig(i)
            if j >= len(toks) or toks[j].kind != NUM:
                raise SqlFrontDoorError(
                    "trailing LIMIT after LIMIT BY must be a number")
            trailing = int(toks[j].text)
            end = i
            break
    by_sql = "".join(t.text for t in toks[by_i + 1:end]).strip().rstrip(";")
    if not by_sql:
        raise SqlFrontDoorError("LIMIT BY requires at least one column")

    # the governing top-level ORDER BY must precede LIMIT BY
    order_i = None
    for i in range(limit_i):
        if level[i] == 0 and _word(i) == "ORDER":
            j = _next_sig(i)
            if j < len(toks) and _word(j) == "BY":
                order_i = (i, j)
    if order_i is None:
        raise SqlFrontDoorError(
            "LIMIT BY requires a top-level ORDER BY: ClickHouse keeps "
            "the first n rows per group in result order, which is "
            "layout-dependent without one — this engine demands the "
            "deterministic form")
    o_start, o_by = order_i
    order_sql = "".join(t.text for t in toks[o_by + 1:limit_i]).strip()
    base = "".join(t.text for t in toks[:o_start]).strip()
    return base, order_sql, by_sql, offset, n, trailing


class SqlFrontDoorError(ValueError):
    pass


def _dialect_transforms(sql: str) -> str:
    """ClickHouse dialect conveniences, token-level and depth-aware:

    - ``PREWHERE`` → ``WHERE``: PREWHERE is CH's manual early-filter
      hint; Catalyst's predicate pushdown IS that optimization, so the
      semantics-preserving rewrite is the plain filter (queries using
      BOTH clauses must merge them manually — rejected with a clear
      error rather than guessed at);
    - ``GROUP BY cols WITH TOTALS`` → ``GROUP BY GROUPING SETS
      ((cols), ())``: exactly the grand-total row CH appends, surfaced
      as a null-keyed row (use grouping()/grouping_id to tell a real
      NULL key apart, same as a10c);
    - a trailing ``FORMAT <name>`` is stripped: output formatting is
      the DataFrame writer's job here, but pasted CH queries carry it;
    - ``GLOBAL IN`` / ``GLOBAL JOIN`` drop the hint keyword (identical
      local semantics; Catalyst picks the distribution strategy);
    - ``FROM t FINAL`` is REJECTED with the snapshot-upsert route —
      read-time collapse needs the ordering key, and silently ignoring
      FINAL would return duplicates the user asked to collapse.
    """
    from clickhouse_datafusion_spark.functions.rewrite import tokenize

    toks = tokenize(sql)
    depth = 0
    level = []
    for t in toks:
        if t.kind == "PUNCT":
            if t.text == "(":
                depth += 1
            elif t.text == ")":
                depth -= 1
        level.append(depth)

    def w(i):
        return toks[i].kind == "WORD" and toks[i].text.upper()

    def nxt(i):
        j = i + 1
        while j < len(toks) and toks[j].kind == "WS":
            j += 1
        return j

    # FORMAT <name> at the tail
    for i in range(len(toks)):
        if level[i] == 0 and w(i) == "FORMAT":
            j = nxt(i)
            if j < len(toks) and toks[j].kind == "WORD":
                k = nxt(j)
                rest = [t for t in toks[k:] if t.kind != "WS"
                        and t.text != ";"]
                if not rest:
                    toks = toks[:i]
                    level = level[:i]
                    break

    has_where = any(level[i] == 0 and w(i) == "WHERE"
                    for i in range(len(toks)))
    out = []
    i = 0
    while i < len(toks):
        # GLOBAL IN / GLOBAL JOIN: CH's distributed-subquery hint — the
        # local semantics are identical, so the keyword drops (Catalyst
        # decides broadcast vs shuffle itself); FINAL is NOT ignorable
        # (it changes read semantics) — rejected with the upsert route
        if w(i) == "GLOBAL":
            j = nxt(i)
            if j < len(toks) and w(j) in ("IN", "JOIN", "LEFT", "RIGHT",
                                          "INNER", "FULL", "ANY", "ALL"):
                i = j
                continue
        if w(i) == "FINAL" and _prev_is_table_name(toks, i):
            raise SqlFrontDoorError(
                "FROM ... FINAL (ReplacingMergeTree read-time collapse) "
                "is not emulatable without knowing the ordering key; "
                "materialize collapsed state instead — "
                "layout.upsert_snapshot / streaming.stream_upsert_snapshot "
                "keep per-key argmax snapshots that read like FINAL")
        if level[i] == 0 and w(i) == "PREWHERE":
            if has_where:
                raise SqlFrontDoorError(
                    "query has both PREWHERE and WHERE; merge them into "
                    "one WHERE — Spark's predicate pushdown already "
                    "applies filters as early as PREWHERE would")
            out.append("WHERE")
            i += 1
            continue
        if (level[i] == 0 and w(i) == "GROUP"
                and w(nxt(i)) == "BY"):
            by_i = nxt(i)
            # find a WITH TOTALS at this depth before the next clause
            j = by_i + 1
            wt = None
            while j < len(toks):
                if level[j] == 0 and w(j) == "WITH" \
                        and w(nxt(j)) == "TOTALS":
                    wt = (j, nxt(j))
                    break
                if level[j] == 0 and w(j) in ("HAVING", "ORDER", "LIMIT",
                                              "WINDOW", "UNION", "FORMAT"):
                    break
                j += 1
            if wt:
                cols = "".join(t.text for t in toks[by_i + 1:wt[0]]).strip()
                out.append(f"GROUP BY GROUPING SETS (({cols}), ())")
                i = wt[1] + 1
                continue
        out.append(toks[i].text)
        i += 1
    return "".join(out)
