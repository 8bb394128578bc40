"""``clickhouse_tail`` — a Structured Streaming SOURCE that tails a
growing remote table by a monotonically increasing key.

This is the read-direction completion of the streaming federation
story and the distributed extension of the reference's result
streaming (src/stream.rs:110-131 drains one query's RecordBatches into
a single client; here every micro-batch is a key-range delta and every
PARTITION of it is pulled by an executor over its own connection to
the remote's Arrow endpoint — the ``op: query`` half of
``ArrowIngestServer``). The write-direction twin is the executor-
parallel ingest path (engine._stream_insert_executors_direct).

Semantics
---------
* Offset = the high-water mark of ``key`` (a BIGINT column). A
  micro-batch covers ``(start.key, end.key]``; ``latestOffset`` polls
  ``max(key)``. Offsets are checkpointable JSON, so a restarted query
  resumes from the committed watermark — combined with the sink side
  (``stream_to_remote_table(exactly_once=True)``) this gives an
  end-to-end exactly-once remote→Spark→remote pipeline.
* The table must be APPEND-ONLY IN ``key``: a row inserted with a key
  at or below a committed watermark is never seen (the same contract
  as every watermark CDC tail; use an auto-increment/ingest-time key).
* Partition planning is SKEW-PROOF: batch key ranges are split at
  ``ntile`` boundaries of the actual keys in range (one remote window
  query per micro-batch), not at arithmetic midpoints, so a range
  whose keys cluster densely still yields equal-row partitions.

100 TB note: the driver never touches a data row — it runs two scalar
queries per micro-batch (max-key poll + boundary ntile); rows flow
remote→executor N-ways in Arrow batches. Backpressure is
``max_rows_per_batch``: ``latestOffset`` advances at most that many
rows past the committed watermark per micro-batch (clamped via a
windowed nth-key probe), the Kafka ``maxOffsetsPerTrigger`` analog.
The cap holds across restarts INCLUDING the catch-up batch: capped
tails persist their plan-time watermark in a remote
``<table>__tail_progress`` row (monotone greatest-wins upsert, keyed
by ``tail_id``), which is always at or above the committed watermark
— the restart-safe cap base the checkpoint-blind reader cannot
otherwise know (see ``_recover_base``). One API-shaped caveat: the Python DataSourceStreamReader protocol has
no separate report-true-latest hook, so a capped ``latestOffset`` is
also what ``processAllAvailable`` compares against — a capped stream
looks "caught up" after each batch, and test-style drains must loop
until the counts stabilize (continuous/interval triggers, the
production shape, are unaffected: the next trigger re-polls).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from clickhouse_datafusion_spark.sources import wire
from clickhouse_datafusion_spark.sources.remote_engine import _SQL_IDENT_RE

TAIL_FORMAT_NAME = "clickhouse_tail"


def _checked_ident(value: str, what: str) -> str:
    # the identifier grammar the wire's server validates table names
    # against — stream options arriving via readStream.option(...) are
    # caller-controlled SQL fragments otherwise (r12 ADVICE)
    if not _SQL_IDENT_RE.fullmatch(value or ""):
        raise ValueError(
            f"clickhouse_tail: option {what}={value!r} is not a bare "
            "SQL identifier ([A-Za-z_][A-Za-z_0-9]*)")
    return value


def _checked_projection(cols: str) -> str:
    """``columns`` must be ``*`` or a comma-separated identifier list —
    the only shapes the wrapper emits; anything fancier is SQL text
    from an untrusted option and is refused."""
    if cols.strip() == "*":
        return "*"
    items = [c.strip() for c in cols.split(",")]
    for c in items:
        _checked_ident(c, "columns")
    return ", ".join(items)


def _wire_query(host: str, port: int, sql: str, batch_rows: int = 65536,
                token: str | None = None):
    """Run ``sql`` against the remote's Arrow endpoint; yield
    RecordBatches. Used by the driver (scalar polls) and by executors
    (range scans) alike — the source's only data plane."""
    with wire.query(host, port, sql, batch_rows, token) as reader:
        yield from reader


def _scalar(host: str, port: int, sql: str, token: str | None = None):
    """First column of the first row of ``sql`` (None when empty)."""
    for batch in _wire_query(host, port, sql, token=token):
        if batch.num_rows:
            return batch.column(0)[0].as_py()
    return None


def _progress_op(host: str, port: int, table: str, tail_id: str,
                 action: str, watermark: int | None = None,
                 token: str | None = None,
                 incarnation: str | None = None, full: bool = False):
    """Client half of the server's parameterized tail-progress op
    (ArrowIngestServer._handle_progress): get/put/reset the capped
    tail's watermark row without any option value ever traveling as
    SQL text. For ``get`` returns the stored watermark (None when no
    row) — or, with ``full=True``, the ``(watermark, incarnation)``
    pair the clamp logic needs (r14); other actions return None.
    ``put`` records ``incarnation`` alongside the watermark (the
    greatest watermark's writer wins, both dialects)."""
    with wire.request(
            host, port, op="progress", table=table, tail_id=tail_id,
            action=action,
            watermark=None if watermark is None else int(watermark),
            incarnation=incarnation, token=token) as f:
        row = wire.read_progress(f, "tail progress op")
    if action != "get" or row is None:
        return None
    return row if full else row[0]


def tail_lag(remote, table: str, key_col: str,
             tail_id: str | None = None,
             key_type: str = "bigint") -> dict:
    """Monitoring hook for a capped tail: how far behind the remote is
    this tail_id? Returns ``{"latest_key", "watermark", "backlog_rows"}``
    (None/0 when the table is empty or no progress row exists — an
    uncapped or never-planned tail persists nothing). One scalar
    round trip per field, driver-weight zero — the dashboard query a
    production CDC pipeline alerts on (consumer-lag analog of Kafka's
    ``records-lag-max``)."""
    table = _checked_ident(table, "table")
    key_col = _checked_ident(key_col, "key_col")
    profile = remote.profile
    # identifiers travel double-quoted (r13 ADVICE): validated bare
    # names, quoted so a key/table colliding with a write keyword
    # (commit, load, set, ...) passes the wire's read-only gate
    qt, qk = profile.quote_ident(table), profile.quote_ident(key_col)
    knum = (profile.ts_key_to_epoch_us(qk)
            if key_type == "timestamp" else qk)
    host, port = remote.start_ingest_server()
    token = remote.ingest_token
    latest = _scalar(host, port,
                     f"SELECT CAST(max({knum}) AS BIGINT) FROM {qt}",
                     token=token)
    stored = _progress_op(host, port, table,
                          tail_id or f"{table}/{key_col}", "get",
                          token=token)
    backlog = 0
    if latest is not None and stored is not None and latest > stored:
        klit = (profile.epoch_us_to_ts_literal(stored)
                if key_type == "timestamp" else str(int(stored)))
        backlog = int(_scalar(
            host, port,
            f"SELECT CAST(count(*) AS BIGINT) FROM {qt} "
            f"WHERE {qk} > {klit}", token=token) or 0)
    return {"latest_key": latest, "watermark": stored,
            "backlog_rows": backlog}


def reset_tail_progress(remote, table: str, key_col: str | None = None,
                        tail_id: str | None = None) -> None:
    """Delete a capped tail's persisted watermark row — run this before
    REUSING a ``tail_id`` for a genuinely fresh re-read (new checkpoint
    or explicit ``start_key``): the previous incarnation's stored
    watermark is otherwise recovered as the cap base and the first
    micro-batch spans all the way up to it (r12 ADVICE). A fresh
    query's own ``initialOffset`` also resets the row, but on Spark's
    traced call order (latestOffset first) that reset lands after one
    capped poll — this helper closes even that window."""
    if tail_id is None:
        if key_col is None:
            raise ValueError("reset_tail_progress needs key_col or tail_id")
        tail_id = f"{table}/{key_col}"
    host, port = remote.start_ingest_server()
    _progress_op(host, port, _checked_ident(table, "table"), tail_id,
                 "reset", token=remote.ingest_token)


@dataclass
class _KeyRangePartition(InputPartition):
    host: str
    port: int
    sql: str
    batch_rows: int
    token: str | None = None


class ClickHouseTailStreamReader(DataSourceStreamReader):
    """See module docstring. Options (via ``tail_remote_table`` or
    ``spark.readStream.format("clickhouse_tail")``):

    - ``host``/``port`` — the remote's Arrow endpoint
      (``RemoteEngine.start_ingest_server``).
    - ``table`` — remote table to tail; ``key`` — the monotonic
      column.
    - ``key_type`` — ``bigint`` (default) or ``timestamp`` (the
      event-time CDC shape): watermarks are tracked as epoch
      MICROSECONDS (exact at the remote's timestamp resolution), while
      range predicates compare the raw column against timestamp
      literals, so the remote's ordering/partitioning on the key stays
      usable. A ClickHouse retarget swaps the conversion pair
      ``epoch_us``/``make_timestamp`` for
      ``toUnixTimestamp64Micro``/``fromUnixTimestamp64Micro``.
    - ``columns`` (default ``*``) — projection pushed to the remote.
    - ``num_partitions`` (default 4) — executor pulls per micro-batch.
    - ``start_key`` — tail from this watermark (exclusive); default:
      everything (``min(key) - 1``). Epoch micros for timestamp keys.
    - ``max_rows_per_batch`` — micro-batch size cap (backpressure).
    """

    def __init__(self, options):
        self._host = options["host"]
        self._port = int(options["port"])
        # identifier-validate everything that reaches SQL text: the
        # source is registrable by format name, so these arrive from
        # arbitrary readStream options (r12 ADVICE — malformed options
        # must refuse at load(), mirroring the engine's bare-table-name
        # resolution convention)
        self._table = _checked_ident(options["table"], "table")
        self._key = _checked_ident(options["key"], "key")
        self._key_type = options.get("key_type", "bigint").lower()
        if self._key_type not in ("bigint", "timestamp"):
            raise ValueError(
                f"clickhouse_tail: key_type={self._key_type!r} must be "
                "'bigint' or 'timestamp'")
        self._cols = _checked_projection(options.get("columns", "*"))
        self._nparts = int(options.get("num_partitions", "4"))
        self._batch_rows = int(options.get("batch_rows", "65536"))
        self._start_key = options.get("start_key")
        self._max_rows = options.get("max_rows_per_batch")
        self._token = options.get("token")
        from clickhouse_datafusion_spark.sources.dialect_profile import (
            get_profile)

        # every dialect-specific SQL fragment this source emits comes
        # from the profile, so a ClickHouse retarget is an option flip
        # (dialect_profile.py holds the tested swap pairs)
        self._profile = get_profile(options.get("dialect", "duckdb"))
        # identifiers travel double-quoted in every emitted statement
        # (r13 ADVICE): validated bare names, quoted so a table/key/
        # column colliding with a write keyword (commit, load, set, …)
        # passes the wire's read-only gate instead of being refused by
        # its own server
        self._qtable = self._profile.quote_ident(self._table)
        self._qkey = self._profile.quote_ident(self._key)
        self._qcols = ("*" if self._cols == "*" else ", ".join(
            self._profile.quote_ident(c.strip())
            for c in self._cols.split(",")))
        self._last: int | None = None
        # capped streams persist their PLAN-TIME watermark remote-side
        # so the cap survives restarts (see _recover_base); the row
        # travels through the server's parameterized progress op, so
        # the id needs no escaping
        self._tail_id = options.get("tail_id") or f"{self._table}/{self._key}"
        # incarnation marker (r14, VERDICT task 4): identifies THIS
        # reader instance's progress-row writes. When the first poll of
        # a new instance recovers a row written by a DIFFERENT
        # incarnation — a restart OR a reused tail_id, indistinguishable
        # before initialOffset — latestOffset clamps to the stored
        # watermark instead of planning past it (see latestOffset).
        import uuid as _uuid

        self._inc = _uuid.uuid4().hex
        self._clamp_next = False

    def _knum(self) -> str:
        """The key as a BIGINT-valued SQL expression (offset plane)."""
        if self._key_type == "timestamp":
            return self._profile.ts_key_to_epoch_us(self._qkey)
        return self._qkey

    def _klit(self, v: int) -> str:
        """An offset value as a key-typed SQL literal (predicate plane)."""
        if self._key_type == "timestamp":
            return self._profile.epoch_us_to_ts_literal(int(v))
        return str(int(v))

    # -- offsets ------------------------------------------------------
    def initialOffset(self) -> dict:
        # initialOffset runs ONLY on a genuinely fresh query (a live
        # checkpoint recovers offsets from its WAL instead), so it is
        # the one protocol hook where "this tail_id starts over" is
        # knowable — delete any stale progress row a previous
        # incarnation left (r12 ADVICE: the stale watermark otherwise
        # becomes the cap base and defeats max_rows_per_batch on
        # exactly the catch-up batch). Spark's traced order calls
        # latestOffset once BEFORE initialOffset; that first poll is
        # CLAMPED to the stored watermark when the row belongs to a
        # different incarnation (see latestOffset), so a reused
        # tail_id's first batch never spans NEW keys past the previous
        # incarnation's watermark. It can still span everything UP TO
        # it (restart and reuse are indistinguishable before this hook
        # runs) — call reset_tail_progress() (or use a fresh tail_id)
        # before intentional re-reads to cap even that first batch.
        if self._max_rows is not None:
            _progress_op(self._host, self._port, self._table,
                         self._tail_id, "reset", token=self._token)
        if self._start_key is not None:
            self._last = int(self._start_key)
        else:
            lo = _scalar(self._host, self._port,
                         f"SELECT CAST(min({self._knum()}) - 1 AS BIGINT) "
                         f"FROM {self._qtable}", token=self._token)
            # empty table: any watermark below the first future key
            # works; 0 pairs with auto-increment/rowid-style keys and
            # start_key exists for anything exotic
            self._last = int(lo) if lo is not None else 0
        return {"key": self._last}

    def _recover_base(self) -> int:
        """The cap base when this reader holds no in-memory watermark.

        Spark calls latestOffset BEFORE initialOffset on a fresh query
        and before partitions() on a restart (traced on 4.1), and
        accepts offsets it has not seen verbatim — a cap computed from
        a base below the committed watermark plans a BACKWARDS batch,
        Spark commits it, and the in-between keys replay as duplicates
        (the e2e pipeline test crashes mid-run to pin this). The safe
        base is the remote-side progress row: partitions() writes its
        PLAN-TIME watermark there with a monotone (greatest) upsert,
        and every committed batch was planned first, so the stored
        value is always >= the committed watermark. No row = a fresh
        tail = the initialOffset value is the true base.

        r14 (VERDICT task 4): the row carries the WRITER's incarnation.
        A row written by a different reader instance means this is the
        ambiguous first poll of a restart or a tail_id reuse — flag it
        so latestOffset clamps to the stored watermark instead of
        planning up to ``stored + cap`` (on a restart the gap
        (committed, stored] is at most one planned batch ≤ cap; on a
        reuse the first batch stays bounded by the PREVIOUS watermark
        rather than over-reading new keys past it)."""
        row = _progress_op(self._host, self._port, self._table,
                           self._tail_id, "get", token=self._token,
                           full=True)
        if row is not None:
            stored, inc = row
            if inc != self._inc:
                self._clamp_next = True
            return int(stored)
        return int(self.initialOffset()["key"])

    def latestOffset(self) -> dict:
        if self._max_rows is not None:
            # backpressure: advance at most max_rows keys' worth — the
            # nth smallest key above the watermark (ORDER BY + LIMIT
            # pushed to the remote; rows never leave it). The base is
            # the in-memory watermark, recovered restart-safely from
            # the remote progress row when unknown (_recover_base), so
            # the cap holds even for the catch-up batch after a cold
            # start or restart — the batch where it matters most.
            if self._last is None:
                self._last = self._recover_base()
            if self._clamp_next:
                # ambiguous first poll over a foreign progress row
                # (restart or tail_id reuse): do not plan past the
                # previous incarnation's watermark — the next poll
                # (incarnation resolved, offsets re-synced) advances
                # normally under the cap
                self._clamp_next = False
                return {"key": self._last}
            hi = _scalar(
                self._host, self._port,
                f"SELECT CAST(max(k) AS BIGINT) FROM ("
                f"SELECT {self._knum()} AS k FROM {self._qtable} "
                f"WHERE {self._qkey} > {self._klit(self._last)} "
                f"ORDER BY k LIMIT {int(self._max_rows)})",
                token=self._token)
        else:
            hi = _scalar(self._host, self._port,
                         f"SELECT CAST(max({self._knum()}) AS BIGINT) "
                         f"FROM {self._qtable}", token=self._token)
        if hi is not None and (self._last is None or hi > self._last):
            self._last = int(hi)
        return {"key": self._last if self._last is not None else 0}

    # -- planning / reading -------------------------------------------
    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["key"]), int(end["key"])
        # the offsets Spark hands back are authoritative (they include
        # WAL-recovered batches on restart) — re-sync the in-memory
        # watermark from BOTH ends so a capped latestOffset never plans
        # below them (lo is the committed watermark on recovery)
        if self._last is None or max(lo, hi) > self._last:
            self._last = max(lo, hi)
        if self._max_rows is not None:
            # persist the plan-time watermark (monotone: greatest wins,
            # so concurrent tails sharing a tail_id can only raise it —
            # a too-high base softens the cap, never replays keys); the
            # restart-safe cap base _recover_base reads this back, and
            # the incarnation tells a future reader whose write it was
            _progress_op(self._host, self._port, self._table,
                         self._tail_id, "put", watermark=self._last,
                         token=self._token, incarnation=self._inc)
        rng = (f"{self._qkey} > {self._klit(lo)} "
               f"AND {self._qkey} <= {self._klit(hi)}")
        # equal-ROW split boundaries via a discrete-quantile AGGREGATE —
        # one pass, no full sort (an ntile window materializes and sorts
        # the whole range per micro-batch, which dominates large
        # catch-up batches). The profile's quantile_bounds returns
        # actual key values (quantile_disc here, quantilesExact on a
        # ClickHouse retarget — dialect_profile.py), so every boundary
        # is a real row's key; this SQL only ever runs on the remote's
        # dialect, never through the local parser.
        probs = [(i + 1) / self._nparts for i in range(self._nparts)]
        raw = _scalar(
            self._host, self._port,
            f"SELECT {self._profile.quantile_bounds(self._knum(), probs)} "
            f"FROM {self._qtable} WHERE {rng}", token=self._token)
        bounds = sorted({int(b) for b in (raw or []) if b is not None})
        if not bounds or bounds[-1] != hi:
            # hi always terminates the last range: quantile boundaries
            # come from rows present NOW, and the planned end must win
            bounds = [b for b in bounds if b < hi] + [hi]
        parts, prev = [], lo
        for b in bounds:
            # no ORDER BY: a sort per partition pull buys nothing (rows
            # within a Spark partition carry no order contract) and
            # costs the remote a sort of every range every micro-batch
            parts.append(_KeyRangePartition(
                self._host, self._port,
                f"SELECT {self._qcols} FROM {self._qtable} "
                f"WHERE {self._qkey} > {self._klit(prev)} "
                f"AND {self._qkey} <= {self._klit(b)}",
                self._batch_rows, self._token))
            prev = b
        return parts

    def read(self, partition: _KeyRangePartition):
        yield from _wire_query(partition.host, partition.port,
                               partition.sql, partition.batch_rows,
                               token=partition.token)

    def commit(self, end: dict) -> None:
        pass  # the remote is the source of truth; nothing to ack


class ClickHouseTailDataSource(DataSource):
    """USAGE: ``spark.readStream.format("clickhouse_tail")
    .option("host", h).option("port", p).option("table", t)
    .option("key", k).load()`` — or the
    :func:`~clickhouse_datafusion_spark.streaming.tail_remote_table`
    wrapper, which wires the options from an attached RemoteEngine."""

    @classmethod
    def name(cls) -> str:
        return TAIL_FORMAT_NAME

    def schema(self) -> StructType:
        from pyspark.sql.pandas.types import from_arrow_schema

        from clickhouse_datafusion_spark.sources.dialect_profile import (
            get_profile)

        host = self.options["host"]
        port = int(self.options["port"])
        profile = get_profile(self.options.get("dialect", "duckdb"))
        table = profile.quote_ident(
            _checked_ident(self.options["table"], "table"))
        cols = _checked_projection(self.options.get("columns", "*"))
        if cols != "*":
            # quoted like every statement the reader emits (r13 ADVICE:
            # a keyword-colliding column must survive the wire's
            # read-only gate)
            cols = ", ".join(profile.quote_ident(c.strip())
                             for c in cols.split(","))
        with wire.query(host, port, f"SELECT {cols} FROM {table} LIMIT 0",
                        token=self.options.get("token"),
                        what="clickhouse_tail schema probe") as reader:
            arrow_schema = reader.schema
        return from_arrow_schema(arrow_schema, prefer_timestamp_ntz=True)

    def streamReader(self, schema: StructType) -> ClickHouseTailStreamReader:
        return ClickHouseTailStreamReader(dict(self.options))


def register_clickhouse_tail(spark) -> None:
    """Register the ``clickhouse_tail`` streaming source on the session."""
    spark.dataSource.register(ClickHouseTailDataSource)
