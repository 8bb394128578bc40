"""Remote-engine federation seam — the reference components a
single-engine design previously marked n/a-by-design, made real with
DuckDB playing the remote ClickHouse server:

- **S7 whole-subtree remote exec** (reference ``src/context.rs``'s
  analyzer shipping the largest all-ClickHouse subtree): when every
  table a SELECT references lives in the attached remote engine and
  the statement unparses to the remote dialect, the WHOLE statement
  executes remotely — the federation move that matters at 100 TB,
  where shipping a 1000-row aggregate beats scanning the table into
  the local engine. Every shipped result STREAMS batch-by-batch
  (:meth:`RemoteEngine.execute_stream`, the reference's
  RecordBatchStream contract, src/stream.rs:110-131): a result under
  Spark's local-relation threshold comes back as an Arrow
  LocalRelation, and past it the stream spills to a parquet spool, so
  no shipped result — a full scan or a high-cardinality GROUP BY —
  materializes whole on the driver.
- **J8 remote join pushdown** (``tests/e2e.rs`` federation join
  suites): a join whose sides are all remote ships as part of that
  subtree — the remote engine joins locally to ITS data.
- **S20 connection pooling / compute context**
  (``src/connection.rs:45-57`` pool_size + ``buffer_unordered``):
  a bounded cursor pool over one shared DuckDB catalog; requests
  beyond ``pool_size`` queue instead of erroring — the reference's
  over-subscription contract (``tests/e2e_stress.rs:161-239``).
- **W6 window semantic validation** (``src/analyzer``'s
  window-function check before pushdown): the function under every
  ``WindowExpression`` of the statement's parsed plan is validated
  against the remote dialect's supported set; an unsupported name keeps
  the statement LOCAL rather than failing remotely.
- **F6 unparser dialect** (``src/dialect.rs``): the engine-side
  translation of a shippable statement into the remote engine's SQL.
  Like the reference's analyzer, which walks DataFusion's LogicalPlan
  (``src/analyzer/function_pushdown.rs``), the gate decides from the
  plan Spark's parser builds (:func:`parse_plan`, one ``toJSON`` call):
  table references, a deny-by-default node-class allowlist
  (:data:`SHIPPABLE_NODES` — local rewrites like ``clickhouse(...)``
  wrappers, LIMIT BY, SAMPLE and system tables never reach it as
  shippable nodes), the function allowlist and its per-call guards.
  Only the few lexical divergences (:func:`lexical_refusal`) and the
  translation itself — qualifier stripping and explicit null ordering —
  read the text.

The storage substrate is DuckDB instead of a ClickHouse wire protocol
for the same reason the connector's is parquet
(``clickhouse_source.py`` module docstring): no live server exists in
this environment; the FEDERATION MACHINERY — subtree detection,
dialect gate, pooled execution, Arrow hand-back, local fallback — is
the deliverable and retargets by swapping :meth:`RemoteEngine.execute`.

Decision rule at scale: this layer ships a subtree when it is
*shippable*, mirroring the reference (which pushes the largest
eligible subtree unconditionally); a cost-based "ship only when the
subtree's output is smaller than its inputs" is the natural extension
and belongs in the same `_shippable` seam.
"""

from __future__ import annotations

import json
import os
import queue
import re
import threading

# Functions the remote dialect accepts inside OVER(...) clauses and as
# aggregates — the W6 validation set. Names outside this set keep the
# statement local (never a remote error). Deliberately conservative:
# everything here is verified ANSI-compatible between Spark and DuckDB
# by tests/test_differential_fuzz.py's window/aggregate algebra.
SUPPORTED_WINDOW_FUNCS = {
    "row_number", "rank", "dense_rank", "ntile", "lag", "lead",
    "first_value", "last_value", "count", "sum", "min", "max", "avg",
}

# The unparser's function allowlist (F6), checked against the
# ``UnresolvedFunction`` nodes of Spark's parsed plan: ONLY names proven
# to share semantics between the local and remote dialects may ship —
# the reference's unparser refuses expressions it cannot prove translate
# (src/dialect.rs), and same-name/different-semantics traps are real
# (probed r10, both engines, same literal inputs; re-checked mechanically
# by tools/audit_remote_allowlist.py):
#   LOG        — Spark ln vs DuckDB log10            → never ships
#   ROUND      — double scale-round: Spark HALF_UP shortest-string
#                (round(1.015d,2)=1.02) vs DuckDB 1.01 → guarded:
#                ships ONLY when each round() argument subtree holds a
#                decimal Cast and no double/float Cast (decimal
#                rounding is exact + HALF_UP in both engines)
#   CONCAT     — NULL arg: Spark → NULL, DuckDB skips → never ships
#                (concat_ws skips NULLs in BOTH — stays allowed)
#   SUBSTRING  — start 0: Spark 'ab', DuckDB 'a'     → guarded:
#                ships only with a positive integer Literal start
#   CEIL/FLOOR — same VALUES but Spark returns BIGINT, DuckDB DOUBLE
#                → silent schema divergence, never ships
#   TRIM/LTRIM/RTRIM — two-arg forms take OPPOSITE argument order
#                (Spark trim(trimStr, src) vs remote trim(src, chars):
#                trim('xxabcxx','x') = '' vs 'abc') → guarded: ships
#                only as the single-argument whitespace form
#   UPPER/LOWER — Unicode case mapping diverges (upper('straße') =
#                'STRASSE' vs 'STRAẞE') → never ships
#   ANY/SOME   — boolean aggregates locally, a parser error remotely
#                → never ship
#   AVG        — avg(DECIMAL) accumulates in binary DOUBLE remotely
#                but exact decimal locally → guarded: ships only when
#                no decimal value can flow through the statement (a
#                decimal Cast or Literal, or an attribute the remote
#                catalog types DECIMAL)
# Divergences that are not function names are node classes of the
# parsed plan, kept out by SHIPPABLE_NODES (r10b probes):
#   ^          — BitwiseXor: XOR locally vs power remotely
#   div        — IntegralDivide: a syntax error remotely
#   / and %    — Divide/Remainder: x/0 raises locally (ANSI) but is
#                NULL remotely → only a nonzero numeric Literal divisor
#                ships, and decimal division stays local (as AVG)
#   CAST(… AS STRING) — a double renders '1.0E10' locally but
#                '10000000000.0' remotely → a string-typed Cast never
#                ships (the parsed plan does not know the source type)
# and a few are lexical (lexical_refusal): backslash, double quote,
# backquote, SQL comments.
# Probed-SHARED semantics (r10d, not guarded): GROUP BY / DISTINCT over
# double keys treat ±0.0 as one group and all NaNs as one group in BOTH
# engines; the surviving difference is the representative bit pattern
# (-0.0 vs 0.0), which is IEEE-equal. Float SUM association order is an
# inherent property of any parallel engine, not a dialect divergence.
# A statement calling ANY function outside this set stays local.
SUPPORTED_REMOTE_FUNCS = SUPPORTED_WINDOW_FUNCS | {
    # scalar, verified-shared
    "coalesce", "nullif", "greatest", "least", "abs", "length",
    "concat_ws", "replace",
    "year", "month", "day", "hour", "minute", "second", "date_trunc",
    # Spark's parser emits x BETWEEN a AND b as a between() call
    "between",
}

# The plan and expression node classes a shipped statement may hold —
# deny by default: a statement with any other class stays local.
# Seeded from the classes of every statement that shipped under the
# earlier lexical gate in the federation tests, the golden unparse
# corpus, fed2/fed3, examples/10_remote_federation.py, the perfbench
# front-door workload and tools/deep_federation_sweep.py, plus
# UnresolvedWith: a named subquery (SubqueryAlias is seeded) carries no
# value semantics of its own; recursive CTEs stay local.
SHIPPABLE_NODES = frozenset({
    # plan operators
    "Aggregate", "Distinct", "Except", "Filter", "GlobalLimit",
    "Intersect", "Join", "LocalLimit", "Project", "Sort", "SubqueryAlias",
    "Union", "UnresolvedHaving", "UnresolvedRelation", "UnresolvedWith",
    # expressions
    "Add", "Alias", "And", "CaseWhen", "Cast", "Divide", "EqualTo",
    "Exists", "GreaterThan", "GreaterThanOrEqual", "InSubquery",
    "LessThan", "LessThanOrEqual", "Like", "ListQuery", "Literal",
    "Multiply", "Not", "Or", "Remainder", "ScalarSubquery", "SortOrder",
    "Subtract", "UnresolvedAlias", "UnresolvedAttribute",
    "UnresolvedFunction", "UnresolvedOrdinal", "UnresolvedStar",
    "UnspecifiedFrame$", "WindowExpression", "WindowSpecDefinition",
})

# why a known-divergent class is not listed, for the refusal reason
_NODE_NOTES = {"BitwiseXor": "^ is XOR locally, power remotely",
               "IntegralDivide": "div is a syntax error remotely"}


def parse_plan(spark, sql: str) -> list[dict]:
    """Every node of Spark's parsed, unresolved plan of ``sql`` in
    pre-order — plan operators, expressions, subquery plans and CTE
    bodies alike — each with its short class name (``cls``) and its
    child subtrees (``kids``). One ``parsePlan(...).toJSON()`` py4j
    call; raises whatever the parser or the serializer raises."""
    flat = json.loads(spark._jsparkSession.sessionState().sqlParser()
                      .parsePlan(sql).toJSON())
    nodes: list[dict] = []

    def nest(v):
        # toJSON flattens every tree to a pre-order list in which each
        # node is followed by its num-children subtrees
        if isinstance(v, dict):
            return {k: nest(x) for k, x in v.items()}
        if not isinstance(v, list):
            return v
        if not (v and isinstance(v[0], dict) and "num-children" in v[0]):
            return [nest(x) for x in v]
        it = iter(v)

        def take():
            raw = next(it)
            node = {"cls": raw["class"].rsplit(".", 1)[-1]}
            nodes.append(node)
            node.update((k, nest(x)) for k, x in raw.items())
            node["kids"] = [take() for _ in range(raw["num-children"])]
            return node
        return take()

    nest(flat)
    return nodes


def node_name(node: dict) -> str:
    """The lowercased dotted name of a relation, attribute or function
    node (Spark renders name parts as ``[remote, orders]``)."""
    parts = node.get("multipartIdentifier") or node["nameParts"]
    return ".".join(parts[1:-1].split(", ")).lower()


def plan_refs(nodes: list[dict]) -> set[str]:
    """The relation names a parsed statement reads, lowercased and as
    qualified as written, minus the statement's own CTE names."""
    ctes = {c["_1"].lower() for n in nodes if n["cls"] == "UnresolvedWith"
            for c in n["cteRelations"]}
    return {node_name(n) for n in nodes
            if n["cls"] == "UnresolvedRelation"} - ctes


def _subtree(node: dict):
    yield node
    for k in node["kids"]:
        yield from _subtree(k)


def _type(node: dict) -> str:
    """A Cast or Literal node's data type (complex types render as a
    JSON object, which no check below matches)."""
    return str(node["dataType"])


def _number(node: dict) -> float | None:
    """The value of a numeric Literal node, else None."""
    if (node["cls"] == "Literal" and node["value"] is not None
            and _type(node).startswith(
                ("integer", "bigint", "smallint", "tinyint", "double",
                 "float", "decimal"))):
        return float(node["value"])
    return None


def _round_guard(args) -> bool:
    """ROUND ships only under the decimal discipline: its argument
    subtree holds a decimal Cast and no double/float Cast — decimal
    scale-rounding is exact and HALF_UP in both engines; double rounding
    diverges (see allowlist header)."""
    casts = {_type(n) for a in args for n in _subtree(a)
             if n["cls"] == "Cast"}
    return (any(t.startswith("decimal") for t in casts)
            and not casts & {"double", "float"})


def _substr_guard(args) -> bool:
    """SUBSTRING/SUBSTR ship only with a positive integer Literal start
    (start 0 / negative starts diverge between the dialects)."""
    return (len(args) > 1 and args[1]["cls"] == "Literal"
            and args[1]["dataType"] in ("integer", "bigint")
            and int(args[1]["value"]) > 0)


def _trim_guard(args) -> bool:
    """TRIM/LTRIM/RTRIM ship only in the single-argument whitespace
    form: the two-argument forms take OPPOSITE argument order in the
    two dialects (Spark trim(trimStr, src) vs remote trim(src, chars) —
    probed: trim('xxabcxx','x') = '' locally, 'abc' remotely)."""
    return len(args) == 1


# Functions allowed through the gate only when a per-call guard over
# their argument subtrees proves the divergent argument class absent.
GUARDED_REMOTE_FUNCS = {
    "round": _round_guard,
    "substring": _substr_guard,
    "substr": _substr_guard,
    "trim": _trim_guard,
    "ltrim": _trim_guard,
    "rtrim": _trim_guard,
}

_SQL_STRING_RE = re.compile(r"'(?:[^']|'')*'")


def lexical_refusal(sql: str) -> str | None:
    """Why ``sql`` must stay local for a reason its parsed plan cannot
    show, or None (probed r10b, both engines, same input):

    - backslash — Spark interprets escape sequences in string literals
      ('a\\nb' is a newline; LIKE 'a\\_b' escapes the _), the remote
      dialect takes them literally;
    - double quote — a STRING LITERAL locally ("c" = 'c') but an
      IDENTIFIER remotely ("c" = column c): both valid, different values;
    - backquote — an identifier locally, a syntax error remotely;
    - a ``--`` or ``/*`` comment outside string literals — the shipped
      text is rewritten (qualifier stripping, explicit null ordering) by
      passes that cannot see comments."""
    if "\\" in sql:
        return "backslash: escape sequence locally, literal remotely"
    if '"' in sql:
        return 'double quote: string literal locally, identifier remotely'
    scan = _SQL_STRING_RE.sub("''", sql)
    if "`" in scan:
        return "backquote: identifier locally, syntax error remotely"
    if "--" in scan or "/*" in scan:
        return ("comment: the shipped-text rewrites cannot see SQL "
                "comments")
    return None


class RemoteEngine:
    """A pooled remote OLAP engine (DuckDB-backed).

    One shared catalog (``duckdb.connect`` root), ``pool_size`` cursors
    handed out through a blocking queue: the N+1th concurrent request
    WAITS — the reference pool's over-subscription behavior, where 16
    writers over a pool of 4 complete without deadlock or error.
    """

    def __init__(self, pool_size: int = 4, dialect: str = "duckdb"):
        import duckdb

        from clickhouse_datafusion_spark.sources.dialect_profile import (
            get_profile)

        # the remote's SQL dialect, selectable at construction (r13
        # VERDICT task 5): every dialect-specific statement the seam
        # emits renders from this profile. The in-process remote IS
        # DuckDB, so that's the only profile that can run here —
        # selecting "clickhouse" is the retarget hook for a real
        # server deployment (conformance_check validates a target).
        self.profile = get_profile(dialect)
        self.pool_size = pool_size
        self._root = duckdb.connect()
        self._pool: queue.Queue = queue.Queue()
        for _ in range(pool_size):
            self._pool.put(self._root.cursor())
        self._tables: set[str] = set()
        self._writable: set[str] = set()
        self._dec_cols: frozenset | None = None   # decimal_columns cache
        self._lock = threading.Lock()
        # serializes first-batch commit-log creation from concurrent
        # partition gates (_marker_gate) — separate from _lock because
        # the create path calls refresh(), which takes _lock itself
        self._ddl_lock = threading.Lock()

    # -- catalog -----------------------------------------------------
    def register_parquet_dir(self, path: str, tables: list[str] | None = None
                             ) -> list[str]:
        """Register every parquet table under ``path`` as a remote view.
        Returns the registered bare table names."""
        names = []
        for f in sorted(os.listdir(path)):
            if not f.endswith(".parquet"):
                continue
            name = f[:-len(".parquet")]
            if tables is not None and name not in tables:
                continue
            self.register_parquet(name, os.path.join(path, f))
            names.append(name)
        return names

    def register_parquet(self, name: str, file_path: str) -> None:
        with self._lock:
            self._root.execute(
                f"CREATE OR REPLACE VIEW {name} AS "
                f"SELECT * FROM read_parquet('{file_path}')")
            self._tables.add(name.lower())
            self._dec_cols = None

    def create_table(self, name: str, schema_sql: str) -> None:
        """Create a WRITABLE remote table (``schema_sql`` is the column
        list, e.g. ``"id BIGINT, v DOUBLE"``) — the MergeTree-table
        analog the insert path targets; parquet registrations stay
        read-only views."""
        with self._lock:
            self._root.execute(f"CREATE TABLE {name} ({schema_sql})")
            self._tables.add(name.lower())
            self._dec_cols = None
            self._writable.add(name.lower())

    def create_table_as(self, name: str, select_sql: str) -> None:
        """Remote-side CTAS: the table materializes FROM a remote query
        without any data crossing the seam — the whole-ship write form
        of the front door's ``CREATE TABLE <db>.<t> AS SELECT ...``."""
        with self._lock:
            self._root.execute(f"CREATE TABLE {name} AS {select_sql}")
            self._tables.add(name.lower())
            self._dec_cols = None
            self._writable.add(name.lower())

    def drop_table(self, name: str, if_exists: bool = False) -> None:
        """Drop a remote table or view — the SQL-front-door DDL analog
        of the reference's remote DROP (src/providers/table_factory.rs
        drop path)."""
        low = name.lower()
        with self._lock:
            if low not in self._tables:
                if if_exists:
                    return
                raise ValueError(f"remote table {name!r} does not exist")
            kind = "TABLE" if low in self._writable else "VIEW"
            self._root.execute(f"DROP {kind} {name}")
            self._tables.discard(low)
            self._dec_cols = None
            self._writable.discard(low)

    def refresh(self) -> set[str]:
        """Re-list the remote catalog from the engine's own
        information_schema, picking up tables created or dropped
        out-of-band — the reference catalog's refresh contract
        (src/providers/catalog.rs:54-69). Returns the refreshed set."""
        with self._lock:
            rows = self._root.execute(
                "SELECT table_name, table_type "
                "FROM information_schema.tables "
                "WHERE table_schema = 'main'").fetchall()
            self._tables = {r[0].lower() for r in rows}
            self._writable = {r[0].lower() for r in rows
                              if r[1] == "BASE TABLE"}
            self._dec_cols = None
        return set(self._tables)

    def tables(self) -> set[str]:
        return set(self._tables)

    def _typed_col_map(self) -> dict:
        """column -> set of owning tables, for the two type classes the
        gate needs (DECIMAL: avg/div divergence; TIMESTAMP: session-tz
        rendering divergence). Cached; any DDL invalidates."""
        if self._dec_cols is None:
            with self._lock:
                rows = self._root.execute(
                    "SELECT lower(column_name), lower(table_name), "
                    "data_type FROM information_schema.columns "
                    "WHERE table_schema = 'main' "
                    "AND (data_type LIKE 'DECIMAL%' "
                    "  OR data_type LIKE 'TIMESTAMP%')").fetchall()
                m: dict = {"dec": {}, "ts": {}}
                for col, tbl, dt in rows:
                    kind = "dec" if dt.startswith("DECIMAL") else "ts"
                    m[kind].setdefault(col, set()).add(tbl)
                self._dec_cols = m
        return self._dec_cols

    def _cols_of(self, kind: str, tables=None) -> frozenset[str]:
        m = self._typed_col_map()[kind]
        if tables is None:
            return frozenset(m)
        want = {t.split(".")[-1].lower() for t in tables}
        return frozenset(c for c, owners in m.items() if owners & want)

    def decimal_columns(self, tables=None) -> frozenset[str]:
        """Lowercased names of DECIMAL-typed columns — the type
        knowledge the avg guard needs: the remote dialect computes
        avg(DECIMAL) in binary DOUBLE (probed r10b) while the local
        surface keeps exact decimal arithmetic, so an averaged decimal
        column must keep the statement local. ``tables`` scopes the
        set to the statement's actual referenced tables (r11, advice):
        a common decimal column name in an UNRELATED table no longer
        de-federates statements that merely reuse the word as an
        alias."""
        return self._cols_of("dec", tables)

    def timestamp_columns(self, tables=None) -> frozenset[str]:
        """Lowercased names of TIMESTAMP-typed columns (optionally
        scoped to ``tables``) — under a non-UTC session timezone Spark
        renders timestamp instants in the session tz while the remote
        engine and its naive Arrow hand-backs do not, so statements
        touching remote timestamp columns must stay local (r11 gate
        widening)."""
        return self._cols_of("ts", tables)

    def writable(self) -> set[str]:
        return set(self._writable)

    # -- execution ---------------------------------------------------
    def execute(self, sql: str, timeout: float | None = None):
        """Run ``sql`` on a pooled cursor; returns a pyarrow Table.
        Blocks (bounded by ``timeout``) when all cursors are busy —
        the pool contract, not an error path."""
        cur = self._pool.get(timeout=timeout)
        try:
            return cur.execute(sql).arrow()
        finally:
            self._pool.put(cur)

    def execute_stream(self, sql: str, batch_rows: int = 65536):
        """Run ``sql`` on a pooled cursor and yield pyarrow
        RecordBatches incrementally — the reference's
        ``RecordBatchStream`` hand-back (src/stream.rs:110-131). The
        stream itself holds one batch at a time; the engine buffers it
        and spills to a parquet spool past Spark's local-relation
        threshold, which is what makes any shipped SELECT safe at
        100 TB; every shipped read comes through here. A result
        with no rows yields one zero-row batch carrying the reader's
        schema, so the consumer never runs the statement again to learn
        it. The cursor returns to the pool when the generator is
        exhausted or closed."""
        import pyarrow as pa

        cur = self._pool.get()
        try:
            reader = cur.execute(sql).fetch_record_batch(batch_rows)
            empty = True
            for batch in reader:
                empty = False
                yield batch
            if empty:
                yield pa.RecordBatch.from_pylist([], schema=reader.schema)
        finally:
            self._pool.put(cur)

    def execute_insert(self, sql: str) -> int:
        """Run a remote-side INSERT...SELECT on a pooled cursor; returns
        the inserted-row count (the reference sink's count contract)."""
        cur = self._pool.get()
        try:
            return int(cur.execute(sql).fetchone()[0])
        finally:
            self._pool.put(cur)

    def insert_arrow(self, name: str, tbl, columns: str = "") -> int:
        """Append an Arrow table into a writable remote table through the
        pool — the federation write path's data plane (the reference
        ships RecordBatches through its pooled connection,
        src/sink.rs:180-197). Registration names are unique per call so
        concurrent pooled writers never collide."""
        import uuid as _uuid

        if name.lower() not in self._writable:
            raise ValueError(
                f"remote table {name!r} is a read-only view; "
                "create_table() makes a writable one")
        alias = f"_ins_{_uuid.uuid4().hex[:12]}"
        cur = self._pool.get()
        try:
            cur.register(alias, tbl)
            try:
                n = int(cur.execute(
                    f"INSERT INTO {name} {columns} "
                    f"SELECT * FROM {alias}").fetchone()[0])
            finally:
                cur.unregister(alias)
            return n
        finally:
            self._pool.put(cur)

    def insert_arrow_batches(self, name: str, batches, columns: str = "",
                             write_concurrency: int = 4) -> int:
        """Append an ITERATOR of Arrow RecordBatches through up to
        ``write_concurrency`` concurrent pooled writers — the write
        direction of the streaming seam (the reference sink drains its
        batch stream through ``buffer_unordered(write_concurrency)``
        over pooled connections, src/sink.rs:129-211 +
        src/connection.rs:45-72). At most ``write_concurrency`` batches
        are in flight (and therefore in driver memory) at once: a
        writer slot is freed BEFORE the next batch is pulled (r12
        advice fix — the loop previously pulled first, making the true
        bound W+1), so an arbitrarily large source streams through
        bounded memory. Returns the total appended row count.
        Append-only semantics: a mid-stream failure leaves earlier
        batches appended (same contract as the reference's streaming
        sink — no cross-batch transaction)."""
        import collections
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow as pa

        if name.lower() not in self._writable:
            raise ValueError(
                f"remote table {name!r} is a read-only view; "
                "create_table() makes a writable one")
        workers = max(1, int(write_concurrency))
        total = 0
        pending: collections.deque = collections.deque()
        it = iter(batches)
        with ThreadPoolExecutor(max_workers=workers) as ex:
            while True:
                # free a slot BEFORE pulling: invariant len(pending)
                # <= workers-1 at every next(), so pulled-not-yet-
                # appended batches never exceed `workers`
                if len(pending) >= workers:
                    total += pending.popleft().result()
                try:
                    batch = next(it)
                except StopIteration:
                    break
                pending.append(ex.submit(
                    self.insert_arrow, name,
                    pa.Table.from_batches([batch]), columns))
            while pending:
                total += pending.popleft().result()
        return total

    # -- executor-parallel ingest (r12) --------------------------------
    def start_ingest_server(self, host: str | None = None,
                            io_timeout: float | None = 300.0,
                            token: str | None = None):
        """Start the Arrow-over-TCP ingest server — the server half of
        the EXECUTOR-PARALLEL federated write (the scale extension of
        the reference's single-client sink, src/sink.rs:102-211: where
        the reference streams RecordBatches over one client connection,
        a server-mode remote accepts N concurrent executor connections,
        so the wire is no longer driver-serialized). Returns the bound
        ``(host, port)``. Loopback-only by default.

        ``io_timeout`` bounds each connection's individual socket
        reads/writes: a STALLED peer (an executor frozen mid-send, a
        tail client that stopped draining its result) would otherwise
        block its handler thread in the kernel forever and pin a pooled
        cursor — a slow-client denial of the whole pool (found by the
        stalled-query-client test). On timeout the handler's
        transaction rolls back / result stream truncates, the cursor
        returns, the connection closes. Generous by default (300 s of
        NO byte movement, not total duration) so a busy-but-alive peer
        never trips it; ``None`` disables.

        ``token`` (r13, ADVICE): a shared secret every operation's
        header must carry (constant-time compared). REQUIRED the moment
        ``host`` binds beyond loopback — any peer that can reach the
        port can otherwise stream ingests and run read queries. The
        engine's own clients (the executor write plane, the tail
        source, the wrapper) plumb it automatically from
        :attr:`ingest_token`. Independently of the token, the ``query``
        op is restricted to READ-ONLY statements server-side
        (:func:`assert_read_only_sql`) — DDL/DML must come through the
        writability-checked ingest op or the driver-side engine API,
        never the wire.

        Idempotent: with a server already running, an argument-free
        call returns its address; a call asking for a DIFFERENT token
        or host RAISES instead of silently handing back the running
        server under the caller's assumed settings (r13 ADVICE) —
        ``stop_ingest_server()`` first to rebind."""
        if getattr(self, "_ingest", None) is None:
            bind = host if host is not None else "127.0.0.1"
            if token is None and bind not in ("127.0.0.1", "localhost",
                                              "::1"):
                raise ValueError(
                    "start_ingest_server: binding beyond loopback "
                    f"({bind!r}) requires a shared-secret token=...")
            self._ingest = ArrowIngestServer(self, host=bind,
                                             io_timeout=io_timeout,
                                             token=token)
        else:
            # idempotent re-start must not SILENTLY hand back a server
            # with weaker (or just different) settings than the caller
            # asked for (r13 ADVICE): a second caller passing token=...
            # would otherwise believe the wire is now secret-gated while
            # the running server keeps accepting tokenless peers. host/
            # token left unspecified reuse the running server as-is
            # (the pervasive "fetch the address" pattern stays valid).
            srv = self._ingest
            if token is not None and token != srv.token:
                raise ValueError(
                    "start_ingest_server: a server is already running "
                    + ("WITHOUT a token" if srv.token is None else
                       "with a DIFFERENT token")
                    + " — stop_ingest_server() first to rebind, or "
                    "call without token= to reuse it as-is")
            if host is not None and host != srv.address[0]:
                raise ValueError(
                    "start_ingest_server: a server is already bound to "
                    f"{srv.address[0]!r}, not {host!r} — "
                    "stop_ingest_server() first to rebind")
        return self._ingest.address

    @property
    def ingest_address(self):
        srv = getattr(self, "_ingest", None)
        return srv.address if srv is not None else None

    @property
    def ingest_token(self) -> str | None:
        """The running ingest server's shared secret (None when the
        server is down or was started without one)."""
        srv = getattr(self, "_ingest", None)
        return srv.token if srv is not None else None

    def stop_ingest_server(self) -> None:
        srv = getattr(self, "_ingest", None)
        if srv is not None:
            srv.close()
            self._ingest = None

    def assert_writable(self, name: str) -> None:
        """Raise the writability contract's ValueError unless ``name``
        is an append-writable table — the driver-side fast-fail every
        write plane runs before launching a distributed job."""
        if name.lower() not in self._writable:
            raise ValueError(
                f"remote table {name!r} is a read-only view; "
                "create_table() makes a writable one")

    def ingest_transaction(self, name: str, batches, columns: str = "",
                           pre_commit_sql: str | None = None) -> int:
        """Append an iterator of Arrow RecordBatches ATOMICALLY on one
        pooled cursor: BEGIN → per-batch INSERT → COMMIT, rolling back
        on any failure. This is the per-connection body of the ingest
        server — atomicity is what makes the executor-parallel path
        safe under Spark task RETRIES (a re-run partition never leaves
        a partial duplicate prefix behind).

        ``pre_commit_sql`` (r12) executes on the SAME cursor inside the
        transaction, after the last batch and before COMMIT — the hook
        the exactly-once streaming sink uses to land a commit-log
        marker atomically with the rows it marks (rows and marker
        become visible together or not at all)."""
        import uuid as _uuid

        import pyarrow as pa

        self.assert_writable(name)
        profile = self.profile  # construction-selected (r14)
        cur = self._pool.get()
        try:
            cur.execute(profile.txn_begin())
            try:
                total = 0
                for batch in batches:
                    alias = f"_ing_{_uuid.uuid4().hex[:12]}"
                    cur.register(alias, pa.Table.from_batches([batch]))
                    try:
                        total += int(cur.execute(
                            f"INSERT INTO {name} {columns} "
                            f"SELECT * FROM {alias}").fetchone()[0])
                    finally:
                        cur.unregister(alias)
                if pre_commit_sql is not None:
                    cur.execute(pre_commit_sql)
                cur.execute(profile.txn_commit())
                return total
            except Exception:
                cur.execute(profile.txn_rollback())
                raise
        finally:
            self._pool.put(cur)


class ArrowIngestServer:
    """Arrow-IPC-over-TCP ingest endpoint for a :class:`RemoteEngine`.

    Wire protocol (one operation per connection). The header is a
    4-byte BE length + UTF-8 JSON dict; ``op`` selects the operation
    (default ``"ingest"`` for r12 back-compat):

    * ingest — header ``{"table": ..., "columns": ...}`` then an Arrow
      IPC stream of RecordBatches from the client; server replies
      1 status byte (``0x00`` ok / ``0x01`` error), then 8-byte BE
      appended-row count (ok) or 4-byte BE length + UTF-8 message
      (error). With ``"marker": {"commits": t, "sink": s, "batch": n}``
      in the header (r14, the executor_direct plane's exactly-once
      handshake) the server FIRST replies one gate byte — ``0x10``
      proceed / ``0x11`` marker already committed, skip and close —
      before the client streams any data, and on proceed the marker
      INSERT joins the partition's transaction (rows + marker land
      atomically; see :meth:`_marker_gate`).
    * query (r12b — the read direction; the executor-reachable twin of
      :meth:`RemoteEngine.execute_stream`, src/stream.rs:110-131) —
      header ``{"op": "query", "sql": ..., "batch_rows": ...}``; server
      replies the status byte, then (ok) streams the result as an
      Arrow IPC stream batch-by-batch and closes. A failure BEFORE the
      first batch is a clean ``0x01`` error frame; a failure mid-stream
      truncates the IPC stream (the client's reader raises). This is
      what lets Spark EXECUTORS scan key ranges of a remote table
      directly — the data plane of the ``clickhouse_tail`` streaming
      source. READ-ONLY (r13): statements are gated by
      :func:`assert_read_only_sql`; writes must come through the
      ingest op (``_writable``-checked) or the driver-side engine API.
    * progress (r13) — the capped tail's watermark row as a dedicated
      parameterized op (see :meth:`_handle_progress`): header
      ``{"op": "progress", "table": ..., "tail_id": ...,
      "action": get|put|reset[, "watermark": N][, "incarnation": s]}``;
      reply status byte + presence flag + 8-byte signed BE watermark +
      2-byte BE length + incarnation bytes (r14: the incarnation marker
      lets a NEW reader recovering the row distinguish its own writes
      from a previous incarnation's and clamp its first poll).

    When the server was started with a ``token``, every header must
    carry it (``"token": ...``, constant-time compared) — the
    multi-host deployment lock the loopback default doesn't need.

    Each connection's batches append inside ONE transaction
    (:meth:`RemoteEngine.ingest_transaction`), so a Spark task retry
    re-streams its partition atomically instead of duplicating a
    partial prefix. Concurrency is bounded by the engine's cursor
    pool — N executor connections share the same pool the driver-side
    writers use."""

    def __init__(self, engine: "RemoteEngine", host: str = "127.0.0.1",
                 io_timeout: float | None = 300.0,
                 token: str | None = None):
        import socket

        self._engine = engine
        self._io_timeout = io_timeout
        self.token = token
        self._sock = socket.create_server((host, 0))
        self._sock.settimeout(0.5)
        self.address = self._sock.getsockname()
        self.connections_served = 0     # observability (tests assert
        self.stream_errors = 0          # mid-stream failures = silent
        self.last_stream_error = None   # truncations; surfaced here
        self._count_lock = threading.Lock()   # the wire parallelism)
        self._stop = False
        self._threads: list[threading.Thread] = []
        self._acceptor = threading.Thread(
            target=self._serve, name="arrow-ingest-accept", daemon=True)
        self._acceptor.start()

    def _serve(self) -> None:
        import socket

        while not self._stop:
            try:
                conn, _ = self._sock.accept()
            except socket.timeout:
                continue
            except OSError:
                break
            t = threading.Thread(target=self._handle, args=(conn,),
                                 daemon=True)
            t.start()
            # track only LIVE handlers (a long-lived server must not
            # accumulate finished thread objects)
            self._threads = [x for x in self._threads
                             if x.is_alive()] + [t]

    def _handle(self, conn) -> None:
        import json

        import pyarrow as pa

        with self._count_lock:
            self.connections_served += 1
        # per-operation stall bound: without it a frozen peer parks
        # this thread in the kernel send/recv forever WITH a pooled
        # cursor checked out (see start_ingest_server docstring)
        conn.settimeout(self._io_timeout)
        f = conn.makefile("rwb")
        try:
            try:
                hdr_len = int.from_bytes(f.read(4), "big")
                hdr = json.loads(f.read(hdr_len))
                if self.token is not None:
                    import hmac

                    if not hmac.compare_digest(
                            str(hdr.get("token", "")), self.token):
                        raise PermissionError(
                            "bad or missing token (the server was "
                            "started with a shared secret; pass it in "
                            "the header / wire it from "
                            "RemoteEngine.ingest_token)")
                op = hdr.get("op", "ingest")
                if op == "query":
                    self._handle_query(f, hdr)
                    return
                if op == "progress":
                    self._handle_progress(f, hdr)
                    return
                pre_commit = None
                if "marker" in hdr:
                    # exactly-once partition gate (r14): check the
                    # commit-log marker BEFORE the client streams a
                    # byte of data — a replayed/retried partition
                    # whose marker already landed skips without
                    # shipping its rows again. Reply one gate byte:
                    # 0x10 proceed / 0x11 skip-and-close. The marker
                    # INSERT rides pre_commit_sql, so rows + marker
                    # land in ONE transaction (a same-partition race —
                    # Spark speculation, a zombie driver — both pass
                    # this gate, but the commit log's PRIMARY KEY lets
                    # only one transaction COMMIT; the loser rolls
                    # back whole and reports an error frame).
                    pre_commit = self._marker_gate(f, hdr["marker"])
                    if pre_commit is None:
                        f.write(b"\x11")
                        f.flush()
                        return
                    f.write(b"\x10")
                    f.flush()
                reader = pa.ipc.open_stream(f)
                total = self._engine.ingest_transaction(
                    hdr["table"], reader, hdr.get("columns", ""),
                    pre_commit_sql=pre_commit)
                f.write(b"\x00" + total.to_bytes(8, "big"))
                f.flush()
            except Exception as e:  # report to the client, stay up
                msg = f"{type(e).__name__}: {e}".encode()[:65535]
                try:
                    f.write(b"\x01" + len(msg).to_bytes(4, "big") + msg)
                    f.flush()
                except OSError:  # pragma: no cover - client went away
                    pass
        finally:
            try:
                f.close()
                conn.close()
            except OSError:  # pragma: no cover - already closed
                pass

    def _marker_gate(self, f, marker: dict) -> str | None:
        """Server half of the per-partition exactly-once handshake
        (r14, the executor_direct write plane): validate the marker
        fields — the commits TABLE NAME against the identifier
        grammar, sink as an escaped literal, batch as an int; nothing
        client-controlled travels as raw SQL — ensure the commit log
        exists, and return the marker-INSERT statement to run inside
        the partition's ingest transaction, or None when the marker is
        already present (the partition was committed by a previous
        attempt — skip)."""
        commits = str(marker["commits"])
        if not _SQL_IDENT_RE.fullmatch(commits):
            raise PermissionError(
                f"ingest marker: invalid commits identifier {commits!r}")
        sink = str(marker["sink"]).replace("'", "''")
        bid = int(marker["batch"])
        profile = self._engine.profile
        eng = self._engine
        if commits not in eng.tables():
            # Create the commit log ONCE, serialized: DuckDB's
            # CREATE TABLE IF NOT EXISTS takes a catalog-alter intent
            # even when the table exists, so N concurrent partition
            # gates each running it (or one running it against other
            # partitions' open marker transactions) hit "Catalog
            # write-write conflict on alter" — measured, not
            # theoretical. The engine-API path (append_remote_
            # exactly_once) pre-creates the log driver-side before the
            # job, so this branch only fires for raw-wire clients'
            # very first batch, where no marker txn can be open yet
            # (every partition passes its gate before BEGIN).
            with eng._ddl_lock:
                if commits not in eng.tables():
                    eng.execute(profile.commits_create(commits))
                    eng.refresh()
        cur = eng._pool.get()
        try:
            seen = cur.execute(
                profile.commits_seen(commits, sink, bid)).fetchone()[0]
        finally:
            eng._pool.put(cur)
        if seen:
            return None
        return profile.commits_marker(commits, sink, bid)

    def _handle_progress(self, f, hdr: dict) -> None:
        """Tail-progress plane (r13): the capped tail source's
        watermark row, as a DEDICATED PARAMETERIZED op instead of SQL
        through the (now read-only) query op. The server builds every
        statement itself — the base table name is validated against an
        identifier grammar and ``tail_id``/``watermark`` travel as bind
        parameters, so none of the stream options can reach the remote
        as SQL text (r12 ADVICE: the tail's f-string SQL assembly was
        an injection surface). Actions: ``get`` (read the stored
        watermark), ``put`` (monotone greatest-wins upsert), ``reset``
        (delete the row — fresh queries clear stale incarnations).
        Reply: status byte, 1-byte presence flag, 8-byte signed BE
        watermark (zero unless a ``get`` found a row)."""
        from clickhouse_datafusion_spark.sources.dialect_profile import (
            get_profile)

        table = str(hdr["table"])
        if not _SQL_IDENT_RE.fullmatch(table):
            raise PermissionError(
                f"progress op: invalid table identifier {table!r}")
        prog = f"{table}__tail_progress"
        action = hdr.get("action", "get")
        tail_id = str(hdr["tail_id"])
        # the statement set is profile-rendered (construction-selected,
        # r14) so the ClickHouse transcripts pin the swap
        profile = self._engine.profile
        cur = self._engine._pool.get()
        try:
            cur.execute(profile.progress_create(prog))
            present, val, inc = 0, 0, b""
            if action == "put":
                cur.execute(profile.progress_put(prog),
                            [tail_id, int(hdr["watermark"]),
                             str(hdr.get("incarnation", ""))])
            elif action == "reset":
                cur.execute(profile.progress_reset(prog), [tail_id])
            elif action == "get":
                row = cur.execute(profile.progress_get(prog),
                                  [tail_id]).fetchone()
                if row is not None:
                    present, val = 1, int(row[0])
                    inc = str(row[1] or "").encode()[:65535]
            else:
                raise ValueError(f"unknown progress action {action!r}")
            f.write(b"\x00" + bytes([present])
                    + val.to_bytes(8, "big", signed=True)
                    + len(inc).to_bytes(2, "big") + inc)
            f.flush()
        finally:
            self._engine._pool.put(cur)

    def _handle_query(self, f, hdr: dict) -> None:
        """Stream a query result back as an Arrow IPC stream. The
        status byte is written only after the cursor EXECUTE succeeds,
        so planning/binding errors reach the client as a clean error
        frame (handled by the caller's except); a failure while
        streaming batches CLOSES the connection without writing
        anything more (r13, ADVICE) — an error frame after the status
        byte would be consumed by the client's IPC reader as corrupt
        stream bytes, so true truncation is the honest signal; the
        failure is recorded on ``stream_errors``/``last_stream_error``.
        The cursor is pooled like every other operation — N concurrent
        range scans share the same pool as the writers.

        The statement is restricted to READ-ONLY SQL
        (:func:`assert_read_only_sql`, r13 ADVICE): the ingest op
        enforces the ``_writable`` contract, and without this gate any
        wire peer could bypass it — INSERT into a read-only view, DROP
        a table — via op:query."""
        import pyarrow as pa

        assert_read_only_sql(hdr["sql"])
        cur = self._engine._pool.get()
        try:
            reader = cur.execute(hdr["sql"]).fetch_record_batch(
                int(hdr.get("batch_rows", 65536)))
            f.write(b"\x00")
            try:
                writer = pa.ipc.new_stream(f, reader.schema)
                for batch in reader:
                    writer.write_batch(batch)
                writer.close()
                f.flush()
            except Exception as e:
                with self._count_lock:
                    self.stream_errors += 1
                    self.last_stream_error = f"{type(e).__name__}: {e}"
                try:
                    f.close()
                except (OSError, ValueError):  # already torn down
                    pass
        finally:
            self._engine._pool.put(cur)

    def close(self) -> None:
        self._stop = True
        try:
            self._sock.close()
        except OSError:  # pragma: no cover - already closed
            pass
        self._acceptor.join(timeout=2)


_WRITE_TOKENS = frozenset((
    "insert", "update", "delete", "merge", "create", "drop", "alter",
    "truncate", "attach", "detach", "copy", "pragma", "install", "load",
    "call", "set", "reset", "begin", "commit", "rollback", "vacuum",
    "checkpoint", "export", "import", "grant", "revoke", "use"))

_IDENT_TOKEN_RE = re.compile(r"[a-zA-Z_][a-zA-Z_0-9]*")
_SQL_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z_0-9]*\Z")


def assert_read_only_sql(sql: str) -> None:
    """Refuse any statement the ingest server's ``query`` op must not
    run (r13 ADVICE: the op executed arbitrary SQL on a pooled cursor,
    bypassing the ``_writable`` contract the ingest op enforces).

    Lexer-level, refusal-direction: string literals (``''`` escapes),
    quoted identifiers, and ``--``/``/* */`` comments are stripped, then
    the statement must start with SELECT/WITH/DESCRIBE/SHOW/VALUES,
    contain no second statement (interior ``;``), no dollar-quoting
    (not analyzable at this level), and no write/DDL/session keyword
    ANYWHERE as an unquoted token — write verbs cannot appear in
    subqueries, and reserved words cannot appear as unquoted
    identifiers, so false refusals need a deliberately odd schema
    (quote such identifiers to pass). Mirrors the engine's seam
    convention: when in doubt, refuse loudly rather than forward."""
    out = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            i += 1
            while i < n:
                if sql[i] == "'":
                    if i + 1 < n and sql[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
            i += 1
        elif c == '"':
            i += 1
            while i < n and sql[i] != '"':
                i += 1
            i += 1
        elif sql.startswith("--", i):
            j = sql.find("\n", i)
            i = n if j < 0 else j + 1
        elif sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            i = n if j < 0 else j + 2
        else:
            out.append(c)
            i += 1
    text = "".join(out)
    if "$" in text:
        raise PermissionError(
            "query op: dollar-quoted strings are not analyzable by the "
            "read-only gate; rewrite with standard quotes")
    body = text.strip().rstrip(";").strip()
    if ";" in body:
        raise PermissionError(
            "query op: multiple statements are not allowed")
    toks = _IDENT_TOKEN_RE.findall(body.lower())
    if not toks or toks[0] not in ("select", "with", "describe", "show",
                                   "values", "explain", "from"):
        head = toks[0] if toks else "<empty>"
        raise PermissionError(
            f"query op is read-only; statement starts with {head!r}")
    bad = _WRITE_TOKENS.intersection(toks)
    if bad:
        raise PermissionError(
            "query op is read-only; statement contains write/DDL/session "
            f"keyword(s) {sorted(bad)} (quote identifiers that merely "
            "collide with these names)")


_ORDER_BY_RE = re.compile(r"(?i)\border\s+by\b")
_ORDER_END_RE = re.compile(
    r"(?i)^(limit|offset|rows|range|groups|union|intersect|except|fetch"
    r"|window)\b")
_NULLS_EXPLICIT_RE = re.compile(r"(?i)\bnulls\s+(first|last)\s*$")
_DESC_TAIL_RE = re.compile(r"(?i)\bdesc\s*$")


def make_nulls_explicit(sql: str) -> str:
    """F6 translation: append Spark's default null ordering to every
    ORDER BY item that lacks an explicit one — ``NULLS FIRST`` for
    ASC/unspecified, ``NULLS LAST`` for DESC. Spark defaults ASC to
    NULLS FIRST while the remote dialect defaults to NULLS LAST (probed
    r10: row_number() OVER (ORDER BY v) ranks a NULL row 1 locally and
    3 remotely), so a shipped windowed rank or top-k over a nullable
    column would otherwise silently diverge. Explicit qualifiers are
    valid in both dialects, so the rewrite is semantics-preserving by
    construction. Handles both windowed (inside OVER(...)) and
    top-level ORDER BY; string literals are skipped."""
    lit_spans = [m.span() for m in _SQL_STRING_RE.finditer(sql)]

    def in_literal(p: int) -> bool:
        return any(a <= p < b for a, b in lit_spans)

    out, i = [], 0
    while True:
        m = _ORDER_BY_RE.search(sql, i)
        if not m:
            out.append(sql[i:])
            break
        if in_literal(m.start()):
            out.append(sql[i:m.end()])
            i = m.end()
            continue
        out.append(sql[i:m.end()])
        j, depth, item_start = m.end(), 0, m.end()
        spans: list[tuple[int, int]] = []
        while j < len(sql):
            ch = sql[j]
            if ch == "'":
                k = j + 1
                while k < len(sql):
                    if sql[k] == "'":
                        if sql[k + 1:k + 2] == "'":
                            k += 2
                            continue
                        break
                    k += 1
                j = k
            elif ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break                       # end of the OVER clause
                depth -= 1
            elif ch == "," and depth == 0:
                spans.append((item_start, j))
                item_start = j + 1
            elif (depth == 0 and ch.isalpha()
                  and not (sql[j - 1].isalnum() or sql[j - 1] == "_")
                  and _ORDER_END_RE.match(sql[j:])):
                break
            j += 1
        spans.append((item_start, j))
        rebuilt = []
        for a, b in spans:
            item = sql[a:b]
            core = item.rstrip()
            if not core or _NULLS_EXPLICIT_RE.search(core):
                rebuilt.append(item)
            elif _DESC_TAIL_RE.search(core):
                rebuilt.append(core + " NULLS LAST" + item[len(core):])
            else:
                rebuilt.append(core + " NULLS FIRST" + item[len(core):])
        out.append(",".join(rebuilt))
        i = j
    return "".join(out)


def sub_outside_literals(pattern: str, repl, sql: str) -> str:
    """Apply ``re.sub`` only to the non-literal segments of ``sql`` —
    string literals are DATA and must never be rewritten (the r9
    self-review catch, factored here so the unparser and the engine's
    local-fallback qualifier rewrite share one literal-safe seam)."""
    parts = _SQL_STRING_RE.split(sql)
    lits = _SQL_STRING_RE.findall(sql)
    parts = [re.sub(pattern, repl, seg, flags=re.IGNORECASE)
             for seg in parts]
    out = parts[0]
    for lit, seg in zip(lits, parts[1:]):
        out += lit + seg
    return out


def unparse_for_remote(sql: str, nodes: list[dict], catalog: str, db: str,
                       remote_tables: set[str],
                       local_tables: set[str] | frozenset = frozenset(),
                       decimal_cols: frozenset = frozenset(),
                       reasons: list | None = None) -> str | None:
    """F6: translate the engine-surface SQL to the remote dialect, or
    None when the statement must stay local. ``nodes`` is the
    statement's parsed plan (:func:`parse_plan`); every decision reads
    it, and only the translation reads the text.

    Shippable means: every relation the statement reads (CTE names
    aside) resolves to a remote table (bare, ``db.t`` or
    ``catalog.db.t``), no BARE reference is shadowed by a local table of
    the same name (``local_tables`` — bare names resolve local-first,
    the standard nearest-scope rule, so attaching a remote can never
    silently re-point an existing local view; qualified ``db.t``
    references state intent and always ship), every node class is in
    :data:`SHIPPABLE_NODES`, every windowed function is in
    :data:`SUPPORTED_WINDOW_FUNCS` (W6), every function passes the
    allowlist and its guard, every ``/`` and ``%`` has a nonzero numeric
    literal divisor, and a division or avg sees no decimal value. The
    translation itself is qualifier stripping outside string literals
    plus explicit null ordering — the shared surface is ANSI SQL;
    divergent constructs are excluded by the gate.
    """
    def refuse(why: str):
        """Record WHY the gate kept the statement local — the analog of
        the reference analyzer's not-pushed diagnostics."""
        if reasons is not None:
            reasons.append(why)
        return None

    refs = plan_refs(nodes)
    if not refs:
        return refuse("no table references")
    prefixes = (f"{catalog}.{db}.".lower(), f"{db}.".lower())
    for r in sorted(refs):
        bare = next((r[len(p):] for p in prefixes if r.startswith(p)), r)
        if "." in bare or bare not in remote_tables:
            return refuse(f"table ref not in the remote catalog: {r}")
        if bare == r and r in local_tables:
            return refuse(f"bare name shadowed by a local table: {r}")
    for n in nodes:
        if n["cls"] not in SHIPPABLE_NODES or n.get("allowRecursion"):
            note = _NODE_NOTES.get(n["cls"])
            return refuse("construct not in the proven-shared allowlist: "
                          + n["cls"] + (f" ({note})" if note else ""))
    divides = avg = False
    for n in nodes:
        if n["cls"] == "WindowExpression":
            fn = n["kids"][0]
            name = (node_name(fn) if fn["cls"] == "UnresolvedFunction"
                    else fn["cls"])
            if name not in SUPPORTED_WINDOW_FUNCS:
                return refuse(f"unsupported window function: {name}")
        elif n["cls"] == "UnresolvedFunction":
            name = node_name(n)
            avg = avg or name == "avg"
            guard = GUARDED_REMOTE_FUNCS.get(name)
            if guard is not None:
                if not guard([n["kids"][i] for i in n["arguments"]]):
                    return refuse(f"guard refused: {name} (divergent "
                                  "argument class not provably absent)")
            elif name not in SUPPORTED_REMOTE_FUNCS:
                return refuse(f"function not in the proven-shared "
                              f"allowlist: {name}")
        elif n["cls"] == "Cast" and _type(n).startswith(
                ("string", "varchar", "char")):
            return refuse("cast to string: doubles render differently "
                          "(1.0E10 locally, 10000000000.0 remotely)")
        elif n["cls"] in ("Divide", "Remainder"):
            divides = True
            if not _number(n["kids"][1]):
                return refuse("division/modulo without a nonzero literal "
                              "divisor (x/0 raises locally, NULL remotely)")
    # Decimal arithmetic through / % or avg computes EXACT decimal
    # locally but binary DOUBLE remotely (probed r10b: decimal/int and
    # avg(DECIMAL) both return DOUBLE in the remote dialect) —
    # low-digit HALF_UP flips at scale. Statement-level involvement: any
    # decimal Cast or Literal, or any attribute named like a decimal
    # column of the referenced tables, anywhere (CTE bodies and aliased
    # renames included) — needs no local twin views.
    if (divides or avg) and any(
            (n["cls"] in ("Cast", "Literal")
             and _type(n).startswith("decimal"))
            or (n["cls"] == "UnresolvedAttribute"
                and node_name(n).rsplit(".", 1)[-1] in decimal_cols)
            for n in nodes):
        return refuse("division/modulo/avg with possible decimal "
                      "involvement (exact decimal locally, binary "
                      "double remotely)")
    # Qualifier stripping OUTSIDE string literals only: a literal like
    # 'remote.orders' is DATA and must cross the seam untouched (the
    # r9 self-review catch; pinned by
    # tests/test_remote_engine.py::test_unparser_preserves_literals).
    out = sql.strip().rstrip(";")
    for p in (f"{catalog}.{db}.", f"{db}."):
        out = sub_outside_literals(re.escape(p), "", out)
    # dialect defaults diverge on null ordering (Spark ASC = NULLS
    # FIRST, remote = NULLS LAST) — translate by making the local
    # defaults explicit, which both dialects accept
    return make_nulls_explicit(out)
