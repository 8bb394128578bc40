"""r13 (VERDICT task 2): golden-transcript suite for every SQL string
the federation seam emits, per remote dialect.

The r12 verdict's "what's missing" #1: the ClickHouse retarget swap
points (epoch_us↔toUnixTimestamp64Micro, quantile_disc↔quantilesExact,
ON CONFLICT↔engine-level dedup) were prose in docstrings. They are now
a :mod:`~clickhouse_datafusion_spark.sources.dialect_profile` the LIVE
code renders its statements from (tail source, progress op, ingest
transaction, exactly-once commit log), and this suite pins BOTH
profiles' full statement sets as golden transcripts — a retarget
touches one profile file and its golden, not the engine; any drift in
what the seam emits fails here first. Reference analog:
src/dialect.rs:16-77.

Regenerate after an INTENTIONAL change with
``GOLDEN_REGEN=1 python -m pytest tests/test_dialect_transcripts.py``
and review the diff like code.

The tail-source section is captured END-TO-END: a reader is driven
through initialOffset → latestOffset → partitions with the wire
monkeypatched to record SQL and return canned rows, so the transcript
is what the source actually sends, not a parallel rendering.
"""

from __future__ import annotations

import os
from pathlib import Path

import pytest

from clickhouse_datafusion_spark.sources.dialect_profile import (
    PROFILES,
    get_profile,
)

GOLDEN_DIR = Path(__file__).parent / "golden"

# one fixed scenario, shared by both dialects so the transcripts diff
# cleanly against each other
TABLE = "events"
PROG = f"{TABLE}__tail_progress"
COMMITS = f"{TABLE}__commits"
WM = 1723804800000000          # 2024-08-16T12:00:00Z in epoch micros
SINK, BID = "pipe", 7


def _tail_section(dialect: str) -> list[str]:
    """Drive a real ClickHouseTailStreamReader (timestamp key, capped,
    4 partitions) with the wire recorded — every statement the source
    emits for one cold start + one planned micro-batch."""
    from clickhouse_datafusion_spark.sources import clickhouse_tail as ct

    recorded: list[str] = []
    orig_scalar, orig_prog = ct._scalar, ct._progress_op

    def fake_scalar(host, port, sql, token=None):
        recorded.append(sql)
        if "min(" in sql:
            return WM - 1_000_000
        if "max(k)" in sql or "max(" in sql:
            return WM
        if "quantile" in sql.lower():
            return [WM - 750_000, WM - 500_000, WM - 250_000, WM]
        return None

    def fake_progress(host, port, table, tail_id, action,
                      watermark=None, token=None, incarnation=None,
                      full=False):
        # the incarnation value is a per-reader uuid — record only its
        # presence so the transcript stays deterministic
        recorded.append(
            f"<progress op: action={action} table={table} "
            f"tail_id={tail_id} watermark={watermark} "
            f"incarnation={'<uuid>' if incarnation else None}>")
        return None

    ct._scalar, ct._progress_op = fake_scalar, fake_progress
    try:
        rd = ct.ClickHouseTailStreamReader({
            "host": "127.0.0.1", "port": "0", "table": TABLE,
            "key": "ts", "key_type": "timestamp", "columns": "ts, value",
            "num_partitions": "4", "max_rows_per_batch": "1000",
            "dialect": dialect})
        start = rd.initialOffset()
        end = rd.latestOffset()
        parts = rd.partitions(start, end)
        recorded.extend(p.sql for p in parts)
    finally:
        ct._scalar, ct._progress_op = orig_scalar, orig_prog
    return recorded


def render_transcript(dialect: str) -> str:
    p = get_profile(dialect)
    lines = [
        f"-- seam dialect transcript: {dialect}",
        "",
        "-- 1. tail source, end-to-end (timestamp key, capped, 4 parts):",
        "--    cold start (initialOffset -> latestOffset) + one planned",
        "--    micro-batch (partitions); <progress op> markers are the",
        "--    parameterized progress plane, expanded in section 2.",
    ]
    lines += _tail_section(dialect)
    lines += [
        "",
        "-- 2. tail progress plane (server-side; ? = bound parameter):",
        p.progress_create(PROG),
        p.progress_put(PROG),
        p.progress_get(PROG),
        p.progress_reset(PROG),
        "",
        "-- 3. ingest transaction wrapper (per-connection atomic append):",
        p.txn_begin(),
        f"INSERT INTO {TABLE}  SELECT * FROM <registered arrow batch>",
        p.txn_commit(),
        p.txn_rollback(),
        "",
        "-- 4. exactly-once commit log:",
        p.commits_create(COMMITS),
        p.commits_seen(COMMITS, SINK, BID),
        p.commits_marker(COMMITS, SINK, BID),
        p.commits_ids(COMMITS, SINK),
        "",
    ]
    return "\n".join(lines)


def _check_or_regen(name: str, text: str) -> None:
    path = GOLDEN_DIR / name
    if os.environ.get("GOLDEN_REGEN"):
        GOLDEN_DIR.mkdir(exist_ok=True)
        path.write_text(text)
        pytest.skip(f"regenerated {path}")
    assert path.exists(), (
        f"golden file {path} missing — run GOLDEN_REGEN=1 pytest "
        f"tests/test_dialect_transcripts.py and review the diff")
    assert text == path.read_text(), (
        f"seam-emitted SQL drifted from {path} — if intentional, "
        f"regenerate with GOLDEN_REGEN=1 and review the diff like code")


@pytest.mark.parametrize("dialect", sorted(PROFILES))
def test_dialect_transcript(dialect):
    _check_or_regen(f"dialect_{dialect}.sql", render_transcript(dialect))


def test_profiles_cover_the_same_surface():
    """Both profiles answer the identical builder surface — the
    retarget cannot silently miss a swap point."""
    duck, ch = get_profile("duckdb"), get_profile("clickhouse")
    assert duck.ts_key_to_epoch_us("ts") != ch.ts_key_to_epoch_us("ts")
    assert (duck.epoch_us_to_ts_literal(WM)
            != ch.epoch_us_to_ts_literal(WM))
    assert (duck.quantile_bounds("k", [0.5, 1.0])
            != ch.quantile_bounds("k", [0.5, 1.0]))
    assert duck.progress_put(PROG) != ch.progress_put(PROG)
    assert duck.commits_create(COMMITS) != ch.commits_create(COMMITS)
    # the transaction wrapper is the one shared pair (ClickHouse's
    # experimental transactions use the same verbs)
    assert duck.txn_begin() == ch.txn_begin() == "BEGIN TRANSACTION"


def test_duckdb_profile_statements_actually_run():
    """The DuckDB profile is LIVE — prove its full statement set
    executes against a real remote: progress roundtrip, transactional
    insert, commit-log roundtrip, quantile planning, epoch plane."""
    import pyarrow as pa

    from clickhouse_datafusion_spark.sources.remote_engine import (
        RemoteEngine)

    p = get_profile("duckdb")
    r = RemoteEngine(pool_size=2)
    r.create_table("events", "ts TIMESTAMP, value BIGINT")
    cur = r._pool.get()
    try:
        # progress plane (r14: the row carries the writer incarnation;
        # the greatest watermark's writer wins on both dialects)
        cur.execute(p.progress_create(PROG))
        cur.execute(p.progress_put(PROG), ["t1", 5, "incA"])
        cur.execute(p.progress_put(PROG), ["t1", 3, "incB"])  # greatest wins
        assert cur.execute(
            p.progress_get(PROG), ["t1"]).fetchone() == (5, "incA")
        cur.execute(p.progress_reset(PROG), ["t1"])
        assert cur.execute(p.progress_get(PROG), ["t1"]).fetchone() is None
        # commit log
        cur.execute(p.commits_create(COMMITS))
        assert cur.execute(
            p.commits_seen(COMMITS, SINK, BID)).fetchone()[0] == 0
        cur.execute(p.commits_marker(COMMITS, SINK, BID))
        assert cur.execute(
            p.commits_seen(COMMITS, SINK, BID)).fetchone()[0] == 1
        assert cur.execute(
            p.commits_ids(COMMITS, SINK)).fetchall() == [(BID,)]
        # transaction wrapper
        cur.execute(p.txn_begin())
        cur.execute("INSERT INTO events VALUES (make_timestamp(1), 1)")
        cur.execute(p.txn_rollback())
        assert cur.execute(
            "SELECT count(*) FROM events").fetchone()[0] == 0
        # epoch plane + quantile planning on real rows
        cur.register("_b", pa.table({"us": [WM, WM + 1, WM + 2]}))
        cur.execute("INSERT INTO events SELECT "
                    f"{p.epoch_us_to_ts_literal(0)} + INTERVAL (us) "
                    "MICROSECOND, us FROM _b")
        got = cur.execute(
            f"SELECT {p.ts_key_to_epoch_us('ts')} FROM events "
            "ORDER BY 1 LIMIT 1").fetchone()[0]
        assert int(got) == WM
        bounds = cur.execute(
            f"SELECT {p.quantile_bounds(p.ts_key_to_epoch_us('ts'), [0.5, 1.0])} "
            "FROM events").fetchone()[0]
        assert list(map(int, bounds)) == [WM + 1, WM + 2]
    finally:
        r._pool.put(cur)

# -- conformance replay (r14, VERDICT task 5) --------------------------------

def test_duckdb_profile_conformance_replay():
    """The 'done' bar the r13 verdict set: the DuckDB profile passes
    its own conformance replay — every statement the seam can emit,
    executed in live order against a fresh target, with value
    assertions (greatest-wins upsert, argMax-consistent incarnation,
    quantile bounds, epoch roundtrip, quoted keyword identifiers,
    commit-log fencing, txn rollback visibility)."""
    from clickhouse_datafusion_spark.sources.dialect_profile import (
        conformance_check_duckdb)

    report = conformance_check_duckdb()
    assert len(report) >= 25
    assert all(status == "ok" for _, status in report), report


def test_clickhouse_profile_scenario_is_runnable_shaped():
    """Pending a reachable server, pin what CAN be checked about the
    ClickHouse replay: every step renders non-empty SQL, every bound
    parameter appears as its native ``{name:Type}`` placeholder (r13
    ADVICE — ``?`` is not ClickHouse's parameter syntax), and no step
    carries a ``?`` at all."""
    from clickhouse_datafusion_spark.sources.dialect_profile import (
        conformance_scenario)

    steps = conformance_scenario(get_profile("clickhouse"))
    assert len(steps) >= 25
    for label, sql, params, _check in steps:
        assert sql.strip(), label
        assert "?" not in sql, (label, sql)
        for name, _v in params:
            assert f"{{{name}:" in sql, (label, name, sql)


def test_remote_engine_profile_selectable_at_construction():
    from clickhouse_datafusion_spark.sources.remote_engine import (
        RemoteEngine)

    r = RemoteEngine(pool_size=1)
    assert r.profile.name == "duckdb"
    r2 = RemoteEngine(pool_size=1, dialect="clickhouse")
    assert r2.profile.name == "clickhouse"
    with pytest.raises(ValueError, match="unknown remote dialect"):
        RemoteEngine(pool_size=1, dialect="oracle")


# -- unparse-gate transcript --------------------------------------------------

# a fixed corpus spanning the gate's translation surface: null-ordering
# annotation, string/identifier handling, aggregates, windows decided
# local, joins, set ops, correlated subqueries, ch-function rewrites
_GATE_CORPUS = [
    "SELECT o_orderkey, o_totalprice FROM remote.orders "
    "WHERE o_totalprice > 1000 ORDER BY o_totalprice DESC LIMIT 5",
    "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS s "
    "FROM remote.orders GROUP BY o_orderstatus HAVING count(*) > 2 "
    "ORDER BY n",
    "SELECT c.c_name, o.o_orderkey FROM remote.orders o "
    "JOIN remote.customer c ON o.o_custkey = c.c_custkey "
    "ORDER BY o.o_orderkey LIMIT 10",
    "SELECT DISTINCT o_orderpriority FROM remote.orders "
    "ORDER BY o_orderpriority",
    "SELECT o_orderkey FROM remote.orders WHERE o_orderkey IN "
    "(SELECT o_orderkey FROM remote.orders WHERE o_totalprice > 5000)",
    "SELECT n_name, (SELECT count(*) FROM remote.customer c "
    "WHERE c.c_nationkey = n.n_nationkey) AS nc FROM remote.nation n "
    "ORDER BY n_name",
    "SELECT o_orderkey FROM remote.orders UNION ALL "
    "SELECT c_custkey FROM remote.customer",
    "SELECT upper(c_name) AS cn, length(c_address) AS la "
    "FROM remote.customer ORDER BY cn NULLS LAST LIMIT 3",
    "SELECT o_orderdate, o_totalprice, 'it''s' AS q FROM remote.orders "
    "WHERE o_orderdate >= DATE '1995-01-01' LIMIT 2",
    "SELECT CASE WHEN o_totalprice > 1000 THEN 'big' ELSE 'small' END "
    "AS sz, count(*) AS n FROM remote.orders GROUP BY sz ORDER BY sz",
]


def test_unparse_gate_transcript(spark):
    """Pin the exact SQL the gate ships to the remote for a fixed
    corpus — the unparse half of the seam's dialect surface. A gate
    edit that changes any shipped statement (or flips a ship/local
    decision) fails here before the 800-query sweep has to find it."""
    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine
    from clickhouse_datafusion_spark.sources.remote_engine import (
        RemoteEngine)
    from tests.conftest import SF_SMOKE

    eng = ClickHouseSparkEngine(spark)
    remote = RemoteEngine(pool_size=4)
    remote.register_parquet_dir(
        SF_SMOKE, tables=["orders", "customer", "lineitem", "nation"])
    eng.attach_remote(remote, db="remote", local_twin_dir=SF_SMOKE)
    lines = ["-- unparse-gate transcript (duckdb remote dialect)", ""]
    for q in _GATE_CORPUS:
        d = eng.remote_decision(q)
        lines.append(f"-- in : {q}")
        if d["ships"]:
            lines.append("-- out:")
            lines.append(d["remote_sql"])
        else:
            lines.append(f"-- stays local: {d['reason']}")
        lines.append("")
    _check_or_regen("unparse_duckdb.sql", "\n".join(lines))


@pytest.mark.parametrize("dialect", sorted(PROFILES))
def test_conformance_scenario_golden(dialect):
    """r14: pin the CONFORMANCE REPLAY itself as a golden transcript —
    the exact ordered statement list (with parameter bindings) that
    conformance_check replays against a target. The day a real
    ClickHouse server is reachable, this file IS the validation
    script; until then any profile edit that changes a replay
    statement fails here and gets reviewed like code."""
    from clickhouse_datafusion_spark.sources.dialect_profile import (
        conformance_scenario)

    lines = [f"-- conformance replay transcript: {dialect}",
             "-- (label / params / statement; see conformance_check)",
             ""]
    for label, sql, params, check in conformance_scenario(
            get_profile(dialect)):
        binds = ", ".join(f"{n}={v!r}" for n, v in params) or "-"
        lines.append(f"-- {label}  [{binds}]"
                     + ("  (checked)" if check else ""))
        lines.append(sql)
        lines.append("")
    _check_or_regen(f"conformance_{dialect}.sql", "\n".join(lines))
