"""The federation gate's function allowlist, mechanically audited:
every unguarded allowlisted scalar function (and each guarded one in
its proven-safe shape) runs a typed-input battery through BOTH engines
— a value divergence means the gate would ship a statement that
silently answers differently. The full ~3k-statement battery lives in
tools/audit_remote_allowlist.py (0 divergent, r10d); this compact run
keeps the allowlist honest against future edits."""

from __future__ import annotations


def test_allowlist_battery_compact():
    from tools.audit_remote_allowlist import run

    checked, div = run(compact=True)
    assert checked > 300, checked
    assert not div, div


def test_window_func_battery():
    """Every SUPPORTED_WINDOW_FUNCS entry over identical rows in both
    engines: frames (default RANGE-to-current with peers, ROWS,
    sliding, empty OVER), ties, NULL order keys — result multisets
    must be equal or the W6 set is wrong."""
    from tools.audit_remote_allowlist import run_window_battery

    checked, div = run_window_battery()
    assert checked >= 18, checked
    assert not div, div


def test_every_allowlisted_function_has_a_battery_row():
    """The allowlist stays honest only if the audit exercises it: every
    scalar name the gate lets ship has a BATTERY row. ``between`` is the
    one exemption — Spark's parser emits it for ``x BETWEEN a AND b``,
    which is the comparisons the differential fuzz already covers."""
    from clickhouse_datafusion_spark.sources.remote_engine import (
        SUPPORTED_REMOTE_FUNCS,
        SUPPORTED_WINDOW_FUNCS,
    )
    from tools.audit_remote_allowlist import BATTERY

    audited = {name for name, _pools, _guarded in BATTERY}
    scalar = SUPPORTED_REMOTE_FUNCS - SUPPORTED_WINDOW_FUNCS
    assert scalar - audited == {"between"}
