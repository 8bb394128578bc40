"""Per-layer metrics of a traced run.

Times are per statement (summed over the timed window, divided by the
statements they are averaged over); a layer a workload never reaches
reports 0. Spark metrics come from the event log, attributed to
statements by job tag: ``<tag>c`` construct, ``<tag>p`` planning,
``<tag>r`` the collect.
"""

from __future__ import annotations

import statistics

SPARK_KEYS = ("jobs", "stages", "tasks", "exchanges", "sched_delay_ms",
              "run_ms", "cpu_ms", "gc_ms", "shuffle_read_mb",
              "shuffle_write_mb", "spill_mb")
UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
         "exchanges": "count", "shuffle_read_mb": "MB",
         "shuffle_write_mb": "MB", "spill_mb": "MB"}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def statement_spark(events: dict, tag: str) -> dict:
    """Event-log totals of one statement over its three phases."""
    out = dict.fromkeys(SPARK_KEYS, 0.0)
    for phase in "cpr":
        rec = events.get(tag + phase)
        if rec:
            for k in SPARK_KEYS:
                out[k] += rec[k]
    return out


def per_layer(ops, tracer, events: dict,
              ctx) -> dict[str, tuple[float, str]]:
    ops = [op for op in ops if op.tag]
    layer = tracer.layers
    reads = [op for op in ops if op.kind == "read"]
    writes = [op for op in ops if op.kind == "write"]
    entries = [op for op in reads if "py4j" in op.extra]

    def ms(op, name):
        return layer.get(op.tag, {}).get(name, (0.0, 0))[0]

    def calls(op, name):
        return layer.get(op.tag, {}).get(name, (0.0, 0))[1]

    def per_stmt(name, among=ops):
        return _mean(ms(op, name) for op in among)

    m: dict[str, tuple[float, str]] = {}
    # queries: registry entry construction
    m["queries.construct_ms"] = (_mean(ms(op, "queries") + ms(op, "operators")
                                       + ms(op, "operators.stagecut")
                                       for op in entries), "ms")
    m["queries.py4j_calls"] = (_mean(op.extra["py4j"] for op in entries),
                               "count")
    m["queries.construct_jobs"] = (_mean(
        events.get(op.tag + "c", {}).get("jobs", 0) for op in entries),
        "count")
    # operators
    m["operators.self_ms"] = (per_stmt("operators"), "ms")
    m["operators.stagecut.cuts"] = (_mean(calls(op, "operators.stagecut")
                                          for op in ops), "count")
    m["operators.stagecut.ms"] = (per_stmt("operators.stagecut"), "ms")
    # plans
    m["plans.plan_ms"] = (per_stmt("plans"), "ms")
    # spark
    stmt_spark = {op.tag: statement_spark(events, op.tag) for op in ops}
    for k in SPARK_KEYS:
        m[f"spark.{k}"] = (_mean(s[k] for s in stmt_spark.values()),
                           UNITS.get(k, "ms"))
    # jobs in the timed window that no statement tag reached
    m["spark.untagged_jobs"] = (events.get("", {}).get("jobs", 0), "count")
    # transfer: the collect's return minus its last job's end
    gaps = [op.end_epoch_ms - events[op.tag + "r"]["last_job_end"]
            for op in ops if events.get(op.tag + "r", {}).get("last_job_end")]
    m["transfer.ms"] = (_mean(gaps), "ms")
    m["transfer.collect_ms"] = (per_stmt("transfer"), "ms")
    m["transfer.rows"] = (_mean(op.rows for op in reads), "count")
    m["transfer.mb"] = (_mean(
        op.out.memory_usage(index=False).sum() / 2**20
        for op in reads if op.out is not None), "MB")
    # front door
    m["functions.rewrite.ms"] = (per_stmt("functions.rewrite"), "ms")
    m["engine.self_ms"] = (per_stmt("engine"), "ms")
    m["sources.remote_engine.gate_ms"] = (per_stmt("remote.gate"), "ms")
    shipped = [op for op in reads
               if calls(op, "remote.exec") or calls(op, "remote.stream")]
    m["sources.remote_engine.ship_ratio"] = (
        len(shipped) / len(reads) if reads and not entries else 0.0, "ratio")
    m["sources.remote_engine.exec_ms"] = (per_stmt("remote.exec"), "ms")
    m["sources.remote_engine.stream_ms"] = (per_stmt("remote.stream"), "ms")
    m["sources.remote_engine.stream_rows"] = (
        per_stmt("remote.stream_rows"), "count")
    # writes
    spool = [op for op in writes if op.cls == "remote_spool"]
    once = [op for op in writes if op.cls == "exactly_once"]
    local = [op for op in writes if op.cls == "local_sink"]
    m["engine.append_ms.spool"] = (per_stmt("engine.append", spool), "ms")
    m["engine.append_ms.executor_direct"] = (
        per_stmt("engine.append", once), "ms")
    m["sources.remote_engine.insert_ms"] = (
        per_stmt("remote.insert", writes), "ms")
    m["sources.remote_engine.insert_batches"] = (
        per_stmt("remote.insert_batches", writes), "count")
    m["sources.remote_engine.replay_skip_ratio"] = (
        _mean(1.0 if op.extra.get("replay") and op.rows == 0 else 0.0
              for op in once), "ratio")
    m["sink.insert_ms"] = (per_stmt("sink", local), "ms")
    # set-up and box state
    m["catalog.setup_ms"] = (layer.get(None, {}).get("catalog", (0.0, 0))[0],
                             "ms")
    m["box.calib_ms"] = (statistics.median(ctx.calib), "ms")
    return m
