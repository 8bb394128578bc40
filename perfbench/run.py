#!/usr/bin/env python3
"""Benchmark of the engine's federation path and its registry operators.

    python3 perfbench/run.py --workload registry_sf01 --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root. Workloads (see perfbench/README.md):
``registry_sf01``, ``frontdoor_rw``, ``pipeline_depth10``. Inputs are
the sf0.1 testdata in ``$SPARK_GRAFT_SF_DIR`` (see ``inputs.py``); each
run works in its own directory under ``perfbench/.work`` and removes it
at the end. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). The line before it carries run details.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("registry_sf01", "frontdoor_rw", "pipeline_depth10")


def tail(values: list[float]) -> tuple[float, float]:
    """The highest order statistic with at least 10 samples beyond it,
    and its percentile (the maximum when there are 10 or fewer)."""
    s = sorted(values)
    if len(s) <= 10:
        return s[-1], 1.0
    k = len(s) - 11
    return s[k], (k + 1) / len(s)


def reset_hwm(pid: int) -> None:
    """Restart the process's peak-RSS counter (VmHWM) from its current
    RSS, so the peak covers the timed window only."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def prepare_env(work: str, cpus: int | None = None) -> None:
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(
        cpus or len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = "4g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path[:0] = [ROOT, HERE]


def start_session(work: str, name: str, event_log_dir: str | None):
    """The engine's session (``session.get_spark``) with the benchmark's
    working directories; returns it and its start time in seconds."""
    import tracing

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Dderby.system.home={os.path.join(work, 'derby')}"}
    if event_log_dir:
        conf.update(tracing.event_log_conf(event_log_dir))
    t0 = time.perf_counter()
    from clickhouse_datafusion_spark.session import get_spark

    spark = get_spark(app_name=name, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and its descendants (the JVM,
    its Python workers), including children they have already reaped."""
    parent, cpu = {}, {}
    tick = os.sysconf("SC_CLK_TCK")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(f[1])
        cpu[int(d)] = sum(int(x) for x in f[11:15]) / tick
    total = 0.0
    for pid, c in cpu.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += c
    return total


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in ("clickhouse_datafusion_spark/__init__.py",
                           "tests/oracle_utils.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine (missing "
              f"{', '.join(missing)}); run from the repository root",
              file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)
    try:
        return run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    import inputs
    import tracing as pbtrace
    import workloads as W

    base = data_dir = inputs.sf_dir()
    if args.workload == "pipeline_depth10":
        data_dir = inputs.depth_corpus()
    os.chdir(work)   # spark-warehouse, spools and the event log land here

    log_dir = os.path.join(work, "eventlog")
    spark, jvm_s = start_session(work, f"perfbench-{args.workload}",
                                 log_dir if args.trace else None)
    gateway = spark.sparkContext._gateway
    jvm_pid = gateway.proc.pid
    wl = None

    try:
        tracer = None
        if args.trace:
            tracer = pbtrace.Tracer()
            tracer.install(spark)
        ctx = W.Context(spark, tracer)
        if args.workload == "registry_sf01":
            wl = W.Registry(ctx, args.seed, data_dir)
        elif args.workload == "pipeline_depth10":
            wl = W.Depth(ctx, args.seed, data_dir, warm_dir=base)
        else:
            wl = W.FrontDoor(ctx, args.seed, data_dir)

        # set-up is what a user pays once: the JVM and the first (cold)
        # engine, catalog and remote attach; the warm-up is reported apart
        ctx.phase(pbtrace.TAG_PREFIX + "setup")
        s0 = time.perf_counter()
        wl.setup()
        attach_s = time.perf_counter() - s0
        setup_s = jvm_s + attach_s
        w0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - w0

        ctx.phase(None)
        reset_hwm(os.getpid())
        reset_hwm(jvm_pid)
        c0 = tree_cpu_s(os.getpid())
        r0 = time.perf_counter()
        ops = wl.run(args.seconds)
        wall = time.perf_counter() - r0
        cpu_s = tree_cpu_s(os.getpid()) - c0
        jvm_rss = vm_hwm_mb(jvm_pid)
        py_rss = vm_hwm_mb(os.getpid())

        table_failures = wl.check(ops)
        failed = sum(1 for op in ops if not op.ok) + table_failures
        attempted = len(ops)

        reads = [op for op in ops if op.kind == "read" and op.ok]
        e2e = {
            "setup_s": (setup_s, "s"),
            "read_geomean_ms": (class_geomean(reads), "ms"),
            "stmts_per_s": (attempted / wall, "1/s"),
            "py_rss_peak_mb": (py_rss, "MB"),
            "cpu_ms_per_stmt": (cpu_s * 1e3 / attempted, "ms"),
        }
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "wall_s": wall, "jvm_s": jvm_s, "attach_s": attach_s,
            "warm_s": warm_s, "failed_frac": failed / attempted,
            "box_calib_ms": ctx.calib, "jvm_rss_peak_mb": jvm_rss,
            **latency_summary(ops, wall),
            "errors": sorted({op.extra["error"] for op in ops
                              if "error" in op.extra})[:5],
            "by_class": _by_class(ops),
            "interval_rates": interval_rates(ops, r0, wall),
        }
    finally:
        try:
            if isinstance(wl, W.FrontDoor) and wl.eng is not None:
                wl.teardown()
        finally:
            stop(spark, gateway)
    if args.trace:
        import layers

        metrics = layers.per_layer(ops, tracer, pbtrace.read_event_log(log_dir),
                                   ctx)
        metrics["spark.jvm_rss_peak_mb"] = (jvm_rss, "MB")
        for k in ("read_p50_ms", "read_tail_ms", "write_p50_ms",
                  "write_tail_ms", "ingest_rows_per_s"):
            metrics[k.replace("_", ".", 1)] = (
                detail[k], "1/s" if k.endswith("_s") else "ms")
        for k, v in e2e.items():
            detail[f"traced.{k}"] = v[0]
    else:
        metrics = e2e
    print(json.dumps(detail), flush=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}), flush=True)
    return 0


def class_geomean(reads) -> float:
    """Geometric mean over read classes (registry entries, front-door
    templates) of each class's median latency: every class weighs the
    same however many times it ran."""
    by: dict[str, list[float]] = {}
    for op in reads:
        by.setdefault(op.cls, []).append(op.ms)
    if not by:
        return 0.0
    logs = [math.log(statistics.median(v)) for v in by.values()]
    return math.exp(sum(logs) / len(logs))


def latency_summary(ops, wall: float) -> dict:
    out = {}
    for kind in ("read", "write"):
        ms = [op.ms for op in ops if op.kind == kind and op.ok]
        p50, t, pct = (statistics.median(ms), *tail(ms)) if ms else (0, 0, 0)
        out.update({f"{kind}_p50_ms": p50, f"{kind}_tail_ms": t,
                    f"{kind}_tail_percentile": pct, f"{kind}s": len(ms)})
    out["ingest_rows_per_s"] = sum(
        op.rows for op in ops if op.kind == "write" and op.ok) / wall
    return out


def interval_rates(ops, t0: float, wall: float, n: int = 5) -> list[float]:
    """Completions per second in each of ``n`` equal slices of the window."""
    width = wall / n
    counts = [0] * n
    for op in ops:
        end = op.t0 + op.ms / 1e3 - t0
        counts[min(int(end / width), n - 1)] += 1
    return [c / width for c in counts]


def _by_class(ops) -> dict:
    out: dict[str, list] = {}
    for op in ops:
        out.setdefault(op.cls, []).append(op.ms)
    return {k: {"n": len(v), "p50_ms": statistics.median(v)}
            for k, v in sorted(out.items())}


def stop(spark, gateway) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit:
    the JVM exits when its stdin closes."""
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())
