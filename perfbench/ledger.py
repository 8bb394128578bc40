#!/usr/bin/env python3
"""Count ledger: the box-independent shape of every benchmark entry.

    python3 perfbench/ledger.py            # check against ledger.json
    python3 perfbench/ledger.py --write    # record ledger.json

Runs each ``registry_sf01`` entry (sf0.1 tables) and each
``pipeline_depth10`` entry (10x documents corpus) once warm with tracing
on, on ``local[4]``, and records its Spark jobs, stages, tasks and
exchanges (shuffle-writing stages), the jobs started while the entry is
constructed, the py4j commands of the construction, and its stage cuts.
These counts do not depend on how busy the machine is, so a drift is a
change in what the engine does. The check exits 1 on any drift.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
LEDGER = os.path.join(HERE, "ledger.json")
LEDGER_CPUS = 4


def record(work: str) -> dict:
    import inputs
    import layers
    import tracing
    import workloads as W
    from run import start_session, stop

    base = inputs.sf_dir()
    corpus = inputs.depth_corpus()
    os.chdir(work)
    log_dir = os.path.join(work, "eventlog")
    spark, _ = start_session(work, "perfbench-ledger", log_dir)
    gateway = spark.sparkContext._gateway
    tracer = tracing.Tracer()
    runs = {}
    try:
        tracer.install(spark)
        ctx = W.Context(spark, tracer)
        for workload, cls, data_dir in (
                ("registry_sf01", W.Registry, base),
                ("pipeline_depth10", W.Depth, corpus)):
            wl = cls(ctx, 0, data_dir, warm_dir=base)
            for name in wl.entries:
                wl.queries[name].spark_fn(spark, data_dir).toPandas()
                runs[(workload, name)] = wl.run_entry(name)
    finally:
        stop(spark, gateway)
    events = tracing.read_event_log(log_dir)
    out: dict[str, dict] = {}
    for (workload, name), op in runs.items():
        s = layers.statement_spark(events, op.tag)
        cuts = tracer.layers.get(op.tag, {}).get("operators.stagecut",
                                                 (0.0, 0))[1]
        out.setdefault(workload, {})[name] = {
            "jobs": int(s["jobs"]), "stages": int(s["stages"]),
            "tasks": int(s["tasks"]), "exchanges": int(s["exchanges"]),
            "construct_jobs": int(events.get(op.tag + "c", {})
                                  .get("jobs", 0)),
            "py4j_calls": op.extra["py4j"], "stage_cuts": cuts}
    return out


def drift(old: dict, new: dict) -> list[str]:
    lines = []
    for workload in sorted(set(old) | set(new)):
        o, n = old.get(workload, {}), new.get(workload, {})
        for name in sorted(set(o) | set(n)):
            if o.get(name) != n.get(name):
                lines.append(f"{workload}/{name}: {o.get(name)} -> "
                             f"{n.get(name)}")
    return lines


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true")
    args = ap.parse_args()
    sys.path[:0] = [HERE]
    from run import ROOT, prepare_env

    work = os.path.join(HERE, ".work", f"ledger-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work, LEDGER_CPUS)
    try:
        new = record(work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    if args.write:
        with open(LEDGER, "w") as fh:
            json.dump(new, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {LEDGER}")
        return 0
    with open(LEDGER) as fh:
        old = json.load(fh)
    lines = drift(old, new)
    for line in lines:
        print("drift:", line)
    print("ledger:", "DRIFT" if lines else "ok",
          f"({sum(len(v) for v in new.values())} entries)")
    return 1 if lines else 0


if __name__ == "__main__":
    sys.exit(main())
