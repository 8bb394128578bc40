"""Layer tracing from outside the engine.

``Tracer.install`` replaces public functions of the engine's modules with
timing wrappers and counts py4j commands; spans live in memory and are
aggregated at the end. Spark-side work is attributed to statements
through job tags (``SparkContext.addJobTag`` is thread-local) and read
back from Spark's own event log after the session stops.
"""

from __future__ import annotations

import collections
import importlib
import inspect
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

PKG = "clickhouse_datafusion_spark"
TAG_PREFIX = "pb"

# (module, attribute path, layer) — a dotted attribute is a class method
WRAPPED = [
    ("operators.stagecut", "stage_cut", "operators.stagecut"),
    ("engine", "ClickHouseSparkEngine.rewrite", "functions.rewrite"),
    ("engine", "ClickHouseSparkEngine.sql", "engine"),
    ("engine", "ClickHouseSparkEngine.append_remote", "engine.append"),
    ("sources.remote_engine", "unparse_for_remote", "remote.gate"),
    ("engine", "ClickHouseSparkEngine.remote_decision", "remote.gate"),
    ("sources.remote_engine", "RemoteEngine.execute", "remote.exec"),
    ("sources.remote_engine", "RemoteEngine.execute_insert", "remote.insert"),
    ("sink", "insert_into", "sink"),
    ("sink", "run_insert_sql", "sink"),
    ("catalog", "ClickHouseCatalog.register_parquet_dir", "catalog"),
]
STREAM = ("sources.remote_engine", "RemoteEngine.execute_stream")
OPERATOR_MODULES = ("asof", "dedup", "funnel", "graph", "layout",
                    "multimodal", "packing", "profile", "sampling",
                    "similarity", "sketch", "skew", "text")


class Tracer:
    def __init__(self):
        self._local = threading.local()
        self._lock = threading.Lock()
        # stmt id -> layer -> [self_ms, calls]; counters use the first slot
        self.layers: dict = collections.defaultdict(
            lambda: collections.defaultdict(lambda: [0.0, 0]))
        # batches pulled by threads that carry no statement (the ingest
        # server's connection threads)
        self.server_batches = 0

    # -- per-thread state -------------------------------------------------
    def _stack(self):
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _stmt(self):
        return getattr(self._local, "stmt", None)

    def thread_py4j(self) -> int:
        return getattr(self._local, "py4j", 0)

    @contextmanager
    def statement(self, stmt):
        """Attribute the calling thread's spans to ``stmt``."""
        prev = self._stmt()
        self._local.stmt = stmt
        try:
            yield
        finally:
            self._local.stmt = prev

    def _record(self, layer, self_s):
        with self._lock:
            slot = self.layers[self._stmt()][layer]
            slot[0] += self_s * 1e3
            slot[1] += 1

    def count(self, name, n=1):
        with self._lock:
            self.layers[self._stmt()][name][0] += n

    @contextmanager
    def span(self, layer):
        st = self._stack()
        st.append(0.0)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            d = time.perf_counter() - t0
            child = st.pop()
            if st:
                st[-1] += d
            self._record(layer, d - child)

    # -- wrappers ---------------------------------------------------------
    def _wrap(self, fn, layer):
        tracer = self

        def wrapper(*a, **k):
            with tracer.span(layer):
                return fn(*a, **k)
        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", "wrapped")
        return wrapper

    def _wrap_stream(self, fn):
        tracer = self

        def wrapper(*a, **k):
            gen = fn(*a, **k)
            while True:
                with tracer.span("remote.stream"):
                    try:
                        batch = next(gen)
                    except StopIteration:
                        return
                tracer.count("remote.stream_rows", batch.num_rows)
                yield batch
        wrapper.__wrapped__ = fn
        return wrapper

    def _wrap_batches(self, fn, layer=None):
        """Counts the batches ``fn(self, name, batches, ...)`` pulls from
        its iterator, in the thread that pulls them (the caller's, not
        ``insert_arrow_batches``' pool threads); times it if ``layer``."""
        tracer = self

        def counted(batches):
            for b in batches:
                if tracer._stmt() is None:
                    with tracer._lock:
                        tracer.server_batches += 1
                else:
                    tracer.count("remote.insert_batches")
                yield b

        def wrapper(engine, name, batches, *a, **k):
            if layer is None:
                return fn(engine, name, counted(batches), *a, **k)
            with tracer.span(layer):
                return fn(engine, name, counted(batches), *a, **k)
        wrapper.__wrapped__ = fn
        return wrapper

    def _wrap_ingest_client(self, fn, layer):
        """On ``executor_direct`` Spark's Python workers send the batches
        to the ingest server, whose threads carry no statement: credit
        the server batches that land during the call to the caller's
        statement (the workloads run one writer at a time)."""
        tracer = self

        def wrapper(*a, **k):
            before = tracer.server_batches
            try:
                with tracer.span(layer):
                    return fn(*a, **k)
            finally:
                tracer.count("remote.insert_batches",
                             tracer.server_batches - before)
        wrapper.__wrapped__ = fn
        return wrapper

    def _count_py4j(self, fn):
        tracer = self

        def send_command(*a, **k):
            tracer._local.py4j = getattr(tracer._local, "py4j", 0) + 1
            return fn(*a, **k)
        send_command.__wrapped__ = fn
        return send_command

    def install(self, spark) -> None:
        for mod_name, path, layer in WRAPPED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            owner, attr = _resolve(mod, path)
            orig = inspect.getattr_static(owner, attr)
            setattr(owner, attr, self._wrap(orig, layer))
        mod = importlib.import_module(f"{PKG}.{STREAM[0]}")
        owner, attr = _resolve(mod, STREAM[1])
        setattr(owner, attr, self._wrap_stream(getattr(owner, attr)))
        rem = mod.RemoteEngine
        rem.insert_arrow_batches = self._wrap_batches(
            rem.insert_arrow_batches, "remote.insert")
        rem.ingest_transaction = self._wrap_batches(rem.ingest_transaction)
        eng = importlib.import_module(f"{PKG}.engine").ClickHouseSparkEngine
        eng.append_remote_exactly_once = self._wrap_ingest_client(
            eng.append_remote_exactly_once, "engine.append")

        # operator bodies: every public function of the operator modules,
        # re-bound wherever the package holds a reference to it
        originals = {}
        for name in OPERATOR_MODULES:
            mod = importlib.import_module(f"{PKG}.operators.{name}")
            for attr, obj in vars(mod).items():
                if (inspect.isfunction(obj) and not attr.startswith("_")
                        and obj.__module__ == mod.__name__):
                    originals[id(obj)] = (obj, self._wrap(obj, "operators"))
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith(PKG) or mod is None:
                continue
            for attr, obj in list(vars(mod).items()):
                hit = originals.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, attr, hit[1])

        client_cls = type(spark.sparkContext._gateway._gateway_client)
        client_cls.send_command = self._count_py4j(client_cls.send_command)


def _resolve(mod, path):
    parts = path.split(".")
    owner = mod
    for p in parts[:-1]:
        owner = getattr(owner, p)
    return owner, parts[-1]


# -- Spark event log ------------------------------------------------------
def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


def _acc(stage_info: dict) -> dict[str, float]:
    out = {}
    for a in stage_info.get("Accumulables", []):
        name = a.get("Name", "")
        if name.startswith("internal.metrics."):
            try:
                out[name[len("internal.metrics."):]] = float(a["Value"])
            except (TypeError, ValueError, KeyError):
                pass
    return out


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job tag: job count, stage and task counts, shuffle-map stages,
    summed stage metrics, scheduler delay, and the last job end time
    (epoch ms). Jobs without a benchmark tag go under ``""``."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if not files:
        return {}
    path = max(files, key=os.path.getmtime)
    job_tag: dict[int, str] = {}
    stage_tag: dict[int, str] = {}
    out: dict[str, dict] = collections.defaultdict(lambda: {
        "jobs": 0, "stages": 0, "tasks": 0, "exchanges": 0,
        "sched_delay_ms": 0.0, "run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        "last_job_end": 0.0})
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                tags = (ev.get("Properties") or {}).get("spark.job.tags", "")
                tag = next((t for t in tags.split(",")
                            if t.startswith(TAG_PREFIX)), "")
                job_tag[ev["Job ID"]] = tag
                for sid in ev.get("Stage IDs", []):
                    stage_tag[sid] = tag
                out[tag]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                tag = job_tag.get(ev["Job ID"], "")
                out[tag]["last_job_end"] = max(out[tag]["last_job_end"],
                                               float(ev["Completion Time"]))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                tag = stage_tag.get(info["Stage ID"], "")
                m = _acc(info)
                rec = out[tag]
                rec["stages"] += 1
                rec["tasks"] += info.get("Number of Tasks", 0)
                w = m.get("shuffle.write.bytesWritten", 0.0)
                if w > 0:
                    rec["exchanges"] += 1
                rec["run_ms"] += m.get("executorRunTime", 0.0)
                rec["cpu_ms"] += m.get("executorCpuTime", 0.0) / 1e6
                rec["gc_ms"] += m.get("jvmGCTime", 0.0)
                rec["shuffle_read_mb"] += (
                    m.get("shuffle.read.remoteBytesRead", 0.0)
                    + m.get("shuffle.read.localBytesRead", 0.0)) / 2**20
                rec["shuffle_write_mb"] += w / 2**20
                rec["spill_mb"] += (m.get("memoryBytesSpilled", 0.0)
                                    + m.get("diskBytesSpilled", 0.0)) / 2**20
            elif kind == "SparkListenerTaskEnd":
                tag = stage_tag.get(ev["Stage ID"], "")
                ti, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                busy = (tm.get("Executor Run Time", 0)
                        + tm.get("Executor Deserialize Time", 0)
                        + tm.get("Result Serialization Time", 0)
                        + ti.get("Getting Result Time", 0))
                out[tag]["sched_delay_ms"] += max(dur - busy, 0)
    return dict(out)
