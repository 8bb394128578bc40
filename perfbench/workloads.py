"""The benchmark's three workloads.

Each workload is a class with ``setup``, ``warm`` (untimed) and
``run(seconds)``, which returns a list of
``Op`` records. Outputs are kept on the records and checked after the
timed window by ``check``: a wrong output clears its ``Op.ok``, and
``check`` returns the failures no single record carries (landed rows
that differ from acknowledged rows).
"""

from __future__ import annotations

import hashlib
import random
import threading
import time
from dataclasses import dataclass, field

import pandas as pd

from tracing import TAG_PREFIX

REGISTRY = [
    # relational headliners
    "q3_shipping_priority", "flagship_top_customers", "w3_rank_rownum",
    "q18_large_volume_customers",
    # pipeline operators; x56 goes through operators.stagecut
    "d1_exact_dedup_groups", "t1_token_counts", "x20_corpus_pipeline",
    "x56_web_curation",
    # non-bench entries ROADMAP levers target
    "x44_retention", "x47_sequence_count", "x30_pagerank",
]
DEPTH = ["t1_token_counts", "d3x_minhash_production", "t11_bigram_lm_score",
         "x20_corpus_pipeline", "d10_paragraph_dedup", "x56_web_curation"]
READERS = 3
WARM_SECONDS = 10


@dataclass
class Op:
    kind: str                 # "read" | "write"
    cls: str                  # template class or entry name
    t0: float                 # perf_counter at start
    ms: float = 0.0
    rows: int = 0
    ok: bool = True           # ran, and its output checked out
    tag: str = ""             # job tag stem (traced runs)
    end_epoch_ms: float = 0.0
    out: object = None        # kept for the output check
    extra: dict = field(default_factory=dict)


def calib_ms() -> float:
    """Fixed pure-Python CPU probe: its time tags a throttled window."""
    t0 = time.perf_counter()
    x = 0
    for i in range(300_000):
        x += i * i % 7
    return (time.perf_counter() - t0) * 1e3


class _Collected:
    """Hands an already-collected frame to ``oracle_utils.compare``."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class _Expected:
    """A DuckDB-connection stand-in serving a precomputed oracle frame."""

    def __init__(self, pdf):
        self._pdf = pdf

    def execute(self, _sql):
        return self

    def fetchdf(self):
        return self._pdf


def frame_digest(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    rows = sorted(str(r) for r in pdf[cols].itertuples(index=False))
    return hashlib.sha1("\n".join(rows).encode()).hexdigest()


class Context:
    """What every workload shares: the session, the tracer (None when
    untraced), statement job tags and the collect."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self._n = 0
        self._lock = threading.Lock()
        self.calib: list[float] = []

    def next_tag(self) -> str:
        with self._lock:
            self._n += 1
            return f"{TAG_PREFIX}{self._n}"

    def phase(self, tag: str | None):
        """Set this thread's job tag (traced runs only)."""
        if self.tracer is None:
            return
        sc = self.spark.sparkContext
        sc.clearJobTags()
        if tag:
            sc.addJobTag(tag)

    def collect(self, df, op: Op) -> pd.DataFrame:
        """Force the plan (traced), then the Arrow collect."""
        if self.tracer is not None:
            self.phase(op.tag + "p")
            with self.tracer.span("plans"):
                df._jdf.queryExecution().executedPlan()
            self.phase(op.tag + "r")
            with self.tracer.span("transfer"):
                pdf = df.toPandas()
        else:
            pdf = df.toPandas()
        op.end_epoch_ms = time.time() * 1e3
        self.phase(None)
        return pdf


# -- registry-style workloads -------------------------------------------
class EntryWorkload:
    """Closed loop over registry entries, whole passes in seeded order."""

    entries: list[str] = []

    def __init__(self, ctx: Context, seed: int, data_dir: str,
                 warm_dir: str | None = None):
        from clickhouse_datafusion_spark.queries import QUERIES

        self.ctx, self.seed, self.data_dir = ctx, seed, data_dir
        self.warm_dir = warm_dir or data_dir
        self.queries = QUERIES
        self.rng = random.Random(seed)

    def setup(self):
        from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine

        eng = ClickHouseSparkEngine(self.ctx.spark)
        eng.catalog.register_parquet_dir(self.data_dir, db="main")
        eng.sql("SELECT CAST(count(*) AS BIGINT) AS n "
                "FROM clickhouse.main.nation").toPandas()
        self.eng = eng

    def warm(self):
        for name in self.entries:
            self.queries[name].spark_fn(self.ctx.spark,
                                        self.warm_dir).toPandas()

    def run_entry(self, name: str) -> Op:
        ctx = self.ctx
        op = Op("read", name, time.perf_counter())
        tr = ctx.tracer
        if tr is not None:
            op.tag = ctx.next_tag()
            ctx.phase(op.tag + "c")
            before = tr.thread_py4j()
            with tr.statement(op.tag), tr.span("queries"):
                df = self.queries[name].spark_fn(ctx.spark, self.data_dir)
            op.extra["py4j"] = tr.thread_py4j() - before
            with tr.statement(op.tag):
                pdf = ctx.collect(df, op)
        else:
            df = self.queries[name].spark_fn(ctx.spark, self.data_dir)
            pdf = ctx.collect(df, op)
        op.ms = (time.perf_counter() - op.t0) * 1e3
        op.rows = len(pdf)
        op.out = pdf
        return op

    def run(self, seconds: float) -> list[Op]:
        ops: list[Op] = []
        t_end = time.perf_counter() + seconds
        while not ops or time.perf_counter() < t_end:
            order = list(self.entries)
            self.rng.shuffle(order)
            self.ctx.calib.append(calib_ms())
            for name in order:
                ops.append(self.run_entry(name))
        self.ctx.calib.append(calib_ms())
        return ops

    def expected(self, name):
        """DuckDB oracle results over the (fixed) input tables, cached
        under ``perfbench/.data``: a checkout computes each one once."""
        import os

        from inputs import cache_dir
        from tests.oracle_utils import duckdb_conn

        path = os.path.join(cache_dir(self.data_dir, "oracle"),
                            f"{name}.parquet")
        if not os.path.exists(path):
            os.makedirs(os.path.dirname(path), exist_ok=True)
            con = duckdb_conn(self.data_dir)
            try:
                pdf = con.execute(self.queries[name].oracle).fetchdf()
            finally:
                con.close()
            tmp = f"{path}.tmp{os.getpid()}"
            pdf.to_parquet(tmp, index=False)
            os.replace(tmp, path)
        return pd.read_parquet(path)

    def check(self, ops: list[Op]) -> int:
        """Each entry's first output goes through ``compare`` against its
        DuckDB oracle; later passes must reproduce the same digest. Wrong
        outputs clear ``op.ok``; returns failures not tied to one op."""
        from tests.oracle_utils import compare

        digests: dict[str, str] = {}
        for op in ops:
            d = frame_digest(op.out)
            if op.cls in digests:
                op.ok = d == digests[op.cls]
                continue
            try:
                compare(_Collected(op.out), _Expected(self.expected(op.cls)),
                        "", op.cls)
                digests[op.cls] = d
            except AssertionError as e:
                print(f"# check failed: {str(e)[:300]}", flush=True)
                digests[op.cls] = ""
                op.ok = False
        return 0


class Registry(EntryWorkload):
    entries = REGISTRY


class Depth(EntryWorkload):
    """The 10x documents corpus. Pass the sf0.1 tables as ``warm_dir``:
    a pass over them warms the same code paths at a fraction of the cost
    of a corpus pass."""
    entries = DEPTH


# -- front door ----------------------------------------------------------
R_TABLES = ["orders", "customer", "lineitem", "part"]
R = "clickhouse.remote."


def _date(rng) -> str:
    return f"{rng.randint(1995, 2000)}-{rng.randint(1, 12):02d}-01"


def _key(rng, col="o_custkey") -> str:
    m = rng.randint(40, 50)
    return f"{col} % {m} = {rng.randrange(m)}"


def _shipped(q):
    return q, q.replace(R, "")


# Reader templates: (class, builder). A builder draws its literals from
# the rng and returns (front-door SQL, DuckDB oracle SQL or "grows").
def _agg(rng):
    return _shipped(f"SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, "
                    f"max(o_totalprice) AS mx FROM {R}orders "
                    f"WHERE {_key(rng)} GROUP BY o_orderstatus")


def _join_agg(rng):
    return _shipped(f"SELECT c.c_mktsegment AS seg, CAST(count(*) AS BIGINT) "
                    f"AS n FROM {R}orders o JOIN {R}customer c "
                    f"ON o.o_custkey = c.c_custkey WHERE o.o_orderdate < "
                    f"TIMESTAMP '{_date(rng)} 00:00:00' "
                    f"GROUP BY c.c_mktsegment")


def _topk(rng):
    return _shipped(f"SELECT o_orderkey, o_totalprice FROM {R}orders "
                    f"WHERE {_key(rng)} ORDER BY o_totalprice DESC, "
                    f"o_orderkey LIMIT {rng.randint(5, 50)}")


def _lineitem_agg(rng):
    return _shipped(f"SELECT l_returnflag, l_linestatus, CAST(count(*) AS "
                    f"BIGINT) AS n, sum(l_quantity) AS q FROM {R}lineitem "
                    f"WHERE l_shipdate >= TIMESTAMP '{_date(rng)} 00:00:00' "
                    f"GROUP BY l_returnflag, l_linestatus")


def _grows(rng):
    """A table the writer grows: checked against acknowledged rows."""
    return f"SELECT CAST(count(*) AS BIGINT) AS n FROM {R}w_rows", "grows"


def _stream_orders(rng):
    return _shipped(f"SELECT o_orderkey, o_orderstatus, o_totalprice "
                    f"FROM {R}orders WHERE {_key(rng)}")


def _stream_lineitem(rng):
    m = rng.randint(180, 220)
    return _shipped(f"SELECT l_orderkey, l_partkey, l_quantity FROM "
                    f"{R}lineitem WHERE l_partkey % {m} = {rng.randrange(m)}")


def _refused_log(rng):
    q = (f"SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, "
         f"max(round(log(o_totalprice), 4)) AS lx FROM {R}orders "
         f"WHERE {_key(rng)} GROUP BY o_orderstatus")
    return q, q.replace(R, "").replace("log(", "ln(")


def _refused_xor(rng):
    k, n, key = rng.randint(1, 1000), rng.randint(5, 50), _key(rng)
    return (f"SELECT o_orderkey, o_custkey ^ {k} AS x FROM {R}orders "
            f"WHERE {key} ORDER BY o_orderkey LIMIT {n}",
            f"SELECT o_orderkey, xor(o_custkey, {k}) AS x FROM orders "
            f"WHERE {key} ORDER BY o_orderkey LIMIT {n}")


def _count_if(rng):
    p = rng.randint(50_000, 450_000)
    return (f"SELECT o_orderstatus, clickhouse(countIf(o_totalprice > {p}), "
            f"'Int64') AS hi FROM orders GROUP BY o_orderstatus",
            f"SELECT o_orderstatus, CAST(count(*) FILTER (WHERE o_totalprice "
            f"> {p}) AS BIGINT) AS hi FROM orders GROUP BY o_orderstatus")


def _array_map(rng):
    k, key = rng.randint(2, 9), _key(rng, "c_custkey")
    return (f"SELECT c_custkey, concat_ws(',', transform(clickhouse("
            f"`arrayMap`($x, $x * {k}, array(c_nationkey, c_custkey % 7)), "
            f"'List(Int64)'), e -> CAST(e AS STRING))) AS a FROM customer "
            f"WHERE {key}",
            f"SELECT c_custkey, array_to_string([c_nationkey * {k}, "
            f"(c_custkey % 7) * {k}], ',') AS a FROM customer WHERE {key}")


def _ch_eval(rng):
    key = _key(rng, "p_partkey")
    return (f"SELECT p_partkey, clickhouse_eval('upper(p_name)', 'Utf8') AS u"
            f" FROM part WHERE {key}",
            f"SELECT p_partkey, upper(p_name) AS u FROM part WHERE {key}")


def _limit_by(rng):
    n, key = rng.randint(1, 5), _key(rng)
    return (f"SELECT o_orderstatus, o_orderkey, o_totalprice AS p FROM orders "
            f"WHERE {key} ORDER BY p DESC, o_orderkey "
            f"LIMIT {n} BY o_orderstatus",
            f"SELECT o_orderstatus, o_orderkey, p FROM (SELECT o_orderstatus, "
            f"o_orderkey, o_totalprice AS p, row_number() OVER (PARTITION BY "
            f"o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS rn "
            f"FROM orders WHERE {key}) WHERE rn <= {n}")


def _sample(rng):
    f = rng.choice([0.05, 0.1, 0.2, 0.25, 0.5])
    return (f"SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n "
            f"FROM orders SAMPLE {f} GROUP BY o_orderstatus",
            f"SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n FROM orders "
            f"WHERE (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))"
            f"::BIGINT % 1000000) < {int(round(f * 1_000_000))} "
            f"GROUP BY o_orderstatus")


def _dict_get(rng):
    key = _key(rng, "c_custkey")
    return (f"SELECT c_custkey, clickhouse(dictGet('nations', 'n_name', "
            f"c_nationkey), 'Utf8') AS nation FROM customer WHERE {key}",
            f"SELECT c_custkey, n_name AS nation FROM customer JOIN nation "
            f"ON c_nationkey = n_nationkey WHERE {key}")


SPOOL_MODULI = (6, 8)


def _spool_rows(data_dir) -> dict[tuple[int, int], int]:
    """Rows each spool INSERT can land, by (modulus, residue) of its
    ``o_custkey`` predicate: the exact bound on a write in flight."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    key = np.asarray(pq.read_table(os.path.join(data_dir, "orders.parquet"),
                                   columns=["o_custkey"]).column(0))
    return {(m, r): int(n)
            for m in range(SPOOL_MODULI[0], SPOOL_MODULI[1] + 1)
            for r, n in enumerate(np.bincount(key % m, minlength=m))}


READ_TEMPLATES = [
    ("ship_reduce", _agg), ("ship_reduce", _join_agg),
    ("ship_reduce", _topk), ("ship_reduce", _lineitem_agg),
    ("ship_reduce", _grows),
    ("ship_stream", _stream_orders), ("ship_stream", _stream_lineitem),
    ("refused", _refused_log), ("refused", _refused_xor),
    ("ch_surface", _count_if), ("ch_surface", _array_map),
    ("ch_surface", _ch_eval),
    ("ch_clause", _limit_by), ("ch_clause", _sample), ("ch_clause", _dict_get),
]


class FrontDoor:
    """Three readers and one writer on one engine with a pooled remote."""

    def __init__(self, ctx: Context, seed: int, data_dir: str):
        self.ctx, self.seed, self.data_dir = ctx, seed, data_dir
        self.eng = None
        self.spool_rows = _spool_rows(data_dir)

    def setup(self):
        from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine
        from clickhouse_datafusion_spark.sources.remote_engine import (
            RemoteEngine)

        spark = self.ctx.spark
        eng = ClickHouseSparkEngine(spark)
        eng.catalog.register_parquet_dir(self.data_dir, db="main")
        remote = RemoteEngine(pool_size=4)
        remote.register_parquet_dir(self.data_dir, tables=R_TABLES)
        eng.attach_remote(remote, db="remote", local_twin_dir=self.data_dir)
        remote.create_table("w_agg", "k BIGINT, n BIGINT")
        remote.create_table("w_rows", "k BIGINT, v DOUBLE")
        remote.create_table("w_once", "k BIGINT, v DOUBLE")
        remote.start_ingest_server()
        self.local_table = "clickhouse.pbw.w_local"
        eng.catalog.create_database("pbw")
        eng.sql(f"DROP TABLE IF EXISTS {self.local_table}")
        eng.sql(f"CREATE TABLE {self.local_table} (k BIGINT, v DOUBLE) "
                f"USING parquet")
        eng.register_dictionary(
            "nations", spark.table("nation").select("n_nationkey", "n_name"),
            key_col="n_nationkey")
        eng.set_sample_key("orders", "o_orderkey")
        eng.sql("SELECT CAST(count(*) AS BIGINT) AS n "
                "FROM clickhouse.remote.customer").toPandas()
        self.eng, self.remote = eng, remote
        self.landed = {"w_agg": 0, "w_rows": 0, "w_local": 0, "w_once": 0}
        self.inflight = dict.fromkeys(self.landed, 0)
        self.batches: list[int] = []   # exactly-once batch ids issued
        self.next_k = 0
        self.warm_ops: list[Op] = []

    def teardown(self):
        self.remote.stop_ingest_server()
        self.eng.sql(f"DROP TABLE IF EXISTS {self.local_table}")
        self.eng = None

    def warm(self):
        """The same four-client loop, untimed, until the JIT settles
        (single-threaded warm-up left the first half of the window
        ~40% slower); its writes count in the landed-rows check."""
        self.warm_ops = self._loop(WARM_SECONDS, -1 - self.seed)

    # -- timed window --------------------------------------------------
    def _statement(self, kind, cls, fn) -> Op:
        ctx = self.ctx
        op = Op(kind, cls, time.perf_counter())
        tr = ctx.tracer
        try:
            if tr is not None:
                op.tag = ctx.next_tag()
                ctx.phase(op.tag + "c")
                with tr.statement(op.tag):
                    fn(op)
            else:
                fn(op)
        except Exception as e:  # counted as a failed operation
            op.ok = False
            op.extra["error"] = f"{type(e).__name__}: {str(e)[:200]}"
        ctx.phase(None)
        op.ms = (time.perf_counter() - op.t0) * 1e3
        return op

    def _reader(self, idx, seed, t_end, ops):
        """Cycles through every template from its own offset, so the mix
        of statement kinds does not depend on the seed."""
        rng = random.Random(seed * 1000 + idx)
        i = idx * len(READ_TEMPLATES) // READERS
        while time.perf_counter() < t_end:
            cls, build = READ_TEMPLATES[i % len(READ_TEMPLATES)]
            cls = f"{cls}.{build.__name__.lstrip('_')}"
            i += 1
            q, oracle = build(rng)

            def body(op, q=q, oracle=oracle):
                if oracle == "grows":
                    op.extra["lo"] = self.landed["w_rows"]
                pdf = self.ctx.collect(self.eng.sql(q), op)
                if oracle == "grows":
                    # in-flight first: the writer updates landed before
                    # it clears in-flight
                    inflight = self.inflight["w_rows"]
                    op.extra["hi"] = self.landed["w_rows"] + inflight
                op.rows = len(pdf)
                op.out = pdf
                op.extra["oracle"] = oracle
            ops.append(self._statement("read", cls, body))

    def _writer(self, seed, t_end, ops):
        rng = random.Random(seed * 1000 + 99)
        eng = self.eng
        spark = self.ctx.spark
        batches = self.batches
        i = 0
        while time.perf_counter() < t_end:
            kind = ("remote_whole", "remote_spool", "local_sink",
                    "exactly_once")[i % 4]
            i += 1
            if kind == "remote_whole":
                m = rng.randint(100, 2000)
                table, bound = "w_agg", 0
                q = (f"INSERT INTO clickhouse.remote.w_agg SELECT "
                     f"CAST(o_custkey % {m} AS BIGINT) AS k, "
                     f"CAST(count(*) AS BIGINT) AS n FROM "
                     f"clickhouse.remote.orders GROUP BY o_custkey % {m}")
            elif kind == "remote_spool":
                m = rng.randint(*SPOOL_MODULI)
                r = rng.randrange(m)
                table, bound = "w_rows", self.spool_rows[m, r]
                q = (f"INSERT INTO clickhouse.remote.w_rows SELECT "
                     f"o_orderkey AS k, log(o_totalprice) AS v FROM "
                     f"clickhouse.remote.orders WHERE o_custkey % {m} = {r}")
            elif kind == "local_sink":
                m = rng.randint(6, 8)
                table, bound = "w_local", 0
                q = (f"INSERT INTO {self.local_table} SELECT o_orderkey, "
                     f"o_totalprice FROM orders WHERE "
                     f"o_custkey % {m} = {rng.randrange(m)}")
            else:
                table = "w_once"
                replay = bool(batches) and rng.random() < 0.25
                if replay:
                    bid = rng.choice(batches)
                else:
                    bid = len(batches)
                    batches.append(bid)
                size = rng.randint(15_000, 25_000)
                lo, self.next_k = self.next_k, self.next_k + size
                bound = 0 if replay else size

            def body(op, kind=kind, table=table, bound=bound):
                self.inflight[table] = bound
                if kind == "exactly_once":
                    from pyspark.sql import functions as F
                    df = spark.range(lo, lo + size).select(
                        F.col("id").alias("k"),
                        (F.col("id") * 0.5).alias("v"))
                    eng.write_mode = "executor_direct"
                    try:
                        n = eng.append_remote_exactly_once("w_once", df, bid)
                    finally:
                        eng.write_mode = "spool"
                    op.extra["replay"] = replay
                else:
                    n = int(self.ctx.collect(eng.sql(q), op).iloc[0, 0])
                self.landed[table] += n
                self.inflight[table] = 0
                op.rows = n
            ops.append(self._statement("write", kind, body))

    def run(self, seconds: float) -> list[Op]:
        self.ctx.calib.append(calib_ms())
        ops = self._loop(seconds, self.seed)
        self.ctx.calib.append(calib_ms())
        return ops

    def _loop(self, seconds: float, seed: int) -> list[Op]:
        from pyspark import InheritableThread

        per_thread: list[list[Op]] = [[] for _ in range(READERS + 1)]
        t_end = time.perf_counter() + seconds
        threads = [InheritableThread(target=self._reader,
                                     args=(i, seed, t_end, per_thread[i]))
                   for i in range(READERS)]
        threads.append(InheritableThread(
            target=self._writer, args=(seed, t_end, per_thread[READERS])))
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        return [op for ops in per_thread for op in ops]

    def check(self, ops: list[Op]) -> int:
        from tests.oracle_utils import compare, duckdb_conn

        con = duckdb_conn(self.data_dir)
        try:
            for op in ops:
                if not op.ok or op.kind != "read":
                    continue
                oracle = op.extra["oracle"]
                if oracle == "grows":
                    n = int(op.out.iloc[0, 0])
                    if not op.extra["lo"] <= n <= op.extra["hi"]:
                        print(f"# check failed: w_rows count {n} outside "
                              f"[{op.extra['lo']}, {op.extra['hi']}]",
                              flush=True)
                        op.ok = False
                    continue
                try:
                    compare(_Collected(op.out), con, oracle, op.cls)
                except AssertionError as e:
                    print(f"# check failed: {str(e)[:300]}", flush=True)
                    op.ok = False
        finally:
            con.close()
        return self._check_writes(self.warm_ops + ops)

    def _check_writes(self, ops: list[Op]) -> int:
        """Landed rows equal acknowledged rows per table, and a replayed
        exactly-once batch lands nothing."""
        acked: dict[str, int] = {}
        bad = 0
        table_of = {"remote_whole": "w_agg", "remote_spool": "w_rows",
                    "local_sink": "w_local", "exactly_once": "w_once"}
        for op in ops:
            if op.kind != "write":
                continue
            if op.extra.get("replay") and op.rows != 0:
                print(f"# check failed: replayed batch landed {op.rows} rows",
                      flush=True)
                op.ok = False
            acked[table_of[op.cls]] = acked.get(table_of[op.cls], 0) + op.rows
        for table in ("w_agg", "w_rows", "w_once"):
            got = self.remote.execute(
                f"SELECT count(*) FROM {table}").column(0)[0].as_py()
            if got != acked.get(table, 0):
                print(f"# check failed: {table} landed {got}, acked "
                      f"{acked.get(table, 0)}", flush=True)
                bad += 1
        got = self.ctx.spark.table(self.local_table.split(".", 1)[1]).count()
        if got != acked.get("w_local", 0):
            print(f"# check failed: w_local landed {got}, acked "
                  f"{acked.get('w_local', 0)}", flush=True)
            bad += 1
        return bad
