"""Plan inspection — the engine's EXPLAIN surface (SURVEY O10) plus
plan-quality assertions used by tests and the bench harness.

The reference exposes EXPLAIN/EXPLAIN ANALYZE with output_rows metrics
(reference tests/e2e.rs:2184-2208, src/sink.rs:100-114). Spark's equivalents
are ``df.explain`` and the executed-plan string; these helpers make the
properties we care about at scale assertable:

- filters reached the parquet scan (PushedFilters),
- scans read only projected columns (ReadSchema),
- small dimensions broadcast instead of shuffling,
- no accidental cartesian products.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame, execute: bool = False) -> str:
    """Physical plan string. With AQE, codegen spans and final join
    strategies only appear after execution — pass ``execute=True`` to run
    the query first and read the final adaptive plan."""
    if execute:
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001


def _conf_bytes(spark, key: str, default: int) -> int:
    """Numeric value of a byte-size conf ('134217728b', '128MB', '4m')."""
    try:
        raw = str(spark.conf.get(key)).strip().lower()
    except Exception:
        return default
    m = re.fullmatch(r"(\d+)\s*([kmgt]?)b?", raw)
    if not m:
        return default
    return int(m.group(1)) * 1024 ** " kmgt".index(m.group(2) or " ")


def estimated_scan_partitions(df: DataFrame) -> int | None:
    """Scan-task estimate for a file-backed DataFrame WITHOUT ``df.rdd``
    (an RDD conversion re-plans the query — measurable build cost on wide
    plans, so probes must not pay it). Returns None when the plan is not
    file-backed (local relation, memory stream) — callers fall back to
    their own default."""
    sizes = _scan_file_sizes(df)
    return None if sizes is None else _packed_splits(df.sparkSession, sizes)


def _packed_splits(spark, sizes: list[int]) -> int:
    """Mirrors Spark's FilePartition packing: ``maxSplitBytes =
    min(maxPartitionBytes, max(openCostInBytes, totalBytes /
    defaultParallelism))``, files padded by the open cost and packed into
    bins of that capacity."""
    import math

    open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes", 4 << 20)
    max_part = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    total = sum(sizes)
    par = max(1, spark.sparkContext.defaultParallelism)
    max_split = min(max_part, max(open_cost, total // par + 1))
    n_chunks = sum(max(1, math.ceil(s / max_split)) for s in sizes)
    # chunks pack first-fit into bins of capacity max_split, each chunk
    # padded by open_cost; ceil((bytes + padding) / capacity) slightly
    # overestimates, which is benign for both callers (skip-repartition /
    # coalesce decisions tolerate an overestimate, not an RDD conversion)
    return max(1, math.ceil((total + n_chunks * open_cost) / max_split)
               if n_chunks > 1 else 1)


def _scan_file_sizes(df: DataFrame) -> list[int] | None:
    """On-disk sizes of the files backing ``df``'s scan, or None when
    the plan is not file-backed (local relation, memory stream)."""
    import os

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    sizes = []
    for f in files:
        p = f[len("file://"):] if f.startswith("file://") else \
            f[len("file:"):] if f.startswith("file:") else f
        try:
            sizes.append(os.path.getsize(p))
        except OSError:
            return None
    return sizes


_UNREAD = object()


def width(df: DataFrame, bytes_per_task: int, cap: int,
          sizes=_UNREAD) -> int:
    """The engine's one partition-width rule: ``ceil(scan_bytes /
    bytes_per_task)`` clamped to ``[2, cap]``, or ``cap`` when the plan
    is not file-backed (in-memory corpora conservatively go wide).

    Width follows input size, not a cluster constant: widening a sub-MB
    corpus to the full core count pays a per-task overhead per stage
    for nothing, while width 1 re-creates the single-task pathology for
    CPU-heavy kernels. ``bytes_per_task`` is COMPRESSED scan input per
    task; any corpus of ``cap * bytes_per_task`` or more saturates
    ``cap``. ``sizes`` takes the caller's :func:`_scan_file_sizes` read
    when it needs the files for another estimate too, so one decision
    lists them once."""
    if sizes is _UNREAD:
        sizes = _scan_file_sizes(df)
    if sizes is None:
        return cap
    return _clamp(sum(sizes), bytes_per_task, 2, cap)


def _clamp(nbytes: int, bytes_per_task: int, lo: int, cap: int) -> int:
    """``ceil(nbytes / bytes_per_task)`` clamped to ``[lo, cap]``."""
    return min(cap, max(lo, -(-nbytes // bytes_per_task)))


# Optimizer-estimated source bytes one executor_direct write task takes
# on. A Python task costs 180-300 ms of worker CPU before the user
# function runs; on a 4-core box one task writes a 24 MB source as fast
# as four, and a second task first pays for itself near 42 MB
# (BASELINE.md, "executor_direct width by source").
WRITE_BYTES_PER_TASK = 32 << 20

# The logical nodes whose size estimate bounds the bytes a write of
# them ships, in the unit WRITE_BYTES_PER_TASK was measured in. The
# leaves are in-memory relations Spark sizes as rows times the default
# width of each column; each inner node's estimate is at least what it
# emits. Other leaves are not in that unit: a file scan reports its
# compressed on-disk bytes (a parquet source reads several times
# smaller than its rows), a Python or streaming source Spark's
# defaultSizeInBytes. Generate and the Python map nodes can emit more
# rows than their estimate says.
_SIZED_NODES = frozenset({
    "Range", "LocalRelation", "OneRowRelation",
    "Project", "Filter", "Aggregate", "Join", "Union", "Sort", "Window",
    "Expand", "GlobalLimit", "LocalLimit", "Repartition",
    "RepartitionByExpression"})


def write_width(df: DataFrame, cap: int) -> int:
    """Partition width of an executor_direct remote write of ``df``:
    ``ceil(est / WRITE_BYTES_PER_TASK)`` clamped to ``[1, cap]``, where
    ``est`` is Spark's optimizer size estimate of ``df`` (no job).
    ``cap`` is the engine's ``write_concurrency``, a cap on concurrent
    writers as in the reference sink, not a quota: a micro-batch too
    small to pay for a second Python task writes from one. A plan with
    a node outside ``_SIZED_NODES`` (a file scan, a Python or streaming
    source, a Generate) keeps ``cap``, as does a huge estimate.

    The width is a function of the plan and the engine's settings, so
    a rebuilt micro-batch gets the same partitions. An exactly-once
    batch does not rely on that: it records its width in the commit
    log and a replay reuses it (``engine._batch_width``)."""
    cap = max(1, int(cap))
    plan = df._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
    nodes = [plan]
    while nodes:
        node = nodes.pop()
        if node.nodeName() not in _SIZED_NODES:
            return cap
        kids = node.children()
        nodes += [kids.apply(i) for i in range(kids.size())]
    # a Scala BigInt: str() reads it whether or not py4j converted it
    est = int(str(plan.stats().sizeInBytes()))
    return _clamp(est, WRITE_BYTES_PER_TASK, 1, cap)


def plan_report(df: DataFrame, execute: bool = False) -> dict[str, object]:
    """Summary of scale-relevant plan features.

    Counts are PHYSICAL: the AQE plan string prints the final plan
    followed by an ``== Initial Plan ==`` section (everything doubled),
    and ``ReusedExchange`` reference lines embed the text of the exchange
    they reuse — both would overstate the shuffle/broadcast work an
    executor actually performs, so the initial-plan tail is dropped and
    reuse lines are skipped before counting."""
    p = executed_plan(df, execute=execute)
    p = p.split("== Initial Plan ==")[0]
    own = "\n".join(ln for ln in p.splitlines() if "ReusedExchange" not in ln)
    return {
        "exchanges": own.count("Exchange"),
        "broadcasts": own.count("BroadcastExchange"),
        "reused_exchanges": sum(
            "ReusedExchange" in ln for ln in p.splitlines()),
        "shuffles": own.count("Exchange hashpartitioning")
        + own.count("Exchange rangepartitioning"),
        "has_pushed_filters": "PushedFilters: [" in p
        and "PushedFilters: []" not in p,
        "cartesian": "CartesianProduct" in p,
        # codegen spans appear as "WholeStageCodegen (n)" in formatted mode
        # and as "*(n) " operator prefixes in tree strings
        "codegen_stages": len(set(re.findall(r"\*\((\d+)\)", p)))
        or p.count("WholeStageCodegen"),
        "sorts": p.count("Sort "),
        # multi-column hash-join probes walk the generic
        # UnsafeHashedRelation (an UnsafeRow pack per probe row) instead
        # of the single-bigint LongHashedRelation fast path — measured
        # 5-7x slower on a 45M-row probe of a tiny broadcast (the r13
        # t11 decade fix, BASELINE.md r13). A hot-path join whose key
        # set fits one long should pre-fold it (xxhash64(k1, k2)); this
        # counter lets tests pin that fold.
        "multikey_hash_joins": _count_multikey_hash_joins(own),
    }


def _count_multikey_hash_joins(plan: str) -> int:
    """Hash joins (broadcast or shuffled) probing on 2+ key columns."""
    n = 0
    for m in re.finditer(r"(?:BroadcastHashJoin|ShuffledHashJoin) \[", plan):
        depth, keys, i = 1, 1, m.end()
        while i < len(plan) and depth > 0:
            c = plan[i]
            if c in "([":
                depth += 1
            elif c in ")]":
                depth -= 1
            elif c == "," and depth == 1:
                keys += 1
            i += 1
        if keys >= 2:
            n += 1
    return n


def executed_metrics(df: DataFrame, execute: bool = True) -> list[dict]:
    """Per-operator *executed* metrics — the EXPLAIN ANALYZE surface (O10).

    The reference exposes per-operator ``output_rows`` through EXPLAIN
    ANALYZE (tests/e2e.rs:2184-2208; sink metrics src/sink.rs:100-114).
    Spark's equivalent lives on the executed physical plan's SQLMetrics:
    run the query (so the AQE final plan and metric values exist), then walk
    the plan tree and read each operator's metric values.

    Returns a pre-order list of
    ``{"operator": str, "depth": int, "metrics": {name: int}}`` where
    ``metrics`` includes ``numOutputRows`` for row-producing operators.
    """
    if execute:
        df.collect()
    root = df._jdf.queryExecution().executedPlan()  # noqa: SLF001
    out: list[dict] = []

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def walk(node, depth):
        cls = node.getClass().getSimpleName()
        # unwrap AQE wrappers so the *final* operators are reported
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan(), depth)
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan(), depth)
            return
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        out.append({"operator": node.nodeName(), "depth": depth,
                    "metrics": metrics})
        for ch in seq(node.children()):
            walk(ch, depth + 1)

    walk(root, 0)
    return out


def output_rows(df: DataFrame, operator_substr: str | None = None,
                execute: bool = True) -> dict[str, int]:
    """``numOutputRows`` per operator (optionally filtered by substring) —
    the reference's per-operator output_rows in dict form. Duplicate
    operator names are disambiguated with an index suffix."""
    rows: dict[str, int] = {}
    for i, node in enumerate(executed_metrics(df, execute=execute)):
        n = node["metrics"].get("numOutputRows")
        if n is None:
            continue
        if operator_substr and operator_substr.lower() not in node["operator"].lower():
            continue
        key = node["operator"]
        if key in rows:
            key = f"{key}#{i}"
        rows[key] = n
    return rows


class PlanAssertionError(AssertionError):
    pass


def assert_pushed_filters(df: DataFrame, *cols: str) -> None:
    """Assert at least one data filter is pushed into a scan (and mentions
    each given column)."""
    p = executed_plan(df)
    segs = [s.split("]")[0] for s in p.split("PushedFilters: [")[1:]]
    pushed = ",".join(segs)
    if not any(s.strip() for s in segs):
        raise PlanAssertionError(f"no pushed filters in plan:\n{p[:2000]}")
    for c in cols:
        if c not in pushed:
            raise PlanAssertionError(f"filter on {c} not pushed: [{pushed}]")


def assert_pruned_schema(df: DataFrame, forbidden_col: str) -> None:
    """Assert a column was pruned from every scan's ReadSchema."""
    p = executed_plan(df)
    for seg in p.split("ReadSchema: ")[1:]:
        schema_line = seg.split("\n")[0]
        if forbidden_col in schema_line:
            raise PlanAssertionError(
                f"column {forbidden_col} not pruned: {schema_line}")


def assert_broadcast_join(df: DataFrame, min_broadcasts: int = 1,
                          execute: bool = False) -> None:
    """``execute=True`` asserts on the AQE FINAL plan — required when the
    broadcast is AQE's runtime-size decision rather than a static hint."""
    p = executed_plan(df, execute=execute)
    n = p.count("BroadcastExchange")
    if n < min_broadcasts:
        raise PlanAssertionError(
            f"expected ≥{min_broadcasts} broadcast joins, found {n}:\n{p[:2000]}")


def assert_no_cartesian(df: DataFrame) -> None:
    if "CartesianProduct" in executed_plan(df):
        raise PlanAssertionError("plan contains a cartesian product")
