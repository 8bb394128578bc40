"""As-of and range joins — engine extensions (SURVEY §2.3 notes the
reference lacks them; they are table stakes for event/time-series analytics).

``asof_join`` uses the union + running-last window formulation rather than a
pairwise join: tag both sides, union, and carry the most recent right-side
row forward within each key. One shuffle on (key), no range-explosion, no
Python — this is the formulation that scales (a naive ``l.ts >= r.ts``
theta-join is quadratic per key; ``merge_asof`` in pandas is single-node).

``range_join`` is an equi-key + interval predicate join — Spark executes it
as a hash join on the key with a post-filter, which is the right plan when
keys are selective. For unkeyed interval joins, bucketize the range first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from clickhouse_datafusion_spark.fragments import sql_ident


def asof_join(left: DataFrame, right: DataFrame, on: str,
              left_ts: str, right_ts: str,
              direction: str = "backward",
              suffix: str = "_r") -> DataFrame:
    """For each left row, attach the most recent right row with
    ``right.ts <= left.ts`` (direction='backward'; 'forward' gives the
    earliest right row with ``right.ts >= left.ts``) within the same ``on``
    key. Left rows with no match keep nulls (left-outer as-of).

    Equal timestamps match (the right row sorts before the left probe).
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    # r15: parsed fragments (py4j round-trip economy, see fragments) and
    # a null-padding unionByName. The r14 form paid ~200 round trips per
    # call (per-column F.col/alias chatter) plus TWO analysis passes —
    # `r.schema["_rv"].dataType` / `l_.schema[...]` analyzed each side
    # just to spell the null literal's type; allowMissingColumns fills
    # the missing struct with a correctly-typed NULL from the side that
    # has it, same Union tree. The funnel family builds 2+ as-of joins
    # per query, so the build cost is the dominant driver-wave gap there
    # (x45/x46 measured 540-580 round trips per construct).
    rcols = [c for c in right.columns if c != on]
    qon, qlts, qrts = sql_ident(on), sql_ident(left_ts), sql_ident(right_ts)
    r = right.selectExpr(
        f"{qon} AS _k", f"{qrts} AS _ts", "0 AS _side",
        f"struct({', '.join(sql_ident(c) for c in rcols)}) AS _rv")
    l_ = left.selectExpr(
        f"{qon} AS _k", f"{qlts} AS _ts", "1 AS _side",
        f"struct({', '.join(sql_ident(c) for c in left.columns)}) AS _lv")
    u = l_.unionByName(r, allowMissingColumns=True)
    order = "_ts ASC, _side ASC" if direction == "backward" \
        else "_ts DESC, _side ASC"
    matched = u.selectExpr(
        "*",
        f"last(_rv, true) OVER (PARTITION BY _k ORDER BY {order} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _m")

    out = matched.filter("_side = 1")
    cols = [f"_lv.{sql_ident(c)} AS {sql_ident(c)}" for c in left.columns]
    cols += [f"_m.{sql_ident(c)} AS "
             f"{sql_ident(c + (suffix if c in left.columns else ''))}"
             for c in rcols]
    return out.selectExpr(*cols)


def range_join(left: DataFrame, right: DataFrame, on: str,
               left_ts: str, right_ts: str,
               lower, upper, how: str = "inner") -> DataFrame:
    """Rows of ``right`` whose ``right_ts`` falls in
    ``[left_ts + lower, left_ts + upper]``, equi-keyed on ``on``.

    ``lower``/``upper`` are Column interval expressions
    (e.g. ``F.expr("INTERVAL 0 DAYS")``).
    """
    lk, rk = left.alias("l"), right.alias("r")
    cond = ((F.col(f"l.{on}") == F.col(f"r.{on}"))
            & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}") + lower)
            & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + upper))
    return lk.join(rk, cond, how)


def locf_fill(df: DataFrame, value_cols: list[str], ts_col: str = "ts",
              key_cols: list[str] | tuple[str, ...] = ("user_id",),
              tiebreak_col: str | None = None,
              suffix: str = "_filled") -> DataFrame:
    """Last-observation-carried-forward gap fill: for each key's
    time-ordered event stream, replace NULLs in ``value_cols`` with the
    most recent non-null observation — the standard repair for sparse
    sensor/telemetry/feature streams before training-feature extraction
    (leading NULLs, with nothing to carry, stay NULL; downstream decides
    the cold-start default).

    One (key)-shuffled window per call covering ALL value columns —
    ``F.last(ignorenulls=True)`` over an unbounded-preceding frame is a
    running O(1)-state scan, not a per-row lookback, so cost is linear in
    rows regardless of gap length. Pass ``tiebreak_col`` (e.g. the event
    id) whenever timestamps can collide: an ambiguous order would make
    the filled value engine-dependent — the gate always pins it.
    """
    order = [F.col(ts_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = (W.partitionBy(*[F.col(k) for k in key_cols]).orderBy(*order)
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    out = df
    for c in value_cols:
        out = out.withColumn(c + suffix,
                             F.last(F.col(c), ignorenulls=True).over(w))
    return out
