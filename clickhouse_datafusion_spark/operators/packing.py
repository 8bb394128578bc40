"""Sequence packing for LLM training: assign every document its position
in a fixed token-budget stream (GPT-style concat-then-chunk packing).

The core primitive is a GLOBAL EXCLUSIVE PREFIX SUM over a total order —
the textbook way to kill a Spark job at scale is `Window.orderBy(col)`
with no partition spec, which funnels the whole table through ONE task.
:func:`global_prefix_sum` is the distributed two-phase form instead:

1. deterministic order-respecting bucketing (Greenwald-Khanna quantile
   boundaries — an aggregate, no sampling seed);
2. an in-bucket running sum (window PARTITIONED by bucket — parallel);
3. per-bucket totals (one tiny aggregate, ≤ n_buckets rows) turned into
   exclusive bucket offsets and broadcast back.

The result is bucketing-invariant: in-bucket-prefix + lower-bucket-offset
equals the sum over ALL rows strictly lower in the order, whatever the
quantile boundaries came out as — so approxQuantile's merge-order wobble
cannot change the output (the order column must be unique; ties would
make any engine's running sum nondeterministic).

At 100 TB: the data moves through exactly one bucket-keyed exchange plus
one broadcast of n_buckets offsets; no stage sees more than ~1/n_buckets
of the rows. The single-partition window that remains runs over the
n_buckets-row totals aggregate, not the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from clickhouse_datafusion_spark.fragments import sql_ident, sql_lit, sql_str


def global_prefix_sum(df: DataFrame, value_col: str, order_col: str,
                      n_buckets: int | None = None,
                      out_col: str = "_cum_before",
                      bounds_mode: str = "quantile") -> DataFrame:
    """Append the EXCLUSIVE global prefix sum of ``value_col`` under the
    total order of ``order_col`` (which must be unique), computed without
    a single-partition window over the data (see module docstring).

    ``bounds_mode="quantile"`` (default) samples the order-key
    distribution for balanced buckets on ANY distribution;
    ``"md5domain"`` (r15) takes equal-width bounds over the FIXED domain
    of the synthetic md5 order key ([0, 16¹⁵) — top 15 hex digits), which
    needs NO data pass at all: bounds from the key's observed min/max
    would cost a full column scan per call at every scale (plus a
    plan-build-time driver round trip serializing two jobs ahead of the
    main query), spent on values that cannot change the output — the
    result is bucketing-invariant by construction. Correctness never
    depends on the mode.
    """
    spark = df.sparkSession
    n_buckets = n_buckets or spark.sparkContext.defaultParallelism
    if bounds_mode == "md5domain":
        dom = 16 ** 15
        bounds = sorted(set(
            dom * i // n_buckets for i in range(1, n_buckets)))
    else:
        probs = [i / n_buckets for i in range(1, n_buckets)]
        bounds = sorted(set(
            df.stat.approxQuantile(order_col, probs, 0.001))) if probs else []
    # r14: the bucket indicator chain is ONE parsed expression — the
    # Column-API loop cost ~5 py4j round trips per bound (~150 per build
    # at 32 buckets); same Catalyst tree after parsing. Float bounds
    # (quantile mode) need the D suffix: a bare SQL float literal parses
    # as DECIMAL, changing comparison typing.
    qord = sql_ident(order_col)
    bkt_sql = "0" + "".join(
        f" + (CASE WHEN {qord} > {sql_lit(x)} THEN 1 ELSE 0 END)"
        for x in bounds)
    bucketed = df.withColumn("_bkt", F.expr(bkt_sql))
    w_in = (W.partitionBy("_bkt").orderBy(order_col)
            .rowsBetween(W.unboundedPreceding, -1))
    in_cum = F.coalesce(F.sum(value_col).over(w_in), F.lit(0))
    totals = bucketed.groupBy("_bkt").agg(F.sum(value_col).alias("_tot"))
    # single-partition window — over ≤ n_buckets aggregate rows, not data
    w_off = W.orderBy("_bkt").rowsBetween(W.unboundedPreceding, -1)
    offsets = totals.select(
        "_bkt", F.coalesce(F.sum("_tot").over(w_off), F.lit(0)).alias("_off"))
    return (bucketed.join(F.broadcast(offsets), "_bkt")
            .withColumn(out_col, (in_cum + F.col("_off")).cast("bigint"))
            .drop("_bkt", "_off"))


def chunk_documents(df: DataFrame, chunk_size: int = 256, overlap: int = 32,
                    text_col: str = "text", id_col: str = "doc_id",
                    with_text: bool = False) -> DataFrame:
    """Sliding-window document chunking: one row per ``chunk_size``-token
    window with ``overlap`` tokens shared between consecutive windows —
    how long documents are split for embedding models and context-bounded
    training. Stride = chunk_size − overlap; every doc yields ≥1 chunk
    (short docs pass through whole).

    Returns (id, chunk_id, n_tokens, chunk_md5[, chunk_text]) — md5 keeps
    the default output narrow; ``with_text=True`` adds the chunk body.
    Pure projection + explode (no shuffle, no Python): chunk count and
    spans are exact integer arithmetic, so any engine reproduces them.
    """
    assert 0 <= overlap < chunk_size, "overlap must be < chunk_size"
    # r14: parsed projections (py4j round-trip economy, see fragments)
    stride = chunk_size - overlap
    qid, qtx = sql_ident(id_col), sql_ident(text_col)
    # r15 advice fix: quote the text column here too (the adjacent
    # projections already use qtx; a name needing quoting parsed in one
    # place and failed in the other)
    n_chunks = (f"greatest(1, (size(split({qtx}, ' ')) - {overlap} "
                f"+ {stride} - 1) DIV {stride})")
    base = df.selectExpr(
        qid, f"split({qtx}, ' ') AS _ws", f"size(split({qtx}, ' ')) AS _n",
        f"explode(sequence(CAST(0 AS BIGINT), "
        f"CAST({n_chunks} - 1 AS BIGINT))) AS chunk_id")
    piece = f"slice(_ws, chunk_id * {stride} + 1, {chunk_size})"
    return base.selectExpr(
        qid, "chunk_id",
        f"CAST(size({piece}) AS BIGINT) AS n_tokens",
        f"md5(concat_ws(' ', {piece})) AS chunk_md5",
        *([f"concat_ws(' ', {piece}) AS chunk_text"] if with_text else []))


def pack_sequences(df: DataFrame, budget: int = 1024,
                   text_col: str = "text", id_col: str = "doc_id",
                   token_col: str | None = None,
                   n_buckets: int | None = None) -> DataFrame:
    """Concat-then-chunk packing: documents are laid end to end in
    ``id_col`` order and cut into fixed ``budget``-token sequences.

    Returns (id, n_tokens, seq_id, seq_offset): the sequence each doc
    STARTS in and its token offset there. A doc straddling a boundary
    continues into the next sequence — the per-sequence slice step is a
    downstream explode over ``(seq_offset + n_tokens) // budget`` spans.
    Token count defaults to whitespace tokens of ``text_col``; pass
    ``token_col`` to reuse a precomputed count. All arithmetic is exact
    integer (DIV/%), so any engine reproduces it bit-for-bit.
    """
    tok = (F.col(token_col) if token_col
           else F.size(F.split(F.col(text_col), " ")))
    base = df.select(F.col(id_col), tok.cast("bigint").alias("n_tokens"))
    cum = global_prefix_sum(base, "n_tokens", id_col, n_buckets)
    return cum.select(
        id_col, "n_tokens",
        F.expr(f"_cum_before DIV {budget}").alias("seq_id"),
        (F.col("_cum_before") % budget).alias("seq_offset"))


def bin_pack_documents(df: DataFrame, budget: int = 2048,
                       text_col: str = "text", id_col: str = "doc_id",
                       token_col: str | None = None,
                       order_col: str | None = None,
                       n_buckets: int | None = None) -> DataFrame:
    """Whole-document bin packing: assign each document intact to a
    ``budget``-token training bin — the no-split sibling of
    ``pack_sequences`` for SFT/instruction corpora where cutting a
    document mid-example destroys the label structure.

    Semantics are contiguous-fill with overflow ("noisy packing", the
    shape T5-style pipelines actually ship): documents are laid out in a
    deterministic order (``order_col``, default seeded ``md5(id)`` so
    long docs don't cluster) and a doc goes to the bin in which it
    STARTS — so a bin holds at most ``budget + max_doc − 1`` tokens and
    at least ``budget − max_doc + 1``. Strict first-fit-decreasing is a
    sequential recurrence (bin k's contents depend on every earlier
    decision) that fundamentally doesn't distribute; the overflow
    variant is one exclusive prefix sum, fully parallel, and its waste
    bound is the max-doc fraction — cap document length upstream
    (``chunk_documents``) when that bound matters.

    Returns (id, n_tokens, bin_id, bin_offset). Exact integer DIV/%, so
    the oracle reproduces every assignment. Scale shape: inherits
    ``global_prefix_sum``'s quantile-bucketed window — no
    single-partition pass over data.
    """
    tok = (F.col(token_col) if token_col
           else F.size(F.split(F.col(text_col), " ")))
    base = df.select(F.col(id_col), tok.cast("bigint").alias("n_tokens"))
    bounds_mode = "quantile"
    if order_col is None:
        # numeric order key (global_prefix_sum range-buckets it; strings
        # can't be bucketed): top 60 bits of md5(id). Uniqueness holds to
        # ~2^30 docs (birthday bound); beyond that pass an explicit
        # unique order_col. md5 keys are hash-uniform over a KNOWN
        # domain ([0, 16^15)), so equal-width bounds over the domain
        # are as balanced as sampled quantiles and need no data pass
        # (r15: the previous min/max aggregate was a full column scan
        # per call whose values could not change the output).
        base = base.withColumn("_ord", F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 15),
            16, 10).cast("bigint"))
        order_col = "_ord"
        bounds_mode = "md5domain"
    cum = global_prefix_sum(base, "n_tokens", order_col, n_buckets,
                            bounds_mode=bounds_mode)
    return cum.select(
        id_col, "n_tokens",
        F.expr(f"_cum_before DIV {budget}").alias("bin_id"),
        (F.col("_cum_before") % budget).alias("bin_offset"))


def length_bucket_batches(df: DataFrame, batch_size: int = 8,
                          text_col: str = "text", id_col: str = "doc_id",
                          token_col: str | None = None,
                          seed: str | int = 0,
                          min_bucket: int = 5) -> DataFrame:
    """Length-bucketed batching: group sequences of SIMILAR length into
    fixed-size batches so per-batch padding (to the batch max) is cheap —
    the standard dynamic-padding trainer layout (a random batch of one
    4,000-token doc and seven 40-token docs pads 7×3,960 wasted slots;
    a same-bucket batch pads almost nothing).

    Buckets are powers of two: ``bucket = max(min_bucket, ceil(log2 n))``
    so lengths in (2^(b-1), 2^b] share a bucket (≤2× intra-bucket spread
    → padding waste < 50% worst-case, ~25% typical; everything ≤
    2^min_bucket pools in the floor bucket, where padding is cheap in
    absolute terms anyway). Within a bucket,
    rows take deterministic ``md5(seed‖id)`` order — reproducible AND a
    uniform shuffle, so batches are i.i.d. within their length class —
    then ``batch_id = (rank−1) DIV batch_size``, ``pos = (rank−1) %
    batch_size``. The trailing ragged batch per bucket is kept (drop or
    re-mix downstream if the trainer needs full batches only).

    Returns (id, n_tokens, bucket, batch_id, pos) with ``batch_id``
    globally unique (bucket-prefixed). Exact integer arithmetic end to
    end — the oracle reproduces every assignment.

    Scale shape: ONE shuffle keyed by bucket for the in-bucket rank.
    Bucket count is ~log2(max_len) so buckets are few and fat; md5
    ordering spreads each bucket's window-sort across its partition
    evenly, and the rank window is the same shape seeded_shuffle already
    runs at corpus scale. No Python, no driver state.
    """
    # r14: parsed projections (py4j round-trip economy, see fragments)
    qid = sql_ident(id_col)
    tok = (sql_ident(token_col) if token_col
           else f"size(split({sql_ident(text_col)}, ' '))")
    # ceil(log2 n) EXACTLY as length(bin(n-1)) for n ≥ 2 — a float
    # log2/ceil would hang the answer on a libm ulp at exact powers of 2
    bucket = (f"greatest({int(min_bucket)}, CASE WHEN n_tokens <= 1 THEN 0 "
              "ELSE CAST(length(bin(n_tokens - 1)) AS INT) END)")
    hk = (f"md5(concat({sql_str(f'{seed}:')}, CAST({qid} AS STRING)))")
    w = W.partitionBy("bucket").orderBy(F.col("_hk"), F.col(id_col))
    ranked = (df.selectExpr(qid, f"CAST({tok} AS BIGINT) AS n_tokens")
              .selectExpr("*", f"{bucket} AS bucket", f"{hk} AS _hk")
              .withColumn("_rn", F.row_number().over(w).cast("bigint")))
    return ranked.selectExpr(
        qid, "n_tokens", "bucket",
        "CAST(bucket AS BIGINT) * 1000000000 "
        f"+ ((_rn - 1) DIV {int(batch_size)}) AS batch_id",
        f"(_rn - 1) % {int(batch_size)} AS pos")
