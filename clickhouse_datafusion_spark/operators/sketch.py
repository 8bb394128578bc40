"""Distributed probabilistic-membership and frequency sketches.

Two sketches a 100 TB ingestion pipeline leans on constantly:

- **Bloom filter** — the membership pre-filter in front of exact
  incremental dedup (`operators/dedup.py::incremental_dedup`). A
  billion-key seen-set at 10 bits/key is a ~1.2 GB bitmap: broadcastable
  at the high end, else a word-indexed join. The contract that makes the
  composition safe is *no false negatives*: any key the filter reports
  absent is definitely new and skips the expensive exact anti-join; only
  the (tunably small) maybe-present fraction pays the full check.
- **Count-min sketch** — sublinear frequency estimation (Cormode &
  Muthukrishnan 2005). The exact token-frequency table over a trillion
  tokens is itself web-scale; the CMS is a fixed ``depth × width``
  integer grid built with ONE map-side-combined aggregate whose output
  size is independent of corpus size. Estimates only ever overestimate
  (``est >= exact``), which is the right direction for stop-shingle /
  hot-key guards (`dedup.ngram_jaccard_pairs`'s ``max_shingle_freq``,
  `drop_cross_doc_spans`' skew cap).

Both use an md5-derived 60-bit hash family (the same family the d3/d4
correctness gates pin, dedup.py:129-143): every position and counter is
deterministic integer arithmetic both Spark and DuckDB reproduce
bit-for-bit, so the driver gate compares full sketch semantics — not
just row counts — against an independent SQL oracle.

Scale shape:

- build = projection (k positions / depth rows per key) + ONE aggregate
  keyed by (word) / (row, col) — uniformly distributed by construction,
  map-side combine caps the shuffle at the sketch size per mapper;
- probe = broadcast join against the sketch (bits are the small side by
  design); the only per-key work is k integer hashes.

No per-row Python anywhere; everything is codegen-friendly column
arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickhouse_datafusion_spark.fragments import sql_ident


def _h60(col):
    """Non-negative 60-bit integer hash (first 15 hex chars of md5).

    Matches DuckDB's ``('0x' || substring(md5(x), 1, 15))::BIGINT`` —
    the oracle-expressible family shared with the MinHash/SimHash gates.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _h60_sql(expr: str) -> str:
    """Parsed-SQL twin of :func:`_h60` (r15: py4j round-trip economy,
    see fragments — the sketch builders are called once per batch
    in an ingestion pipeline, and their Column-API chains cost ~200-400
    round trips per plan build; the fragments parse to the identical
    Catalyst tree)."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def _positions_sql(key_expr: str, n_hashes: int, n_bits: int) -> str:
    """array<bigint> of ``n_hashes`` bit positions in [0, n_bits) for a
    string key expression. Hash i salts the key with ``i:`` —
    independent-enough functions from one base hash, and trivially
    portable SQL. The lambda variable is a name that occurs nowhere in
    ``key_expr`` (case-insensitively, like Spark's resolver), so it
    cannot shadow a column the key references (a key column named
    ``i``)."""
    v = "i"
    while v in key_expr.lower():
        v += "_"
    h = _h60_sql(f"concat(CAST({v} AS STRING), ':', {key_expr})")
    return (f"transform(sequence(0, {n_hashes - 1}), "
            f"{v} -> pmod({h}, {n_bits}))")


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------

def bloom_build(df: DataFrame, key_col: str = "h",
                n_bits: int = 1 << 20, n_hashes: int = 7) -> DataFrame:
    """Build a Bloom filter over a string key column.

    Returns the sparse word table (word: bigint, bits: bigint) — word w
    holds bits [63w, 63w+62] of the filter (63-bit blocks: the top bit
    of a signed 64-bit word is never used, so ``1 << bit`` stays
    positive in every engine — DuckDB raises on a shift into the sign
    bit); absent words are all-zero.
    ``n_bits/n_hashes`` follow the standard fp-rate calculus
    (k = m/n · ln 2; fp ≈ (1 − e^{−kn/m})^k).

    One shuffle, keyed by the word index (≤ n_bits/63 distinct keys,
    uniform); only (word, 64-bit block) pairs move, never keys.
    """
    # r15: parsed fragments — same tree, ~10 round trips instead of ~150
    pos = df.selectExpr(
        f"explode({_positions_sql(sql_ident(key_col), n_hashes, n_bits)})"
        " AS p")
    return (pos.selectExpr("FLOOR(p / 63) AS word",
                           "CAST(pmod(p, 63) AS INT) AS bit")
            .selectExpr("word", "shiftleft(CAST(1 AS BIGINT), bit) AS bv")
            .groupBy("word").agg(F.bit_or("bv").alias("bits")))


def bloom_probe(df: DataFrame, bloom: DataFrame, key_col: str = "h",
                id_col: str = "doc_id", n_bits: int = 1 << 20,
                n_hashes: int = 7,
                out_col: str = "might_contain") -> DataFrame:
    """(id, might_contain) for every row of ``df``.

    ``might_contain = 0`` is definitive (no false negatives);
    ``1`` means present-or-false-positive. The bloom side is broadcast —
    it is ≤ n_bits/63 rows by construction.

    Duplicate positions within one key's ``n_hashes`` probes are
    deduplicated (``array_distinct``) so the hit count is compared
    against the number of *distinct* bits the key needs set.

    Single pass — expand positions, LEFT-join the (broadcast) word
    table, aggregate conditional hits per key. No join-back of two
    branches derived from the same parent (that shape trips Catalyst's
    self-join attribute dedup), and every key keeps ≥1 expanded row so
    none are lost by the aggregate.
    """
    qid = sql_ident(id_col)
    expanded = (df.selectExpr(
        qid,
        f"array_distinct({_positions_sql(sql_ident(key_col), n_hashes, n_bits)})"
        " AS pd")
        .selectExpr(qid, "size(pd) AS n", "explode(pd) AS p")
        .selectExpr(qid, "n",
                    "FLOOR(p / 63) AS word",
                    "CAST(pmod(p, 63) AS INT) AS bit"))
    marked = expanded.join(F.broadcast(bloom), "word", "left").selectExpr(
        qid, "n",
        "CASE WHEN coalesce((bits & shiftleft(CAST(1 AS BIGINT), bit))"
        " != 0, false) THEN 1 ELSE 0 END AS hit")
    return (marked.groupBy(id_col, "n")
            .agg(F.sum("hit").alias("hits"))
            .selectExpr(qid,
                        f"CAST(CASE WHEN hits = n THEN 1 ELSE 0 END AS INT)"
                        f" AS {sql_ident(out_col)}"))


def bloom_prefilter(new_df: DataFrame, bloom: DataFrame,
                    key_col: str = "h", id_col: str = "doc_id",
                    n_bits: int = 1 << 20, n_hashes: int = 7
                    ) -> tuple[DataFrame, DataFrame]:
    """Split a new batch into (definitely_new, needs_exact_check) using a
    seen-set Bloom filter — the membership pre-filter that makes
    :func:`~clickhouse_datafusion_spark.operators.dedup.incremental_dedup`
    cheap when the seen side is billions of hashes: only the maybe-seen
    fraction (true dups + fp_rate of the rest) reaches the exact
    anti-join; everything else never shuffles against the seen relation.

    No-false-negatives makes the split lossless: definitely_new rows are
    provably absent from the seen set.
    """
    flagged = bloom_probe(new_df, bloom, key_col, id_col,
                          n_bits, n_hashes)
    joined = new_df.join(flagged, id_col)
    definitely_new = joined.filter(F.col("might_contain") == 0) \
        .drop("might_contain")
    needs_check = joined.filter(F.col("might_contain") == 1) \
        .drop("might_contain")
    return definitely_new, needs_check


# ---------------------------------------------------------------------------
# HyperLogLog mergeable distinct sketches
# ---------------------------------------------------------------------------

def hll_distinct_sketches(df: DataFrame, key_col: str,
                          group_cols: list[str],
                          lgk: int = 14) -> DataFrame:
    """Per-group HLL distinct-count sketches (Apache DataSketches via
    Spark's ``hll_sketch_agg`` — JVM-side, mergeable, ~1.6%/sqrt(2^lgk/12)
    relative error; lgk=14 → ~0.8%).

    The 100 TB pattern this enables: compute sketches ONCE per ingest
    partition (day, shard, source) and answer any coarser distinct-count
    question later by MERGING kilobyte sketches (:func:`hll_rollup`) —
    never re-scanning the corpus. Exact COUNT(DISTINCT) over a rolling
    window re-shuffles the raw keys every time; sketch rollup shuffles
    ~2^lgk bytes per group.
    """
    return (df.groupBy(*group_cols)
            .agg(F.hll_sketch_agg(key_col, F.lit(lgk)).alias("hll")))


def hll_rollup(sketches: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge per-fine-group sketches up to ``group_cols`` and estimate:
    (group_cols..., est_distinct). Union of HLL registers is lossless
    with respect to the sketch state — merging hourly sketches gives the
    same registers as sketching the day directly."""
    return (sketches.groupBy(*group_cols)
            .agg(F.hll_sketch_estimate(F.hll_union_agg("hll"))
                 .cast("bigint").alias("est_distinct")))


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------

def cms_build(df: DataFrame, token_col: str = "tok", depth: int = 4,
              width: int = 1 << 14) -> DataFrame:
    """Count-min sketch over a token column: (r, c, cnt) with
    r ∈ [0, depth), c = H_r(token) mod width.

    ONE aggregate keyed by (r, c) — at most depth×width distinct keys, so
    map-side combine bounds every mapper's output at the sketch size and
    the final result is constant-size regardless of corpus size. This is
    the point: the exact frequency table over 10¹² tokens is itself huge;
    the sketch never is.
    """
    from clickhouse_datafusion_spark.operators.dedup import _ensure_parallelism

    # r15: widen the token stream before the depth-way expansion — the
    # build is depth x one md5 per token, the module's densest kernel,
    # and a single-split scan ran it in ONE task (stage ledger: 2.3 s
    # CPU single-threaded at sf0.1). groupBy(r,c) partial-aggregates to
    # sketch size per partition, so the widen adds no shuffle growth;
    # at real scale the scan has enough splits and this is a no-op.
    df = _ensure_parallelism(df)
    # parsed fragments — same tree, a handful of round trips
    expanded = df.selectExpr(
        f"{sql_ident(token_col)} AS tok",
        f"explode(sequence(0, {depth - 1})) AS r")
    h = _h60_sql("concat(CAST(r AS STRING), ':', tok)")
    return (expanded.selectExpr("r", f"pmod({h}, {width}) AS c")
            .groupBy("r", "c").agg(F.count("*").cast("bigint").alias("cnt")))


def cms_estimate(tokens: DataFrame, sketch: DataFrame,
                 token_col: str = "tok", depth: int = 4,
                 width: int = 1 << 14) -> DataFrame:
    """(token, est_count) for each distinct probe token: min over the
    depth rows of the addressed counters (absent counter = 0).

    Classic CMS guarantee: est ≥ exact always; est ≤ exact + εN with
    probability 1−δ for width = e/ε, depth = ln 1/δ. The sketch is
    broadcast (constant-size by construction).
    """
    probe = tokens.selectExpr(f"{sql_ident(token_col)} AS tok").distinct()
    h = _h60_sql("concat(CAST(r AS STRING), ':', tok)")
    addressed = (probe.selectExpr(
        "tok", f"explode(sequence(0, {depth - 1})) AS r")
        .selectExpr("tok", "r", f"pmod({h}, {width}) AS c"))
    # LOSSLESS single-key fold of (r, c) — r*width + c is a bijection
    # on the sketch's address space, so the probe rides the
    # LongHashedRelation fast path (BASELINE.md r13) with EXACT
    # semantics, no collision term at all
    cell = f"CAST(r AS BIGINT) * {width} + c AS _cell"
    sk1 = sketch.selectExpr(cell, "cnt")
    return (addressed.selectExpr("tok", cell)
            .join(F.broadcast(sk1), "_cell", "left")
            .groupBy("tok")
            .agg(F.expr("CAST(min(coalesce(cnt, 0)) AS BIGINT)")
                 .alias("est_count")))
