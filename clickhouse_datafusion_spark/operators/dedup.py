"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of this module is 100 TB, not 500 rows):

- **exact**: hash-groupBy on a 64-bit content hash. One shuffle keyed by the
  hash — uniformly distributed, skew-free by construction. Never shuffles the
  document body: only (hash, doc_id) pairs move.
- **MinHash+LSH**: per-row signature computation is a pure projection
  (codegen, no Python); banding explodes each doc into ``n_bands`` rows and
  groups by (band, band-signature). Candidate verification compares full
  signatures only within buckets. Network traffic is O(rows × bands × 8 B),
  independent of document size.
- **SimHash**: 64-bit signature via bit-majority of word hashes — again a
  pure projection; near-dup = signatures equal in all but ≤ k bits, found by
  grouping on ``n_tables`` masked sub-signatures (same banding trick).
- **n-gram Jaccard**: exact pairwise similarity — O(pairs); used as the
  *verifier* behind LSH candidates, or standalone at small scale. The
  shingle→doc join is the shuffle; shingle frequency skew is the risk, so
  ``max_shingle_freq`` drops stop-shingles (a standard skew guard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from clickhouse_datafusion_spark.fragments import sql_ident, sql_str

# Compressed scan bytes per task for each widen (plans.explain.width).
# Measured at sf0.1 and the 500k-doc corpus (BASELINE.md r14/r15).
WIDEN_BYTES_PER_TASK = 128 << 10        # CPU-heavy signature kernels
WIDEN_BYTES_PER_TASK_LIGHT = 256 << 10  # cheap streaming projections
SPAN_BYTES_PER_TASK = 16 << 10          # d8 gram stream (~4x per byte)
PARAGRAPH_BYTES_PER_TASK = 32 << 10     # d10 meta shape
# d10 takes the meta shape at or above this scan size
PARAGRAPH_META_SHAPE_MIN_BYTES = 8 << 20


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_groups(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content: (content hash, keeper id, copy count).

    Uses md5 (oracle-matchable); swap for xxhash64 at production scale.
    """
    return (df.select(F.md5(F.col(text_col)).alias("h"), F.col(id_col))
            .groupBy("h")
            .agg(F.min(id_col).alias("keep_id"),
                 F.count("*").alias("n_copies")))


def drop_exact_dups(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Keep the minimum-id row per distinct content."""
    w = W.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def incremental_dedup(new_df: DataFrame, seen_df: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      seen_text_col: str | None = None) -> DataFrame:
    """Snapshot-incremental dedup: drop rows of ``new_df`` whose content
    already exists in a previously-ingested corpus ``seen_df``, then drop
    within-batch copies (keep min id) — the every-crawl ingestion pass of
    a continuously-updated training corpus.

    ``seen_df`` may be the raw prior corpus (hashed here) or a
    pre-computed 1-column hash relation named ``h`` — pass
    ``seen_text_col=None`` with an ``h`` column for the latter (at 100 TB
    you persist the hash set once, not re-hash history every batch).

    Scale shape: the anti-join shuffles only (hash) vs (hash, id) pairs,
    both uniformly distributed. When the seen side is billions of hashes,
    the hash relation is still ~8–16 B/row — a shuffle anti-join keyed by
    the hash; Spark's AQE can also inject a bloom pre-filter
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``) so most new rows
    never reach the shuffle.
    """
    if seen_text_col is None and "h" in seen_df.columns:
        seen = seen_df.select("h")
    else:
        seen = seen_df.select(
            F.md5(F.col(seen_text_col or text_col)).alias("h"))
    hashed = new_df.withColumn("h", F.md5(F.col(text_col)))
    fresh = hashed.join(seen.distinct(), "h", "left_anti")
    w = W.partitionBy("h").orderBy(id_col)
    return (fresh.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn", "h"))


# ---------------------------------------------------------------------------
# shingles
# ---------------------------------------------------------------------------

def bind_once(col, f):
    """Evaluate ``col`` ONCE per row and pass the result to ``f`` as a
    higher-order-function lambda variable.

    PySpark builds expression TREES by value: an expensive subtree (e.g.
    ``split(text)``) referenced k times — worse, referenced inside a HOF
    lambda that runs per element — is re-evaluated at every reference;
    Catalyst's subexpression elimination does not reach across lambda
    boundaries. Binding through a 1-element array + ``transform`` makes
    every inner reference a ``NamedLambdaVariable`` — a guaranteed single
    evaluation. Measured on 500k-doc gram construction (r6): 13.8 s →
    1.8 s for identical output; the effect GROWS with text length, so at
    100 TB this is the difference between one split per doc and one
    split per gram×word."""
    return F.element_at(F.transform(F.array(col), f), 1)


def word_ngrams(col, n: int = 3):
    """Distinct word n-grams of a text column (array<string>).

    Guarded for short texts: Spark's ``sequence(1, 0)`` counts *down*, so a
    doc with fewer than n words must short-circuit to an empty array.
    The split is bound once per row (see :func:`bind_once`) — it is
    referenced n+2 times below, and inside the per-gram lambda.

    r14: a STRING column name takes the parsed-SQL path — one py4j round
    trip instead of ~40 Column-API calls per use (same Catalyst tree; the
    ``i + 0`` term is kept so the parse matches the Column form exactly).
    """
    if isinstance(col, str):
        terms = ", ".join(f"element_at(ws, i + {k})" for k in range(n))
        g = (f"transform(sequence(1, size(ws) - {n - 1}), "
             f"i -> concat_ws(' ', {terms}))")
        body = (f"CASE WHEN size(ws) >= {n} THEN array_distinct({g}) "
                "ELSE CAST(array() AS ARRAY<STRING>) END")
        return F.expr(
            f"element_at(transform(array(split({sql_ident(col)}, ' ')), "
            f"ws -> {body}), 1)")

    def grams(ws):
        g = F.transform(
            F.sequence(F.lit(1), F.size(ws) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(ws, i + k) for k in range(n)]))
        return F.when(F.size(ws) >= n, F.array_distinct(g)) \
            .otherwise(F.array().cast("array<string>"))

    return bind_once(F.split(col, " "), grams)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# Multiply-shift hash family over a 31-bit base hash: h_i = (a_i·h + b_i)
# mod p. Parameters are fixed odd constants (deterministic across runs);
# ranges keep every product < 2^52, so ANSI-mode bigint arithmetic never
# overflows.
_MH_P = 2_147_483_647  # 2^31 - 1


def _mh_params(n_hashes: int) -> list[tuple[int, int]]:
    params = []
    a, b = 1_103_515_245, 12_345
    for _ in range(n_hashes):
        params.append((a % 1_048_573 | 1, b % _MH_P))
        a = (a * 69_069 + 1) % (1 << 31)
        b = (b * 1_103_515_245 + 12_345) % (1 << 31)
    return params


def gram_hashes(col, ngram: int = 3, family: str = "xx"):
    """31-bit hash per distinct word n-gram (computed ONCE per row — the
    expensive string hashing must not be repeated per hash function).

    ``family`` picks the base hash:

    - ``"xx"`` (production default): ``pmod(xxhash64(gram), 2^31-1)`` —
      one JVM hash per gram, the fastest option, but Spark-specific.
    - ``"md5"`` (oracle-expressible): first 8 hex chars of md5 parsed as an
      unsigned 32-bit value, mod 2^31-1. Both engines have md5, so DuckDB
      reproduces it bit-for-bit as
      ``('0x' || substring(md5(g), 1, 8))::BIGINT % 2147483647`` — the
      correctness gate pins this family while production keeps xxhash64.
    """
    if family == "md5":
        h = lambda g: F.pmod(  # noqa: E731
            F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("bigint"),
            F.lit(_MH_P))
    else:
        h = lambda g: F.pmod(F.xxhash64(g), F.lit(_MH_P))  # noqa: E731
    return F.transform(word_ngrams(col, ngram), h)


def _sig_from_gram_hashes(gh_col, n_hashes: int):
    """Signature slots over an already-materialized gram-hash column."""
    def fam(a: int, b: int):
        # single-parameter lambda (PySpark reads 2-arg lambdas as
        # (element, index)); constants closed over
        return lambda h: F.pmod(h * a + b, F.lit(_MH_P))

    return F.array(*[F.array_min(F.transform(gh_col, fam(a, b)))
                     for a, b in _mh_params(n_hashes)])


def minhash_signature(col, n_hashes: int = 32, ngram: int = 3,
                      gram_hash: str = "xx"):
    """array<bigint> MinHash signature over word n-grams.

    One xxhash64 per gram, then an arithmetic multiply-shift family per
    signature slot — integer-only inner loops (an early version re-hashed
    `concat(gram, '#', i)` per slot: 32× the string work, ~100× slower on
    5k docs).

    NOTE: inlines the gram-hash array into each of the ``n_hashes`` slots —
    HOF lambdas sit outside codegen subexpression elimination, so when the
    signature feeds further plan nodes prefer the two-projection shape used
    in :func:`minhash_candidates` (materialize ``gram_hashes`` first).
    """
    return _sig_from_gram_hashes(gram_hashes(col, ngram, gram_hash), n_hashes)


def _ensure_parallelism(df: DataFrame, cpu_heavy: bool = True,
                        by: str | None = None) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the input
    arrives in fewer partitions (e.g. one small parquet file). Signature
    computation is CPU-bound; without this it runs in a single task. At
    real scale the scan already has ≥ defaultParallelism splits and this
    is a no-op — no shuffle is added.

    The partition probe is a file-split ESTIMATE (plans.explain), not
    ``df.rdd.getNumPartitions()`` — the RDD conversion re-plans the query,
    a measurable cost on wide plans. Non-file-backed inputs (in-memory
    test corpora) conservatively repartition.

    Threshold (r7, measured at the 500k-doc corpus, 15 scan splits on 32
    cores): the round-robin shuffle moves the FULL text payload, so it
    only pays when per-row compute dwarfs the move. ``cpu_heavy=True``
    (default — minhash/simhash signature kernels: repartition cut d3
    10.5 s → 7.7 s) widens whenever splits < target. ``cpu_heavy=False``
    (cheap streaming projections like the LM scorer: the same shuffle
    COST t11 ~1.4 s net) widens only below target/4 — the 1-2-split
    small-file pathology (t11: 13 s single-split vs 1.5 s at sf1x)
    stays caught either way.

    WIDTH is scale-adaptive (r14, guide §2: derive partitioning from
    input size, not a constant): widening a sub-MB corpus to the full
    core count buys nothing and pays ~30 per-task overheads per stage —
    measured at sf0.1 (0.57 MB compressed), width 32 → 2-4 is t11
    −55%, t11b −45%, d3 −35%, while width 1 re-creates the single-task
    pathology for the md5-heavy kernels (d3 2.4 s). So the target is
    ``ceil(scan_bytes / chunk)`` clamped to [2, defaultParallelism],
    with chunk = 128 KiB (cpu_heavy) / 256 KiB (cheap projections) of
    COMPRESSED input per task — sized so any corpus ≥ ~4/8 MB (every
    at-scale measurement in BASELINE.md: the 100× corpus is 59 MB)
    saturates the core count and behaves exactly as before. The chunks
    are :data:`WIDEN_BYTES_PER_TASK` / :data:`WIDEN_BYTES_PER_TASK_LIGHT`;
    the width rule itself is :func:`plans.explain.width`.

    ``by`` (r15): when the caller's downstream reduce is keyed by a
    column, widen with a HASH repartition on that column instead of
    round-robin — the same bytes move (one exchange either way), but
    the downstream keyed aggregate's ENSURE_REQUIREMENTS exchange (and
    its serial AQE wave) disappears because Project/Generate/broadcast
    joins propagate the partitioning (the d8-reshape mechanism). Only
    the tiny-input regime changes — at real scale the scan has enough
    splits, this function is a no-op, and the downstream exchange
    exists exactly as before. Bonus: the keyed form skips the
    ``sortBeforeRepartition`` local sort round-robin pays for retry
    determinism (guide §2.5) — hash routing is deterministic per row.
    """
    from clickhouse_datafusion_spark.plans.explain import (
        _packed_splits, _scan_file_sizes, width)

    target = df.sparkSession.sparkContext.defaultParallelism
    sizes = _scan_file_sizes(df)
    est = None if sizes is None else _packed_splits(df.sparkSession, sizes)
    floor = target if cpu_heavy else max(1, target // 4)
    if est is not None and est >= floor:
        return df
    chunk = WIDEN_BYTES_PER_TASK if cpu_heavy else WIDEN_BYTES_PER_TASK_LIGHT
    w = max(width(df, chunk, target, sizes), est or 1)
    if by is not None:
        return df.repartition(w, F.col(by))
    return df.repartition(w)


def _shuffle_cap(spark) -> int:
    """Width cap of the doc-stream repartitions: the wider of
    defaultParallelism and ``spark.sql.shuffle.partitions``, i.e. the
    width the implicit exchange they replace would have had."""
    sc = spark.sparkContext
    return max(sc.defaultParallelism,
               int(spark.conf.get("spark.sql.shuffle.partitions",
                                  str(sc.defaultParallelism))))


def _repartition_docs_by_id(df: DataFrame, id_col: str) -> DataFrame:
    """Hash-repartition the DOCUMENT stream by its id so that the
    token-level window/aggregate stages downstream inherit the
    partitioning and need no exchange of their own (r15, d8 reshape).

    Why this beats the implicit exchange Spark would otherwise insert:
    the posexplode/LEAD-window chain requires ClusteredDistribution(id),
    and EnsureRequirements satisfies it by shuffling the EXPLODED token
    stream — (id, wpos, word) rows, 2-4x the bytes of the text they came
    from, written by however many splits the scan happened to produce
    (ONE at sf0.1 — a serial producer), then AQE-coalesced by SIZE
    (~1 MB targets) into a handful of reduce partitions even though the
    consumer is the module's most CPU-dense kernel (20-word gram
    assembly + md5 per position: stage ledger r15, 7.8 s CPU in 4 tasks
    at sf0.1). Repartitioning the compact doc rows instead moves the
    text ONCE, lets Project/Generate propagate the hash partitioning
    through alias and explode (verified: the window plans with zero
    additional Exchange), and pins a width derived from input size —
    not whatever the scan layout or a bytes-first coalesce happened to
    leave (guide §2.2/§2.4: shuffle fewer bytes, remove shuffles
    outright; §2 scale-adaptive partitioning).

    Width: ``ceil(scan_bytes / chunk)`` clamped to [2, cap] with
    cap = max(defaultParallelism, spark.sql.shuffle.partitions) — at
    real scale the clamp saturates to exactly the width the implicit
    exchange would have had, so the reshape only ever removes bytes and
    a serial stage, never parallelism. The chunk (16 KiB of
    compressed input per task) is deliberately smaller than
    ``_ensure_parallelism``'s 128 KiB: this feeds a kernel ~4x heavier
    per byte (measured width sweep at sf0.1: 32 tasks 0.27 s vs 4 tasks
    0.49 s for the gram stream): :data:`SPAN_BYTES_PER_TASK`."""
    from clickhouse_datafusion_spark.plans.explain import width

    w = width(df, SPAN_BYTES_PER_TASK, _shuffle_cap(df.sparkSession))
    return df.repartition(w, F.col(id_col))


def _bucket_pairs(banded: DataFrame, payload_cols: list[str]) -> DataFrame:
    """(id, <payload...>, bk) → intra-bucket pairs (id_a < id_b),
    POSSIBLY DUPLICATED — a pair sharing several buckets/tables appears
    once per shared bucket. Callers project their per-pair scalar score
    and ``.distinct()`` it: deduping AFTER the array payloads are dropped
    is a scalar HashAggregate, whereas deduping here forced a
    SortAggregate carrying full signature arrays (first(sig_a/sig_b))
    through an extra sort+shuffle — the dominant d3 stage in the r4 plan
    audit.

    groupBy(bk) + collect_list + in-bucket pair expansion instead of a
    bucket self-join: the upstream (expensive signature projection) is
    evaluated ONCE, and the single shuffle is keyed by the bucket hash —
    uniformly distributed. A self-join evaluates the signature pipeline
    on both sides and, when the input is one partition and the planner
    broadcasts, runs entirely in one task (measured 10.4 s → 3.4 s on
    5k docs for MinHash).
    """
    buckets = (banded.groupBy("bk")
               .agg(F.collect_list(F.struct("id", *payload_cols)).alias("docs"))
               .filter(F.size("docs") > 1))
    # docs is read inside the pair lambda (slice per position), so the
    # array_sort re-runs once per bucket element — deliberately NOT
    # bind_once'd: buckets are banding-bounded small (the re-sort is
    # O(d² log d) on d≈2-10, noise next to the shuffle), so there is
    # nothing to win, and keeping the explode source a plain expression
    # leaves Generate free to consume it directly.
    #
    # r14: the pair expansion is ONE parsed expression instead of nested
    # Column-API lambdas — the Column form cost ~80 py4j round trips per
    # plan build (~25 ms on a warm driver), the parsed form 2. Identical
    # Catalyst tree after parsing.
    docs = "array_sort(docs)"
    fields = ", ".join(
        ["x.id AS id_a", "y.id AS id_b"]
        + [f"{v}.{p} AS {p}_{s}" for p in payload_cols
           for v, s in (("x", "a"), ("y", "b"))])
    pair = (f"explode(flatten(transform({docs}, (x, i) -> "
            f"transform(slice({docs}, i + 2, size({docs})), "
            f"y -> struct({fields}))))) AS p")
    out_cols = ["p.id_a", "p.id_b"] + [f"p.{p}_{s}" for p in payload_cols
                                       for s in ("a", "b")]
    return (buckets.selectExpr(pair).select(*out_cols)
            .filter(F.col("id_a") < F.col("id_b")))


def minhash_candidates(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n_hashes: int = 32,
                       bands: int = 8, ngram: int = 3,
                       threshold: float = 0.5,
                       gram_hash: str = "xx") -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding, scored by estimated
    Jaccard (fraction of agreeing MinHashes), filtered at ``threshold``.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b.

    Plan shape (measured 27 s → ~3.4 s on 5k docs, same output):

    - gram hashes materialized in their OWN projection, so the 32 slot
      expressions reference a computed column instead of inlining the
      split→ngram→xxhash pipeline 32× (CollapseProject keeps the
      projection because the alias is referenced many times);
    - the band key is ``xxhash64(band, slice(sig, ...))`` — a single
      BIGINT — rather than a struct carrying an array: cheap shuffle
      hashing and comparison. A 64-bit collision only creates a spurious
      *candidate*, which the est-Jaccard filter then scores honestly —
      correctness is unaffected;
    - pairs come from intra-bucket expansion after one groupBy shuffle
      (see :func:`_bucket_pairs`), not a self-join that would evaluate
      the signature pipeline twice.
    """
    rows_per_band = n_hashes // bands
    # Sub-n-gram docs (empty gram array → all-NULL signature) can never pass
    # a positive threshold, but they'd all share every band bucket — at web
    # scale that's one gigantic junk bucket per band expanding quadratically.
    # Dropping them up front changes no output and caps the hazard. The
    # predicate MUST be the cheap word-count equivalent, not
    # ``size(gh) > 0``: predicate pushdown substitutes the filtered alias,
    # so a filter on ``gh`` clones the whole gram+md5 pipeline into a
    # Filter BELOW the repartition exchange — evaluated once per row in
    # the scan's (single) partition. Measured on d3 at sf0.1: 4.1 s → 1.1 s
    # for the identical output when the filter became scan-cheap.
    # r7: explode-and-aggregate, zero HOFs in the hot path.
    # Spark HOF lambdas are CodegenFallback — interpreted per element
    # — so the r6 per-row form (32 × array_min(transform(gh, ...)))
    # paid 32 interpreted passes over every gram array. Instead the
    # gram positions come from arrays_zip of the split with its own
    # tails (whole-stage codegen, like the t9/t11 pair extraction),
    # and ONE groupBy(id) computes all 32 slot minima: duplicates
    # cannot change a min, so word_ngrams' array_distinct is
    # unnecessary here. Measured at the 500k-doc corpus: 5.45 →
    # 3.70 s for identical output; neutral at sf0.1 (±0.05 s).
    # Scale shape: the explode keeps gram rows in their doc's
    # partition, so the map-side combine collapses them to one
    # 33-column row per doc before the (tiny) shuffle — no skew
    # hazard (one combiner row per unique id).
    # r14: the dense expression blocks below are parsed SQL strings
    # (selectExpr / F.expr) rather than Column-API chains — the Column
    # form cost ~700 py4j round trips per plan build (~0.25 s warm;
    # the bench pays it every iteration, a production driver every
    # batch), the parsed form ~30. Same Catalyst expressions.
    ws = F.split(F.col(text_col), " ")
    # r15: widen BY the id — the mins aggregate below then needs no
    # exchange of the 33-column partial-min rows (see
    # _ensure_parallelism's ``by``); same text bytes move either way
    base = (_ensure_parallelism(df, by=id_col)
            .filter(F.size(ws) >= ngram)
            .select(F.col(id_col).alias("id"), ws.alias("ws")))
    slices = ["ws AS g0"] + [
        f"slice(ws, {k + 1}, greatest(size(ws) - {k}, 0)) AS g{k}"
        for k in range(1, ngram)]
    # arrays_zip pads the shorter tails with NULL; padding is
    # suffix-aligned, so "last component non-null" keeps exactly the
    # size-ngram+1 real gram positions
    zip_cols = ", ".join(f"g{k}" for k in range(ngram))
    g = (base.selectExpr("id", *slices)
         .selectExpr("id", f"explode(arrays_zip({zip_cols})) AS p")
         .filter(F.col(f"p.g{ngram-1}").isNotNull()))
    gram = "concat_ws(' ', " + ", ".join(
        f"p.g{k}" for k in range(ngram)) + ")"
    if gram_hash == "md5":
        h = (f"pmod(CAST(conv(substring(md5({gram}), 1, 8), 16, 10) "
             f"AS BIGINT), {_MH_P})")
    else:
        h = f"pmod(xxhash64({gram}), {_MH_P})"
    mins = (g.selectExpr("id", f"{h} AS h")
            .groupBy("id")
            .agg(*[F.expr(f"min(pmod(h * {a} + {b}, {_MH_P})) AS m{i}")
                   for i, (a, b) in enumerate(_mh_params(n_hashes))]))
    sig = mins.selectExpr(
        "id",
        f"array({', '.join(f'm{i}' for i in range(n_hashes))}) AS sig")
    banded = sig.selectExpr(
        "id", "sig",
        f"explode(transform(sequence(0, {bands - 1}), "
        f"b -> xxhash64(b, slice(sig, b * {rows_per_band} + 1, "
        f"{rows_per_band})))) AS bk")
    pairs = _bucket_pairs(banded, ["sig"])
    est = ("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), e -> e))"
           " / size(sig_a)")
    # score → filter → distinct: multi-bucket duplicates collapse on three
    # scalars (cheap hash-distinct); the signature arrays never re-shuffle
    return (pairs.selectExpr(
                "id_a", "id_b",
                f"floor(({est}) * 10000 + 0.5D) / 10000.0D AS est_jaccard")
            .filter(F.col("est_jaccard") >= threshold)
            .distinct())


def near_contamination(train_df: DataFrame, eval_df: DataFrame,
                       threshold_permille: int = 500, n_hashes: int = 32,
                       bands: int = 8, ngram: int = 3,
                       gram_hash: str = "xx", text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """NEAR-duplicate train/eval contamination — the paraphrase-level
    upgrade of ``text.contamination_scores`` (exact shingle overlap):
    MinHash est-Jaccard between every training doc and every eval doc
    that shares an LSH band, so lightly-edited benchmark leakage
    (re-wrapped text, dropped sentences) is caught, not just verbatim
    inclusion. Returns (id, eval_id, est_permille) pairs at
    ``est ≥ threshold_permille`` — exact integer permille
    (``matches·1000 DIV n_hashes``) so the gate hashes bit-for-bit.

    Scale shape exploits the asymmetry that eval benchmarks are TINY
    relative to a training corpus: the eval side's banded signatures
    BROADCAST, so the train side — the 100 TB side — is never shuffled
    at all: signatures are a projection, the band join is map-side, and
    the only exchange is the final distinct over (id, eval_id, est)
    scalars, which is bounded by true near-matches, not corpus size.
    (Contrast within-corpus ``minhash_candidates``: bucket-keyed
    shuffle, because neither side fits a broadcast.) For an eval side
    too big to broadcast, fall back to the bucket-join machinery.
    """
    rpb = n_hashes // bands

    def sigs(d: DataFrame, out_id: str) -> DataFrame:
        gh = (d.filter(F.size(F.split(F.col(text_col), " ")) >= ngram)
              .select(F.col(id_col).alias(out_id),
                      gram_hashes(F.col(text_col), ngram,
                                  gram_hash).alias("_gh")))
        return gh.select(out_id, _sig_from_gram_hashes(
            F.col("_gh"), n_hashes).alias("sig"))

    def banded(d: DataFrame, sig_out: str) -> DataFrame:
        return d.select(
            "*",
            F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")) \
            .withColumn("_bsig", F.expr(
                f"slice(sig, band * {rpb} + 1, {rpb})")) \
            .withColumnRenamed("sig", sig_out)

    # fold (band, _bsig) into one bigint bucket key (r13): the train
    # side's probe stream is n_train x bands rows against a broadcast
    # eval set — the multi-key probe tax (BASELINE.md r13) applies to
    # exactly this shape, and band-signature equality already IS the
    # LSH bucket criterion, so the fold's collision term is of the
    # accepted class. xxhash64 hashes the array column directly.
    def bucketed(df):
        return df.withColumn("_bkt", F.xxhash64("band", "_bsig")) \
            .drop("band", "_bsig")

    tr = bucketed(banded(sigs(_ensure_parallelism(train_df), "id"),
                         "sig_t"))
    ev = bucketed(banded(sigs(eval_df, "eval_id"), "sig_e"))
    matches = F.size(F.filter(
        F.zip_with(F.col("sig_t"), F.col("sig_e"), lambda x, y: x == y),
        lambda e: e))
    # IEEE division of exactly-representable small ints is correctly
    # rounded, so floor() here equals integer DIV — matching the oracle
    est = F.floor(matches.cast("bigint") * 1000 / F.lit(n_hashes)) \
        .cast("bigint")
    return (tr.join(F.broadcast(ev), ["_bkt"])
            .select(F.col("id").alias(id_col), "eval_id",
                    est.alias("est_permille"))
            .filter(F.col("est_permille") >= threshold_permille)
            .distinct())


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_col(col, bits: int = 64, word_hash: str = "xx"):
    """SimHash: bit b set iff the b-th bit of word-hashes wins the
    majority vote across words (pure array ops, codegen-friendly).

    Bit positions are Python-side constants (shiftleft/shiftright take
    literal shift amounts), so this expands to a wide but flat expression.

    ``word_hash`` families:

    - ``"xx"`` (production default): 64-bit ``xxhash64`` per word; the
      signature uses the full signed-64 space (two's-complement top bit).
    - ``"md5"`` (oracle-expressible): first 15 hex chars of md5 per word —
      a NON-NEGATIVE 60-bit value, so every derived quantity (signature,
      banding blocks, XOR, bit_count) stays sign-free in both engines
      (DuckDB's ``>>`` is untrustworthy on negatives: ``-8>>1 = -4`` but
      ``-1>>63 = 0``). Callers must pass ``bits=60`` with this family.
    """
    ws = F.split(col, " ")
    if word_hash == "md5":
        assert bits <= 60, "md5 family is a 60-bit hash"
        hashes_of = lambda w: F.conv(  # noqa: E731
            F.substring(F.md5(w), 1, 15), 16, 10).cast("bigint")
    else:
        hashes_of = lambda w: F.xxhash64(w)  # noqa: E731

    def bit_pred(b: int):
        # single-parameter lambda: PySpark treats a 2-arg lambda as
        # (element, index), so the bit position must be closed over.
        return lambda h: F.getbit(h, F.lit(b)) == 1

    # the word-hash array is referenced `bits` times (one majority vote
    # per bit) — bind it once per row or every vote re-splits and
    # re-hashes the whole text (see bind_once)
    def sig_from(hashes):
        n = F.size(hashes)
        sig = F.lit(0).cast("bigint")
        for b in range(bits):
            vote = F.size(F.filter(hashes, bit_pred(b)))
            weight = (1 << b) if b < 63 else -(1 << 63)  # two's-complement top
            sig = sig + F.when(vote * 2 > n, F.lit(weight).cast("bigint")) \
                .otherwise(F.lit(0).cast("bigint"))
        return sig

    return bind_once(F.transform(ws, hashes_of), sig_from)


def simhash_near_dups(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", max_hamming: int = 3,
                      n_tables: int = 4, word_hash: str = "xx") -> DataFrame:
    """Near-dup pairs with Hamming distance ≤ max_hamming between SimHashes.

    Pigeonhole banding: split the signature bits into n_tables blocks; any
    pair within distance < n_tables agrees on ≥1 block → group by block
    value. ``word_hash="md5"`` switches to the oracle-expressible 60-bit
    family (see :func:`simhash_col`) — the correctness gate pins that one.
    """
    bits = 60 if word_hash == "md5" else 64
    block = bits // n_tables
    sh = _ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        simhash_col(F.col(text_col), bits, word_hash).alias("sh"))
    banded = sh.select("id", "sh", F.explode(F.array(*[
        F.xxhash64(
            F.lit(i),
            F.shiftright(F.col("sh"), i * block)
            .bitwiseAND(F.lit((1 << block) - 1)))
        for i in range(n_tables)])).alias("bk"))
    pairs = _bucket_pairs(banded, ["sh"])
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (pairs.select("id_a", "id_b", ham.cast("int").alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


# ---------------------------------------------------------------------------
# near-dup clusters (connected components over candidate pairs)
# ---------------------------------------------------------------------------

def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 25) -> DataFrame:
    """(id, component) for every node appearing in ``pairs``; the component
    label is the minimum node id reachable from it (so it is canonical).

    Min-label propagation WITH pointer jumping (path doubling): each round
    every node takes the min of (its label, its neighbors' labels, its
    label's label). The shortcut step squares the propagation distance per
    round, so convergence is **O(log diameter)** rounds — a 300-node path
    closes in ~9 rounds where plain propagation needs 300 (the
    large-star/small-star family gives the same bound; pointer jumping is
    the minimal change to this loop). Near-dup graphs are dense little
    cliques and converge in 2-3 rounds either way. Each round is two
    id-keyed joins + one groupBy (co-partitioned after the first shuffle),
    with ``localCheckpoint`` truncating lineage so the plan doesn't grow
    across iterations. Raises if ``max_iter`` rounds don't converge (a
    truncated result would silently mislabel components).

    At 100 TB the same loop holds — the per-round cost is a shuffle of
    (node, label) pairs, not documents.
    """
    edges = (pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
             .union(pairs.select(F.col(id_b).alias("s"), F.col(id_a).alias("d")))
             .distinct()
             .localCheckpoint(eager=True))
    labels = edges.select(F.col("s").alias("id"), F.col("s").alias("lbl")).distinct()
    for _ in range(max_iter):
        nbr_min = (edges.join(labels, edges["d"] == labels["id"])
                   .groupBy("s").agg(F.min("lbl").alias("nlbl")))
        stepped = (labels.join(nbr_min, labels["id"] == nbr_min["s"], "left")
                   .select(labels["id"],
                           F.least("lbl", F.coalesce("nlbl", "lbl")).alias("lbl")))
        # pointer jump: lbl ← min(lbl, label-of-label). Every label is a
        # node id, so the self-join always resolves; monotone-decreasing
        # toward the component min, hence the same fixpoint.
        a, b = stepped.alias("a"), stepped.alias("b")
        new_labels = (a.join(b, F.col("a.lbl") == F.col("b.id"), "left")
                      .select(F.col("a.id").alias("id"),
                              F.least(F.col("a.lbl"),
                                      F.coalesce(F.col("b.lbl"), F.col("a.lbl")))
                              .alias("lbl"))
                      .localCheckpoint(eager=True))
        changed = (labels.withColumnRenamed("lbl", "prev")
                   .join(new_labels, "id")
                   .filter(F.col("prev") != F.col("lbl")).count())
        labels = new_labels
        if changed == 0:
            return labels.select("id", F.col("lbl").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations")


def drop_near_dups(df: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (the min-id member) per near-dup component;
    rows not in any pair pass through untouched (left anti join against the
    non-representative members — broadcast-able: components are tiny
    relative to the corpus)."""
    comp = connected_components(pairs)
    losers = (comp.filter(F.col("id") != F.col("component"))
              .select(F.col("id").alias(id_col)))
    return df.join(F.broadcast(losers), id_col, "left_anti")


# ---------------------------------------------------------------------------
# intra-document repeated-span removal (RefinedWeb/C4-style)
# ---------------------------------------------------------------------------

def drop_repeated_spans(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Remove every token covered by a REPEATED n-gram span within its own
    document (the intra-document dedup step of RefinedWeb/C4-style
    pipelines: boilerplate that loops inside one page, as opposed to the
    corpus-level operators d1-d6).

    A position-j n-gram is "repeated" when the identical n-gram occurred
    at an earlier position in the same document; all ``n`` tokens under
    each repeated occurrence are dropped (first occurrence kept intact).
    Returns (id, n_tokens_before, n_tokens_after, clean_md5) — the md5 of
    the rebuilt text keeps the oracle comparison cheap at any text size.

    Implementation: an Arrow-batched ``pandas_udf`` — a deliberate use of
    the Python kernel route. The rebuild is data-dependent control flow
    (running seen-set, coverage mask, join); as Catalyst HOFs every
    reference to the intermediate arrays re-inlines their producing
    expressions inside lambda bodies (HOFs sit outside codegen CSE — the
    same effect measured 9× on the MinHash word-hash experiment), turning
    an O(words) kernel into O(words³). Per-row Python here is linear with
    a dict, Arrow moves only (text in, text out), and the operator stays
    a shuffle-free projection — the scale story is unchanged.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def clean_batch(texts):
        out = []
        for txt in texts:
            if txt is None:
                out.append(None)
                continue
            ws = txt.split(" ")
            if len(ws) < n:
                out.append(txt)
                continue
            grams = [" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)]
            seen: set[str] = set()
            covered: set[int] = set()
            for j, g in enumerate(grams):
                if g in seen:
                    covered.update(range(j, j + n))
                seen.add(g)
            out.append(" ".join(w for i, w in enumerate(ws)
                                if i not in covered))
        return pd.Series(out)

    clean_batch.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    u = pandas_udf(clean_batch, "string")
    base = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("bigint")
        .alias("n_tokens_before"),
        u(F.col(text_col)).alias("_clean"))
    return base.select(
        id_col, "n_tokens_before",
        F.when(F.col("_clean") == "", F.lit(0))
        .otherwise(F.size(F.split(F.col("_clean"), " ")))
        .cast("bigint").alias("n_tokens_after"),
        F.md5("_clean").alias("clean_md5"))


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (LSH verifier / small-scale standalone)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.2,
                        max_shingle_freq: int | None = None) -> DataFrame:
    """Exact Jaccard over distinct word n-grams for every co-shingled pair.

    ``max_shingle_freq`` drops shingles appearing in more than that many docs
    (stop-shingle skew guard — at scale a handful of ubiquitous shingles
    would otherwise create a quadratic hot bucket).
    """
    grams = (df.select(F.col(id_col).alias("id"),
                       word_ngrams(text_col, n).alias("grams"))
             .select("id", F.size("grams").alias("n_grams"),
                     F.explode("grams").alias("g")))
    if max_shingle_freq:
        # document frequency via count-over-window: ONE shuffle keyed by the
        # shingle (grams are distinct per doc, so rows-per-partition-key =
        # docs-per-shingle), vs the groupBy+join form's aggregate shuffle
        # PLUS a join shuffle of the full exploded gram set.
        grams = (grams.withColumn(
            "df_", F.count("*").over(W.partitionBy("g")))
            .filter(F.col("df_") <= max_shingle_freq).drop("df_"))
    a, b = grams.alias("a"), grams.alias("b")
    inter = (a.join(b, (F.col("a.g") == F.col("b.g"))
                    & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                      F.col("a.n_grams").alias("na"), F.col("b.n_grams").alias("nb"))
             .agg(F.count("*").alias("i")))
    jac = (F.floor(F.col("i") * 10000 / (F.col("na") + F.col("nb") - F.col("i"))
                   + F.lit(0.5)) / F.lit(10000.0))
    return (inter.select("id_a", "id_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def drop_cross_doc_spans(df: DataFrame, ngram: int = 20,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Cross-document duplicate-span removal — the distributed n-gram
    rendition of ExactSubstr dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): any word span of length
    ≥ ``ngram`` that occurs more than once in the CORPUS is kept at its
    first occurrence (smallest (doc_id, position)) and removed everywhere
    else. Catches boilerplate shared across pages that document-level
    dedup misses; granularity is ``ngram`` words (the suffix-array exact
    method is byte-granular — this is the shuffle-friendly approximation,
    with the same keep-first contract).

    Returns (id, n_words_before, n_words_after, text) with the rebuilt
    text.

    Scale shape: gram hashing is a projection; keeper election is ONE
    gram-keyed AGGREGATE — min(struct(id, gpos)) + count — so map-side
    partial aggregation bounds what any reducer receives per gram to one
    row per map partition (only (hash, id, pos) triples move — never
    text); removal positions flow back through an id-keyed join and the
    rebuild is a per-doc aggregate. Word-position expansion is bounded
    by (dup spans × ngram).

    Boilerplate skew (the 100 TB case, not the pathology): a gram
    occurring 10⁹ times is harmless in the election (partial agg), and
    the occurrence→keeper join-back is salted — keepers replicate across
    ``defaultParallelism`` salt values and each occurrence picks one by
    ``xxhash64(id, gpos)``, so the join key is (gh, salt) and no reducer
    sees more than occurrences/S rows of any single gram. The earlier
    shape (row_number + count over a gh window) sent ALL occurrences of
    a gram to one reducer AND sorted them there; the guard was a
    docstring note until r8. Hash-identical output (same keep-first
    contract: the window's _rn==1 row IS the struct-min row), pinned by
    tests/test_operators.py::test_cross_doc_span_skew_guard.
    """
    ws = F.split(F.col(text_col), " ")
    rm_pos = _span_removal_positions(df, ngram, text_col, id_col)
    # rm_pos has multiple consumers (the rebuild join below, plus
    # rm_docs' broadcast builds), so its election + salted-join chain
    # appears once per consumer in the printed plan. A stage cut here
    # was A/B-measured and REJECTED (r14, 3 interleaved pairs at
    # sf0.1): AQE's stage cache already reuses the chain's shuffle
    # stages across the copies, so the cut only serialized an extra
    # materialization wave into plan construction (+3 jobs, construct
    # 0.5 → 1.3 s, total a wash) — the replication is plan TEXT, not
    # repeated shuffle work.
    # Rebuild ONLY documents that actually lose a span. The naive shape
    # posexplodes EVERY doc and pushes the whole corpus token stream
    # through an anti-join shuffle plus a collect_list shuffle; but in a
    # deduplicated-ish corpus most docs have no removals, and at 100 TB
    # "shuffle every word twice to rebuild the 20% of docs that changed"
    # is the difference between a token-bounded and an affected-bounded
    # job. rm_pos (and so rm_docs) is small — duplicate spans only —
    # and broadcasts; untouched docs pass through as a zero-shuffle
    # projection. Measured at the 500k-doc corpus: 21.3 s → 9.65 s
    # (with the lead-window grams; BASELINE.md r7b addendum) for
    # hash-identical output.
    rm_docs = rm_pos.select("id").distinct()
    # r15: same doc-level repartition as the gram chain — the rebuild's
    # groupBy(id) then needs no exchange of the marked TOKEN stream
    # (broadcast joins and Generate preserve the streamed side's
    # partitioning), so only the affected docs' text moves, once. The
    # broadcast semi-join filter stays BELOW the repartition: untouched
    # docs (most of the corpus) must be dropped before any text moves.
    affected = _repartition_docs_by_id(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
          .join(F.broadcast(rm_docs), "id", "left_semi"),
        "id").select("id", F.split(F.col("_t"), " ").alias("ws"))
    toks = affected.select(
        "id", F.posexplode("ws").alias("wpos0", "w")) \
        .selectExpr("id", "wpos0 + 1 AS wpos", "w")
    # One marker join + conditional aggregation (r14). The previous
    # shape paid three avoidable passes: an un-hinted (id, wpos) LEFT
    # ANTI join that planned as SortMergeJoin — the whole affected
    # token stream shuffled AND sorted ahead of the id-keyed rebuild
    # shuffle — plus a third corpus scan (before_aff) and a final outer
    # join, which existed only so a doc whose EVERY word is removed
    # still got its (n_after=0, '') row. Broadcasting rm_pos (the same
    # sparsity contract as rm_docs above) keeps tokens in their scan
    # partitions, and aggregating over ALL of an affected doc's tokens
    # — counting/keeping only unmarked ones — gives the all-removed doc
    # its row from the same aggregate (every affected doc has ≥ngram
    # words, so its group exists and count(*) is exactly
    # size(split(text))). One corpus scan, one shuffle, two fewer joins.
    # r15 (advice fix): the rm_pos broadcast is conf-gated. rm_pos holds
    # one row per word position covered by a duplicate span — unbounded
    # in exactly the heavily-duplicated corpora this operator targets,
    # and a broadcast relation has a hard 8 GB / 512M-row cap, where the
    # shuffle join degrades gracefully. Default stays broadcast (the r14
    # A/B-measured win: SMJ 2 → 0, tokens never leave their scan
    # partitions, −11/−21% at 500k docs); deployments expecting removal
    # sets near the cap set
    # spark.clickhouse_datafusion_spark.spanDedup.broadcastRemovals=false
    # and AQE plans the join from the runtime size instead (it still
    # converts to broadcast when the removal set turns out small).
    # rm_docs (one row per AFFECTED DOC, ~20x smaller) keeps its hint.
    rm_marked = rm_pos.withColumn("_rm", F.lit(1))
    if (df.sparkSession.conf.get(
            "spark.clickhouse_datafusion_spark.spanDedup.broadcastRemovals",
            "true") == "true"):
        rm_marked = F.broadcast(rm_marked)
    marked = toks.join(rm_marked, ["id", "wpos"], "left")
    out_aff = marked.groupBy("id").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_words_before"),
        F.expr("CAST(count(CASE WHEN _rm IS NULL THEN 1 END) AS BIGINT) "
               "AS n_words_after"),
        F.expr("concat_ws(' ', transform(array_sort(collect_list("
               "CASE WHEN _rm IS NULL THEN struct(wpos, w) END)), "
               f"s -> s.w)) AS {sql_ident(text_col)}"))
    # NULL-text docs are never affected (split(NULL) explodes to nothing)
    # so they land here — keep the rebuild path's contract for them
    # (n_words_after 0, text ''), not a NULL passthrough.
    untouched = (df.select(F.col(id_col).alias("id"),
                           F.size(ws).cast("bigint").alias("n_words_before"),
                           F.coalesce(F.size(ws).cast("bigint"), F.lit(0))
                           .alias("n_words_after"),
                           F.coalesce(F.col(text_col), F.lit(""))
                           .alias(text_col))
                 .join(F.broadcast(rm_docs), "id", "left_anti"))
    return (untouched.unionByName(out_aff)
            .withColumnRenamed("id", id_col))


def _span_removal_positions(df: DataFrame, ngram: int, text_col: str,
                            id_col: str) -> DataFrame:
    """(id, wpos) distinct word positions covered by a non-keeper
    duplicate span — :func:`drop_cross_doc_spans`'s election +
    join-back chain, PRE-cut (factored out so the skew-guard test can
    pin the election plan, which the stage cut otherwise hides behind
    an ExistingRDD scan)."""
    ws = F.split(F.col(text_col), " ")

    # Gram construction (r7): posexplode the token stream once and read
    # the other 19 gram members with LEAD over (id, wpos) — every
    # per-position op is then whole-stage codegen. The measured
    # alternatives at the 500k-doc corpus: per-position HOF lambda
    # (slice+concat+md5, interpreted per element — CodegenFallback)
    # 17.7 s; arrays_zip of 20 slices (codegen but materializes 20
    # copies of the word array per row) 48 s; this lead-window form
    # 9.0 s including its id-keyed exchange. Short docs (< ngram words)
    # fall out via the trailing-lead NULL filter.
    # r14: the LEAD projection and every dense select below are parsed
    # SQL fragments — one py4j round trip per selectExpr instead of one
    # per Column operator (see fragments); identical Catalyst trees (the
    # 19 identical OVER specs still collapse into one Window operator).
    # r15: the id partitioning the window needs is established on the
    # DOC stream, pre-explode (see _repartition_docs_by_id) — the text
    # moves once and the token stream never shuffles.
    toks = (_repartition_docs_by_id(df, id_col)
            .select(F.col(id_col).alias("id"),
                    F.posexplode(ws).alias("wpos0", "w")))
    lead_cols = ["id", "wpos0", "w AS w0"] + [
        f"lead(w, {k}) OVER (PARTITION BY id ORDER BY wpos0) AS w{k}"
        for k in range(1, ngram)]
    g = (toks.selectExpr(*lead_cols)
         .filter(F.col(f"w{ngram-1}").isNotNull())
         .selectExpr("id", "wpos0 + 1 AS gpos",
                     "md5(concat_ws(' ', "
                     f"{', '.join(f'w{k}' for k in range(ngram))})) AS gh"))
    # The gram stream has TWO consumers (keeper election, occurrence
    # join-back) — without a stage cut Spark recomputes the
    # posexplode + LEAD window + md5 pipeline for each. Materialize it
    # once; at 100 TB this is the standard ExactSubstr tradeoff (the
    # gram stream is (id, gpos, gh) — far smaller than re-scanning and
    # re-windowing the text twice). STORAGE OF THE CUT IS THE SCALE
    # KNOB (BASELINE.md r14): default localCheckpoint pins the stream
    # as uncompressed blocks inside unified memory — fine to ~1M docs,
    # but at 5M docs those blocks compete with the shuffles (21.5x per
    # 10x data, 50% DNF on a 128 GB box). Above ~1M docs set the
    # stageCut conf to parquetSpool: the stream lands as
    # column-compressed parquet OUTSIDE the JVM memory pools with
    # re-readable lineage, and the decade factor returns to data-linear
    # (25.3 s -> 260 s for 500k -> 5M, value-identical). On lossy
    # clusters reliableCheckpoint has the same shape; DISK_ONLY persist
    # is worse in kind (bigger serialized blocks, still pool-managed).
    from clickhouse_datafusion_spark.operators.stagecut import stage_cut
    g = stage_cut(g)
    # keeper = first corpus occurrence of the gram; every other occurrence
    # is a removal span [gpos, gpos+ngram-1] (gpos is 1-based word index).
    # min(struct) orders by (id, gpos) field-wise — the keep-first key —
    # and both aggregates are partial-aggregatable, so the skewed gram's
    # occurrences combine map-side before the shuffle.
    n_salt = df.sparkSession.sparkContext.defaultParallelism
    keepers = (g.groupBy("gh")
               .agg(F.expr("min(struct(id, gpos)) AS _k"),
                    F.expr("count(*) AS _cnt"))
               .filter(F.col("_cnt") > 1)
               .selectExpr("gh", "_k.id AS _kid", "_k.gpos AS _kpos",
                           f"explode(sequence(0, {n_salt - 1})) AS _salt"))
    # fold (gh, _salt) into ONE bigint join key (r13): a multi-column
    # hash-join probe walks the generic UnsafeHashedRelation at 5-7x
    # the single-long fast path's cost (BASELINE.md r13, the t11
    # decade fix) — and this probe runs over the full corpus gram
    # stream. gh equality already IS the duplicate criterion (the
    # hash-keyed design), so the fold adds one more term of the same
    # accepted collision class, nothing new in kind.
    removals = (g.selectExpr(
                    "*",
                    f"CAST(pmod(xxhash64(id, gpos), {n_salt}) AS INT) "
                    "AS _salt")
                .selectExpr("*", "xxhash64(gh, _salt) AS _ghs")
                .join(keepers
                      .selectExpr("_kid", "_kpos",
                                  "xxhash64(gh, _salt) AS _ghs"),
                      "_ghs")
                .filter(F.expr("id != _kid OR gpos != _kpos"))
                .select("id", "gpos"))
    return (removals
            .selectExpr("id",
                        f"explode(sequence(gpos, gpos + {ngram - 1})) "
                        "AS wpos")
            .distinct())


def drop_duplicate_paragraphs(df: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id",
                              sep: str = "\n") -> DataFrame:
    """CORPUS-level paragraph dedup (the Dolma/RefinedWeb step between
    document dedup and span dedup): a paragraph occurring in many
    documents — boilerplate headers, license blocks, navigation — is
    kept only at its FIRST occurrence (min (doc, position)) and removed
    everywhere else, preserving each document's paragraph order.
    Distinct from :func:`drop_repeated_spans` (within one doc) and
    :func:`drop_cross_doc_spans` (n-gram spans): the unit here is the
    separator-delimited paragraph, exact match.

    Returns (id, n_paras, n_kept, clean_text, clean_md5); a document
    whose every paragraph is owned elsewhere keeps its row with empty
    text (filter downstream — silently dropping rows loses the
    accounting).

    Scale shape: paragraphs explode in place (no shuffle); ownership is
    ONE hash-keyed aggregate of (hash → min (id, pos)) — 16 bytes per
    distinct paragraph; membership is a hash-keyed join of (id, pos,
    hash) against the winners; reassembly is one id-keyed
    sort_array+collect. Three key shuffles total, all on uniform hash
    or id keys — no skew (a mega-duplicated paragraph contributes ONE
    winner row; its occurrences join against a broadcast-size slice).
    """
    # r14: dense expression blocks are parsed SQL fragments (see fragments)
    # — one py4j round trip each instead of one per Column operator.
    # r15 (guide §8: decide with small rows, move big rows once): the
    # r14 shape shuffled PARAGRAPH TEXT twice — once through the _h
    # ownership join (paras carried _p into the hash exchange) and
    # again through the id-keyed rebuild aggregate. The META SHAPE
    # hash-repartitions the doc stream by id ONCE (compact doc rows;
    # explode preserves the partitioning), flows the ownership decision
    # through narrow (id, _pos, _h) metadata, and repartitions the
    # keep-list to the SAME width so the re-attach join and the rebuild
    # aggregate plan with zero additional exchange of text — heavy
    # bytes cross the network once instead of twice, and the metadata
    # shuffles carry ~24 B/paragraph.
    #
    # SIZE-GATED (measured, BASELINE.md r15, alternating
    # one-session pairs): at the 500k-doc corpus (59 MB) the meta shape
    # is 1.21x faster (pairwise median, all pairs 1.14-1.31) — the
    # avoided double text shuffle; at sf0.1 (0.6 MB) it is 0.86x — the
    # two extra narrow waves cost more than the trivial text bytes they
    # save. So the shape follows the input size, like the widen: meta
    # shape at >= PARAGRAPH_META_SHAPE_MIN_BYTES (8 MB), the
    # single-pipeline r14 shape below. Outputs are identical either
    # way (oracle-gated; the A/B asserted row equality per arm).
    qid, qtx, qsep = sql_ident(id_col), sql_ident(text_col), sql_str(sep)
    from clickhouse_datafusion_spark.plans.explain import (
        _scan_file_sizes, width)

    sizes = _scan_file_sizes(df)
    if sizes is not None and sum(sizes) < PARAGRAPH_META_SHAPE_MIN_BYTES:
        paras = (df.select(F.col(id_col),
                           F.posexplode(F.split(F.col(text_col), sep))
                           .alias("_pos", "_p"))
                 .withColumn("_h", F.md5(F.col("_p"))))
        winners = (paras.groupBy("_h")
                   .agg(F.expr(
                       f"min(struct({qid} AS _i, _pos AS _o)) AS _w")))
        kept = (paras.join(winners, "_h")
                .filter(F.expr(f"{qid} = _w._i AND _pos = _w._o")))
    else:
        w = width(df, PARAGRAPH_BYTES_PER_TASK,
                  _shuffle_cap(df.sparkSession), sizes)
        paras = (df.repartition(w, F.col(id_col))
                 .select(F.col(id_col),
                         F.posexplode(F.split(F.col(text_col), sep))
                         .alias("_pos", "_p"))
                 .withColumn("_h", F.md5(F.col("_p"))))
        meta = paras.selectExpr(f"{qid} AS _mi", "_pos AS _mo", "_h")
        winners = (meta.groupBy("_h")
                   .agg(F.expr("min(struct(_mi AS _i, _mo AS _o)) AS _w")))
        keep = (meta.join(winners, "_h")
                .filter(F.expr("_mi = _w._i AND _mo = _w._o"))
                .select("_mi", "_mo")
                .repartition(w, F.col("_mi")))
        kept = paras.join(keep, (F.col(id_col) == F.col("_mi"))
                          & (F.col("_pos") == F.col("_mo")))
    rebuilt = (kept.groupBy(F.col(id_col))
               .agg(F.expr(
                   "array_join(transform(sort_array(collect_list("
                   f"struct(_pos, _p))), x -> x._p), {qsep}) AS clean_text"),
                   F.expr("CAST(count(*) AS BIGINT) AS n_kept")))
    base = df.selectExpr(
        qid, f"CAST(size(split({qtx}, {qsep})) AS BIGINT) AS n_paras")
    return (base.join(rebuilt, id_col, "left")
            .selectExpr(qid, "n_paras",
                        "coalesce(n_kept, 0L) AS n_kept",
                        "coalesce(clean_text, '') AS clean_text")
            .withColumn("clean_md5", F.md5(F.col("clean_text"))))


def exact_jaccard_verify(df: DataFrame, pairs: DataFrame,
                         threshold: float = 0.5, text_col: str = "text",
                         id_col: str = "doc_id", ngram: int = 3,
                         id_a: str = "id_a",
                         id_b: str = "id_b") -> DataFrame:
    """EXACT distinct-n-gram Jaccard verification of candidate pairs —
    the verify stage after LSH blocking (r12: gives the production
    xxhash64 family d3x a hash-checkable output; the exact value is
    hash-family-independent, so a DuckDB oracle can reproduce it with a
    plain shared-gram join). Keeps pairs whose exact Jaccard is ≥
    ``threshold``, returning (id_a, id_b, jaccard) in the d2 oracle's
    integer rounding (FLOOR(c·10⁴/(na+nb−c)+0.5)/10⁴).

    Scale shape (r12 ledger-tuned — the naive two-scans-with-grams
    form cost +1.2 s at sf0.1 because it tokenized EVERY doc twice):

    - the pair list is stage-cut once (it has three consumers below;
      without the cut the upstream blocking pipeline would run three
      times);
    - the corpus is scanned ONCE, semi-joined (broadcast) against the
      distinct candidate ids, and only the surviving docs are
      tokenized into distinct-gram arrays — that gram table is
      stage-cut for its two per-side consumers;
    - the verify join is then (broadcast pairs) ⋈ grams ⋈ grams over
      the two SMALL relations; the per-pair kernel is array_intersect
      over the two gram sets. The corpus is never shuffled and never
      tokenized outside the candidate set — the shape that survives a
      1000-executor corpus where candidates are a vanishing fraction.
    """
    from clickhouse_datafusion_spark.operators.stagecut import stage_cut

    p = stage_cut(pairs.select(id_a, id_b))
    # no .distinct() on the id list: a LEFT SEMI join only filters
    # (never fans out on duplicate build keys), and skipping it skips
    # a shuffle stage
    ids = p.select(F.explode(F.array(id_a, id_b)).alias(id_col))
    g = stage_cut(
        df.join(F.broadcast(ids), id_col, "left_semi")
          .select(F.col(id_col),
                  word_ngrams(text_col, ngram).alias("_g")))
    j = (p.join(F.broadcast(g.select(F.col(id_col).alias(id_a),
                                     F.col("_g").alias("_ga"))), id_a)
         .join(F.broadcast(g.select(F.col(id_col).alias(id_b),
                                    F.col("_g").alias("_gb"))), id_b))
    c = F.size(F.array_intersect("_ga", "_gb"))
    na, nb = F.size("_ga"), F.size("_gb")
    jac = F.floor(c * 10000 / (na + nb - c) + F.lit(0.5)) / F.lit(10000.0)
    return (j.filter((na > 0) & (nb > 0))
            .select(id_a, id_b, jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def edit_distance_verify(df: DataFrame, pairs: DataFrame,
                         max_dist: int = 6, text_col: str = "text",
                         id_col: str = "doc_id",
                         id_a: str = "id_a",
                         id_b: str = "id_b") -> DataFrame:
    """Edit-distance verification of candidate pairs — the EXACT-verify
    stage after LSH blocking for short fields (titles, URLs, names)
    where shingle Jaccard is too coarse: keep pairs whose Levenshtein
    distance is ≤ ``max_dist``, returning (id_a, id_b, edit_dist).

    Scale shape: the sparse candidate list joins the text relation twice
    (two id-keyed shuffles — candidates carry ids, never text, until
    here); a length-difference prefilter (|len_a − len_b| > max_dist can
    never pass) runs BEFORE the quadratic compute so hopeless pairs are
    rejected in constant time. Levenshtein is O(len_a·len_b) per
    surviving pair — bound the field length (or chunk first) the way any
    edit-distance dedup does; the blocking stage already made the pair
    list sparse, which is what makes the quadratic kernel affordable.
    """
    a = df.select(F.col(id_col).alias(id_a),
                  F.col(text_col).alias("_ta"),
                  F.length(text_col).alias("_la"))
    b = df.select(F.col(id_col).alias(id_b),
                  F.col(text_col).alias("_tb"),
                  F.length(text_col).alias("_lb"))
    j = (pairs.select(id_a, id_b).join(a, id_a).join(b, id_b)
         .filter(F.abs(F.col("_la") - F.col("_lb")) <= max_dist))
    return (j.select(id_a, id_b,
                     F.levenshtein("_ta", "_tb").cast("bigint")
                     .alias("edit_dist"))
            .filter(F.col("edit_dist") <= max_dist))
