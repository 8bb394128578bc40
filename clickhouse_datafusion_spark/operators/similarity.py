"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``   — exact brute-force top-k against a query vector: a pure
  projection + TakeOrderedAndProject. At 100 TB this is a full scan but with
  NO shuffle (per-partition top-k then driver-side merge of k·partitions
  rows); bandwidth-bound and embarrassingly parallel.
- ``pairwise_cosine_dups`` — exact near-duplicate pairs above a cosine
  threshold (quadratic; use on blocked/bucketed subsets).
- ``lsh_ann_topk``  — the scale path: random-hyperplane LSH. Signatures are
  deterministic (seeded hyperplanes), bucketing turns the quadratic pair
  space into per-bucket probes. Recall is tunable via n_planes/n_tables:
  defaults (8×8) give ~99% recall at cos ≥ 0.95 (near-dup retrieval, the
  primary use-case); low-similarity neighbors are not concentrated in any
  bucket structure and need the exact path.

- ``label_centroids`` — per-label mean vectors in exact micro-units
  (class prototypes / cluster seeds); one (label, pos)-keyed shuffle.
- ``quantize_embeddings`` — symmetric int8 (4× memory for ANN stores);
  shuffle-free projection, IEEE-deterministic.

Numeric discipline: every emitted cosine is the left-to-right float64
fold (the accumulation order of a sequential C loop and of DuckDB's
list_dot_product), so the oracle comparison is bit-exact. Three
implementations share that contract, chosen by where the rows are:
``dot``/``cosine`` (zip_with + aggregate HOF — fine for small/dynamic
uses, interpreted per element, never on a hot path), the fold-exact
Arrow kernels (:func:`_fold_dot_np` — the same fold vectorized ACROSS
rows; powers the query-cosine scan paths, the kNN join, and the
in-bucket pair scorer), and the signature matmul kernel (gemm + γ-bound
sign guard, where only the SIGN must match the fold; the only signature
path, at every plane budget). The codegen
middle road — unrolling the fold into a fixed-dim expression tree
(60c3905) — is a dead end: three dots per cosine is 192 terms, janino
fails with "Code grows beyond 64 KB", and Spark disables whole-stage
codegen for the stage, which is slower than the HOF it replaced.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clickhouse_datafusion_spark.fragments import sql_lit


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _as_double(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Probe the embedding dimensionality from the first NON-NULL vector
    (one tiny Spark job). ``first()[0]`` on the raw column raised
    TypeError on an empty input or a leading NULL row (r9 advisor);
    production callers should pass ``dim`` explicitly and skip the job."""
    row = df.filter(F.col(vec_col).isNotNull()).select(vec_col).first()
    if row is None:
        raise ValueError(
            f"cannot infer embedding dim: no non-NULL {vec_col!r} rows; "
            "pass dim= explicitly")
    return len(row[0])


def _fold_dot_np(V, W):
    """Fold-exact dot products, vectorized ACROSS rows: one float64
    multiply-add per dimension in strict left-to-right order — the exact
    accumulation sequence of the JVM ``dot`` (and of DuckDB's
    list_dot_product), so results are bit-identical with no γ-guard.
    ``V``/``W`` are (n, dim) float64; returns (n,)."""
    import numpy as np

    acc = np.zeros(len(V))
    for d in range(V.shape[1]):
        acc = acc + V[:, d] * W[:, d]
    return acc


_QUERY_COS_UDF_CACHE: dict = {}


def _session_uid(spark) -> str:
    """Session-scoped cache key (uuid stamped on the session object, not
    id() — see queries._session_key for the aliasing hazard)."""
    key = getattr(spark, "_cdfs_sim_uid", None)
    if key is None:
        import uuid

        key = uuid.uuid4().hex
        spark._cdfs_sim_uid = key
    return key


def _cosine_to_query(col, query_vec: list[float]) -> Column:
    """Cosine of every row against a fixed query vector as a fold-exact
    Arrow kernel — the expression that runs ONCE PER ROW of a full corpus
    scan, so it must not be the interpreted HOF fold (~dim boxed evals
    per row; ``norm(q)`` re-interprets per row too, because HOF
    aggregates are not foldable).

    Why a kernel and not codegen: the r7 attempt (commit 60c3905,
    reverted 0ab45cd) unrolled the three dots into a 192-term expression
    tree — janino then fails with "Code grows beyond 64 KB" and Spark
    DISABLES whole-stage codegen for the whole stage, which is strictly
    worse than the fold it replaced (measured r8: WholeStageCodegenExec
    WARNs on s1/s3/s4 at sf0.01). A single generated method cannot be
    split below the JVM limit because the chain is one expression. The
    Arrow kernel sidesteps codegen entirely and stays bit-identical by
    construction: per-dimension multiply-adds run in the JVM fold's
    exact left-to-right order (:func:`_fold_dot_np` — vectorized across
    rows, sequential over dims), ``norm(q)`` is the same fold in Python
    floats (IEEE doubles), and malformed rows (NULL / length ≠ dim)
    return genuine NULLs exactly where ``zip_with``'s padding nulls the
    fold — pinned by tests/test_operators.py::test_query_cosine_kernel_matches_fold.
    A zero-norm row yields NaN, matching the JVM division."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    # r14: memoize the wrapped UDF per (session, query vector) — creating
    # a pandas_udf cloudpickles the closure and registers it over py4j
    # (~0.1 s per plan build, paid on every bench iteration / every
    # production batch). The closure depends only on query_vec, so reuse
    # is value-identical; keyed on the session uid so a restarted session
    # never sees a stale JVM handle.
    spark = SparkSession.getActiveSession()
    cache_key = None
    if spark is not None:
        cache_key = (_session_uid(spark), tuple(map(float, query_vec)))
        cached = _QUERY_COS_UDF_CACHE.get(cache_key)
        if cached is not None:
            v = F.col(col) if isinstance(col, str) else col
            return cached(v)

    dim = len(query_vec)
    q = np.asarray(query_vec, dtype=np.float64)
    acc = 0.0
    for x in q:                      # fold-exact norm(q), driver-side
        acc = acc + float(x) * float(x)
    nq = math.sqrt(acc)

    def cos(batch: pd.Series) -> pd.Series:
        n = len(batch)
        out = np.full(n, np.nan)
        ok, vecs = [], []
        for i, v in enumerate(batch):
            if v is not None and len(v) == dim:
                ok.append(i)
                vecs.append(v)
        if ok:
            V = np.asarray(vecs, dtype=np.float64)
            dq = _fold_dot_np(V, np.broadcast_to(q, V.shape))
            nv = np.sqrt(_fold_dot_np(V, V))
            with np.errstate(divide="ignore", invalid="ignore"):
                c = dq / (nv * nq)
            # zero-norm rows are NaN by contract; a subnormal vector
            # whose squared norm underflows to 0 would otherwise give
            # ±inf here (r9 property-test catch on the pair kernel) —
            # fold to NaN so the edge ranks like any zero-norm row
            c[~np.isfinite(c)] = np.nan
            out[np.asarray(ok)] = c
        # nullable Float64: malformed rows are NULL (like the fold),
        # zero-norm rows stay NaN (like the JVM division). The raw
        # FloatingArray constructor is required here: ``pd.array(...,
        # "Float64")`` coerces np.nan to pd.NA, which would turn the
        # zero-norm NaN into NULL and diverge from the JVM FLOOR(NaN)=0
        # ranking (r9 advisor catch).
        mask = np.ones(n, dtype=bool)
        if ok:
            mask[np.asarray(ok)] = False
        return pd.Series(pd.arrays.FloatingArray(out, mask))

    cos.__annotations__ = {"batch": pd.Series, "return": pd.Series}
    udf = pandas_udf(cos, "double")
    if cache_key is not None:
        _QUERY_COS_UDF_CACHE[cache_key] = udf
    v = F.col(col) if isinstance(col, str) else col
    return udf(v)


def _lit_vec(values: list[float]) -> Column:
    """``array<double>`` literal via ONE parsed SQL expression.

    ``F.lit(list)`` builds the literal element-by-element over py4j —
    measured 2.4 s for a 64×64 nested matrix (and ~40 ms per 64-d query
    vector) vs 8 ms for the parsed form; ``sql_lit`` round-trips doubles
    exactly (NaN and infinities included), so the values are
    bit-identical."""
    return F.expr(_array_sql(values))


def _array_sql(values: list[float]) -> str:
    return "array(" + ",".join(sql_lit(float(x)) for x in values) + ")"


def _lit_mat(rows: list[list[float]]) -> Column:
    """``array<array<double>>`` literal, same single-parse trick."""
    return F.expr("array(" + ",".join(map(_array_sql, rows)) + ")")


def cosine_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact top-k by cosine similarity to ``query_vec``.

    Returns (id, cos) rounded to 4dp with a deterministic id tiebreak.
    """
    c = _cosine_to_query(vec_col, query_vec)
    return (df.select(F.col(id_col),
                      (F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)).alias("cos"))
            .orderBy(F.col("cos").desc(), id_col)
            .limit(k))


def pairwise_cosine_dups(df: DataFrame, threshold: float = 0.9,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id") -> DataFrame:
    """Exact embedding near-dup pairs (cos ≥ threshold), id_a < id_b.

    All-pairs theta join — quadratic. This is the small-N VERIFIER (and the
    recall oracle for tests); the production path at scale is
    :func:`blocked_cosine_dups`, which bounds the pair space by LSH bucket.

    Zero-norm vectors are excluded up front (``nrm > 0``): their cosine
    is undefined, and under ANSI mode the JVM division would error
    rather than produce NaN — the r9-pinned family contract is that a
    zero-norm row never pairs, in both the exact and the kernel path."""
    v = (df.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"),
                   norm(_as_double(vec_col)).alias("nrm"))
         .filter(F.col("nrm") > 0))
    a, b = v.alias("a"), v.alias("b")
    c = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (a.join(b, F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    (F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)).alias("cos"))
            .filter(F.col("cos") >= threshold))


def lsh_block_params(n_rows: int, threshold: float,
                     target_bucket: int = 32, recall: float = 0.999,
                     max_planes: int = 24,
                     max_tables: int = 64) -> tuple[int, int]:
    """Size an LSH pair-blocking scheme ``(n_planes, n_tables)`` for a
    corpus of ``n_rows`` embeddings and a cosine ``threshold``.

    The r7 embeddings-at-200k audit showed why this cannot be a fixed
    default: 4 planes is 16 buckets per table, so a 200k-row corpus puts
    ~12.5k rows in each bucket and the intra-bucket expansion emits ~10⁹
    candidate pairs per table — the plan that was fine at 2k rows is a
    scale-killer two decades up. Sizing rule:

    - ``n_planes`` targets an expected bucket size (each +1 plane halves
      it): ``ceil(log2(n_rows / target_bucket))``. Candidate work per
      table is then ~``n_rows × target_bucket / 2`` — linear in rows.
    - ``n_tables`` holds the recall floor at the REQUESTED threshold
      (conservative: true pairs sit above it, and collision probability
      rises with cosine): smallest t with
      ``1 − (1 − p^planes)^t ≥ recall``, ``p = 1 − acos(θ)/π``.

    Low thresholds are honestly expensive — at θ = 0.4, p ≈ 0.63, so
    holding recall with many planes needs hundreds of tables (this is
    textbook LSH, not an implementation artifact); ``max_tables`` caps
    the blow-up and the caller accepts the reduced recall or lowers
    ``n_planes`` explicitly. High thresholds (the near-dup use-case) stay
    cheap: θ = 0.9 at 200k rows → (13, 48); θ = 0.95 → (13, 21).
    """
    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    planes = 1
    if n_rows > 2 * target_bucket:
        planes = math.ceil(math.log2(n_rows / target_bucket))
    planes = max(1, min(max_planes, planes))
    hit = p ** planes
    if hit >= 1.0:
        return planes, 1
    if hit <= 0.0:
        return planes, max_tables
    tables = math.ceil(math.log(1.0 - recall) / math.log(1.0 - hit))
    return planes, max(1, min(max_tables, tables))


def _bucket_cosine_kernel(dim: int, threshold: float, tile: int = 2048):
    """Arrow-batched in-bucket pair scorer: for each LSH bucket inside a
    group, ONE gemm computes every intra-bucket cosine as a prefilter and
    the sequential FOLD recomputes the survivors exactly, so candidate
    pairs never materialize as Spark rows at all.

    Bit-identity discipline (same as :func:`_lsh_sig_matmul_kernel`): the
    gemm uses pairwise/SIMD summation, the JVM ``dot`` a left-to-right
    fold — both within γ·Σ|aᵢbᵢ| of the exact value — so the gemm may
    only DECIDE which pairs to look at, never what to emit. Every
    surviving pair's dot and both norms are recomputed as
    ``acc = acc + a[d]·b[d]`` over d (vectorized ACROSS pairs,
    sequential over dims — the exact JVM fold order), and the 4dp
    rounding is the same IEEE op sequence (``floor(c·10⁴+0.5)`` is exact
    in float64 for |c| ≤ 1, then one division).

    Prefilter slack: the EMISSION test is on the 4dp-ROUNDED cosine, so
    a pair with raw cosine anywhere in [θ−5e-5, θ) rounds UP to θ and
    must be emitted — the prefilter therefore keeps everything within
    5e-5 (the rounding half-window) PLUS the gemm-vs-fold summation
    error of the unrounded value; 1e-4 covers both with a decade of
    margin (r8 shipped 1e-6, which silently dropped pairs in
    [θ−5e-5, θ−1e-6) — caught by the r9 advisor, pinned by
    tests/test_operators.py::test_bucket_kernel_keeps_round_up_borderline).

    Edge contract (the r9-pinned family contract, shared with
    :func:`pairwise_cosine_dups`): NULL/wrong-length vectors score NULL
    → excluded; zero-norm vectors have an UNDEFINED cosine and never
    pair at any threshold (NaN ≥ θ is False here; the exact verifier
    filters ``nrm > 0`` up front — under ANSI mode its JVM division
    would otherwise error, not NaN).

    Skewed-bucket guard: a bucket larger than ``_TILE`` rows (a corpus
    of near-identical embeddings that auto-sizing cannot split — LSH
    puts identical vectors in the same bucket in EVERY table) is scored
    in ``_TILE``-square gemm tiles, so prefilter memory stays bounded
    (~33 MB per tile) at any bucket size instead of O(bucket²). The
    OUTPUT of such a bucket is inherently quadratic — b near-identical
    vectors owe b²/2 pairs by the operator's contract — so the cure for
    a corpus like that is exact dedup upstream, not a silent cap here."""
    import numpy as np
    import pandas as pd

    slack = 1e-4          # 4dp rounding half-window (5e-5) + gemm error
    _TILE = tile
    triu_cache: dict = {}

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": pdf["id"][:0], "id_b": pdf["id"][:0],
                              "cos": np.zeros(0)})
        vl = pdf["v"]
        ok = np.fromiter((x is not None and len(x) == dim for x in vl),
                         bool, len(pdf))
        pdf = pdf[ok]
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values(["bk", "id"], kind="mergesort",
                              ignore_index=True)
        V = np.asarray([np.asarray(x, dtype=np.float64)
                        for x in pdf["v"]])
        acc = np.zeros(len(V))
        for d in range(dim):          # fold-exact per-row norms
            acc = acc + V[:, d] * V[:, d]
        nrm = np.sqrt(acc)
        bk = pdf["bk"].to_numpy()
        bounds = np.flatnonzero(
            np.r_[True, bk[1:] != bk[:-1], True])
        ka, kb = [], []

        def prefilter_block(i0, i1, j0, j1, diag):
            C = (V[i0:i1] @ V[j0:j1].T
                 ) / np.outer(nrm[i0:i1], nrm[j0:j1])
            if diag:
                n = i1 - i0
                if n not in triu_cache:
                    triu_cache[n] = np.triu_indices(n, 1)
                iu, ju = triu_cache[n]
                keep = C[iu, ju] >= threshold - slack
                if keep.any():
                    ka.append(i0 + iu[keep])
                    kb.append(j0 + ju[keep])
            else:
                ii, jj = np.nonzero(C >= threshold - slack)
                if len(ii):
                    ka.append(i0 + ii)
                    kb.append(j0 + jj)

        with np.errstate(divide="ignore", invalid="ignore"):
            for s, e in zip(bounds[:-1], bounds[1:]):
                if e - s < 2:
                    continue
                for ts in range(s, e, _TILE):
                    te = min(ts + _TILE, e)
                    prefilter_block(ts, te, ts, te, diag=True)
                    for us in range(te, e, _TILE):
                        prefilter_block(ts, te, us,
                                        min(us + _TILE, e), diag=False)
        if not ka:
            return empty
        ia = np.concatenate(ka)
        ib = np.concatenate(kb)
        A, B = V[ia], V[ib]
        accd = np.zeros(len(ia))
        for d in range(dim):          # fold-exact pair dots
            accd = accd + A[:, d] * B[:, d]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = accd / (nrm[ia] * nrm[ib])
        r = np.floor(cos * 10000.0 + 0.5) / 10000.0
        # zero-norm rows never pair (family contract). NaN (0/0) already
        # compares False; the isfinite guard additionally covers the
        # SUBNORMAL edge the r9 property test caught: a vector whose
        # squared norm underflows to 0 while its dot does not gives
        # x/0 = +inf, which would pass any threshold.
        m = (r >= threshold) & np.isfinite(r)
        ids = pdf["id"]
        return pd.DataFrame({"id_a": ids.iloc[ia[m]].to_numpy(),
                             "id_b": ids.iloc[ib[m]].to_numpy(),
                             "cos": r[m]})

    return score


def blocked_cosine_dups(df: DataFrame, threshold: float = 0.9,
                        vec_col: str = "embedding", id_col: str = "vec_id",
                        n_planes: int | None = None,
                        n_tables: int | None = None,
                        dim: int | None = None, seed: int = 42,
                        target_bucket: int = 32,
                        recall: float = 0.999,
                        n_groups: int | None = None,
                        n_rows: int | None = None,
                        small_n_exact: int = 256) -> DataFrame:
    """Embedding near-dup pairs (cos ≥ threshold) via LSH blocking — the
    default/scale path, replacing the quadratic all-pairs theta join.

    Plan shape (r8, the third rework of the scoring stage): ONE scan
    computes all ``n_tables`` signatures in a single projection
    (:func:`with_lsh_signatures`), each row explodes into its bucket
    keys CARRYING ITS VECTOR, and ONE shuffle — keyed by a salt of the
    bucket hash into ``n_groups`` uniform groups — feeds an Arrow
    ``applyInPandas`` kernel that scores every intra-bucket pair with a
    per-bucket gemm + fold-exact recompute (:func:`_bucket_cosine_kernel`).
    Candidate pairs NEVER materialize as Spark rows; only pairs already
    at the threshold come back, and one scalar ``distinct`` removes
    multi-table repeats.

    Why this shape won (measured at the 200k-row / auto-sized corpus,
    BASELINE.md r8): the r7 join-back design emitted ~10⁸ bare-id
    candidate rows through an interpreted pair-expansion HOF, hash-
    deduped them, then joined the vectors back — but the (id, vec, norm)
    side is ~100 MB at 200k rows, over the broadcast threshold, so both
    joins planned as sort-merge: the wide post-join intermediate alone
    was ~60 GB of shuffle and the stage never finished. Shuffle here is
    rows × tables × vector (~5 GB at 200k×48) — linear in corpus size,
    uniformly keyed, with zero joins; per-bucket output is the only
    quadratic term, which is intrinsic to the pair contract (a bucket of
    b near-identical vectors owes b²/2 output pairs; run exact dedup
    first if that is your corpus).

    ``n_planes=None`` / ``n_tables=None`` (the default) auto-sizes via
    :func:`lsh_block_params` from ``n_rows`` — pass it when the count is
    already known (snapshot-store manifests, parquet footers, a prior
    stage's count) to skip the one extra scan; otherwise ``df.count()``
    runs, a cheap job that buys a plan whose bucket sizes stay near
    ``target_bucket`` at every corpus size. The sizing only picks
    integers from log-scale formulas, so an approximate count (±20%) is
    fine. Pass both plan parameters explicitly to pin a plan (the
    correctness gates do: deterministic parameters the SQL oracle can
    reproduce).
    ``n_groups`` controls the applyInPandas group count (default
    8×parallelism, raised automatically when the banded stream is known
    to be large; at cluster scale size it to ~1-2M banded rows per
    group).

    Recall: P[two rows share a bucket in ≥1 table] =
    1 − (1 − p^n_planes)^n_tables with p = 1 − θ/π; auto-sizing holds
    this ≥ ``recall`` at the threshold cosine.
    :func:`pairwise_cosine_dups` is the exact verifier.

    Small-N auto-route (r9): when the corpus is known to be at most
    ``small_n_exact`` rows (``n_rows`` passed or counted by auto-sizing),
    the call returns the exact :func:`pairwise_cosine_dups` plan instead
    — identical output contract (the exact pair set IS what LSH blocking
    approximates; recall 1.0 ≥ any table budget), no Python-worker
    spin-up, no shuffle. The default 256 sits at the measured crossover
    (warm session, 64-d, θ=0.4): 200 rows — exact 0.85 s vs kernel
    3.0 s; 2,000 rows — exact 27.6 s vs kernel 9.2 s (the theta join's
    interpreted HOF dots are quadratic, the kernel floor is flat), so
    the exact route wins roughly below 300 rows and loses fast above.
    Pass ``small_n_exact=0`` to force the LSH plan (the kernel-path
    tests do).
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    if n_planes is None or n_tables is None:
        if n_rows is None:
            n_rows = df.count()
        auto_p, auto_t = lsh_block_params(n_rows, threshold,
                                          target_bucket, recall)
        n_planes = auto_p if n_planes is None else n_planes
        n_tables = auto_t if n_tables is None else n_tables
    if n_rows is not None and n_rows <= small_n_exact:
        return pairwise_cosine_dups(df, threshold, vec_col, id_col)
    # dim inference AFTER the small-N route (r15, advice fix): the exact
    # plan never reads dim, so probing it there was a pure data-reading
    # job — and the per-(session, sf) memo of its result was cross-call
    # caching of data-derived work, the class the bench rules forbid.
    # LSH callers that know the dim still pass it and skip the probe.
    if dim is None:
        dim = _infer_dim(df, vec_col)
    if n_groups is None:
        # target ~64k banded rows (~18 MB) per pandas group: the 2M-row
        # A/B read 467.7 s at 256 groups (500k rows/group) vs 358.2 at
        # 1024 and 338.8 at 4096 in one session — big groups cost worker
        # memory pressure (GCLocker retries), small ones only per-group
        # overhead, so err small. Gate/pinned callers (n_rows unknown)
        # keep the 8×parallelism floor.
        n_groups = df.sparkSession.sparkContext.defaultParallelism * 8
        if n_rows:
            n_groups = max(n_groups, (n_rows * n_tables) // 64_000)
    signed = with_lsh_signatures(df, vec_col, n_planes, n_tables, dim, seed)
    banded = (signed.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        F.explode(F.array(*[F.xxhash64(F.lit(t), F.col(f"_sig_{t}"))
                            for t in range(n_tables)])).alias("bk"))
        .withColumn("_g", F.pmod(F.xxhash64("bk"), F.lit(n_groups))))
    id_type = df.schema[id_col].dataType
    out_schema = StructType([StructField("id_a", id_type),
                             StructField("id_b", id_type),
                             StructField("cos", DoubleType())])
    kernel = _bucket_cosine_kernel(dim, threshold)
    return (banded.groupBy("_g")
            .applyInPandas(kernel, out_schema)
            .distinct())


def semantic_dedup(df: DataFrame, threshold: float = 0.9,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   n_planes: int | None = None,
                   n_tables: int | None = None,
                   dim: int | None = None, seed: int = 42,
                   n_rows: int | None = None,
                   small_n_exact: int = 256) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): drop all but one representative (the min-id member)
    of every cluster of embeddings with pairwise cosine ≥ ``threshold``.

    Composition of the library's scale primitives — the whole pipeline
    stays bucketed, never all-pairs:

    1. candidate pairs via LSH blocking (:func:`blocked_cosine_dups` —
       one groupBy(bucket) shuffle, exact cosine only within buckets);
    2. clusters via min-label propagation with pointer jumping
       (``dedup.connected_components`` — O(log diameter) rounds over
       (node, label) pairs);
    3. representatives kept via a broadcast anti-join (losers are tiny
       relative to the corpus).

    The paper clusters with k-means first and dedups within clusters;
    LSH buckets play that blocking role here — deterministic (seeded
    hyperplanes, so the correctness gate can reproduce them in SQL) and
    with a recall formula instead of a clustering heuristic. Recall of a
    true pair: 1 − (1 − p^n_planes)^n_tables, p = 1 − θ/π; size the
    tables so misses are below fixture/regeneration risk when gating
    against an exact oracle (see d5's margin note in queries.py).
    """
    from clickhouse_datafusion_spark.operators.dedup import drop_near_dups

    pairs = blocked_cosine_dups(df, threshold, vec_col, id_col,
                                n_planes, n_tables, dim, seed,
                                n_rows=n_rows, small_n_exact=small_n_exact)
    return drop_near_dups(df, pairs, id_col)


def hard_negatives(df: DataFrame, k: int = 2, threshold: float = 0.4,
                   label_col: str = "label", vec_col: str = "embedding",
                   id_col: str = "vec_id", n_planes: int | None = None,
                   n_tables: int | None = None, dim: int | None = None,
                   seed: int = 42, n_rows: int | None = None,
                   small_n_exact: int = 256) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the ``k`` most-similar embeddings carrying a DIFFERENT label (cos ≥
    ``threshold``) — the negatives that actually move a contrastive loss,
    versus random negatives the model separates for free.

    Returns (anchor, neg, cos, rank), rank 1 = hardest; anchors with no
    qualifying negative are absent (emit your random-negative fallback
    downstream). Ranking uses the 4dp-rounded cosine with an id
    tie-break, so the order is engine-exact.

    Scale shape: candidates come from the same LSH blocking as
    :func:`blocked_cosine_dups` (one bucket-keyed shuffle, exact cosine
    only within buckets — never all-pairs), symmetrized so both ends
    serve as anchors, label-joined on the sparse pair list (AQE
    broadcasts the label side when small), then one anchor-keyed window
    for the top-k. Approximate with the LSH recall formula
    (1 − (1 − p^n_planes)^n_tables); a missed candidate can promote the
    next-hardest negative, so gate-grade comparisons against an exact
    oracle must size tables for margin (see d9's note in queries.py).
    """
    pairs = blocked_cosine_dups(df, threshold, vec_col, id_col,
                                n_planes, n_tables, dim, seed,
                                n_rows=n_rows, small_n_exact=small_n_exact)
    sym = pairs.unionByName(pairs.select(
        F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"), "cos"))
    la = df.select(F.col(id_col).alias("id_a"),
                   F.col(label_col).alias("_la"))
    lb = df.select(F.col(id_col).alias("id_b"),
                   F.col(label_col).alias("_lb"))
    from pyspark.sql import Window as W

    w = W.partitionBy("id_a").orderBy(F.col("cos").desc(), F.col("id_b"))
    return (sym.join(la, "id_a").join(lb, "id_b")
            .filter(F.col("_la") != F.col("_lb"))
            .withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= k)
            .select(F.col("id_a").alias("anchor"),
                    F.col("id_b").alias("neg"), "cos", "rank"))


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _query_signature(query_vec: list[float], planes: list[list[float]]) -> int:
    qsig = 0
    for i, p in enumerate(planes):
        if sum(x * y for x, y in zip(query_vec, p)) >= 0:
            qsig |= 1 << i
    return qsig


def _lsh_sig_matmul_kernel(dim: int, n_planes: int, n_tables: int,
                           seed: int):
    """Arrow-batched signature kernel: ALL ``n_tables × n_planes``
    hyperplane dot products as ONE BLAS matmul per batch, bit-packed in
    vectorized int64.

    Bit-compatibility with the sequential left-to-right fold (the
    driver-side :func:`_query_signature` that :func:`ann_query` probes
    with) is engineered, not assumed: numpy's matmul uses pairwise/SIMD
    summation, so a dot product within rounding slack of zero could
    sign-flip between the two. Both summations differ
    from the exact value by at most ``γ·Σ|vᵢpᵢ|`` (γ ≈ (dim+2)·2⁻⁵²), so
    any matmul dot with ``|d| > 2γ·Σ|vᵢpᵢ|`` (the abs-matmul, one more
    BLAS call) provably has the fold's sign; only the ambiguous handful
    (measure-zero for real embeddings: exact orthogonality) re-computes
    the sequential fold per flagged (row, plane). Sign test is
    ``d >= 0 or isnan(d)`` — Spark SQL orders NaN above every double, so
    ``NaN >= 0`` is TRUE there and numpy follows.

    Edge contract: a NULL embedding, one whose length ≠ dim, or one
    holding a NULL element yields signature 0 for every table (the fold
    over a NULL is NULL, so no bit is set); an all-zero vector yields
    all-ones signatures (0 ≥ 0). The kernel takes Arrow arrays, not
    pandas, because only the validity bitmap tells a NULL element from
    a NaN: as a double it would read as NaN and take the NaN rule.
    """
    import numpy as np
    import pyarrow as pa

    from pyspark.sql.functions import arrow_udf

    planes = np.array([p for t in range(n_tables)
                       for p in _hyperplanes(dim, n_planes, seed + t)],
                      dtype=np.float64)
    P = np.ascontiguousarray(planes.T)          # (dim, Ptot)
    absP = np.abs(P)
    gamma = 2.0 * (dim + 2) * 2.0 ** -52
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    def sig(batch: pa.Array) -> pa.Array:
        n = len(batch)
        out = np.zeros((n, n_tables), dtype=np.int64)
        # offsets index the whole child array (a sliced batch keeps its
        # parent's child); the running NULL count tells which rows hold a
        # NULL element
        offs = batch.offsets.to_numpy()
        vals = batch.values
        nulls = np.concatenate(([0], np.cumsum(
            vals.is_null().to_numpy(zero_copy_only=False))))
        ok_rows = np.flatnonzero(
            batch.is_valid().to_numpy(zero_copy_only=False)
            & (np.diff(offs) == dim)
            & (nulls[offs[1:]] == nulls[offs[:-1]]))
        if ok_rows.size:
            V = vals.to_numpy(zero_copy_only=False)[
                offs[ok_rows][:, None] + np.arange(dim)]
            D = V @ P
            A = np.abs(V) @ absP
            amb = np.abs(D) <= gamma * A
            if amb.any():
                for r, c in zip(*[ix.tolist() for ix in np.nonzero(amb)]):
                    acc = 0.0
                    vr, pc = V[r], P[:, c]
                    for d in range(dim):
                        acc = acc + float(vr[d]) * float(pc[d])
                    D[r, c] = acc
            bits = (D >= 0) | np.isnan(D)
            out[ok_rows] = (bits.reshape(len(ok_rows), n_tables, n_planes)
                            * weights).sum(axis=2)
        return pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n + 1) * n_tables, n_tables,
                               dtype=np.int32)),
            pa.array(out.ravel()))

    sig.__annotations__ = {"batch": pa.Array, "return": pa.Array}
    return arrow_udf(sig, "array<bigint>")


def with_lsh_signatures(df: DataFrame, vec_col: str = "embedding",
                        n_planes: int = 8, n_tables: int = 8,
                        dim: int | None = None, seed: int = 42) -> DataFrame:
    """Append all ``n_tables`` LSH signatures (``_sig_0`` .. ``_sig_{n-1}``)
    in ONE pass over the input.

    All ``n_tables × n_planes`` hyperplane dot products come from one
    BLAS matmul per Arrow batch (:func:`_lsh_sig_matmul_kernel`), planes
    regenerated from the seed inside the worker — no literal matrix in
    the plan. Signatures are bit-identical to the sequential fold
    (:func:`_query_signature`, which :func:`ann_query` probes with),
    pinned by tests/test_operators.py::test_lsh_signature_kernels_agree.
    One kernel serves every plane budget: an interpreted JVM HOF fold
    measured flat against it at 24 total planes (d9/s8) and 4.6× slower
    at 64 (the 8×8 ANN index).

    ``dim=None`` probes the dimensionality with a driver-side ``first()``
    — one tiny Spark job per call. Every registry/bench caller passes
    ``dim`` explicitly (or derives it from the query vector); pass it in
    production pipelines too, where the plan may be rebuilt per batch."""
    if dim is None:
        dim = _infer_dim(df, vec_col)
    # The matmul stage is compute-DENSE per task, so a scan that
    # arrives in fewer splits than cores serializes it AND leaves the
    # stage straggler-bound (one slow worker extends the whole stage).
    # Widen to 2× parallelism — small tasks schedule around
    # stragglers. Measured at the 200k corpus (20-split parquet scan,
    # 32 cores): 17–56 s/run erratic before, 9.6–12 s steady after;
    # the r7 d3 repartition finding, one level up. At real scale the
    # scan already has ≥ parallelism splits and this is a no-op.
    # actual planned splits, not the byte-based estimate — the
    # estimator read 40 where the scan really arrives in 20 (row
    # groups bound splits below bytes/maxPartitionBytes), and 20
    # heavy tasks on 32 cores is exactly the straggler regime
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(2 * target)
    udf = _lsh_sig_matmul_kernel(dim, n_planes, n_tables, seed)
    return (df.withColumn("_sigs", udf(_as_double(vec_col)))
            .select("*", *[F.element_at("_sigs", t + 1).alias(f"_sig_{t}")
                           for t in range(n_tables)])
            .drop("_sigs"))


def build_ann_index(df: DataFrame, path: str | None = None,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    n_planes: int = 8, n_tables: int = 8,
                    dim: int | None = None, seed: int = 42) -> DataFrame:
    """Materialize the LSH index: signatures computed once, optionally
    persisted partitioned by ``_sig_0`` so table-0 probes become
    partition-PRUNED scans (the 100 TB story: ~1/2^n_planes of the data
    read per probe instead of a full sweep).

    Returns the indexed DataFrame (the persisted read-back when ``path``
    is given). Query it with :func:`ann_query` using the same
    (n_planes, n_tables, dim, seed).
    """
    signed = with_lsh_signatures(df, vec_col, n_planes, n_tables, dim, seed)
    if path is None:
        return signed
    signed.write.partitionBy("_sig_0").mode("overwrite").parquet(path)
    spark = df.sparkSession
    return spark.read.parquet(path)


def append_ann_index(new_df: DataFrame, path: str,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     n_planes: int = 8, n_tables: int = 8,
                     dim: int | None = None, seed: int = 42) -> DataFrame:
    """Incrementally extend a persisted LSH index with new vectors —
    the every-refresh operation of a living embedding store (re-embedding
    only the crawl delta, cf. ``snapshot_diff``'s added+changed feed):
    signatures for the NEW rows only, appended into the same
    ``_sig_0``-partitioned layout, so existing index files are untouched
    and post-append probes prune exactly as before. The seeded
    hyperplanes are pure functions of (dim, n_planes, seed), so
    signatures computed months apart are bit-compatible by construction
    — the invariant the gate checks (merged index ≡ from-scratch index).

    Cost is O(|delta|): one signature projection + one partitioned
    append. Callers must pass the SAME (n_planes, n_tables, dim, seed)
    as the original build — there is no metadata file by design (the
    index is plain parquet; pin parameters in pipeline config, or wrap
    path + params in your orchestrator). Dedup responsibility stays with
    the caller: appending an id twice yields two index rows, exactly
    like any parquet append.
    """
    signed = with_lsh_signatures(new_df, vec_col, n_planes, n_tables,
                                 dim, seed)
    signed.write.partitionBy("_sig_0").mode("append").parquet(path)
    return new_df.sparkSession.read.parquet(path)


def ann_query(index: DataFrame, query_vec: list[float], k: int = 10,
              vec_col: str = "embedding", id_col: str = "vec_id",
              n_planes: int = 8, n_tables: int = 8,
              seed: int = 42, per_table_probes: bool = True,
              multiprobe: int = 0) -> DataFrame:
    """Probe a prebuilt LSH index (:func:`build_ann_index`): filter on the
    precomputed signature columns (no per-query signature computation over
    the data), then exact-rank the candidates.

    ``per_table_probes=True`` (default, for a PERSISTED index) issues one
    probe per table and unions the candidates: a single-column equality per
    probe reaches the scan — ``_sig_0 = q0`` prunes partitions of the
    partitioned layout, the others push down to row-group stats. A
    multi-table OR can never prune (a row anywhere may match another
    table), so the OR form (``per_table_probes=False``) is only right when
    the index is an in-session projection that must not be recomputed per
    probe (see :func:`lsh_ann_topk`). SHARP EDGE: passing an UNPERSISTED
    index with the default therefore re-evaluates the signature projection
    once per table (n_tables scans of the input) — if you built the index
    with ``build_ann_index(path=None)`` either persist it first or pass
    ``per_table_probes=False``; ``lsh_ann_topk`` already routes its
    in-session index to the OR form.

    ``multiprobe=h`` additionally probes every bucket within Hamming
    distance ≤ h of the query signature in each table (standard
    multi-probe LSH): the near-miss buckets — one sign test flipped — hold
    most of the recall an extra table would buy, without growing the
    index. Probes per table grow to Σ C(n_planes, i), i ≤ h (9 at the
    8-plane default with h=1); an IN-list over the signature column still
    prunes partitions/row groups. Candidates are a strict superset of the
    h=0 probe, so recall is monotone in ``h``."""
    dim = len(query_vec)
    import functools
    import itertools
    import operator

    def probe_sigs(t: int) -> list[int]:
        q = _query_signature(query_vec, _hyperplanes(dim, n_planes, seed + t))
        sigs = [q]
        for h in range(1, multiprobe + 1):
            for bits in itertools.combinations(range(n_planes), h):
                flip = 0
                for b in bits:
                    flip |= 1 << b
                sigs.append(q ^ flip)
        return sigs

    hits = [F.col(f"_sig_{t}").isin(probe_sigs(t)) if multiprobe
            else F.col(f"_sig_{t}")
            == _query_signature(query_vec, _hyperplanes(dim, n_planes, seed + t))
            for t in range(n_tables)]
    if per_table_probes:
        cands = None
        for cond in hits:
            hit = index.filter(cond)
            cands = hit if cands is None else cands.unionAll(hit)
        cands = cands.dropDuplicates([id_col])
    else:
        cands = index.filter(functools.reduce(operator.or_, hits))
    c = _cosine_to_query(vec_col, query_vec)
    return (cands.select(F.col(id_col),
                         (F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)).alias("cos"))
            .orderBy(F.col("cos").desc(), id_col)
            .limit(k))


def lsh_ann_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 n_planes: int = 8, n_tables: int = 8,
                 dim: int | None = None, seed: int = 42) -> DataFrame:
    """Approximate top-k: probe only rows sharing an LSH bucket with the
    query in ≥1 of ``n_tables`` tables, then exact-rank the candidates.

    Self-contained form of :func:`build_ann_index` + :func:`ann_query`:
    ONE scan of the input — all table signatures are computed in a single
    projection and the bucket test is one OR-filter (the round-1 union of
    per-table filters scanned the input ``n_tables`` times). No dedup
    shuffle either: each row is seen exactly once.
    """
    dim = dim or len(query_vec)
    index = with_lsh_signatures(df, vec_col, n_planes, n_tables, dim, seed)
    return ann_query(index, query_vec, k, vec_col, id_col,
                     n_planes, n_tables, seed, per_table_probes=False)


def build_ivf_index(df: DataFrame, path: str | None = None,
                    vec_col: str = "embedding", n_clusters: int = 16,
                    seed: int = 42) -> tuple[DataFrame, list[list[float]]]:
    """Fit the IVF coarse quantizer ONCE and materialize cluster
    assignments; optionally persist partitioned by ``_cluster`` so probes
    are partition-pruned scans of n_probe/n_clusters of the data.

    Returns (indexed DataFrame, cluster centers). Query with
    :func:`ivf_query` — no refit per query.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.withColumn("_fv", array_to_vector(_as_double(vec_col)))
    model = KMeans(k=n_clusters, seed=seed, featuresCol="_fv",
                   predictionCol="_cluster").fit(feat)
    assigned = model.transform(feat).drop("_fv")
    centers = [list(map(float, c)) for c in model.clusterCenters()]
    if path is None:
        return assigned, centers
    assigned.write.partitionBy("_cluster").mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path), centers


def ivf_query(index: DataFrame, centers: list[list[float]],
              query_vec: list[float], k: int = 10,
              vec_col: str = "embedding", id_col: str = "vec_id",
              n_probe: int = 4) -> DataFrame:
    """Probe a prebuilt IVF index: scan only the ``n_probe`` clusters whose
    centroids are nearest the query, exact-rank within them."""
    def dist2(c: list[float]) -> float:
        return sum((x - y) ** 2 for x, y in zip(c, query_vec))

    probe = sorted(range(len(centers)), key=lambda i: dist2(centers[i]))[:n_probe]
    c = _cosine_to_query(vec_col, query_vec)
    return (index.filter(F.col("_cluster").isin(probe))
            .select(F.col(id_col),
                    (F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)).alias("cos"))
            .orderBy(F.col("cos").desc(), id_col)
            .limit(k))


def ivf_ann_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 n_clusters: int = 16, n_probe: int = 4,
                 seed: int = 42) -> DataFrame:
    """IVF (inverted-file) ANN, self-contained: :func:`build_ivf_index` +
    :func:`ivf_query` in one call (index built in-session for demo/tests;
    production builds once with a ``path`` and queries many times)."""
    index, centers = build_ivf_index(df, None, vec_col, n_clusters, seed)
    return ivf_query(index, centers, query_vec, k, vec_col, id_col, n_probe)


def brute_force_knn_join(left: DataFrame, right: DataFrame, k: int,
                         left_vec: str = "embedding", right_vec: str = "embedding",
                         left_id: str = "vec_id", right_id: str = "vec_id",
                         dim: int | None = None,
                         max_right_rows: int | None = 1_000_000) -> DataFrame:
    """k nearest right-rows for every left-row, with the right side
    broadcast INTO an Arrow kernel that ranks in place.

    Exact kNN join; the contract is a broadcast-size ``right`` (<~1 GB —
    else use the LSH-bucketed path). The r7 shape joined broadcast(right)
    then ranked with a window: the |left|×|right| pair stream shuffled
    once for the window partition, and the per-pair cosine was either an
    interpreted HOF fold or (r7d) an unrolled expression that blew
    janino's 64 KB method limit and disabled whole-stage codegen for the
    stage. Now the right side rides a SparkContext broadcast into a
    ``mapInPandas`` kernel that computes all pair cosines fold-exactly
    (:func:`_fold_dot_np` over 64 outer-product steps — the JVM
    accumulation order, bit-identical to the SQL oracle), rounds, and
    emits each left row's top-k directly: NO join, NO window shuffle,
    |left|×k output rows.

    Semantics pinned to the old plan (and the s4 oracle): rank by
    rounded cos DESC then rid ASC (R is pre-sorted by rid; a stable
    argsort on -cos preserves rid order across exact ties); rid == lid
    pairs excluded; zero-norm cosines are NaN → Spark FLOOR(NaN) = 0 →
    cos 0.0 (replicated explicitly); malformed/NULL vectors rank after
    every valid pair with NULL cos, exactly where the window's
    NULLS-LAST ordering put them.

    ``max_right_rows`` (default 1M ≈ 0.5 GB of 64-d doubles) makes the
    broadcast contract FAIL FAST: the check is a bounded
    ``limit(cap+1).count()`` job, so a caller who points a 10⁸-row right
    side at this gets a ValueError naming the bucketed alternative
    instead of a driver OOM mid-collect (r8 verdict item 5). Pass
    ``max_right_rows=None`` only when the count is known small upstream.
    """
    import numpy as np
    import pandas as pd

    if dim is None:
        dim = _infer_dim(right, right_vec)
    if max_right_rows is not None:
        if right.limit(max_right_rows + 1).count() > max_right_rows:
            raise ValueError(
                f"brute_force_knn_join collects the right side to the "
                f"driver; right exceeds max_right_rows={max_right_rows}. "
                "Use the LSH-bucketed path (blocked_cosine_dups / "
                "lsh_ann_topk) for large right sides, or raise "
                "max_right_rows deliberately.")
    rrows = sorted(right.select(F.col(right_id).alias("rid"),
                                _as_double(right_vec).alias("rv")).collect(),
                   key=lambda r: r["rid"])
    rids_all = [r["rid"] for r in rrows]
    valid = [i for i, r in enumerate(rrows)
             if r["rv"] is not None and len(r["rv"]) == dim]
    R = (np.asarray([rrows[i]["rv"] for i in valid], dtype=np.float64)
         if valid else np.zeros((0, dim)))
    rnrm = np.sqrt(_fold_dot_np(R, R)) if valid else np.zeros(0)
    rids_v = [rids_all[i] for i in valid]
    valid_set = set(valid)
    rids_bad = [rids_all[i] for i in range(len(rrows))
                if i not in valid_set]
    bc = left.sparkSession.sparkContext.broadcast(
        (R, rnrm, rids_v, rids_bad, rids_all))

    l_ = left.select(F.col(left_id).alias("lid"),
                     _as_double(left_vec).alias("lv"))
    lid_t = l_.schema["lid"].dataType.simpleString()
    rid_t = right.schema[right_id].dataType.simpleString()

    def topk(batches):
        Rv, Rn, ids_v, ids_bad, ids_all = bc.value
        m = len(ids_v)
        ids_v_arr = np.asarray(ids_v)
        for pdf in batches:
            la, ra, ca = [], [], []
            for lid, lv in zip(pdf["lid"], pdf["lv"]):
                if lv is not None and len(lv) == dim and m:
                    v = np.asarray(lv, dtype=np.float64)
                    acc = np.zeros(m)
                    for d in range(dim):     # fold-exact, all pairs at once
                        acc = acc + v[d] * Rv[:, d]
                    nl = 0.0
                    for d in range(dim):
                        nl = nl + float(v[d]) * float(v[d])
                    nl = math.sqrt(nl)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = acc / (Rn * nl)
                    r = np.floor(cos * 10000.0 + 0.5) / 10000.0
                    # Spark FLOOR(NaN) = 0; ~isfinite also folds the
                    # subnormal-underflow ±inf edge (r9 property catch)
                    r[~np.isfinite(r)] = 0.0
                    keep = ids_v_arr != lid
                    order = np.argsort(-r[keep], kind="stable")[:k]
                    sel_ids = ids_v_arr[keep][order]
                    sel_cos = r[keep][order]
                    la.extend([lid] * len(sel_ids))
                    ra.extend(sel_ids.tolist())
                    ca.extend(sel_cos.tolist())
                    pad = [b for b in ids_bad if b != lid][:k - len(sel_ids)]
                else:                        # NULL cosine everywhere:
                    pad = [b for b in ids_all if b != lid][:k]
                la.extend([lid] * len(pad))
                ra.extend(pad)
                ca.extend([None] * len(pad))
            yield pd.DataFrame({"lid": la, "rid": ra, "cos": ca})

    schema = f"lid {lid_t}, rid {rid_t}, cos double"
    return l_.mapInPandas(topk, schema)


def label_centroids(df: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding") -> DataFrame:
    """Per-label embedding centroids in micro-units — the class-prototype
    computation behind centroid-based classification, cluster seeding, and
    embedding-drift monitoring of a labeled corpus.

    Returns (label, pos, centroid_micro, n): dimension ``pos`` of the
    label's mean vector as ``SUM(round(x·10⁶)) DIV n`` — each element is
    first quantized by ``FLOOR(x·10⁶ + 0.5)`` (a fixed sequence of IEEE
    double ops on the exact float value, hence bit-identical in any
    engine) and then summed/divided in exact integer arithmetic. A naive
    float mean would be partial-aggregation-order-dependent and could
    never hash-match an oracle; micro-unit quantization of [-1, 1]-ish
    embedding coordinates costs ~1e-6 absolute error, far below any
    embedding-space noise floor.

    Scale shape: posexplode is a projection (rows × dims, but each output
    row is 20 B of integers); ONE shuffle keyed by (label, pos) with
    map-side partial aggregation — (labels × dims) final groups, tiny.
    """
    x = F.posexplode(_as_double(vec_col))
    exploded = df.select(F.col(label_col).alias("label"), x.alias("pos", "x"))
    return (exploded
            .withColumn("xi", F.floor(F.col("x") * 1e6 + F.lit(0.5))
                        .cast("bigint"))
            .groupBy("label", "pos")
            .agg(F.expr("sum(xi) DIV count(*)").alias("centroid_micro"),
                 F.count("*").cast("bigint").alias("n"))
            .select(F.col("label").cast("int").alias("label"),
                    F.col("pos").cast("int").alias("pos"),
                    "centroid_micro", "n"))


def _sign_matrix(out_dim: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Seeded ±1 projection matrix (Achlioptas 2003's database-friendly
    JL family) — signs, not gaussians, so the projection of an integer
    vector is an exact integer sum."""
    rng = random.Random(seed)
    return [[1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)]
            for _ in range(out_dim)]


def random_project(df: DataFrame, out_dim: int = 16,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   dim: int | None = None, seed: int = 7) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with a seeded ±1
    sign matrix — the standard pre-step that makes web-scale ANN cheap:
    project 768-d float embeddings to 16–64 dims ONCE, then run every
    downstream distance/LSH/IVF pass on vectors 10–50× smaller (JL: pair
    distances survive to within 1±ε for out_dim ≳ 8·ln(n)/ε²; signs reach
    the same guarantee as gaussians, Achlioptas 2003).

    Determinism: inputs are quantized to micro-units first
    (``FLOOR(x·10⁶+½)``), so each output coordinate is an exact ±sum of
    integers — bit-identical in any engine (the DuckDB oracle rebuilds
    the same matrix as a SQL literal). Sums stay far below 2⁵³, so the
    double-typed arithmetic is exact; the result is cast to bigint
    micro-units. Cosine/distance comparisons downstream are
    scale-invariant, so no 1/√k normalization is applied.

    Scale shape: a pure projection (one ``transform`` over the literal
    matrix), shuffle-free, whole-stage codegen; the matrix is O(out_dim ×
    dim) literals in the plan — fine to a few thousand entries, switch to
    a broadcast matrix join beyond that.
    """
    if dim is None:
        dim = _infer_dim(df, vec_col)
    signs = _sign_matrix(out_dim, dim, seed)
    q = F.transform(_as_double(vec_col),
                    lambda x: F.floor(x * 1e6 + F.lit(0.5)))
    # one dot per output coordinate against the materialized micro-unit vector
    proj = F.transform(_lit_mat(signs),
                       lambda row: dot(F.col("_q_rp"), row).cast("bigint"))
    return (df.withColumn("_q_rp", q)
            .select(F.col(id_col), proj.alias("proj_micro")))


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Symmetric int8 quantization of an embedding column — the standard
    4× memory/bandwidth reduction for web-scale ANN stores (a 100 TB
    float32 embedding corpus becomes 25 TB with ~0.4% cosine error; dot
    products run on integers and rescale by the two scale factors).

    Per vector: ``scale = max(|x_i|)``, ``q_i = FLOOR(x_i/scale·127 + ½)``
    (clamps are unnecessary — |x_i/scale| ≤ 1 by construction). Every step
    is an IEEE double op on exact inputs, so the quantized vectors are
    bit-identical in any engine — the DuckDB oracle checks the arrays
    element-for-element. Zero vectors quantize to zeros with scale 0.

    Pure projection, shuffle-free; ``scale_micro`` carries the scale as an
    exact integer (micro-units) for the downstream rescale.
    """
    from clickhouse_datafusion_spark.operators.dedup import bind_once

    # the scale m is read inside the per-element quantize lambda — bind
    # the (cast) vector and m once per row, or the array_max re-scans the
    # whole vector per element: O(dim²) per row (bind_once)
    def scale_of(vv):
        return F.array_max(F.transform(vv, lambda x: F.abs(x)))

    def q_of(vv):
        return bind_once(scale_of(vv), lambda m: F.when(m > 0, F.transform(
            vv, lambda x: F.floor(x / m * 127 + F.lit(0.5)).cast("int")))
            .otherwise(F.transform(vv, lambda x: F.lit(0))))

    v = _as_double(vec_col)
    return df.select(
        F.col(id_col),
        bind_once(v, lambda vv: F.floor(scale_of(vv) * 1e6 + F.lit(0.5)))
        .cast("bigint").alias("scale_micro"),
        bind_once(v, q_of).alias("q"))
