"""Behavioral tests for the pipeline operators (dedup/similarity/text/
multimodal) beyond the oracle hash checks: recall of approximate methods
against exact ones, invariance properties, and Arrow plumbing shapes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    from clickhouse_datafusion_spark.catalog import resolve_parquet_path

    return spark.read.parquet(resolve_parquet_path(f"{SF_SMOKE}/documents.parquet"))


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


# -- dedup -----------------------------------------------------------------

def test_exact_dedup_finds_planted_dups(spark, docs):
    from clickhouse_datafusion_spark.operators.dedup import drop_exact_dups, exact_groups

    planted = docs.limit(20)
    with_dups = docs.unionAll(planted.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    groups = exact_groups(with_dups)
    n_dup_groups = groups.filter(F.col("n_copies") > 1).count()
    assert n_dup_groups == 20
    kept = drop_exact_dups(with_dups)
    assert kept.count() == docs.count()
    # keeper is always the minimum id (original, not planted copy)
    assert kept.filter(F.col("doc_id") >= 1_000_000).count() == 0


def test_minhash_recall_against_exact_jaccard(spark, docs):
    """LSH candidates at threshold .5 must contain every exact pair with
    jaccard ≥ .7 (high-sim pairs are what LSH must not miss)."""
    from clickhouse_datafusion_spark.operators.dedup import (
        minhash_candidates, ngram_jaccard_pairs)

    planted = (docs.limit(10)
               .withColumn("doc_id", F.col("doc_id") + 500_000))  # identical copies
    corpus = docs.unionAll(planted)
    exact = {(r.id_a, r.id_b)
             for r in ngram_jaccard_pairs(corpus, threshold=0.7).collect()}
    cands = {(r.id_a, r.id_b)
             for r in minhash_candidates(corpus, threshold=0.5).collect()}
    assert len(exact) >= 10
    missed = exact - cands
    assert not missed, f"LSH missed high-jaccard pairs: {sorted(missed)[:5]}"


def test_d3x_production_minhash_recall_contract(spark, docs):
    """r8 verdict task 4: the ONE rows-only registry entry
    (d3x_minhash_production — xxhash64 gram hash, no DuckDB twin) gets a
    recall CONTRACT through the pytest channel instead: at the d3x
    config (32 hashes / 8 bands / est-threshold 0.3), candidates must be
    a SUPERSET of the exact Jaccard pairs on planted NEAR-dups (one-word
    edits, J ≈ 0.95-0.99 — banding miss probability ≤ (1-J⁴)⁸ ≈ 1e-6 per
    pair, and the whole pipeline is seed-free deterministic, so this is
    a pin, not a coin flip). Identical-copy recall is covered separately
    (test_minhash_recall_against_exact_jaccard); this adds the J < 1
    regime and checks the estimator against the exact Jaccard value."""
    from clickhouse_datafusion_spark.operators.dedup import (
        minhash_candidates, ngram_jaccard_pairs)

    base = (docs.filter(F.size(F.split("text", " ")) >= 60)
            .select("doc_id", "text").limit(20))
    edited = base.select(
        (F.col("doc_id") + 900_000).alias("doc_id"),
        # one-word edit ~2/3 through the doc: breaks ≤3 shingles of ≥58,
        # so the true 3-gram Jaccard stays ≥ (n-3)/(n+3) ≈ 0.9
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 40),
                    F.lit("zzqxv"),
                    F.expr("slice(split(text, ' '), 42, 100000)"))
        .alias("text"))
    corpus = base.unionByName(edited)
    exact = {(r.id_a, r.id_b): r.jaccard
             for r in ngram_jaccard_pairs(corpus, threshold=0.85).collect()}
    planted = {k for k in exact if k[1] - k[0] == 900_000}
    assert len(planted) == 20, len(planted)   # every edit pairs with its base
    assert all(v < 1.0 for k, v in exact.items() if k in planted)
    cands = {(r.id_a, r.id_b): r.est_jaccard
             for r in minhash_candidates(corpus, threshold=0.3).collect()}
    missed = set(exact) - set(cands)
    assert not missed, f"d3x missed exact-Jaccard pairs: {sorted(missed)[:5]}"
    # the estimator must track the exact value (32 hashes: ±3σ ≈ ±0.27)
    for k in planted:
        assert abs(cands[k] - exact[k]) <= 0.3, (k, cands[k], exact[k])


def test_exact_jaccard_verify_semantics_and_plan(spark):
    """r12 (verdict task 4): exact_jaccard_verify — the d3x hard-gate
    projection — computes the exact distinct-3-gram Jaccard in the d2
    oracle's rounding, keeps only >= threshold, drops sub-ngram docs,
    and its plan broadcasts the sparse side of BOTH joins (the corpus
    is never shuffled)."""
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.dedup import (
        exact_jaccard_verify)

    docs = spark.createDataFrame([
        Row(doc_id=1, text="a b c d e f"),      # grams: abc bcd cde def
        Row(doc_id=2, text="a b c d e x"),      # grams: abc bcd cde dex
        Row(doc_id=3, text="q r s t u v"),
        Row(doc_id=4, text="a b"),              # sub-ngram: empty grams
    ])
    pairs = spark.createDataFrame([
        Row(id_a=1, id_b=2),   # |∩|=3, |∪|=5 -> 0.6
        Row(id_a=1, id_b=3),   # disjoint -> 0.0, filtered
        Row(id_a=1, id_b=4),   # empty side dropped
    ])
    out = exact_jaccard_verify(docs, pairs, threshold=0.5)
    assert sorted(map(tuple, out.collect())) == [(1, 2, 0.6)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    # AQE prints initial+final plan sections, so count >= 2, not == 2
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_minhash_arrow_kernel_matches_hof(spark, docs):
    """The explode-and-aggregate MinHash path must reproduce a pure-Python
    MinHash over the same multiply-shift family (``_mh_params``) and md5
    gram hash: same banding candidates, same estimated Jaccard. The
    sub-n-gram document has no grams, so it is never a candidate."""
    import hashlib
    import math

    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.dedup import (
        _MH_P, _mh_params, minhash_candidates)

    short = spark.createDataFrame([Row(doc_id=777_000, text="one two")])
    corpus = docs.select("doc_id", "text").unionByName(short)
    got = set(map(tuple, minhash_candidates(
        corpus, threshold=0.3, gram_hash="md5").collect()))

    params = _mh_params(32)
    sigs = {}
    for doc_id, text in corpus.collect():
        ws = text.split(" ")
        if len(ws) < 3:
            continue
        hs = {int(hashlib.md5(" ".join(ws[i:i + 3]).encode())
                  .hexdigest()[:8], 16) % _MH_P
              for i in range(len(ws) - 2)}
        sigs[doc_id] = [min((h * a + b) % _MH_P for h in hs)
                        for a, b in params]
    assert 777_000 not in sigs
    bands = {}
    for doc_id, sig in sigs.items():
        for band in range(8):
            bands.setdefault((band, tuple(sig[band * 4:band * 4 + 4])),
                             []).append(doc_id)
    want = set()
    for ids in bands.values():
        for x in ids:
            for y in ids:
                if x < y:
                    same = sum(p == q for p, q in zip(sigs[x], sigs[y]))
                    est = math.floor(same / 32 * 10000 + 0.5) / 10000.0
                    if est >= 0.3:
                        want.add((x, y, est))
    assert got == want and len(got) > 0


def test_bind_once_word_ngrams_equivalence(spark, docs):
    """The string-column parsed-SQL form of word_ngrams must agree
    row-for-row with the Column form (both bind the split once),
    including the short-text empty-array branch and NULL text (the
    guard turns the NULL condition into the empty-array branch in BOTH
    forms)."""
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.dedup import (
        bind_once, word_ngrams)

    edge = spark.createDataFrame(
        [Row(doc_id=1, text="one two"), Row(doc_id=2, text=""),
         Row(doc_id=3, text=None)], "doc_id int, text string")
    corpus = docs.select("doc_id", "text").unionByName(edge)
    both = corpus.select(
        word_ngrams("text", 3).alias("s"),
        word_ngrams(F.col("text"), 3).alias("c"))
    bad = both.filter(~(F.col("s").eqNullSafe(F.col("c")))).count()
    assert bad == 0
    assert both.filter(F.col("s").isNull()).count() == 0

    doubled = spark.range(1).select(
        bind_once(F.lit(21), lambda x: x + x).alias("v")).first()
    assert doubled.v == 42


def test_simhash_identical_and_perturbed(spark, docs):
    from clickhouse_datafusion_spark.operators.dedup import simhash_col

    two = docs.limit(1).select(
        simhash_col(F.col("text")).alias("a"),
        simhash_col(F.concat(F.col("text"), F.lit(" extra word"))).alias("b"),
        simhash_col(F.reverse(F.col("text"))).alias("c"))
    r = two.first()
    assert r.a is not None
    ham_ab = bin((r.a ^ r.b) & ((1 << 64) - 1)).count("1")
    assert ham_ab <= 16  # small perturbation → small Hamming distance


def test_simhash_near_dups_on_planted(spark, docs):
    from clickhouse_datafusion_spark.operators.dedup import simhash_near_dups

    planted = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 900_000)
    corpus = docs.unionAll(planted)
    pairs = simhash_near_dups(corpus, max_hamming=0)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    expected = {(float(i), float(i + 900_000)) for i in range(5)}
    assert {(a, b) for a, b in found
            if b - a == 900_000} >= {(i, i + 900_000) for i in range(5)}, found


def test_connected_components_long_path(spark):
    """Pointer jumping must close a 300-node path graph (diameter 299) in
    O(log n) rounds — plain min-label propagation needs 299 rounds and
    would exhaust max_iter. All nodes must label to the path minimum."""
    from clickhouse_datafusion_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(299)], "id_a bigint, id_b bigint")
    comp = connected_components(pairs, max_iter=15)
    rows = comp.collect()
    assert len(rows) == 300
    assert {r.component for r in rows} == {0}


# -- similarity ------------------------------------------------------------

def test_lsh_ann_recall_on_near_dups(spark, emb):
    """Plant 9 slightly-perturbed copies of the query vector (cos ≈ 0.99);
    LSH ANN must recall them — that's the near-dup retrieval contract.
    (The synthetic embeddings are near-random: natural 'neighbors' sit at
    cos ≈ 0.3, which no bucketed ANN can concentrate; the exact path covers
    that regime.)"""
    from clickhouse_datafusion_spark.operators.similarity import (
        cosine_topk, lsh_ann_topk)

    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    planted = spark.createDataFrame(
        [(100_000 + i, [v + 0.01 * ((i + j) % 3) for j, v in enumerate(qvec)], 0)
         for i in range(9)],
        "vec_id bigint, embedding array<float>, label int")
    corpus = emb.unionByName(planted)
    exact = [r.vec_id for r in cosine_topk(corpus, qvec, k=10).collect()]
    approx = [r.vec_id for r in lsh_ann_topk(corpus, qvec, k=10).collect()]
    assert exact[0] == 0  # query vector is its own nearest
    assert set(exact) == set(approx), (exact, approx)


def test_blocked_cosine_dups_matches_exact_on_planted(spark, emb):
    """The LSH-blocked near-dup path must reproduce the exact all-pairs
    result on a corpus with planted near-dups: at cos ≈ 0.99 the per-pair
    bucket-miss probability is ~1e-6 (4 planes × 8 tables), so set equality
    is the correct assertion, not a recall bound."""
    from clickhouse_datafusion_spark.operators.similarity import (
        blocked_cosine_dups, pairwise_cosine_dups)

    base = emb.filter(F.col("vec_id") < 100)
    seeds = base.filter(F.col("vec_id") < 10).collect()
    planted = spark.createDataFrame(
        [(200_000 + int(r.vec_id),
          [float(v) + 0.01 * ((int(r.vec_id) + j) % 3)
           for j, v in enumerate(r.embedding)])
         for r in seeds],
        "vec_id bigint, embedding array<float>")
    corpus = base.select("vec_id", "embedding").unionByName(planted)
    exact = {(r.id_a, r.id_b, r.cos)
             for r in pairwise_cosine_dups(corpus, threshold=0.9).collect()}
    blocked = {(r.id_a, r.id_b, r.cos)
               for r in blocked_cosine_dups(corpus, threshold=0.9, dim=64,
                                            small_n_exact=0).collect()}
    assert len(exact) >= 10          # every planted copy pairs with its seed
    assert blocked == exact, (sorted(exact - blocked)[:5],
                              sorted(blocked - exact)[:5])


def test_lsh_block_params_sizing():
    """Auto-sizing must keep candidate volume linear in rows (planes track
    log2(n/target)) and hold the recall bound at the threshold cosine."""
    import math

    from clickhouse_datafusion_spark.operators.similarity import lsh_block_params

    for n_rows in (100, 2_000, 200_000, 20_000_000):
        for thr in (0.8, 0.9, 0.95, 0.99):
            planes, tables = lsh_block_params(n_rows, thr)
            assert 1 <= planes <= 24 and 1 <= tables <= 64
            if n_rows > 64 and planes < 24:
                # expected bucket size stays within 2x of target
                assert n_rows / 2 ** planes <= 2 * 32
            p = 1.0 - math.acos(thr) / math.pi
            recall = 1.0 - (1.0 - p ** planes) ** tables
            if tables < 64:  # uncapped → the bound must hold
                assert recall >= 0.999, (n_rows, thr, planes, tables, recall)
    # low thresholds honestly cap at max_tables instead of exploding
    assert lsh_block_params(200_000, 0.4)[1] == 64
    # tiny corpora degrade to a single bucket, one table
    assert lsh_block_params(10, 0.9) == (1, lsh_block_params(10, 0.9)[1])


def test_blocked_cosine_dups_plan_is_bucketed(spark, emb):
    """The blocked plan must be ONE scan → salted-bucket shuffle → Arrow
    in-bucket scorer → scalar distinct, with no join of any kind (the
    all-pairs theta join was the one scale-killer pattern in the repo —
    VERDICT r3; the r7 join-back shape died at 200k rows on two
    sort-merge joins of the 193M-row candidate stream — BASELINE.md r8).
    Candidate pairs must never materialize as Spark rows: scoring lives
    in the FlatMapGroupsInPandas kernel."""
    from clickhouse_datafusion_spark.operators.similarity import blocked_cosine_dups

    plan = (blocked_cosine_dups(emb, threshold=0.8, dim=64, small_n_exact=0)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan, plan
    assert "FlatMapGroupsInPandas" in plan
    import re as _re

    assert len(_re.findall(r"\bFileScan\b|\bBatchScan\b", plan)) <= 1, plan


def test_query_cosine_kernel_matches_fold(spark, emb):
    """The fold-exact Arrow query-cosine kernel must be BIT-identical to
    the JVM HOF fold (same left-to-right accumulation — no γ-guard
    needed because the kernel IS the fold, vectorized across rows),
    including the NULL contract: a vector shorter OR longer than the
    query dim yields NULL exactly where ``zip_with``'s NULL padding
    nulls the fold. Checked on the real fixture (raw doubles, no
    rounding) and on malformed edge rows. The unrolled-codegen form this
    replaces (60c3905/0ab45cd) blew janino's 64 KB method limit at 3
    dots per expression and disabled whole-stage codegen for the stage."""
    from clickhouse_datafusion_spark.operators.similarity import (
        _as_double, _cosine_to_query, _lit_vec, cosine)

    qvec = [float(x) for x in emb.select("embedding").first()[0]]
    q = _lit_vec(qvec)
    both = emb.select(
        cosine(_as_double("embedding"), q).alias("cos_fold"),
        _cosine_to_query("embedding", qvec).alias("cos_kernel"))
    assert both.filter(
        ~(F.col("cos_fold") == F.col("cos_kernel"))).count() == 0
    edge = spark.createDataFrame(
        [(1, [0.5] * 10), (2, [0.5] * 80), (3, None)],
        "vec_id int, embedding array<float>")
    rows = edge.select(
        "vec_id", cosine(_as_double("embedding"), q).alias("a"),
        _cosine_to_query("embedding", qvec).alias("b")).collect()
    for r in rows:
        assert r["a"] is None and r["b"] is None, r
    # non-finite elements are DOUBLE literals, not column references
    inf, nan = float("inf"), float("nan")
    v = spark.range(1).select(_lit_vec([1.5, nan, inf, -inf]).alias("v"))
    assert v.schema["v"].dataType.simpleString() == "array<double>"
    got = v.first().v
    assert got[0] == 1.5 and got[1] != got[1] and got[2:] == [inf, -inf]


def test_bucket_kernel_keeps_round_up_borderline(spark):
    """r9 advisor HIGH: the emission test is on the 4dp-ROUNDED cosine,
    so a pair with raw cosine in [θ−5e-5, θ) rounds UP to θ and must be
    emitted. The r8 prefilter slack (1e-6) silently dropped such pairs;
    the fixture pair sits at raw cos θ−2.5e-5 — inside the rounding
    window, outside the old slack."""
    import math

    from clickhouse_datafusion_spark.operators.similarity import (
        blocked_cosine_dups, pairwise_cosine_dups)

    c = 0.9 - 2.5e-5
    s = math.sqrt(1.0 - c * c)
    rows = [(1, [1.0, 0.0, 0.0, 0.0]),
            (2, [c, s, 0.0, 0.0]),          # raw cos(1,2) ≈ θ−2.5e-5 → rounds to 0.9
            (3, [0.0, 0.0, 1.0, 0.0])]      # far from both
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    # 24 tables at 1 plane: miss probability of a cos≈0.9 pair ≈ 1e-20
    blocked = {(r.id_a, r.id_b, r.cos) for r in blocked_cosine_dups(
        df, threshold=0.9, dim=4, n_planes=1, n_tables=24,
        small_n_exact=0).collect()}
    exact = {(r.id_a, r.id_b, r.cos) for r in
             pairwise_cosine_dups(df, threshold=0.9).collect()}
    assert (1, 2, 0.9) in exact            # the contract really rounds up
    assert blocked == exact, (exact - blocked, blocked - exact)


def test_blocked_cosine_dups_small_n_routes_exact(spark, emb):
    """r9: a corpus known to be ≤ small_n_exact rows must take the exact
    theta-join plan — no Arrow kernel node, no LSH machinery — with the
    identical output contract (measured crossover ~300 rows; the 200-row
    d5 gate slice pays 0.85 s vs the kernel's 3 s floor)."""
    from clickhouse_datafusion_spark.operators.similarity import (
        blocked_cosine_dups, pairwise_cosine_dups)

    sl = emb.filter(F.col("vec_id") < 150).select("vec_id", "embedding")
    routed = blocked_cosine_dups(sl, threshold=0.4, dim=64, n_rows=150)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan, plan
    got = {(r.id_a, r.id_b, r.cos) for r in routed.collect()}
    exact = {(r.id_a, r.id_b, r.cos) for r in
             pairwise_cosine_dups(sl, threshold=0.4).collect()}
    assert got == exact and len(exact) > 0
    # auto-sizing counts the corpus, so the route also fires with no n_rows
    plan2 = (blocked_cosine_dups(sl, threshold=0.4, dim=64)
             ._jdf.queryExecution().executedPlan().toString())
    assert "FlatMapGroupsInPandas" not in plan2


def test_blocked_cosine_small_n_route_needs_no_dim_probe(spark):
    """The small-N exact route must not probe the data for dim: an
    all-NULL vector column would make _infer_dim raise, so reaching the
    result proves no probe ran."""
    from clickhouse_datafusion_spark.operators.similarity import (
        blocked_cosine_dups)
    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StructField, StructType)

    schema = StructType([StructField("vec_id", LongType()),
                         StructField("embedding", ArrayType(DoubleType()))])
    df = spark.createDataFrame([(1, None), (2, None)], schema)
    out = blocked_cosine_dups(df, threshold=0.5, n_planes=1, n_tables=2,
                              n_rows=2)
    assert out.count() == 0


def test_query_cosine_zero_norm_is_nan_not_null(spark):
    """r9 advisor: ``pd.array(..., 'Float64')`` coerced np.nan → pd.NA,
    returning NULL for zero-norm rows where the JVM fold divides to NaN.
    The contract: zero-norm rows rank at cos 0.0 (FLOOR(NaN)=0 in the
    rounding), malformed rows rank last with NULL cos."""
    from clickhouse_datafusion_spark.operators.similarity import cosine_topk

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, None), (4, [-1.0, 0.0])],
        "vec_id bigint, embedding array<double>")
    got = {r.vec_id: r.cos for r in cosine_topk(df, [1.0, 0.0], k=4).collect()}
    assert got[1] == 1.0 and got[4] == -1.0
    assert got[2] == 0.0, got        # zero-norm: NaN → FLOOR(NaN)=0 → 0.0
    assert got[3] is None, got       # malformed: NULL, ranks last


def test_blocked_cosine_dups_zero_norm_never_pairs(spark):
    """r9 family contract: a zero-norm vector's cosine is undefined, so
    it never pairs — at ANY threshold, in BOTH the kernel and the exact
    path (whose ANSI-mode JVM division would otherwise raise
    DIVIDE_BY_ZERO rather than produce NaN; it now filters nrm > 0)."""
    from clickhouse_datafusion_spark.operators.similarity import (
        blocked_cosine_dups, pairwise_cosine_dups)

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 0.0]),
         (4, [0.8, 0.0])],
        "vec_id bigint, embedding array<double>")
    for thr in (0.0, -0.5, 0.4):
        blocked = {(r.id_a, r.id_b, r.cos) for r in blocked_cosine_dups(
            df, threshold=thr, dim=2, n_planes=1, n_tables=8,
            small_n_exact=0).collect()}
        exact = {(r.id_a, r.id_b, r.cos) for r in
                 pairwise_cosine_dups(df, threshold=thr).collect()}
        assert blocked == exact, (thr, exact - blocked, blocked - exact)
        assert (1, 4, 1.0) in blocked            # real pairs still emit
        assert not any(2 in p[:2] or 3 in p[:2] for p in blocked), blocked


def test_brute_force_knn_join_right_guard(spark, emb):
    """r8 verdict item 5: a right side over max_right_rows must fail fast
    with a pointer to the bucketed path, never a driver-side collect."""
    import pytest as _pytest

    from clickhouse_datafusion_spark.operators.similarity import (
        brute_force_knn_join)

    left = emb.limit(5)
    with _pytest.raises(ValueError, match="max_right_rows"):
        brute_force_knn_join(left, emb, k=2, dim=64, max_right_rows=100)
    # under the cap (and with the cap disabled) the join still runs
    assert brute_force_knn_join(left, emb.limit(50), k=2, dim=64).count() == 10


def test_infer_dim_guard(spark):
    """r9 advisor: dim inference must skip leading NULL rows and raise a
    clear error on an all-NULL/empty input instead of TypeError."""
    import pytest as _pytest

    from clickhouse_datafusion_spark.operators.similarity import _infer_dim

    df = spark.createDataFrame(
        [(1, None), (2, [1.0, 2.0, 3.0])],
        "vec_id bigint, embedding array<double>")
    assert _infer_dim(df, "embedding") == 3
    with _pytest.raises(ValueError, match="pass dim"):
        _infer_dim(df.filter(F.col("vec_id") == 1), "embedding")


def test_bucket_kernel_tiling_matches_untiled(spark, emb):
    """The skewed-bucket gemm tiling must be invisible in the output: a
    bucket spanning many tiles (tile=16 over a 150-row bucket, so
    diagonal AND off-diagonal tile paths both fire) yields exactly the
    untiled kernel's pairs. Runs the kernel directly on one synthetic
    bucket."""
    import numpy as np
    import pandas as pd

    from clickhouse_datafusion_spark.operators.similarity import (
        _bucket_cosine_kernel)

    rng = np.random.default_rng(7)
    base = rng.standard_normal(64)
    rows = [base + 0.3 * rng.standard_normal(64) for _ in range(150)]
    pdf = pd.DataFrame({"id": np.arange(150, dtype=np.int64),
                        "v": [r.astype(np.float64) for r in rows],
                        "bk": np.zeros(150, dtype=np.int64),
                        "_g": np.zeros(150, dtype=np.int64)})
    untiled = _bucket_cosine_kernel(64, 0.4, tile=4096)(pdf.copy())
    tiled = _bucket_cosine_kernel(64, 0.4, tile=16)(pdf.copy())
    key = lambda d: sorted(zip(d["id_a"], d["id_b"], d["cos"]))
    assert len(untiled) > 100          # the fixture produces real pairs
    assert key(tiled) == key(untiled)


def test_knn_join_kernel_matches_window_reference(spark, emb):
    """The mapInPandas kNN kernel must reproduce the reference
    join+window plan row-for-row: rounded cos DESC, rid ASC tie-break,
    self-pairs excluded."""
    from pyspark.sql import Window as W

    from clickhouse_datafusion_spark.operators.similarity import (
        _as_double, brute_force_knn_join, cosine)

    left = emb.filter(F.col("vec_id") < 10)
    right = emb.filter(F.col("vec_id") < 100)
    got = {(r.lid, r.rid): r.cos
           for r in brute_force_knn_join(left, right, k=3).collect()}
    r_ = F.broadcast(right.select(F.col("vec_id").alias("rid"),
                                  _as_double("embedding").alias("rv")))
    l_ = left.select(F.col("vec_id").alias("lid"),
                     _as_double("embedding").alias("lv"))
    c = cosine(F.col("lv"), F.col("rv"))
    w = W.partitionBy("lid").orderBy(F.col("cos").desc(), "rid")
    want = {(r.lid, r.rid): r.cos for r in
            (l_.join(r_, F.col("lid") != F.col("rid"))
             .select("lid", "rid",
                     (F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0))
                     .alias("cos"))
             .withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") <= 3).drop("rn")).collect()}
    assert got == want


def test_lsh_signature_kernels_agree(spark, emb):
    """The Arrow matmul kernel must be BIT-IDENTICAL to the sequential
    left-to-right fold that ann_query probes with
    (operators/similarity.py::_query_signature) — the guard recomputes
    the fold for any dot within the floating-point error bound of zero,
    so sign tests can never diverge. Covers the edge contract too: NULL
    embedding, wrong-length embedding and a NULL element → signature 0
    everywhere (the fold is NULL, so no bit is set); a NaN element and
    the all-zero vector → all-ones (NaN ≥ 0 and 0 ≥ 0 take the bit in
    Spark SQL); and an exactly-orthogonal
    construction that lands in the ambiguous zone of the matmul-vs-fold
    error bound. Every plane budget runs the one kernel."""
    from clickhouse_datafusion_spark.operators.similarity import (
        _hyperplanes, _query_signature, with_lsh_signatures)

    p0 = _hyperplanes(64, 5, seed=42)[0]
    # v·p0 == 0 exactly in double arithmetic: the two products round
    # identically and cancel, every later term is 0*x
    ortho = [float(p0[1]), -float(p0[0])] + [0.0] * 62
    holed = [0.5, None, 0.25, 1.0] * 16
    edge = spark.createDataFrame(
        [(1, None), (2, [0.5] * 10), (3, [0.0] * 64), (4, ortho),
         (5, holed), (6, [float("nan")] + [0.5] * 63)],
        "vec_id bigint, embedding array<float>")
    corpus = emb.select("vec_id", "embedding").unionByName(edge)
    vecs = dict(corpus.collect())
    arrow_evals = []
    for n_planes, n_tables in ((5, 3), (13, 12)):
        # on the plain scan: a Union would get the UDF pushed into each
        # of its branches
        arrow_evals.append(with_lsh_signatures(
            emb, dim=64, n_planes=n_planes, n_tables=n_tables)._jdf
            .queryExecution().executedPlan().toString()
            .count("ArrowEvalPython"))
        signed = with_lsh_signatures(corpus, dim=64, n_planes=n_planes,
                                     n_tables=n_tables)
        cols = ["vec_id"] + [f"_sig_{t}" for t in range(n_tables)]
        got = {r[0]: r[1:] for r in signed.select(cols).collect()}
        zero = tuple([0] * n_tables)
        assert got.pop(5) == zero, (n_planes, n_tables)   # NULL element
        assert got.pop(1) == zero                         # NULL embedding
        assert got.pop(2) == zero                         # wrong length
        ones = tuple([2 ** n_planes - 1] * n_tables)
        assert got.pop(6) == ones                         # NaN element
        assert got[3] == ones                             # zero vec
        tables = [_hyperplanes(64, n_planes, 42 + t)
                  for t in range(n_tables)]
        assert got == {i: tuple(_query_signature(vecs[i], pl)
                                for pl in tables) for i in got}
    assert arrow_evals == [1, 1]


def test_ann_multiprobe_superset_recall(spark, emb):
    """Multi-probe candidates are a strict superset of single-probe ones
    (every flipped-bit bucket adds rows, never removes), so recall is
    monotone; with few tables (where single-probe misses are likely),
    Hamming-1 probing must recover at least as many planted near-dups."""
    from clickhouse_datafusion_spark.operators.similarity import (
        ann_query, build_ann_index, cosine_topk)

    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    planted = spark.createDataFrame(
        [(300_000 + i, [v + 0.01 * ((i + j) % 3) for j, v in enumerate(qvec)])
         for i in range(9)],
        "vec_id bigint, embedding array<float>")
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    idx = build_ann_index(corpus, n_tables=2, dim=64)
    got0 = {r.vec_id for r in
            ann_query(idx, qvec, k=20, n_tables=2).collect()}
    got1 = {r.vec_id for r in
            ann_query(idx, qvec, k=20, n_tables=2, multiprobe=1).collect()}
    exact = {r.vec_id for r in cosine_topk(corpus, qvec, k=10).collect()}
    assert len(got1 & exact) >= len(got0 & exact)
    assert exact <= got1  # Hamming-1 probing recovers the planted set here


def test_knn_join_shape(spark, emb):
    from clickhouse_datafusion_spark.operators.similarity import brute_force_knn_join

    left = emb.filter(F.col("vec_id") < 5)
    out = brute_force_knn_join(left, emb, k=3)
    rows = out.collect()
    assert len(rows) == 15  # 5 lefts × k
    assert all(r.lid != r.rid for r in rows)


# -- text ------------------------------------------------------------------

def test_repetition_scores_flag_boilerplate(spark, docs):
    """A planted all-repeated document must score ~1.0 on every repetition
    signal; natural fixture docs stay well below it."""
    from clickhouse_datafusion_spark.operators.text import repetition_cols
    from pyspark.sql import Row

    planted = spark.createDataFrame(
        [Row(doc_id=999_999, text="buy now " * 49 + "buy now")])
    corpus = docs.select("doc_id", "text").unionByName(planted)
    out = {r.doc_id: r for r in
           corpus.select("doc_id", *repetition_cols("text")).collect()}
    spam = out[999_999]
    assert spam.dup_word_frac >= 0.97
    assert spam.top_word_frac == 0.5          # 'buy' is half the words
    assert spam.top_bigram_frac >= 0.5        # 'buy now' dominates bigrams
    naturals = [r for k, r in out.items() if k != 999_999]
    assert sum(r.top_bigram_frac for r in naturals) / len(naturals) < 0.3


def test_repetition_exploded_matches_hof(spark, docs):
    """The linear-time exploded variant (long-doc scale path) must be
    value-identical to the HOF projection path — INCLUDING degenerate docs
    (NULL text, single word): r4 advice caught the exploded path silently
    dropping docs that produce no exploded rows."""
    from clickhouse_datafusion_spark.operators.text import (
        repetition_cols, repetition_scores_exploded)
    from pyspark.sql import Row

    degenerate = spark.createDataFrame(
        [Row(doc_id=999_001, text=None), Row(doc_id=999_002, text="solo"),
         Row(doc_id=999_003, text="")],
        schema="doc_id bigint, text string")
    corpus = docs.select("doc_id", "text").unionByName(degenerate)
    hof = {r.doc_id: (r.dup_word_frac, r.top_word_frac, r.top_bigram_frac)
           for r in corpus.select("doc_id", *repetition_cols("text")).collect()}
    expl = {r.doc_id: (r.dup_word_frac, r.top_word_frac, r.top_bigram_frac)
            for r in repetition_scores_exploded(corpus).collect()}
    assert hof == expl
    assert hof[999_001] == (0.0, 0.0, 0.0)     # NULL text: defined, not NULL
    assert hof[999_002] == (0.0, 1.0, 0.0)     # one word, no bigrams

def test_analyze_one_pass(spark, docs):
    from clickhouse_datafusion_spark.operators.text import analyze

    out = analyze(docs.limit(50))
    r = out.first()
    assert r.ws_tokens > 0 and r.re_tokens >= r.ws_tokens - 1
    assert 0.0 <= r.quality <= 100.0
    assert r.lang_pred in ("de", "en", "es", "fr", "und")
    assert 0 <= r.fp < 2_147_483_647
    assert 0.0 <= r.dup_word_frac <= 1.0
    assert 0.0 < r.top_word_frac <= 1.0


def test_fingerprint_is_content_hash(spark, docs):
    from clickhouse_datafusion_spark.operators.text import fingerprint_col

    a = docs.select(F.col("doc_id"), fingerprint_col("text"))
    b = docs.select(F.col("doc_id"), fingerprint_col("text"))
    assert a.exceptAll(b).count() == 0  # deterministic
    n_distinct = a.select("fp").distinct().count()
    assert n_distinct >= docs.count() * 0.99  # 31-bit space, 500 docs: no collisions


# -- multimodal ------------------------------------------------------------

def test_multimodal_plumbing(spark, docs):
    from clickhouse_datafusion_spark.operators.multimodal import (
        FEATURE_DIM, decode_features, documents_as_media, frame_sample,
        resize_media)

    media = documents_as_media(docs.limit(30))
    assert [f.name for f in media.schema.fields] == ["media_id", "payload", "meta"]
    feats = decode_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r.features) == FEATURE_DIM for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r.features)

    resized = resize_media(media, 224, 224)
    r = resized.first()
    assert (r.meta.width, r.meta.height) == (224, 224)

    vids = media.withColumn(
        "meta", F.struct(F.lit("video").alias("kind"), F.lit("video/mp4").alias("mime"),
                         F.lit(None).cast("int").alias("width"),
                         F.lit(None).cast("int").alias("height"),
                         F.lit(3500).cast("long").alias("duration_ms")))
    frames = frame_sample(vids, every_ms=1000)
    per_media = frames.groupBy("media_id").count().first()
    assert per_media["count"] == 3


def test_multimodal_strict_mode_raises(spark, docs):
    from clickhouse_datafusion_spark.operators.multimodal import (
        decode_features, documents_as_media)

    media = documents_as_media(docs.limit(2))
    with pytest.raises(Exception, match="(?i)codec|notimplemented"):
        decode_features(media, strict=True).collect()


# -- clusters / sampling ---------------------------------------------------

def test_connected_components_known_graph(spark):
    from clickhouse_datafusion_spark.operators.dedup import connected_components

    # two components {1,2,3,7} (chain + triangle) and {10,11}; 5 isolated-pairless
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 7), (7, 1), (10, 11)], ["id_a", "id_b"])
    got = {(r.id, r.component) for r in connected_components(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (7, 1), (10, 10), (11, 10)}


def test_connected_components_long_chain_converges(spark):
    from clickhouse_datafusion_spark.operators.dedup import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(12)], ["id_a", "id_b"])
    got = connected_components(chain, max_iter=15).collect()
    assert {r.component for r in got} == {0}
    assert len(got) == 13


def test_drop_near_dups_keeps_representative(spark, docs):
    from clickhouse_datafusion_spark.operators.dedup import (
        drop_near_dups, ngram_jaccard_pairs)

    planted = docs.limit(8).withColumn("doc_id", F.col("doc_id") + 700_000)
    corpus = docs.unionAll(planted)
    pairs = ngram_jaccard_pairs(corpus, threshold=0.9)
    kept = drop_near_dups(corpus, pairs)
    # every planted copy (higher id than its original) must be gone
    assert kept.filter(F.col("doc_id") >= 700_000).count() == 0
    # exactly the component representatives (min id) survive; docs in no
    # pair pass through (the base corpus has organic near-dups too, so
    # compute the expectation from the components)
    from clickhouse_datafusion_spark.operators.dedup import connected_components
    comp = connected_components(pairs)
    n_losers = comp.filter(F.col("id") != F.col("component")).count()
    assert kept.count() == corpus.count() - n_losers
    reps = {r.component for r in comp.collect()}
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert reps <= kept_ids


def test_hash_split_deterministic_and_disjoint(spark, docs):
    from clickhouse_datafusion_spark.operators.sampling import hash_split

    s1 = hash_split(docs).select("doc_id", "split")
    s2 = hash_split(docs.repartition(7)).select("doc_id", "split")
    # identical assignment regardless of partitioning
    assert s1.exceptAll(s2).count() == 0 and s2.exceptAll(s1).count() == 0
    frac = {r["split"]: r["n"] for r in
            s1.groupBy("split").agg(F.count("*").alias("n")).collect()}
    n = sum(frac.values())
    assert n == docs.count()
    assert 0.7 < frac.get("train", 0) / n < 0.9   # ~80%
    assert frac.get("val", 0) > 0 and frac.get("test", 0) > 0


def test_stratified_sample_exact_fraction(spark, docs):
    from clickhouse_datafusion_spark.operators.sampling import stratified_sample
    import math

    samp = stratified_sample(docs, "lang", 0.2)
    per = {r.lang: r.n for r in
           samp.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    tot = {r.lang: r.n for r in
           docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in tot.items():
        assert per.get(lang, 0) == math.ceil(n * 0.2), lang


def test_bernoulli_stratified_no_shuffle(spark, docs):
    from clickhouse_datafusion_spark.operators.sampling import bernoulli_stratified

    samp = bernoulli_stratified(docs, {"en": 0.5}, "lang")
    plan = samp._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan          # pure pipelined filter
    langs = {r.lang for r in samp.select("lang").distinct().collect()}
    assert langs <= {"en"}


def test_lsh_ann_single_scan_plan(spark, emb):
    """The round-1 implementation unioned 8 per-table filters → 8 scans of
    the input. All signatures must now come from ONE projection: exactly one
    scan node in the physical plan."""
    from clickhouse_datafusion_spark.operators.similarity import lsh_ann_topk

    qvec = [float(v) for v in emb.first()["embedding"]]
    df = lsh_ann_topk(emb, qvec, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re as _re

    assert len(_re.findall(r"\bFileScan\b|\bBatchScan\b", plan)) <= 1, plan


def test_ann_index_build_query_pruning(spark, emb, tmp_path):
    """build_ann_index persists signatures partitioned by _sig_0; ann_query
    on the persisted index matches the self-contained path and prunes
    partitions on the table-0 probe."""
    from clickhouse_datafusion_spark.operators.similarity import (
        ann_query, build_ann_index, lsh_ann_topk)

    qvec = [float(v) for v in emb.first()["embedding"]]
    idx = build_ann_index(emb, str(tmp_path / "annidx"))
    got = [r.vec_id for r in ann_query(idx, qvec, k=10).collect()]
    expect = [r.vec_id for r in lsh_ann_topk(emb, qvec, k=10).collect()]
    assert got == expect
    # partition pruning: the _sig_0 equality must reach the scan as a
    # partition filter on the persisted layout
    plan = (ann_query(idx, qvec, k=10)._jdf.queryExecution()
            .executedPlan().toString())
    assert "_sig_0" in plan.split("PartitionFilters", 1)[-1][:400]


def test_ivf_index_build_once_query_many(spark, emb):
    """build_ivf_index fits KMeans once; ivf_query never refits."""
    from clickhouse_datafusion_spark.operators.similarity import (
        build_ivf_index, ivf_query)

    index, centers = build_ivf_index(emb, n_clusters=8)
    index = index.cache()
    rows = emb.limit(3).collect()
    for r in rows:
        qvec = [float(v) for v in r["embedding"]]
        got = ivf_query(index, centers, qvec, k=5).collect()
        assert len(got) == 5
        assert got[0].cos >= got[-1].cos
    index.unpersist()


def test_multimodal_real_codecs(spark):
    """The WAV-PCM and PPM kernels are REAL decoders: known synthetic inputs
    produce the mathematically expected features (strict mode — no fake
    fallback involved)."""
    import math
    import struct

    from clickhouse_datafusion_spark.operators.multimodal import (
        MEDIA_SCHEMA, decode_features, decode_ppm, decode_wav_pcm)

    # 0.5 s of a 440 Hz sine, 16-bit PCM mono @ 8 kHz
    sr, dur_s, amp = 8000, 0.5, 0.5
    n = int(sr * dur_s)
    samples = [int(amp * 32767 * math.sin(2 * math.pi * 440 * i / sr))
               for i in range(n)]
    data = struct.pack(f"<{n}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sr, sr * 2, 2, 16)
    wav = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
           + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", len(data)) + data)
    w = decode_wav_pcm(wav)
    assert (w["sample_rate"], w["channels"], len(w["samples"])) == (sr, 1, n)

    # 4x2 binary PPM, each row: 2 red then 2 blue pixels (with a comment)
    px = bytes(([255, 0, 0] * 2 + [0, 0, 255] * 2) * 2)
    ppm = b"P6\n# synthetic fixture\n4 2\n255\n" + px
    img = decode_ppm(ppm)
    assert (img["width"], img["height"], img["maxval"]) == (4, 2, 255)

    rows = [(1, bytearray(wav), ("audio", "audio/wav", None, None, 500)),
            (2, bytearray(ppm), ("image", "image/x-portable-pixmap", 4, 2, None))]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r.features
             for r in decode_features(df, strict=True).collect()}
    # audio features: [duration_s, rms, peak, zero-cross, envelope...]
    assert abs(feats[1][0] - dur_s) < 1e-9
    assert abs(feats[1][1] - amp / math.sqrt(2)) < 0.01  # sine RMS = A/√2
    assert 0.4 < feats[1][2] <= 0.51                      # peak ≈ amp
    # image features: [w, h, meanR, meanG, meanB, luminance hist...]
    assert feats[2][:2] == [4.0, 2.0]
    assert abs(feats[2][2] - 0.5) < 1e-9   # half the pixels are pure red
    assert abs(feats[2][3] - 0.0) < 1e-9
    assert abs(feats[2][4] - 0.5) < 1e-9


# -- PII redaction / contamination ------------------------------------------

def test_pii_redaction(spark):
    from clickhouse_datafusion_spark.operators.text import redact_pii_cols

    df = spark.createDataFrame(
        [(1, "mail bob@example.com or call +1 555 010 1234 today"),
         (2, "no pii here at all")],
        "id int, text string")
    out = {r.id: r for r in df.select("id", *redact_pii_cols("text")).collect()}
    assert (out[1].n_emails, out[1].n_phones) == (1, 1)
    assert "<EMAIL>" in out[1].redacted and "<PHONE>" in out[1].redacted
    assert "bob@example.com" not in out[1].redacted
    assert (out[2].n_emails, out[2].n_phones) == (0, 0)
    assert out[2].redacted == "no pii here at all"


def test_contamination_planted_and_broadcast(spark):
    from clickhouse_datafusion_spark.operators.text import contamination_scores
    from clickhouse_datafusion_spark.plans.explain import executed_plan

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),   # contains eval 3-grams
         (2, "one two three four five six seven")],    # disjoint
        "doc_id bigint, text string")
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id bigint, text string")
    res = contamination_scores(train, ev, ngram=3)
    rows = {r.doc_id: r for r in res.collect()}
    # doc 1 has 4 distinct 3-grams, 2 of which appear in the eval doc
    assert rows[1].n_hits == 2 and abs(rows[1].contamination - 0.5) < 1e-9
    assert 2 not in rows
    # scale property: the eval shingle side is broadcast, not shuffled
    assert "BroadcastExchange" in executed_plan(res)


def _encode_png(width, height, pixels, channels, filters):
    """Minimal in-test PNG encoder: per-row filter types from ``filters``
    (cycled), so the decoder's full filter-reversal set gets exercised."""
    import struct
    import zlib

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else b if pb <= pc else c

    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = width * channels
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = pixels[y * stride:(y + 1) * stride]
        f = filters[y % len(filters)]
        raw.append(f)
        for i in range(stride):
            left = row[i - channels] if i >= channels else 0
            up = prev[i]
            ul = prev[i - channels] if i >= channels else 0
            x = row[i]
            if f == 0:
                raw.append(x)
            elif f == 1:
                raw.append((x - left) & 0xFF)
            elif f == 2:
                raw.append((x - up) & 0xFF)
            elif f == 3:
                raw.append((x - ((left + up) >> 1)) & 0xFF)
            else:
                raw.append((x - paeth(left, up, ul)) & 0xFF)
        prev = row

    def chunk(ctype, data):
        out = struct.pack(">I", len(data)) + ctype + data
        return out + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def test_png_decoder_all_filters(spark):
    """decode_png reverses every PNG filter type: the same image encoded
    with different per-row filters must decode to identical pixels, and
    features flow through the strict (no-fallback) Spark path."""
    import random

    from clickhouse_datafusion_spark.operators.multimodal import (
        MEDIA_SCHEMA, decode_features, decode_png)

    rng = random.Random(7)
    w, h, ch = 9, 8, 3
    pixels = bytes(rng.randrange(256) for _ in range(w * h * ch))
    base = None
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        img = decode_png(_encode_png(w, h, pixels, ch, filters))
        assert (img["width"], img["height"], img["channels"]) == (w, h, ch)
        assert img["pixels"] == pixels, f"filter set {filters} mismatched"
        base = base or img
    # grayscale + RGBA color types decode too
    gray = bytes(rng.randrange(256) for _ in range(w * h))
    assert decode_png(_encode_png(w, h, gray, 1, [0, 4]))["channels"] == 1
    rgba = bytes(rng.randrange(256) for _ in range(w * h * 4))
    assert decode_png(_encode_png(w, h, rgba, 4, [2, 3]))["channels"] == 4

    # solid-red PNG through the strict Arrow decode path: exact means
    red = bytes([255, 0, 0] * (w * h))
    png = _encode_png(w, h, red, 3, [0, 1, 2, 3, 4])
    rows = [(1, bytearray(png), ("image", "image/png", w, h, None))]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = decode_features(df, strict=True).collect()[0].features
    assert feats[:5] == [float(w), float(h), 1.0, 0.0, 0.0]


# -- packing / corpus scoring ----------------------------------------------

def test_pack_sequences_matches_serial_reference(spark, docs):
    """The distributed two-phase prefix sum must equal a serial Python
    cumsum exactly, for several bucket counts (bucketing-invariance)."""
    from clickhouse_datafusion_spark.operators.packing import pack_sequences

    rows = sorted((r.doc_id, len(r.text.split(" ")))
                  for r in docs.select("doc_id", "text").collect())
    want, cum = {}, 0
    for did, n in rows:
        want[did] = (n, cum // 1024, cum % 1024)
        cum += n
    for nb in (1, 7, 32):
        got = {r.doc_id: (r.n_tokens, r.seq_id, r.seq_offset)
               for r in pack_sequences(docs, budget=1024,
                                       n_buckets=nb).collect()}
        assert got == want, f"n_buckets={nb} diverged"


def test_pack_sequences_big_window_is_bucketed(spark, docs):
    """The window over the DATA must be partitioned by the bucket key; the
    only single-partition window allowed is the one over the tiny
    per-bucket totals aggregate (≤ n_buckets rows)."""
    from clickhouse_datafusion_spark.operators.packing import pack_sequences

    plan = (pack_sequences(docs)._jdf.queryExecution()
            .executedPlan().toString())
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert len(win_lines) == 2
    assert sum("_bkt" in ln for ln in win_lines) >= 1, win_lines


def test_corpus_frequency_score(spark):
    """Common-word docs must outscore OOV gibberish; max_vocab truncation
    zeroes rare words' contribution; scores are exact integers."""
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.text import corpus_frequency_score

    corpus = spark.createDataFrame(
        [Row(doc_id=1, text="the cat sat on the mat"),
         Row(doc_id=2, text="the the the the"),
         Row(doc_id=3, text="zqxj wvut")])
    out = {r.doc_id: r for r in corpus_frequency_score(corpus).collect()}
    # total words = 12; corpus count of 'the' = 6; doc 2 has 4 occurrences
    assert out[2].corpus_hits == 4 * 6
    assert out[2].score_ppm == (24 * 1_000_000) // (4 * 12)
    assert out[2].score_ppm > out[1].score_ppm > out[3].score_ppm
    top1 = {r.doc_id: r for r in
            corpus_frequency_score(corpus, max_vocab=1).collect()}
    assert top1[3].corpus_hits == 0 and top1[3].score_ppm == 0
    assert top1[2].corpus_hits == 24  # 'the' survives the cut


def test_bigram_lm_score_backoff_discriminates(spark):
    """Word-salad built from frequent words (which fools a unigram filter)
    must score below text with seen transitions; pairless docs score 0;
    contributions are the exact hand-computed integers."""
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.text import bigram_lm_score

    lm = spark.createDataFrame(
        [Row(doc_id=1, text="the cat sat on the mat"),
         Row(doc_id=2, text="the cat sat on the rug")])
    score_df = spark.createDataFrame(
        [Row(doc_id=10, text="the cat sat"),    # both bigrams seen
         Row(doc_id=11, text="cat the on sat"), # frequent words, unseen pairs
         Row(doc_id=12, text="zq wx"),          # OOV everywhere
         Row(doc_id=13, text="solo")])          # no pairs
    out = {r.doc_id: r for r in
           bigram_lm_score(score_df, lm_df=lm).collect()}
    # LM: c(the)=4, c(cat)=2, c(the cat)=2, c(cat sat)=2, total=12
    # doc 10: (2e6 // 4) + (2e6 // 2) = 500000 + 1000000 → mean 750000
    assert (out[10].n_pairs, out[10].score_ppm) == (2, 750_000)
    # doc 11 backs off: α·c(w2)·1e6 // (5·12 // 2) each — nonzero but small
    assert 0 < out[11].score_ppm < out[10].score_ppm
    # doc 12: every w2 OOV → 0; doc 13: no pairs → 0
    assert (out[12].n_pairs, out[12].score_ppm) == (1, 0)
    assert (out[13].n_pairs, out[13].score_ppm) == (0, 0)
    # backoff math exactly: pairs of doc 11 = (cat,the),(the,on),(on,sat)
    # contrib = (2·c(w2)·1e6) // (5·12) with c(the)=4, c(on)=2, c(sat)=2
    want = ((2 * 4 * 10**6) // 60 + (2 * 2 * 10**6) // 60
            + (2 * 2 * 10**6) // 60) // 3
    assert out[11].score_ppm == want


def test_bigram_lm_shuffle_path_plan(spark):
    """``broadcast_lm=False`` must (a) produce identical rows to the
    broadcast path and (b) actually plan the LM probes as (h1,h2)/h2
    shuffle joins when broadcast conversion is off — the
    LM-exceeds-broadcast 100 TB shape the flag exists for. At gate scale
    AQE may convert the shuffle back to broadcast, which is fine and not
    what this test runs: it pins the plan with the threshold disabled."""
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.text import bigram_lm_score

    lm = spark.createDataFrame(
        [Row(doc_id=1, text="the cat sat on the mat"),
         Row(doc_id=2, text="the cat sat on the rug")])
    score_df = spark.createDataFrame(
        [Row(doc_id=10, text="the cat sat"),
         Row(doc_id=11, text="cat the on sat"),
         Row(doc_id=13, text="solo")])
    want = {r.doc_id: (r.n_pairs, r.score_ppm) for r in
            bigram_lm_score(score_df, lm_df=lm).collect()}
    conf = spark.conf
    old_thresh = conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.enabled", "false")
        out = bigram_lm_score(score_df, lm_df=lm, broadcast_lm=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan[:3000]
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        got = {r.doc_id: (r.n_pairs, r.score_ppm) for r in out.collect()}
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        conf.set("spark.sql.adaptive.enabled", old_aqe)
    assert got == want


def test_drop_repeated_spans_planted(spark):
    """A doc with a looping boilerplate span keeps only the first
    occurrence's tokens; clean docs pass through byte-identical."""
    import hashlib

    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.dedup import drop_repeated_spans

    spam = "call now free offer " * 3 + "unique tail here"
    clean = "every word here is different from all others"
    out = {r.doc_id: r for r in drop_repeated_spans(
        spark.createDataFrame([Row(doc_id=1, text=spam.strip()),
                               Row(doc_id=2, text=clean)])).collect()}
    # repeats of 'call now free offer' beyond the first window are removed
    assert out[1].n_tokens_after < out[1].n_tokens_before
    assert out[2].n_tokens_after == out[2].n_tokens_before
    assert out[2].clean_md5 == hashlib.md5(clean.encode()).hexdigest()
    # reference implementation agreement on the spam doc
    ws = spam.strip().split(" ")
    grams = [" ".join(ws[i:i+3]) for i in range(len(ws) - 2)]
    seen, covered = set(), set()
    for j, g in enumerate(grams):
        if g in seen:
            covered.update(range(j, j + 3))
        seen.add(g)
    want = " ".join(w for i, w in enumerate(ws) if i not in covered)
    assert out[1].clean_md5 == hashlib.md5(want.encode()).hexdigest()


def test_chunk_documents_reconstruction(spark):
    """Chunks must tile the doc: stride-aligned starts, `overlap` tokens
    shared between neighbors, and dropping each chunk's first `overlap`
    tokens (after chunk 0) reconstructs the original text exactly."""
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.packing import chunk_documents

    text = " ".join(f"w{i}" for i in range(150))
    rows = (chunk_documents(
        spark.createDataFrame([Row(doc_id=1, text=text)]),
        chunk_size=64, overlap=16, with_text=True)
        .orderBy("chunk_id").collect())
    assert len(rows) == 3           # ceil((150-16)/48) = 3
    toks = [r.chunk_text.split(" ") for r in rows]
    assert [r.n_tokens for r in rows] == [64, 64, 54]
    for a, b in zip(toks, toks[1:]):
        assert a[-16:] == b[:16]    # overlap shared verbatim
    rebuilt = toks[0] + [w for t in toks[1:] for w in t[16:]]
    assert " ".join(rebuilt) == text
    # short doc -> one whole chunk
    one = chunk_documents(
        spark.createDataFrame([Row(doc_id=2, text="a b c")]),
        chunk_size=64, overlap=16, with_text=True).collect()
    assert len(one) == 1 and one[0].chunk_text == "a b c"


def test_chunk_documents_quoted_text_col(spark):
    """A text column whose name needs backquoting must work end to end
    (the r14 n_chunks fragment interpolated the raw name)."""
    from clickhouse_datafusion_spark.operators.packing import (
        chunk_documents)

    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "x y")],
        ["doc id", "body text"])
    out = chunk_documents(df, chunk_size=4, overlap=1,
                          text_col="body text", id_col="doc id")
    per_doc = sorted((r["doc id"], r["chunk_id"]) for r in out.collect())
    # doc1: 8 tokens, stride 3 -> 3 chunks; doc2: short doc -> 1 chunk
    assert per_doc == [(1, 0), (1, 1), (1, 2), (2, 0)]


# -- bm25 / domain cap / seeded shuffle (r5) -------------------------------

def test_bm25_integer_vs_ln_rank_agreement(spark, docs):
    """The exact-integer rational-idf family (the gate) and the classical
    ln-idf family (production) must broadly agree on ordering — both are
    monotone in tf and anti-monotone in df."""
    from clickhouse_datafusion_spark.operators.text import bm25_scores

    terms = ["hash", "join", "vector", "stream"]
    a = bm25_scores(docs, terms).orderBy(F.desc("score_milli"), "doc_id")
    b = bm25_scores(docs, terms, ln_idf=True) \
        .orderBy(F.desc("score_milli"), "doc_id")
    top_a = [r.doc_id for r in a.limit(20).collect()]
    top_b = [r.doc_id for r in b.limit(20).collect()]
    assert len(set(top_a) & set(top_b)) >= 12  # rank families overlap
    # matching-doc set is identical (idf family changes scores, not hits)
    assert a.count() == b.count()


def test_bm25_monotone_in_tf(spark):
    """A doc repeating a query term more often outscores one mentioning it
    once, all else equal."""
    from clickhouse_datafusion_spark.operators.text import bm25_scores

    rows = [(1, "needle " * 8 + "pad " * 8), (2, "needle " + "pad " * 15),
            (3, "pad " * 16)]
    df = spark.createDataFrame(
        [(i, t.strip()) for i, t in rows], "doc_id bigint, text string")
    out = {r.doc_id: r.score_milli
           for r in bm25_scores(df, ["needle"]).collect()}
    assert 3 not in out          # no term hits → no row
    assert out[1] > out[2] > 0   # higher tf → higher score


def test_domain_cap_caps_and_blocks(spark, docs):
    from clickhouse_datafusion_spark.operators.sampling import domain_cap

    out = domain_cap(docs, cap=3, blocklist=["src1"])
    per = out.groupBy("source").count().collect()
    assert all(r["count"] <= 3 for r in per)
    assert out.filter(F.col("source") == "src1").count() == 0
    # keeps the LONGEST docs: per-source min kept n_chars >= max dropped
    kept = {(r.source, r.doc_id) for r in out.select("source", "doc_id").collect()}
    for src_row in per[:3]:
        src = src_row["source"]
        ranked = (docs.filter(F.col("source") == src)
                  .orderBy(F.desc("n_chars"), "doc_id").collect())
        want = {(src, r.doc_id) for r in ranked[:3]}
        assert {p for p in kept if p[0] == src} == want


def test_seeded_shuffle_is_stable_permutation(spark, docs):
    from clickhouse_datafusion_spark.operators.sampling import seeded_shuffle

    a = seeded_shuffle(docs, seed=7, n_shards=4)
    b = seeded_shuffle(docs.repartition(13), seed=7, n_shards=4)
    rows_a = {(r.doc_id, r.shard, r.pos) for r in
              a.select("doc_id", "shard", "pos").collect()}
    rows_b = {(r.doc_id, r.shard, r.pos) for r in
              b.select("doc_id", "shard", "pos").collect()}
    assert rows_a == rows_b  # layout-independent, run-stable
    # pos is a dense 1..n rank within each shard
    n = docs.count()
    assert len(rows_a) == n
    per_shard = {}
    for _, s, p in rows_a:
        per_shard.setdefault(s, []).append(p)
    assert sum(len(v) for v in per_shard.values()) == n
    for s, ps in per_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    # different seed = different permutation
    c = {(r.doc_id, r.shard, r.pos) for r in
         seeded_shuffle(docs, seed=8, n_shards=4)
         .select("doc_id", "shard", "pos").collect()}
    assert c != rows_a


def test_incremental_dedup_drops_seen_and_batch_dups(spark, docs):
    from clickhouse_datafusion_spark.operators.dedup import incremental_dedup

    seen = docs.limit(50)
    # new batch = 30 re-crawled docs (seen content, new ids) + 20 fresh
    # docs + 1 within-batch duplicate pair
    recrawl = seen.limit(30).withColumn("doc_id", F.col("doc_id") + 10_000)
    fresh = docs.orderBy(F.desc("doc_id")).limit(20)
    batch_dup = fresh.limit(1).withColumn("doc_id", F.col("doc_id") + 20_000)
    new = recrawl.unionAll(fresh).unionAll(batch_dup)
    out = incremental_dedup(new, seen)
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert len(ids) == 20                       # only the fresh docs survive
    assert all(i < 10_000 for i in ids)         # keeper is the min id
    # pre-hashed seen relation gives the same answer
    seen_h = seen.select(F.md5("text").alias("h"))
    out2 = incremental_dedup(new, seen_h)
    assert {r.doc_id for r in out2.select("doc_id").collect()} == ids


def test_label_centroids_match_numpy(spark, emb):
    import numpy as np

    from clickhouse_datafusion_spark.operators.similarity import label_centroids

    got = {(r.label, r.pos): (r.centroid_micro, r.n)
           for r in label_centroids(emb).collect()}
    rows = emb.select("label", "embedding").collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(r.embedding)
    for lbl, vecs in by_label.items():
        xi = np.floor(np.array(vecs, dtype=np.float64) * 1e6 + 0.5).astype(np.int64)
        sums = xi.sum(axis=0)
        n = len(vecs)
        for pos in range(xi.shape[1]):
            want = int(sums[pos]) // n if sums[pos] >= 0 else -((-int(sums[pos])) // n)
            assert got[(lbl, pos)] == (want, n), (lbl, pos)


def test_percentile_filter_exact_boundary_and_ties(spark):
    from clickhouse_datafusion_spark.operators.sampling import percentile_filter

    # scores: ten 0.1s, ten 0.2s, eighty 0.9s → drop_permille=100 budget
    # is 10 rows; cumulative passes 10 at score 0.2, so ALL 0.1s drop and
    # the whole 0.2 boundary value survives (value-based ties)
    rows = ([(i, 0.1) for i in range(10)]
            + [(100 + i, 0.2) for i in range(10)]
            + [(200 + i, 0.9) for i in range(80)])
    df = spark.createDataFrame(rows, "doc_id bigint, s double")
    out = percentile_filter(df, "s", drop_permille=100)
    got = {r.doc_id for r in out.collect()}
    assert got == {i for i, s in rows if s >= 0.2}
    # drop budget that lands INSIDE the boundary value group: 150/1000 of
    # 100 rows = 15 > 10 cum at 0.1, cum at 0.2 is 20 > 15 → cut at 0.2,
    # the 0.2 group still fully survives
    out2 = percentile_filter(df, "s", drop_permille=150)
    assert {r.doc_id for r in out2.collect()} == got
    # budget past the whole 0.2 group drops it entirely
    out3 = percentile_filter(df, "s", drop_permille=210)
    assert {r.doc_id for r in out3.collect()} == {i for i, s in rows if s >= 0.9}


def test_importance_weights_favor_target_domain(spark):
    from clickhouse_datafusion_spark.operators.text import importance_weights

    # corpus: 20 cooking docs, 20 legal docs; target: cooking phrases
    cook = [(i, "flour sugar butter oven bake whisk dough salt")
            for i in range(20)]
    legal = [(100 + i, "court motion filing statute appeal counsel brief")
             for i in range(20)]
    corpus = spark.createDataFrame(cook + legal, "doc_id bigint, text string")
    target = spark.createDataFrame(
        [(0, "bake dough in the oven with flour and butter")],
        "doc_id bigint, text string")
    out = {r.doc_id: r.weight_ppm
           for r in importance_weights(corpus, target).collect()}
    cook_w = [out[i] for i, _ in cook]
    legal_w = [out[i] for i, _ in legal]
    assert min(cook_w) > max(legal_w)
    assert max(legal_w) == 0  # no target hits -> exact OOV floor
    # weights broadcast, never the corpus: plan must show >= 1 broadcast
    plan = importance_weights(corpus, target) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan or "BroadcastQueryStage" in plan


def test_resize_media_real_roundtrip(spark):
    """resize_media really resamples PNG and PPM payloads: the output
    re-decodes at the new dimensions with the expected pixels."""
    from clickhouse_datafusion_spark.operators.multimodal import (
        MEDIA_SCHEMA, decode_png, decode_ppm, encode_png, resize_media)

    # 4x4 PNG: left half red, right half blue (RGB)
    row = bytes([255, 0, 0] * 2 + [0, 0, 255] * 2)
    png = encode_png(4, 4, 3, row * 4)
    assert decode_png(png)["pixels"] == row * 4  # encoder round-trips
    # 2x2 PPM, all green
    ppm = b"P6\n2 2\n255\n" + bytes([0, 255, 0] * 4)
    rows = [(1, bytearray(png), ("image", "image/png", 4, 4, None)),
            (2, bytearray(ppm), ("image", "image/x-portable-pixmap", 2, 2, None))]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: (bytes(r.payload), r.meta)
           for r in resize_media(df, 2, 2, strict=True).collect()}

    img = decode_png(out[1][0])
    assert (img["width"], img["height"]) == (2, 2)
    # nearest-neighbor of left-red/right-blue at half size: 1 red, 1 blue
    assert img["pixels"] == bytes([255, 0, 0, 0, 0, 255] * 2)
    assert (out[1][1]["width"], out[1][1]["height"]) == (2, 2)

    img2 = decode_ppm(out[2][0])
    assert (img2["width"], img2["height"]) == (2, 2)
    assert img2["pixels"] == bytes([0, 255, 0] * 4)

    # unknown container in strict mode raises inside the kernel
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError  # noqa: F401
    bad = spark.createDataFrame(
        [(3, bytearray(b"JFIF..."), ("image", "image/jpeg", 1, 1, None))],
        MEDIA_SCHEMA)
    with _pytest.raises(Exception, match="codec library|PythonException"):
        resize_media(bad, 2, 2, strict=True).collect()


def test_mixture_sample_budgets_and_determinism(spark, docs):
    from clickhouse_datafusion_spark.operators.sampling import mixture_sample

    out = mixture_sample(docs, {"src1": 500, "src2": 300, "src3": 200},
                         total=40, stratum_col="source")
    per = {r.source: r["count"] for r in out.groupBy("source").count().collect()}
    # budgets: floor(40*.5)=20, floor(40*.3)=12, floor(40*.2)=8 (capped by
    # availability); unlisted sources contribute nothing
    avail = {r.source: r["count"] for r in
             docs.groupBy("source").count().collect()}
    assert per.get("src1", 0) == min(20, avail.get("src1", 0))
    assert per.get("src2", 0) == min(12, avail.get("src2", 0))
    assert per.get("src3", 0) == min(8, avail.get("src3", 0))
    assert set(per) <= {"src1", "src2", "src3"}
    # deterministic under re-layout
    again = mixture_sample(docs.repartition(7),
                           {"src1": 500, "src2": 300, "src3": 200},
                           total=40, stratum_col="source")
    assert ({r.doc_id for r in out.select("doc_id").collect()}
            == {r.doc_id for r in again.select("doc_id").collect()})


def test_percentile_filter_property(spark):
    """Property: for any score multiset and budget, the operator keeps
    exactly the rows at or above the smallest score whose cumulative
    count exceeds the drop budget (Python reference spec)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickhouse_datafusion_spark.operators.sampling import percentile_filter

    @given(st.lists(st.integers(min_value=0, max_value=5),
                    min_size=1, max_size=60),
           st.integers(min_value=0, max_value=999))
    @settings(max_examples=10, deadline=None)
    def check(scores, permille):
        rows = [(i, float(s) / 10.0) for i, s in enumerate(scores)]
        df = spark.createDataFrame(rows, "doc_id bigint, s double")
        got = {r.doc_id for r in
               percentile_filter(df, "s", drop_permille=permille).collect()}
        budget = (len(rows) * permille) // 1000
        cum, p = 0, None
        for v in sorted({s for _, s in rows}):
            cum += sum(1 for _, s in rows if s == v)
            if cum > budget:
                p = v
                break
        want = {i for i, s in rows if p is not None and s >= p}
        assert got == want, (scores, permille, p)

    check()


def test_column_profile_detects_planted_anomalies(spark):
    from clickhouse_datafusion_spark.operators.profile import column_profile

    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", 5.0), (3, "a", None), (None, "b", 1.0)],
        "id bigint, k string, v double")
    prof = {r.column: r for r in column_profile(df).collect()}
    assert prof["id"].n_rows == 4 and prof["id"].n_nonnull == 3
    assert prof["k"].n_distinct == 2          # cardinality collapse visible
    assert prof["v"].n_nonnull == 2           # null creep visible
    assert (prof["v"].min_s, prof["v"].max_s) == ("1.0", "5.0")
    # numeric min/max computed in-type, not lexicographically
    big = spark.createDataFrame([(9,), (10,)], "x bigint")
    p = column_profile(big).collect()[0]
    assert (p.min_s, p.max_s) == ("9", "10")
    # approx mode still returns a sane cardinality without the expand
    approx = {r.column: r.n_distinct
              for r in column_profile(df, exact_distinct=False).collect()}
    assert approx["k"] in (1, 2, 3)


def test_normalize_text_planted(spark):
    from clickhouse_datafusion_spark.operators.text import normalize_text_col

    rows = [(1, "Hello\tWORLD  \n x\x00y  "), (2, "already clean"),
            (3, "MiXeD   Case\r\nHere")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r.n for r in
           df.select("doc_id", normalize_text_col().alias("n")).collect()}
    assert got[1] == "hello world x y"
    assert got[2] == "already clean"
    assert got[3] == "mixed case here"


def test_quantize_embeddings_error_bound(spark, emb):
    """Dequantized vectors must sit within the int8 grid error of the
    originals, and cosine between original and dequantized must be ~1."""
    import math

    from clickhouse_datafusion_spark.operators.similarity import (
        quantize_embeddings,
    )

    orig = {r.vec_id: list(r.embedding)
            for r in emb.select("vec_id", "embedding").limit(50).collect()}
    qs = {r.vec_id: (r.scale_micro, list(r.q))
          for r in quantize_embeddings(emb.limit(50)).collect()}
    for vid, vec in orig.items():
        scale_micro, q = qs[vid]
        scale = scale_micro / 1e6
        deq = [qi * scale / 127.0 for qi in q]
        step = scale / 127.0
        assert all(abs(a - b) <= step * 0.51 + 1e-9
                   for a, b in zip(vec, deq))
        dot = sum(a * b for a, b in zip(vec, deq))
        na = math.sqrt(sum(a * a for a in vec))
        nb = math.sqrt(sum(b * b for b in deq))
        assert dot / (na * nb) > 0.995


def test_locf_fill_semantics(spark):
    """Carried value crosses multi-row gaps, leading NULLs stay NULL,
    keys never bleed into each other, ties resolve by the tiebreak."""
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.asof import locf_fill

    rows = [
        Row(event_id=0, ts=1, user_id=1, v=None),   # leading gap
        Row(event_id=1, ts=2, user_id=1, v=10.0),
        Row(event_id=2, ts=3, user_id=1, v=None),
        Row(event_id=3, ts=4, user_id=1, v=None),   # long gap
        Row(event_id=4, ts=5, user_id=1, v=20.0),
        Row(event_id=5, ts=1, user_id=2, v=None),   # other key: no bleed
        Row(event_id=6, ts=6, user_id=1, v=None),
        Row(event_id=7, ts=6, user_id=1, v=30.0),   # tie: id 7 after 6
    ]
    out = {r.event_id: r.v_filled for r in locf_fill(
        spark.createDataFrame(rows), ["v"], ts_col="ts",
        key_cols=["user_id"], tiebreak_col="event_id").collect()}
    assert out[0] is None and out[5] is None
    assert out[2] == 10.0 and out[3] == 10.0
    assert out[6] == 20.0          # tie at ts=6: id 6 fills from before
    assert out[7] == 30.0


def test_strip_html_edge_cases(spark):
    """Script/style CONTENT removal, comment removal, entity decoding
    (incl. the &amp;amp; single-pass rule), and malformed-input
    degradation to whitespace — all hand-checked."""
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.text import strip_html_col

    cases = [
        ("<p>Hello <b>world</b></p>", "Hello world"),
        ("<script>var a = 1 < 2;</script>keep", "keep"),
        ("<style>.a { x: y }</style><div class='x'>text</div>", "text"),
        ("<!-- secret -->yes", "yes"),
        ("a &amp;amp; b", "a &amp; b"),          # no double-decode
        ("x &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;y",
         "x <tag> \"q\" 's' y"),
        ("<script>multi\nline</script>after", "after"),   # dotall
        # malformed: an unclosed tag never matches <[^>]*> and stays as
        # text (the HTML spec itself treats a stray '<' as character data)
        ("unclosed <b bold", "unclosed <b bold"),
        ("  spaced\t\nout  ", "spaced out"),
    ]
    df = spark.createDataFrame(
        [Row(i=i, html=h) for i, (h, _) in enumerate(cases)])
    got = {r.i: r.clean
           for r in df.select("i", strip_html_col("html").alias("clean"))
           .collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_bin_pack_documents_fill_bound_and_invariance(spark):
    """Every bin's token total sits within ±(max_doc−1) of the budget
    (except the trailing bin); assignments are invariant to the prefix
    sum's bucket count; docs are never split."""
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.packing import bin_pack_documents

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(["w"] * ((i * 37) % 90 + 10)))
         for i in range(300)])
    out = bin_pack_documents(docs, budget=500).collect()
    by_bin: dict[int, int] = {}
    for r in out:
        by_bin[r.bin_id] = by_bin.get(r.bin_id, 0) + r.n_tokens
    max_doc = max(r.n_tokens for r in out)
    last = max(by_bin)
    for b, tot in by_bin.items():
        if b != last:
            assert 500 - max_doc + 1 <= tot <= 500 + max_doc - 1, (b, tot)
    # bucketing invariance: same assignment with a different bucket count
    a = {(r.doc_id, r.bin_id, r.bin_offset)
         for r in bin_pack_documents(docs, budget=500, n_buckets=3).collect()}
    b = {(r.doc_id, r.bin_id, r.bin_offset)
         for r in bin_pack_documents(docs, budget=500, n_buckets=11).collect()}
    assert a == b


def test_priority_sample_unbiased_and_plan(spark):
    """DLT estimator property: E[Σ ŵ over the sample] = true total weight
    (checked by simulating the exact integer formula over 300 seeds);
    the Spark plan is heap-based top-k, not a sort shuffle; heavy items
    are certainty-sampled."""
    import hashlib

    from clickhouse_datafusion_spark.operators.sampling import priority_sample_k

    weights = {i: (i % 97) + 1 for i in range(400)}
    weights[7] = 5000                      # one elephant
    total = sum(weights.values())
    scale = 1 << 48

    def simulate(seed, k=40):
        pri = {}
        for i, w in weights.items():
            h = int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:12], 16)
            pri[i] = (w * scale) // (h + 1)
        order = sorted(pri, key=lambda i: (-pri[i], i))
        tau = pri[order[k]]
        return order[:k], tau

    est, elephant_hits = [], 0
    for seed in range(300):
        sample, tau = simulate(seed)
        est.append(sum(max(weights[i], tau) for i in sample))
        elephant_hits += 7 in sample
    mean = sum(est) / len(est)
    assert abs(mean - total) / total < 0.05, (mean, total)
    assert elephant_hits == 300            # w=5000 is a certainty item

    # Spark output equals the simulation for one seed
    df = spark.createDataFrame(list(weights.items()), "doc_id long, w long")
    got = {r.doc_id: r.w_hat for r in
           priority_sample_k(df, 40, "w", seed=11).collect()}
    want_ids, want_tau = simulate(11)
    assert sorted(got) == sorted(want_ids)
    assert all(got[i] == max(weights[i], want_tau) for i in got)
    plan = (priority_sample_k(df, 40, "w", seed=11)
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan


def test_uniform_sample_k_exact_and_append_stable(spark):
    """Exactly k rows, layout-independent, and append-only growth only
    swaps rows whose new hash undercuts the old boundary."""
    from clickhouse_datafusion_spark.operators.sampling import uniform_sample_k

    base = spark.range(1000).withColumnRenamed("id", "doc_id")
    s1 = sorted(r.doc_id for r in uniform_sample_k(base, 50, seed=3).collect())
    assert len(s1) == 50
    # layout invariance: same sample from a different partitioning
    s2 = sorted(r.doc_id for r in
                uniform_sample_k(base.repartition(13), 50, seed=3).collect())
    assert s1 == s2
    # seed sensitivity
    s3 = sorted(r.doc_id for r in uniform_sample_k(base, 50, seed=4).collect())
    assert s1 != s3
    # append stability: grow the corpus; surviving members are a subset
    grown = spark.range(1500).withColumnRenamed("id", "doc_id")
    s4 = set(r.doc_id for r in uniform_sample_k(grown, 50, seed=3).collect())
    kept = set(s1) & s4
    assert len(kept) >= 25   # hash boundary moves, but most members survive
    # plan: no global sort — TakeOrderedAndProject
    plan = (uniform_sample_k(base, 50, seed=3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan


def test_group_quantiles_match_reference_spec(spark):
    """Lower-quantile definition verified against the direct sorted-list
    computation per group, including the exact-boundary permilles."""
    import math

    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.profile import group_quantiles

    data = [(g, (i * 31 + g * 7) % 100) for g in range(3) for i in range(57)]
    df = spark.createDataFrame([Row(g=g, v=v) for g, v in data])
    got = {(r.g, r.q_permille): r.value for r in
           group_quantiles(df, "v", "g", qs_permille=(1, 250, 500, 750,
                                                      1000)).collect()}
    for g in range(3):
        vals = sorted(v for gg, v in data if gg == g)
        n = len(vals)
        for qp in (1, 250, 500, 750, 1000):
            want = vals[math.ceil(qp * n / 1000) - 1]
            assert got[(g, qp)] == want, (g, qp, got[(g, qp)], want)


def test_outlier_flags_exact_boundary(spark):
    """A planted far value is flagged; the strict-inequality boundary is
    exact (a point AT k-sigma is not an outlier); near values are kept."""
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.profile import outlier_flags

    # 30 values of 10 and one 1000 (a single point can only reach
    # sqrt(n-1) sigma, so n must exceed k_sigma^2+1 for a flag to be
    # possible at all — 9 points can never produce a 3-sigma outlier)
    rows = [Row(doc_id=i, v=10) for i in range(30)] + [Row(doc_id=30, v=1000)]
    out = {r.doc_id: r.is_outlier
           for r in outlier_flags(spark.createDataFrame(rows), "v").collect()}
    assert out[30] is True
    assert all(out[i] is False for i in range(30))

    # exact boundary: {0, 0, 12} → μ=4, σ²=32 ⇒ (n·x−Σ)²=9·(nΣx²−Σ²)
    # for x=12: (36−12)²=576 vs 9·(3·144−144)=9·288… pick data where
    # equality holds: x=[1,1,4] ⇒ n=3, Σ=6, Σx²=18, nΣx²−Σ²=18
    # for x=4: (12−6)²=36 vs 9·18=162 → inside. Use k_sigma=1:
    # 1·18=18 < 36 → outlier at 1σ; boundary case x where lhs²==rhs:
    # data [0,2] n=2 Σ=2 Σx²=4 ⇒ nΣx²−Σ²=4; x=0: (0−2)²=4 == 1²·4 → NOT
    out2 = {r.doc_id: r.is_outlier for r in outlier_flags(
        spark.createDataFrame([Row(doc_id=0, v=0), Row(doc_id=1, v=2)]),
        "v", k_sigma=1).collect()}
    assert out2 == {0: False, 1: False}   # both AT exactly 1 sigma


def test_funnel_depths_semantics(spark):
    """Window cutoff, dead-chain rule (a late step-2 cannot be skipped to
    reach step 3), greedy earliest-next, and strictly-later matching —
    all on hand-built event sequences."""
    import datetime as dt

    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.funnel import funnel_depths

    def ev(u, sec, typ):
        return Row(user_id=u,
                   ts=dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec),
                   event_type=typ)

    rows = [
        # u1: full chain inside the window → depth 3
        ev(1, 0, "a"), ev(1, 10, "b"), ev(1, 20, "c"),
        # u2: step2 beyond the 30s window → depth 1 even though a
        #     'c' exists later (dead chain must not resurrect)
        ev(2, 0, "a"), ev(2, 40, "b"), ev(2, 50, "c"),
        # u3: two starts; the second start's chain completes → max 3
        ev(3, 0, "a"), ev(3, 100, "a"), ev(3, 105, "b"), ev(3, 110, "c"),
        # u4: same-timestamp b cannot serve step 2 (strictly later)
        ev(4, 0, "a"), ev(4, 0, "b"),
        # u5: greedy takes earliest b (5s), c after it still counts
        ev(5, 0, "a"), ev(5, 5, "b"), ev(5, 25, "b"), ev(5, 29, "c"),
    ]
    out = {r.user_id: r.depth for r in funnel_depths(
        spark.createDataFrame(rows),
        [F.col("event_type") == "a", F.col("event_type") == "b",
         F.col("event_type") == "c"],
        window=F.expr("INTERVAL 30 SECONDS")).collect()}
    assert out == {1: 3, 2: 1, 3: 3, 4: 1, 5: 3}


def test_retention_gates_on_anchor(spark):
    """A user with the later conditions but WITHOUT the anchor scores
    zero everywhere (CH retention semantics)."""
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.funnel import retention

    rows = [Row(user_id=1, event_type="signup"),
            Row(user_id=1, event_type="purchase"),
            Row(user_id=2, event_type="purchase"),
            Row(user_id=3, event_type="signup")]
    out = {r.user_id: (r.r_1, r.r_2) for r in retention(
        spark.createDataFrame(rows),
        [F.col("event_type") == "signup",
         F.col("event_type") == "purchase"]).collect()}
    assert out == {1: (1, 1), 2: (0, 0), 3: (1, 0)}


def test_append_ann_index_equals_rebuild(spark, emb, tmp_path):
    """Incremental build (half + appended half) must hold exactly the
    signatures a from-scratch build produces — seeded hyperplanes are
    pure functions of (dim, seed), so split-brain indexes are impossible."""
    from clickhouse_datafusion_spark.operators.similarity import (
        append_ann_index, build_ann_index)

    import pyspark.sql.functions as F

    half_a = emb.filter(F.col("vec_id") < 100)
    half_b = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200))
    inc_path = str(tmp_path / "inc")
    build_ann_index(half_a, inc_path, dim=64)
    merged = append_ann_index(half_b, inc_path, dim=64)

    scratch = build_ann_index(
        emb.filter(F.col("vec_id") < 200), str(tmp_path / "full"), dim=64)
    sig_cols = [c for c in merged.columns if c.startswith("_sig_")]
    a = sorted(tuple(r) for r in
               merged.select("vec_id", *sig_cols).collect())
    b = sorted(tuple(r) for r in
               scratch.select("vec_id", *sig_cols).collect())
    assert a == b and len(a) == 200


def test_nested_subsamples_nesting_and_sizes(spark):
    """Strict nesting (1% ⊂ 10% ⊂ 100%), binomial-plausible tier sizes,
    and append stability (old rows keep their tier as the corpus grows)."""
    from clickhouse_datafusion_spark.operators.sampling import nested_subsamples

    base = spark.range(20_000).withColumnRenamed("id", "doc_id")
    out = nested_subsamples(base, seed=3).collect()
    tiers = {r.doc_id: r.tier for r in out}
    s10 = {d for d, t in tiers.items() if t is not None and t <= 10}
    s100 = {d for d, t in tiers.items() if t is not None and t <= 100}
    s1000 = {d for d, t in tiers.items() if t is not None}
    assert s10 < s100 < s1000                       # strict nesting
    assert len(s1000) == 20_000                     # 1000‰ = everything
    assert 100 <= len(s10) <= 320                   # ~200 expected
    assert 1600 <= len(s100) <= 2400                # ~2000 expected
    grown = nested_subsamples(
        spark.range(30_000).withColumnRenamed("id", "doc_id"), seed=3)
    tiers2 = {r.doc_id: r.tier for r in grown.collect()}
    assert all(tiers2[d] == t for d, t in tiers.items())   # append-stable


def test_key_skew_detects_elephant_key(spark):
    """A planted 60%-share key ranks 1 with the exact permille share."""
    from clickhouse_datafusion_spark.operators.profile import key_skew

    df = spark.range(1000).selectExpr(
        "CASE WHEN id < 600 THEN 7 ELSE id END AS k")
    out = {r.rank: (r.key, r.n, r.share_permille)
           for r in key_skew(df, "k", top_k=3).collect()}
    assert out[1] == ("7", 600, 600)
    assert out[2][1] == 1 and out[2][2] == 1   # all other keys singletons
    assert len(out) == 3


def test_lang_margin_planted(spark):
    """Unambiguous text scores a positive margin; a constructed de/en tie
    and an OOV doc both score margin 0."""
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.text import lang_margin_cols

    rows = [Row(doc_id=1, text="the cat is in the house and it is warm"),
            Row(doc_id=2, text="der the und a"),      # 2-2 de/en tie
            Row(doc_id=3, text="zxqv wvut kjhg")]     # no hits → und
    out = {r.doc_id: (r.lang_pred, r.lang_margin) for r in
           spark.createDataFrame(rows)
           .select("doc_id", *lang_margin_cols()).collect()}
    assert out[1][0] == "en" and out[1][1] > 0
    assert out[2] == ("de", 0)       # tie → alphabetical winner, margin 0
    assert out[3] == ("und", 0)


def test_near_contamination_planted_paraphrase(spark):
    """A benchmark doc hidden in the corpus with light edits (dropped
    tail) is caught at high est-Jaccard; unrelated docs are not; the
    eval side broadcasts so the train side never shuffles."""
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.dedup import near_contamination

    bench = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon")
    leaked = " ".join(bench.split()[:16])        # 80% prefix in the corpus
    train = spark.createDataFrame(
        [Row(doc_id=1, text=leaked),
         Row(doc_id=2, text="totally different words about other topics "
                            "entirely unrelated to the benchmark set")])
    ev = spark.createDataFrame([Row(doc_id=100, text=bench)])
    out = near_contamination(train, ev, threshold_permille=300)
    rows = out.collect()
    assert {(r.doc_id, r.eval_id) for r in rows} == {(1, 100)}
    assert rows[0].est_permille >= 500
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # the only hash exchanges allowed are the repartition + final distinct
    # — never a join-keyed shuffle of the train side
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_hard_negatives_planted(spark):
    """The known nearest different-label vector ranks 1; same-label
    near-dups are never emitted; rank order follows rounded cosine."""
    import math

    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.similarity import hard_negatives

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    rows = [
        Row(vec_id=0, label=0, embedding=unit([1.0, 0.0, 0.0, 0.0])),
        Row(vec_id=1, label=0, embedding=unit([0.99, 0.1, 0.0, 0.0])),
        # label-1 vector very close to anchor 0 → its hardest negative
        Row(vec_id=2, label=1, embedding=unit([0.95, 0.05, 0.3, 0.0])),
        # label-1 vector further away → rank 2
        Row(vec_id=3, label=1, embedding=unit([0.7, 0.0, 0.7, 0.1])),
        # orthogonal, below threshold → never appears
        Row(vec_id=4, label=1, embedding=unit([0.0, 0.0, 0.0, 1.0])),
    ]
    out = hard_negatives(spark.createDataFrame(rows), k=2, threshold=0.4,
                         n_planes=1, n_tables=24, dim=4).collect()
    by_anchor = {}
    for r in out:
        by_anchor.setdefault(r.anchor, []).append((r.rank, r.neg))
    assert sorted(by_anchor[0]) == [(1, 2), (2, 3)]
    # same-label pair (0,1) never emitted despite cos ~0.995
    assert all(r.neg != 1 for r in out if r.anchor == 0)
    assert 4 not in {r.neg for r in out}


def test_random_project_matches_numpy_and_preserves_distance(spark, emb):
    """Projected coordinates equal the numpy sign-matrix product on the
    micro-unit grid exactly; JL distance preservation holds on average
    (cosine of 64→32 projections correlates with the originals)."""
    import math

    import numpy as np

    from clickhouse_datafusion_spark.operators.similarity import (
        _sign_matrix, random_project)

    rows = emb.select("vec_id", "embedding").limit(40).collect()
    orig = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in rows}
    dim = len(next(iter(orig.values())))
    S = np.asarray(_sign_matrix(32, dim, seed=7))
    got = {r.vec_id: np.asarray(r.proj_micro)
           for r in random_project(emb.limit(40), out_dim=32,
                                   dim=dim).collect()}
    for vid, v in orig.items():
        q = np.floor(v * 1e6 + 0.5)
        assert np.array_equal(got[vid], (S @ q).astype(np.int64)), vid

    def cos(a, b):
        return float(a @ b / (math.sqrt(a @ a) * math.sqrt(b @ b) + 1e-12))

    ids = list(orig)[:15]
    errs = [abs(cos(orig[a], orig[b])
                - cos(got[a].astype(float), got[b].astype(float)))
            for i, a in enumerate(ids) for b in ids[i + 1:]]
    assert sum(errs) / len(errs) < 0.15   # JL at k=32: loose but real bound


def test_resample_audio_real_roundtrip(spark):
    """resample_audio really rate-converts WAV-PCM: output re-decodes at
    the target rate with the expected sample count and content."""
    import math
    import struct

    from clickhouse_datafusion_spark.operators.multimodal import (
        MEDIA_SCHEMA, decode_wav_pcm, encode_wav_pcm, resample_audio)

    sr, n = 8000, 8000  # 1 s of 100 Hz sine @ 8 kHz
    samples = [int(0.5 * 32767 * math.sin(2 * math.pi * 100 * i / sr))
               for i in range(n)]
    wav = encode_wav_pcm(sr, 1, 16, struct.pack(f"<{n}h", *samples))
    assert decode_wav_pcm(wav)["sample_rate"] == sr  # encoder round-trips

    df = spark.createDataFrame(
        [(1, bytearray(wav), ("audio", "audio/wav", None, None, 1000))],
        MEDIA_SCHEMA)
    out = resample_audio(df, 4000, strict=True).first()
    w = decode_wav_pcm(bytes(out.payload))
    assert w["sample_rate"] == 4000
    assert len(w["samples"]) == 4000           # half the frames
    # nearest-sample: every output sample equals an even-index original
    for i in (0, 100, 2000, 3999):
        assert abs(w["samples"][i] - samples[2 * i] / 32768.0) < 1e-3


def test_frame_sample_real_y4m(spark):
    """Y4M video payloads yield REAL sampled frames: correct count and
    timestamps, each frame a decodable grayscale PNG of the luma plane."""
    from clickhouse_datafusion_spark.operators.multimodal import (
        MEDIA_SCHEMA, decode_png, decode_y4m, encode_y4m, frame_sample)

    w, h, fps = 8, 4, 10  # 10 fps, 2 s = 20 frames
    frames = [bytes([i * 10 % 256] * (w * h)) for i in range(20)]
    y4m = encode_y4m(w, h, fps, 1, frames)
    v = decode_y4m(y4m)
    assert (v["width"], v["height"], len(v["frames"])) == (w, h, 20)
    assert v["frames"][3] == frames[3]  # encoder round-trips

    df = spark.createDataFrame(
        [(1, bytearray(y4m), ("video", "video/x-y4m", w, h, 2000))],
        MEDIA_SCHEMA)
    rows = sorted((r.frame_idx, r.frame_ts_ms, bytes(r.frame_payload))
                  for r in frame_sample(df, every_ms=500, strict=True).collect())
    # sampled at 0, 500, 1000, 1500 ms -> source frames 0, 5, 10, 15
    assert [(i, ts) for i, ts, _ in rows] == [
        (0, 0), (1, 500), (2, 1000), (3, 1500)]
    for k, (_, _, png) in enumerate(rows):
        img = decode_png(png)
        assert (img["width"], img["height"], img["channels"]) == (w, h, 1)
        assert img["pixels"] == frames[k * 5]  # the right source frame
    # non-video containers keep the stub contract (real timestamps, null payload)
    other = spark.createDataFrame(
        [(2, bytearray(b"mp4data"), ("video", "video/mp4", None, None, 3000))],
        MEDIA_SCHEMA)
    stub_rows = frame_sample(other, every_ms=1000).collect()
    assert len(stub_rows) == 3 and all(r.frame_payload is None for r in stub_rows)


def test_cross_doc_span_dedup_keep_first(spark):
    """Keep-first contract: the earliest corpus occurrence of a duplicated
    span survives; every later occurrence is excised, including
    whole-document wipes; unique text is untouched."""
    from clickhouse_datafusion_spark.operators.dedup import drop_cross_doc_spans

    boiler = "the quick brown fox jumps over the lazy dog again"  # 10 words
    rows = [(1, boiler + " unique one tail"),
            (2, "prefix words here " + boiler),
            (3, "totally different content with no duplication at all"),
            (4, boiler),
            (5, "tiny doc")]  # shorter than ngram -> untouched
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: (r.n_words_after, r.text)
           for r in drop_cross_doc_spans(df, ngram=10).collect()}
    assert out[1] == (13, boiler + " unique one tail")  # first occurrence kept
    assert out[2] == (3, "prefix words here")           # span excised
    assert out[3][0] == 8                               # untouched
    assert out[4] == (0, "")                            # fully duplicated doc
    assert out[5] == (2, "tiny doc")                    # sub-ngram doc kept


def test_cross_doc_span_skew_guard(spark):
    """Mega-boilerplate skew guard: one 10-word gram planted in 10⁴ docs
    must (a) keep the keep-first contract — min (id, gpos) survives,
    every other occurrence excised — and (b) run keeper election as a
    partial-aggregatable groupBy, NOT a gh-keyed window (which would
    single-reducer-sort all occurrences of the boilerplate gram at
    corpus scale). The plan is asserted: a partial_min over the gram
    stream exists and no Window operator touches gh."""
    from clickhouse_datafusion_spark.operators.dedup import (
        _span_removal_positions, drop_cross_doc_spans)

    boiler = "click here to accept cookies and continue to the site"
    rows = [(i, f"doc{i} head words " + boiler) for i in range(1, 10001)]
    rows.append((20000, "no boilerplate in this one at all honestly"))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    # the election chain sits behind the rm_pos stage cut in the full
    # operator's plan (r14), so pin its shape on the pre-cut chain the
    # operator itself consumes
    rm = _span_removal_positions(df, 10, "text", "doc_id")
    plan = rm._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan, plan[:2000]
    for line in plan.splitlines():
        if "Window" in line:
            assert "gh" not in line, line
    result = drop_cross_doc_spans(df, ngram=10)
    out = {r.doc_id: r.n_words_after for r in result.collect()}
    assert out[1] == 13            # first occurrence keeps the span
    # "head words <boiler...>" grams are corpus-wide dups too, so later
    # docs keep only their unique leading token
    assert out[2] == 1
    assert out[9999] == 1
    assert out[20000] == 8         # untouched doc


def test_span_dedup_broadcast_gate_matches(spark):
    """broadcastRemovals=false must produce byte-identical output to the
    default broadcast plan (AQE plans the marker join from runtime size
    instead of the unbounded-broadcast hint)."""
    from clickhouse_datafusion_spark.operators.dedup import (
        drop_cross_doc_spans)

    span = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 " \
           "wa wb wc wd we wf wg wh wi wj"
    rows = [(1, span + " tail one"), (2, span + " tail two"),
            (3, "unique doc with no duplicate span at all " * 2)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def run():
        return sorted(
            tuple(r) for r in drop_cross_doc_spans(df, ngram=20).collect())

    base = run()
    key = "spark.clickhouse_datafusion_spark.spanDedup.broadcastRemovals"
    spark.conf.set(key, "false")
    try:
        assert run() == base
    finally:
        spark.conf.unset(key)


def test_jsonl_permissive_on_malformed_lines(spark, tmp_path):
    """Schema-pinned JSONL reads must survive malformed lines (null
    columns, not a crashed shard) and round-trip clean rows exactly."""
    from clickhouse_datafusion_spark.sources.jsonl import (
        DOCUMENTS_JSONL_SCHEMA, read_jsonl)

    p = tmp_path / "corpus.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "good row", "lang": "en", "source": "s", "n_chars": 8}\n'
        'this is not json at all\n'
        '{"doc_id": 2, "text": "another", "lang": "en", "source": "s", "n_chars": 7}\n'
        '{"doc_id": "not_a_number", "text": 5}\n')
    df = read_jsonl(spark, str(p), DOCUMENTS_JSONL_SCHEMA)
    rows = df.collect()
    assert len(rows) == 4  # no row lost, no exception
    good = {r.doc_id: r.text for r in rows if r.doc_id is not None}
    assert good == {1: "good row", 2: "another"}
    # malformed lines surface as all-null rows -> visible to profiling
    assert sum(1 for r in rows if r.doc_id is None) == 2


def test_bpe_train_matches_reference(spark):
    """Distributed BPE must learn the same merge sequence as the textbook
    serial algorithm (Sennrich et al. example-style corpus)."""
    corpus = "low low low low low lower lower newest newest newest " \
             "newest newest newest widest widest widest"
    df = spark.createDataFrame([(1, corpus)], "doc_id bigint, text string")
    from clickhouse_datafusion_spark.operators.text import bpe_train

    merges, wt = bpe_train(df, n_merges=6)

    # serial reference implementation on the same word-frequency table
    from collections import Counter
    wordfreq = Counter(corpus.split())
    words_syms = {w: list(w) for w in wordfreq}
    ref_merges = []
    for _ in range(6):
        pc = Counter()
        for w, c in wordfreq.items():
            s = words_syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        if not pc:
            break
        # deterministic tie-break: count desc, then lexicographic pair asc
        top_n = max(pc.values())
        cands = sorted(k for k, v in pc.items() if v == top_n)
        best = cands[0]
        if pc[best] < 2:
            break
        ref_merges.append(best)
        a, b = best
        for w in words_syms:
            s, out, i = words_syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            words_syms[w] = out
    assert merges == ref_merges, (merges, ref_merges)
    # final symbol tables agree too
    got = {r.w: list(r.syms) for r in wt.collect()}
    assert got == words_syms


def test_bpe_encode_reproduces_training_table(spark):
    """Encoding the training corpus with the learned merges must yield
    exactly the symbol sequences training ended with — the train/encode
    consistency property of BPE."""
    from clickhouse_datafusion_spark.operators.text import bpe_encode, bpe_train

    corpus = "low low low low low lower lower newest newest newest " \
             "newest newest newest widest widest widest"
    df = spark.createDataFrame([(1, corpus)], "doc_id bigint, text string")
    merges, wt = bpe_train(df, n_merges=6)
    trained = {r.w: list(r.syms) for r in wt.collect()}

    enc = bpe_encode(df, merges).first()
    # re-segment the flat token stream back into words and compare
    stream = list(enc.tokens)
    for w in corpus.split(" "):
        want = trained[w]
        got, stream = stream[:len(want)], stream[len(want):]
        assert got == want, (w, got, want)
    assert not stream
    assert enc.n_bpe_tokens == sum(
        len(trained[w]) for w in corpus.split(" "))


# -- sketches (bloom / count-min) ------------------------------------------

def test_bloom_no_false_negatives(spark, docs):
    """Every key that went INTO the filter must probe might_contain=1 —
    the contract that makes bloom_prefilter lossless."""
    from pyspark.sql import functions as F

    from clickhouse_datafusion_spark.operators.sketch import (
        bloom_build, bloom_probe)

    seen = docs.filter(F.col("doc_id") < 100).select(
        F.md5("text").alias("h"), "doc_id")
    bloom = bloom_build(seen, "h", n_bits=1 << 16, n_hashes=5)
    flagged = bloom_probe(seen, bloom, "h", "doc_id",
                          n_bits=1 << 16, n_hashes=5)
    assert flagged.filter(F.col("might_contain") == 0).count() == 0


def test_bloom_small_filter_produces_false_positives_only(spark, docs):
    """A deliberately saturated filter (tiny m) flags extra keys but
    still never misses a member — false positives are the only failure
    mode a Bloom filter is allowed."""
    from pyspark.sql import functions as F

    from clickhouse_datafusion_spark.operators.sketch import (
        bloom_build, bloom_probe)

    seen = docs.filter(F.col("doc_id") < 200).select(
        F.md5("text").alias("h"))
    probe = docs.select("doc_id", F.md5("text").alias("h"),
                        (F.col("doc_id") < 200).alias("is_member"))
    # 512 bits for 200 keys * 5 hashes => heavily saturated
    bloom = bloom_build(seen, "h", n_bits=512, n_hashes=5)
    flagged = probe.join(
        bloom_probe(probe, bloom, "h", "doc_id", n_bits=512, n_hashes=5),
        "doc_id")
    missed = flagged.filter(F.col("is_member")
                            & (F.col("might_contain") == 0)).count()
    fps = flagged.filter(~F.col("is_member")
                         & (F.col("might_contain") == 1)).count()
    assert missed == 0
    assert fps > 0  # saturation must show up as false positives


def test_bloom_prefilter_composes_with_exact_dedup(spark, docs):
    """bloom_prefilter + exact anti-join on the maybe-set must equal the
    plain exact anti-join (the filter only routes, never decides)."""
    from pyspark.sql import functions as F

    from clickhouse_datafusion_spark.operators.sketch import (
        bloom_build, bloom_prefilter)

    seen = docs.filter(F.col("doc_id") < 150)
    seen_h = seen.select(F.md5("text").alias("h"))
    new = docs.filter(F.col("doc_id") >= 150) \
        .withColumn("h", F.md5("text"))
    bloom = bloom_build(seen_h, "h", n_bits=1 << 14, n_hashes=5)
    definitely_new, needs_check = bloom_prefilter(
        new, bloom, "h", "doc_id", n_bits=1 << 14, n_hashes=5)
    checked = needs_check.join(seen_h.distinct(), "h", "left_anti")
    via_bloom = sorted(
        r.doc_id
        for r in definitely_new.select("doc_id").collect()
        + checked.select("doc_id").collect())
    direct = sorted(
        r.doc_id for r in
        new.join(seen_h.distinct(), "h", "left_anti")
        .select("doc_id").collect())
    assert via_bloom == direct


def test_cms_overestimates_never_underestimates(spark, docs):
    """est >= exact for every token, with equality for most when the
    sketch is wide; a too-narrow sketch must show real overestimates."""
    from pyspark.sql import functions as F

    from clickhouse_datafusion_spark.operators.sketch import (
        cms_build, cms_estimate)

    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact"))
    probe = exact.orderBy(F.desc("exact"), "tok").limit(30).select("tok")

    for width, expect_collisions in ((1 << 14, False), (64, True)):
        sketch = cms_build(toks, "tok", depth=3, width=width)
        est = cms_estimate(probe, sketch, "tok", depth=3, width=width)
        j = est.join(exact, "tok").select("tok", "est_count", "exact")
        rows = j.collect()
        assert all(r.est_count >= r.exact for r in rows), (width, rows)
        over = sum(1 for r in rows if r.est_count > r.exact)
        if expect_collisions:
            assert over > 0  # 64 counters for a whole vocab must collide


def test_canonical_url_edge_cases(spark):
    """Hand-written canonicalization cases covering every rule."""
    from pyspark.sql import functions as F

    from clickhouse_datafusion_spark.operators.text import canonical_url_col

    cases = [
        # (raw, expected)
        ("HTTP://Example.COM:80", "http://example.com/"),
        ("https://a.b:443//x//y/?z=1#frag", "https://a.b/x/y?z=1"),
        ("https://a.b/?utm_source=x&utm_medium=y", "https://a.b/"),
        ("https://a.b/p?b=2&a=1", "https://a.b/p?a=1&b=2"),
        ("https://a.b/p/", "https://a.b/p"),
        ("ftp://H.I:2121/q", "ftp://h.i:2121/q"),       # non-default port kept
        ("https://a.b:8443/q", "https://a.b:8443/q"),   # non-default port kept
        ("  https://a.b/p  ", "https://a.b/p"),          # trimmed
        ("https://a.b/p?ref=nav&keep=1", "https://a.b/p?keep=1"),
        ("https://a.b/Case/Sensitive", "https://a.b/Case/Sensitive"),
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], ["url"])
    got = [r.c for r in
           df.select(canonical_url_col("url").alias("c")).collect()]
    assert got == [e for _, e in cases]


def test_semantic_dedup_matches_exact_pipeline(spark, emb):
    """semantic_dedup (LSH-blocked) must keep exactly the rows the exact
    all-pairs pipeline keeps at gate parameters (recall-margin sized)."""
    from pyspark.sql import functions as F

    from clickhouse_datafusion_spark.operators.dedup import drop_near_dups
    from clickhouse_datafusion_spark.operators.similarity import (
        pairwise_cosine_dups, semantic_dedup)

    sl = emb.filter(F.col("vec_id") < 150)
    dim = len(sl.select("embedding").first()[0])
    approx = sorted(r.vec_id for r in semantic_dedup(
        sl, threshold=0.4, n_planes=1, n_tables=24, dim=dim)
        .select("vec_id").collect())
    exact_pairs = pairwise_cosine_dups(sl, threshold=0.4)
    exact = sorted(r.vec_id for r in
                   drop_near_dups(sl, exact_pairs, "vec_id")
                   .select("vec_id").collect())
    assert approx == exact
    assert len(approx) < 150  # the fixture slice must contain real dups


def test_hll_rollup_error_bound_and_merge_identity(spark):
    """HLL estimates stay within the lgk=14 error bound, and merging
    fine-grained sketches equals sketching the coarse group directly."""
    from pyspark.sql import functions as F

    from clickhouse_datafusion_spark.operators.sketch import (
        hll_distinct_sketches, hll_rollup)

    df = spark.range(200_000).select(
        (F.col("id") % 40_000).alias("k"),
        (F.col("id") % 24).alias("hour"),
        F.lit("d1").alias("day"))
    fine = hll_distinct_sketches(df, "k", ["day", "hour"], lgk=14)
    rolled = hll_rollup(fine, ["day"]).first()
    direct = hll_rollup(
        hll_distinct_sketches(df, "k", ["day"], lgk=14), ["day"]).first()
    assert abs(rolled.est_distinct - 40_000) / 40_000 < 0.01
    # register-level merge identity (same data, same lgk)
    assert abs(rolled.est_distinct - direct.est_distinct) \
        <= max(1, int(direct.est_distinct * 0.001))


# -- graph ------------------------------------------------------------------

def test_pagerank_known_graphs(spark):
    from clickhouse_datafusion_spark.operators.graph import pagerank

    # 3-cycle: perfect symmetry, ranks stay equal at scale//3
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], ["src", "dst"])
    r = {x.node: x.rank_micro for x in pagerank(cyc, n_iter=5).collect()}
    assert len(set(r.values())) == 1
    # star 1..4 -> 0: the hub outranks every leaf; leaves equal
    star = spark.createDataFrame(
        [(i, 0) for i in range(1, 5)], ["src", "dst"])
    r = {x.node: x.rank_micro for x in pagerank(star, n_iter=3).collect()}
    assert r[0] > r[1]
    assert len({r[i] for i in range(1, 5)}) == 1
    # leaves hold exactly the teleport base (no in-edges):
    # base = (1e6 * 15) // (100 * 5)
    assert r[1] == 30_000


def test_pagerank_mass_bounded(spark):
    """Total integer mass never exceeds the scale (floor divisions and
    dangling nodes only ever LEAK mass, never create it)."""
    from pyspark.sql import functions as F

    from clickhouse_datafusion_spark.operators.graph import pagerank

    e = spark.range(500).select(
        (F.col("id") % 50).alias("src"), (F.col("id") % 37).alias("dst"))
    total = pagerank(e, n_iter=4).agg(F.sum("rank_micro")).first()[0]
    assert 0 < total <= 1_000_000


# ---------------------------------------------------------------------------
# r5e: ClickHouse aggregate analogs (sequenceMatch/sequenceCount/sumMap)
# and trainer-layout / classifier operators
# ---------------------------------------------------------------------------


def _ev(spark, rows):
    """(user_id, ts_seconds, event_type) tuples → events frame."""
    from datetime import datetime, timedelta
    from pyspark.sql import Row

    base = datetime(2024, 1, 1)
    return spark.createDataFrame(
        [Row(user_id=u, ts=base + timedelta(seconds=s), event_type=e)
         for u, s, e in rows])


def test_sequence_match_semantics(spark):
    """In-order chain → 1; out-of-order → 0; same-timestamp events
    cannot serve the next step; users without the anchor still get a
    row (aggregate shape)."""
    from clickhouse_datafusion_spark.operators.funnel import sequence_match

    ev = _ev(spark, [
        (1, 0, "a"), (1, 5, "b"),            # in order → 1
        (2, 5, "b"), (2, 9, "a"),            # b before a → 0
        (3, 4, "a"), (3, 4, "b"),            # tie: b not strictly later → 0
        (4, 0, "c"),                         # no anchor at all → 0
    ])
    out = {r.user_id: r.matched for r in sequence_match(
        ev, [F.col("event_type") == "a",
             F.col("event_type") == "b"]).collect()}
    assert out == {1: 1, 2: 0, 3: 0, 4: 0}


def test_sequence_count_greedy_non_overlapping(spark):
    """CH sequenceCount automaton semantics: a a b b counts ONCE (the
    second chain's 'a' must come after the completing 'b'), and chains
    never overlap."""
    from clickhouse_datafusion_spark.operators.funnel import sequence_count

    ev = _ev(spark, [
        # u1: a(0) a(1) b(2) b(3) → greedy takes a(0)..b(2); the second
        # b has no later a → 1 match (NOT the max-disjoint 2)
        (1, 0, "a"), (1, 1, "a"), (1, 2, "b"), (1, 3, "b"),
        # u2: two clean disjoint chains → 2
        (2, 0, "a"), (2, 1, "b"), (2, 2, "a"), (2, 3, "b"),
        # u3: completing event's timestamp blocks a same-ts restart
        (3, 0, "a"), (3, 1, "b"), (3, 1, "a"), (3, 2, "b"),
        # u4: no matches but present in events → 0 row
        (4, 0, "b"),
    ])
    out = {r.user_id: r.n_matches for r in sequence_count(
        ev, [F.col("event_type") == "a",
             F.col("event_type") == "b"]).collect()}
    assert out == {1: 1, 2: 2, 3: 1, 4: 0}


def test_sum_map_exact_sorted(spark):
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.funnel import sum_map

    rows = [Row(g=1, k="b", v=1.5), Row(g=1, k="a", v=2.25),
            Row(g=1, k="b", v=0.1), Row(g=2, k="z", v=-1.0)]
    out = {r.g: (list(r.keys), list(r.sums_e4)) for r in sum_map(
        spark.createDataFrame(rows), "k", "v", ["g"]).collect()}
    # keys sorted; sums exact in 1e-4 units (1.5+0.1 = 16000, not 15999)
    assert out == {1: (["a", "b"], [22500, 16000]),
                   2: (["z"], [-10000])}


def test_group_sample_k_exact_and_stable(spark):
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.sampling import group_sample_k

    rows = [Row(doc_id=i, source=f"s{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows)
    out = group_sample_k(df, 5, "source", seed=1)
    per = {r.source: r.n for r in
           out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per == {"s0": 5, "s1": 5, "s2": 5}
    # deterministic across recomputation
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in group_sample_k(df, 5, "source",
                                                seed=1).collect())
    assert a == b
    # short groups survive whole
    small = spark.createDataFrame([Row(doc_id=1, source="x"),
                                   Row(doc_id=2, source="x")])
    assert group_sample_k(small, 5, "source").count() == 2
    # different seed → different draw (60 rows, P(identical) ~ C(20,5)^-3)
    c = sorted(r.doc_id for r in group_sample_k(df, 5, "source",
                                                seed=2).collect())
    assert a != c


def test_length_bucket_batches_exact_buckets(spark):
    """Bucket boundaries are EXACT at powers of two (the float-log2
    knife edge this operator deliberately avoids): 32 → 5, 33 → 6,
    1024 → 10, 1025 → 11; batches never exceed batch_size and pad
    within a ≤2× length spread."""
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.packing import (
        length_bucket_batches)

    rows = [Row(doc_id=i, text=" ".join(["w"] * n))
            for i, n in enumerate([1, 31, 32, 33, 63, 64, 65,
                                   1023, 1024, 1025] + [40] * 10)]
    out = length_bucket_batches(spark.createDataFrame(rows),
                                batch_size=4).collect()
    bucket = {r.doc_id: r.bucket for r in out}
    assert bucket[0] == 5 and bucket[1] == 5 and bucket[2] == 5
    assert bucket[3] == 6 and bucket[4] == 6 and bucket[5] == 6
    assert bucket[6] == 7
    assert bucket[7] == 10 and bucket[8] == 10 and bucket[9] == 11
    from collections import Counter

    sizes = Counter(r.batch_id for r in out)
    assert max(sizes.values()) <= 4
    # positions use (bucket, batch_id) pairs below because batch_id is
    # already bucket-prefixed — the pair is just explicit
    # above the floor bucket, max/min length ratio ≤ 2 (the padding
    # bound); the floor bucket just caps absolute length at 2^min_bucket
    by_batch = {}
    for r in out:
        by_batch.setdefault((r.bucket, r.batch_id), []).append(r.n_tokens)
    for (b, _), lens in by_batch.items():
        if b > 5:
            assert max(lens) <= 2 * min(lens)
        else:
            assert max(lens) <= 32
    # positions are 0..len-1 within each batch
    for (_, bid), lens in by_batch.items():
        ps = sorted(r.pos for r in out if r.batch_id == bid)
        assert ps == list(range(len(lens)))


def test_hashed_classifier_score_planted(spark):
    """A weight table that loves 'good' and hates 'bad' must order the
    docs accordingly, with the exact integer mean-weight score."""
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.sampling import hash_bucket
    from clickhouse_datafusion_spark.operators.text import (
        hashed_classifier_score)

    def bkt(word, n=64):
        import hashlib
        return int(hashlib.md5(f"0:{word}".encode()).hexdigest()[:6],
                   16) % n

    wts = spark.createDataFrame(
        [Row(bucket=bkt("good"), w_ppm=1000),
         Row(bucket=bkt("bad"), w_ppm=-1000)])
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="good good bad"),
         Row(doc_id=2, text="bad bad bad"),
         Row(doc_id=3, text="neutral words here")])
    out = {r.doc_id: (r.score_ppm, r.keep) for r in
           hashed_classifier_score(docs, wts, n_buckets=64).collect()}
    # doc1: (1000+1000-1000) DIV 3 = 333; doc2: -3000 DIV 3 = -1000
    assert out[1] == (333, 1)
    assert out[2] == (-1000, 0)
    assert out[3] == (0, 1)  # unhit buckets weigh zero


def test_top_k_values_ties_and_order(spark):
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.funnel import top_k_values

    rows = ([Row(g="x", v=7)] * 3 + [Row(g="x", v=3)] * 3
            + [Row(g="x", v=9)] * 1 + [Row(g="y", v=1)])
    out = {r.g: list(r.top_values) for r in top_k_values(
        spark.createDataFrame(rows), "v", ["g"], k=2).collect()}
    # 7 and 3 tie at count 3 → value ascending breaks the tie; 9 loses
    assert out == {"x": [3, 7], "y": [1]}


def test_delta_sum_counter_resets(spark):
    """Only climbs count: 1→3 (+2), 3→2 (reset, ignored), 2→5 (+3)."""
    from datetime import datetime, timedelta

    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.funnel import delta_sum

    base = datetime(2024, 1, 1)
    rows = [Row(g=1, ts=base + timedelta(seconds=s), eid=s, v=v)
            for s, v in [(0, 1.0), (1, 3.0), (2, 2.0), (3, 5.0)]]
    rows.append(Row(g=2, ts=base, eid=0, v=42.0))  # single event → 0
    out = {r.g: r.delta_sum_e4 for r in delta_sum(
        spark.createDataFrame(rows), "v", "ts", ["g"],
        tiebreak_col="eid").collect()}
    assert out == {1: 50000, 2: 0}


def test_c4_line_filter_semantics(spark):
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.text import c4_line_filter

    page = "\n".join([
        "Home About Contact",                      # menu: no punct → drop
        "This sentence has enough words here.",    # keep
        "Too short.",                              # < 5 words → drop
        "Please enable JavaScript to view this.",  # blocklist → drop
        'He said "stop right there now please"',   # ends in quote → keep
        "Accept our cookie policy to continue.",   # blocklist → drop
    ])
    r = c4_line_filter(spark.createDataFrame(
        [Row(doc_id=1, text=page)])).collect()[0]
    assert r.n_lines == 6 and r.n_kept == 2
    assert r.clean_text == ("This sentence has enough words here.\n"
                            'He said "stop right there now please"')


def test_blocklist_filter_whole_word(spark):
    """Whole-word matching: 'class' must NOT hit an 'ass' blocklist."""
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.text import blocklist_filter

    docs = spark.createDataFrame([
        Row(doc_id=1, text="the class starts now"),
        Row(doc_id=2, text="what an ass he was"),
        Row(doc_id=3, text="ass ass ass"),
    ])
    out = {r.doc_id: (r.n_hits, r.keep) for r in
           blocklist_filter(docs, ("ass",)).collect()}
    assert out == {1: (0, 1), 2: (1, 0), 3: (3, 0)}


def test_drop_duplicate_paragraphs_semantics(spark):
    """Shared paragraphs survive only at min (doc, pos); in-doc repeats
    keep the first copy; fully-owned docs keep an empty-text row."""
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.dedup import (
        drop_duplicate_paragraphs)

    docs = spark.createDataFrame([
        Row(doc_id=1, text="header\nunique one\nheader"),
        Row(doc_id=2, text="header\nunique two"),
        Row(doc_id=3, text="header"),
    ])
    out = {r.doc_id: r for r in
           drop_duplicate_paragraphs(docs).collect()}
    assert out[1].clean_text == "header\nunique one"   # in-doc repeat cut
    assert out[2].clean_text == "unique two"           # header owned by 1
    assert out[3].clean_text == "" and out[3].n_kept == 0
    assert (out[1].n_paras, out[1].n_kept) == (3, 2)


def test_edit_distance_verify_semantics(spark):
    """Exact distances, threshold inclusive, and the length prefilter
    never rejects a pair the distance filter would keep."""
    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.dedup import (
        edit_distance_verify)

    docs = spark.createDataFrame([
        Row(doc_id=1, text="kitten"),
        Row(doc_id=2, text="sitting"),     # dist 3
        Row(doc_id=3, text="kitten"),      # dist 0 to 1
        Row(doc_id=4, text="completely different and much longer text"),
    ])
    pairs = spark.createDataFrame([
        Row(id_a=1, id_b=2), Row(id_a=1, id_b=3), Row(id_a=1, id_b=4)])
    out = {(r.id_a, r.id_b): r.edit_dist for r in
           edit_distance_verify(docs, pairs, max_dist=3).collect()}
    assert out == {(1, 2): 3, (1, 3): 0}


def test_train_quality_classifier_end_to_end(spark):
    """Closing the filter loop: train on planted good/bad docs, then the
    learned weight table drives hashed_classifier_score to separate a
    held-out set perfectly."""
    import random

    from pyspark.sql import Row

    from clickhouse_datafusion_spark.operators.text import (
        hashed_classifier_score, train_quality_classifier)

    rng = random.Random(7)
    good_vocab = ["clean", "prose", "article", "coherent", "useful"]
    bad_vocab = ["zzz", "spamspam", "garbled", "clickbait", "junkjunk"]

    def doc(vocab, n=12):
        return " ".join(rng.choice(vocab) for _ in range(n))

    train = [Row(doc_id=i, text=doc(good_vocab), label=1)
             for i in range(40)]
    train += [Row(doc_id=100 + i, text=doc(bad_vocab), label=0)
              for i in range(40)]
    wts = train_quality_classifier(spark.createDataFrame(train),
                                   n_buckets=256)
    held = [Row(doc_id=1000 + i, text=doc(good_vocab)) for i in range(10)]
    held += [Row(doc_id=2000 + i, text=doc(bad_vocab)) for i in range(10)]
    scored = {r.doc_id: r.keep for r in hashed_classifier_score(
        spark.createDataFrame(held), wts, n_buckets=256,
        bias_ppm=wts.bias_ppm).collect()}
    assert all(scored[1000 + i] == 1 for i in range(10))
    assert all(scored[2000 + i] == 0 for i in range(10))


def test_temperature_mixture_plan_math(spark):
    """α=0.5 plan: shares ∝ sqrt(n) in exact integer micro-units; a
    minority group's epochs rise above 1e6 (upsample) while the majority
    drops below (downsample); targets sum to ≈ budget."""
    from clickhouse_datafusion_spark.operators.sampling import (
        apply_mixture_plan, temperature_mixture_plan)

    rows = [(i, "big") for i in range(900)] + \
           [(1000 + i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id int, lang string")
    plan = {r.lang: r for r in temperature_mixture_plan(df, "lang").collect()}
    # w6(big)=floor(sqrt(900)*1e6)=30e6, w6(small)=10e6 -> shares 3/4, 1/4
    assert plan["big"].target_rows == 750 and plan["small"].target_rows == 250
    assert plan["small"].epochs_e6 == 2_500_000      # 2.5 epochs
    assert plan["big"].keep_ppm == 833_333           # 750/900
    out = apply_mixture_plan(
        df, temperature_mixture_plan(df, "lang"), "lang")
    by_lang = {r.lang: r.n for r in out.groupBy("lang")
               .agg(F.count("*").alias("n")).collect()}
    assert by_lang["small"] == 100                   # upsampled: all kept
    assert abs(by_lang["big"] - 750) < 80            # Bernoulli around 750
    # epochs metadata survives for the loader
    assert "epochs_e6" in out.columns


def test_curriculum_phases_boundaries(spark):
    """Phases split by score with ties sharing the earlier phase; phase 1
    holds the TOP scores; seeded order is deterministic."""
    from clickhouse_datafusion_spark.operators.sampling import (
        curriculum_phases)

    rows = [(i, 10) for i in range(4)] + [(10 + i, 5) for i in range(4)] + \
           [(20 + i, 1) for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id int, score int")
    out = curriculum_phases(df, "score", n_phases=3)
    got = {r.doc_id: r.phase for r in out.collect()}
    assert all(got[i] == 1 for i in range(4))          # top score -> phase 1
    assert all(got[10 + i] == 2 for i in range(4))
    assert all(got[20 + i] == 3 for i in range(4))
    # a score group straddling a boundary stays together in the EARLIER phase
    df2 = spark.createDataFrame(
        [(i, 7) for i in range(5)] + [(10, 3)], "doc_id int, score int")
    p2 = {r.doc_id: r.phase for r in
          curriculum_phases(df2, "score", n_phases=2).collect()}
    assert all(p2[i] == 1 for i in range(5)) and p2[10] == 2
    # deterministic order key
    o1 = {(r.doc_id, r.ord) for r in out.collect()}
    o2 = {(r.doc_id, r.ord) for r in
          curriculum_phases(df, "score", n_phases=3).collect()}
    assert o1 == o2


def test_bigram_lm_prebuilt_round_trip(spark, docs, tmp_path):
    """The persisted-LM path (build → snapshot save → load → score) is
    bit-identical to the inline self-contained score, pinned versions
    survive a retrain, and a torn save (one table written, the other
    not) is detected rather than silently mixing LM versions."""
    from clickhouse_datafusion_spark.operators.layout import write_snapshot
    from clickhouse_datafusion_spark.operators.text import (
        bigram_lm_score, build_bigram_lm, load_bigram_lm, save_bigram_lm,
        score_with_bigram_lm)

    lm_src = docs.filter("doc_id < 250")
    inline = sorted(map(tuple, bigram_lm_score(docs, lm_df=lm_src).collect()))

    path = str(tmp_path / "lm")
    bi2, bk = build_bigram_lm(lm_src)
    assert save_bigram_lm(bi2, bk, path) == 1
    b, k = load_bigram_lm(spark, path)
    assert sorted(map(tuple, score_with_bigram_lm(docs, b, k).collect())) \
        == inline

    # a retrain lands as v2; pinning v1 still reproduces the old scores
    assert save_bigram_lm(bi2, bk, path) == 2
    b1, k1 = load_bigram_lm(spark, path, version=1)
    assert sorted(map(tuple,
                      score_with_bigram_lm(docs, b1, k1).collect())) == inline

    # torn write: bigrams advanced to v3 without its backoff twin
    write_snapshot(bi2, f"{path}/bigrams")
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="version skew"):
        save_bigram_lm(bi2, bk, path)


def test_bigram_lm_score_property_vs_python_reference(spark):
    """Property check of the hashed sentinel-pair LM against a direct
    Python reference on randomized degenerate corpora — NULL texts,
    empty strings (split(' ') of '' is [''], ONE empty-string token),
    single words, repeated words, LM subsets that leave words/bigrams
    unseen (backoff path), and the self-scoring shape. The sf0.01 gate
    covers realistic data; this covers the shapes it can't draw."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from clickhouse_datafusion_spark.operators.text import bigram_lm_score

    word = st.sampled_from(["a", "b", "c", "ab"])
    doc = st.one_of(
        st.none(),
        st.lists(word, min_size=0, max_size=6).map(" ".join))
    corpora = st.lists(doc, min_size=1, max_size=7)

    def ref_scores(texts, lm_idx, an=2, ad=5):
        from collections import Counter
        uni, bi = Counter(), Counter()
        for i in lm_idx:
            if texts[i] is None:
                continue
            ws = texts[i].split(" ")
            uni.update(ws)
            bi.update(zip(ws, ws[1:]))
        tot = sum(uni.values())
        out = {}
        for i, txt in enumerate(texts):
            if txt is None:
                out[i] = (0, 0)
                continue
            ws = txt.split(" ")
            pairs = list(zip(ws, ws[1:]))
            cs = [bi[p] * 1000000 // uni[p[0]] if p in bi
                  else (an * uni.get(p[1], 0) * 1000000) // (ad * tot)
                  if tot else 0
                  for p in pairs]
            out[i] = (len(pairs), sum(cs) // len(pairs) if pairs else 0)
        return out

    @given(corpora, st.data())
    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def check(texts, data):
        lm_idx = data.draw(st.sets(
            st.integers(0, len(texts) - 1), min_size=0, max_size=len(texts)))
        df = spark.createDataFrame(
            [(i, t_) for i, t_ in enumerate(texts)],
            "doc_id long, text string")
        lm = df.filter(F.col("doc_id").isin([int(i) for i in lm_idx])) \
            if lm_idx else None
        # empty lm_idx draws the self-scoring shape (lm_df=None → df)
        got = {r.doc_id: (r.n_pairs, r.score_ppm)
               for r in bigram_lm_score(df, lm_df=lm).collect()}
        want = ref_scores(texts, lm_idx if lm_idx else range(len(texts)))
        assert got == want

    check()
