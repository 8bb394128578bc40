"""Property/differential sweeps for the kernels the fixture-based gate
cannot see into (r9 verdict task 7 — this channel caught a REAL
wrong-answer bug in each of the last two rounds: NULL-text LM counts
r8, borderline-slack + subnormal-cosine r9):

- the d8 cross-doc span-rebuild kernel vs a from-scratch serial oracle
  over adversarial corpora (overlapping spans, periodic tokens,
  whole-doc copies, boundary-length docs);
- ``global_prefix_sum`` / ``pack_sequences`` vs serial cumsum under
  adversarial length distributions (zeros, 2^40 outliers, clustered
  order keys) at degenerate bucket counts;
- the multimodal decoders on truncated / bit-flipped / arbitrary
  payloads — the decode contract is "valid features or a TYPED error
  (ValueError / NotImplementedError)", never a struct/zlib/ZeroDivision
  crash from inside the Arrow batch loop.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# ---------------------------------------------------------------------
# d8: cross-document span dedup vs a serial oracle
# ---------------------------------------------------------------------

NGRAM = 3
WORDS = ["a", "b", "c", "ab"]


def _span_oracle(docs: dict[str, str], ngram: int):
    """Serial re-implementation of the d8 contract: every word span of
    length >= ngram occurring more than once in the corpus is kept at
    its first occurrence (min (doc_id, gpos), string order) and removed
    everywhere else; removal positions are the union of removed spans."""
    words = {i: t.split(" ") for i, t in docs.items()}
    occs: dict[str, list[tuple[str, int]]] = {}
    for i in sorted(words):
        ws = words[i]
        for p in range(len(ws) - ngram + 1):
            occs.setdefault(" ".join(ws[p:p + ngram]), []).append((i, p + 1))
    rm: dict[str, set[int]] = {}
    for g, lst in occs.items():
        if len(lst) > 1:
            keep = min(lst)
            for (i, p) in lst:
                if (i, p) != keep:
                    rm.setdefault(i, set()).update(range(p, p + ngram))
    out = {}
    for i, ws in words.items():
        kept = [w for k, w in enumerate(ws, 1) if k not in rm.get(i, set())]
        out[i] = (len(ws), len(kept), " ".join(kept))
    return out


@st.composite
def _corpora(draw):
    """Small adversarial corpora: periodic tokens (self-overlapping
    spans), shared prefixes/suffixes, exact copies, docs at the ngram
    boundary (len == ngram-1 / ngram / ngram+1)."""
    n_docs = draw(st.integers(min_value=1, max_value=6))
    docs = {}
    for d in range(n_docs):
        kind = draw(st.sampled_from(["random", "periodic", "copy"]))
        if kind == "copy" and docs:
            base = draw(st.sampled_from(sorted(docs)))
            words = docs[base].split(" ")
            # optionally perturb one end so the copy is near, not exact
            if draw(st.booleans()) and words:
                words = words[:-1] if draw(st.booleans()) else ["z"] + words
        elif kind == "periodic":
            unit = draw(st.lists(st.sampled_from(WORDS),
                                 min_size=1, max_size=2))
            reps = draw(st.integers(min_value=1, max_value=6))
            words = unit * reps
        else:
            words = draw(st.lists(st.sampled_from(WORDS),
                                  min_size=NGRAM - 1, max_size=9))
        docs[f"d{d}"] = " ".join(words)
    return docs


@given(_corpora())
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_cross_doc_span_dedup_matches_serial_oracle(spark, docs):
    from clickhouse_datafusion_spark.operators.dedup import (
        drop_cross_doc_spans)

    df = spark.createDataFrame(sorted(docs.items()), "doc_id string, text string")
    got = {r.doc_id: (r.n_words_before, r.n_words_after, r.text)
           for r in drop_cross_doc_spans(df, ngram=NGRAM).collect()}
    want = _span_oracle(docs, NGRAM)
    assert got == want, (docs, got, want)


# ---------------------------------------------------------------------
# global_prefix_sum / pack_sequences under adversarial distributions
# ---------------------------------------------------------------------

@st.composite
def _keyed_values(draw):
    """Unique int order keys with adversarial clustering (dense run +
    far outliers, negatives) and adversarial values (zeros, ones, 2^40
    outliers)."""
    n = draw(st.integers(min_value=1, max_value=40))
    base = draw(st.integers(min_value=-10**9, max_value=10**9))
    keys = set()
    while len(keys) < n:
        if draw(st.booleans()):
            keys.add(base + draw(st.integers(min_value=0, max_value=50)))
        else:
            keys.add(draw(st.integers(min_value=-10**12, max_value=10**12)))
    vals = [draw(st.sampled_from([0, 1, 7, 2**40]))
            for _ in range(len(keys))]
    return list(zip(sorted(keys), vals))


@given(_keyed_values(),
       st.sampled_from([1, 2, 5]),
       st.sampled_from(["quantile", "md5domain"]))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_global_prefix_sum_matches_serial_cumsum(spark, rows, n_buckets,
                                                 mode):
    from clickhouse_datafusion_spark.operators.packing import (
        global_prefix_sum)

    df = spark.createDataFrame(rows, "k bigint, v bigint").repartition(4)
    out = global_prefix_sum(df, "v", "k", n_buckets=n_buckets,
                            bounds_mode=mode)
    got = {r.k: r._cum_before for r in out.collect()}
    cum, want = 0, {}
    for k, v in rows:                      # rows arrive key-sorted
        want[k] = cum
        cum += v
    assert got == want, (rows, n_buckets, mode, got, want)


def test_global_prefix_sum_inf_order_values(spark):
    """A double order column containing inf drives inf into the quantile
    bucket bounds — the build must parse and the prefix sum stay exact."""
    from clickhouse_datafusion_spark.operators.packing import (
        global_prefix_sum)

    df = spark.createDataFrame(
        [(0.0, 1.0), (1.0, 2.0), (float("inf"), 4.0)], ["k", "v"])
    # 4 buckets: the 0.75 quantile of three keys is the inf key
    assert float("inf") in df.stat.approxQuantile(
        "k", [0.25, 0.5, 0.75], 0.001)
    out = global_prefix_sum(df, value_col="v", order_col="k", n_buckets=4)
    rows = {r["k"]: r["_cum_before"] for r in out.collect()}
    assert rows == {0.0: 0.0, 1.0: 1.0, float("inf"): 3.0}


@given(st.lists(st.integers(min_value=0, max_value=5000),
                min_size=1, max_size=30),
       st.sampled_from([1, 64, 1024]))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pack_sequences_offsets_under_adversarial_lengths(spark, lengths,
                                                          budget):
    """seq_id/seq_offset must be the exact concat-then-chunk layout for
    ANY length distribution — all-zero docs, one 5000-token giant among
    empties, budget 1 (every token its own sequence)."""
    from clickhouse_datafusion_spark.operators.packing import pack_sequences

    rows = [(i, n) for i, n in enumerate(lengths)]
    df = spark.createDataFrame(rows, "doc_id bigint, n bigint")
    out = {r.doc_id: (r.seq_id, r.seq_offset)
           for r in pack_sequences(df, budget=budget, token_col="n",
                                   id_col="doc_id", n_buckets=3).collect()}
    cum = 0
    for i, n in rows:
        assert out[i] == (cum // budget, cum % budget), (lengths, budget, i)
        cum += n


# ---------------------------------------------------------------------
# multimodal decoders: malformed / truncated / bit-flipped payloads
# ---------------------------------------------------------------------

_TYPED = (ValueError, NotImplementedError)


def _check_decode_contract(payload: bytes):
    """The per-row contract of the Arrow decode loop: a finite
    FEATURE_DIM vector or a TYPED error — any other exception class
    would kill the whole batch task at scale."""
    import math

    from clickhouse_datafusion_spark.operators.multimodal import (
        FEATURE_DIM,
        _decode_auto,
    )

    try:
        feats = _decode_auto(payload, strict=True)
    except _TYPED:
        return
    assert isinstance(feats, list) and len(feats) == FEATURE_DIM
    assert all(isinstance(x, float) and math.isfinite(x) for x in feats), \
        payload[:40]


def _valid_png() -> bytes:
    from clickhouse_datafusion_spark.operators.multimodal import encode_png

    pixels = bytes(range(0, 240, 10)) * 4          # 4x8 RGB
    return encode_png(8, 4, 3, pixels)


def _valid_ppm() -> bytes:
    from clickhouse_datafusion_spark.operators.multimodal import encode_ppm

    return encode_ppm(4, 3, bytes(range(36)))


def _valid_wav() -> bytes:
    import struct

    samples = struct.pack("<8h", *[0, 1000, -1000, 32767, -32768, 5, -5, 0])
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(samples)) + samples)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


@given(st.sampled_from(["png", "ppm", "wav"]), st.data())
@settings(max_examples=120, deadline=None)
def test_decoder_truncation_and_bitflip_never_crash_untyped(kind, data):
    """Every strict prefix and every single-byte corruption of a valid
    container must hit the typed-error path (or still decode) — never
    struct.error / zlib.error / ZeroDivisionError / IndexError."""
    payload = {"png": _valid_png, "ppm": _valid_ppm, "wav": _valid_wav}[kind]()
    if data.draw(st.booleans()):
        cut = data.draw(st.integers(min_value=0, max_value=len(payload) - 1))
        mutated = payload[:cut]
    else:
        pos = data.draw(st.integers(min_value=0, max_value=len(payload) - 1))
        val = data.draw(st.integers(min_value=0, max_value=255))
        mutated = payload[:pos] + bytes([val]) + payload[pos + 1:]
    _check_decode_contract(mutated)


@given(st.binary(min_size=0, max_size=200))
@settings(max_examples=150, deadline=None)
def test_decoder_arbitrary_bytes_never_crash_untyped(blob):
    _check_decode_contract(blob)


@given(st.binary(min_size=0, max_size=60))
@settings(max_examples=60, deadline=None)
def test_decoder_forged_headers_never_crash_untyped(tail):
    """Valid magic + arbitrary garbage after it — exercises the deep
    parse paths (chunk walks, header field reads) rather than the magic
    check."""
    from clickhouse_datafusion_spark.operators.multimodal import PNG_SIG

    for head in (b"RIFF" + tail[:4] + b"WAVE", b"P6", PNG_SIG):
        _check_decode_contract(head + tail)


def test_decoder_roundtrips_still_exact():
    """The mutation sweeps must not be satisfied by over-rejecting:
    the valid encodings keep decoding exactly."""
    from clickhouse_datafusion_spark.operators.multimodal import (
        decode_png,
        decode_ppm,
        decode_wav_pcm,
    )

    png = decode_png(_valid_png())
    assert (png["width"], png["height"], png["channels"]) == (8, 4, 3)
    assert png["pixels"] == bytes(range(0, 240, 10)) * 4
    ppm = decode_ppm(_valid_ppm())
    assert (ppm["width"], ppm["height"]) == (4, 3)
    assert ppm["pixels"] == bytes(range(36))
    wav = decode_wav_pcm(_valid_wav())
    assert wav["sample_rate"] == 8000 and len(wav["samples"]) == 8
    assert abs(wav["samples"][3] - 32767 / 32768) < 1e-12


# ---------------------------------------------------------------------
# r10b: sketch kernels — exact invariants the fixture gate cannot see
# ---------------------------------------------------------------------

@st.composite
def _key_sets(draw):
    """Inserted keys + disjoint probe keys (unicode, empties, near-
    collisions by shared prefixes)."""
    ins = draw(st.lists(
        st.text(alphabet="abcxyz0189é中", min_size=0, max_size=8),
        min_size=1, max_size=25, unique=True))
    probes = draw(st.lists(
        st.text(alphabet="abcxyz0189é中", min_size=0, max_size=8),
        min_size=1, max_size=25, unique=True))
    return ins, [p for p in probes if p not in set(ins)]


@given(_key_sets(), st.sampled_from(["h", "i", "I", "i_", "x"]))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bloom_no_false_negatives(spark, keysets, key_col):
    """The Bloom contract: might_contain = 1 for EVERY inserted key (no
    false negatives, a hard invariant) — and at this sizing (n<=25 keys
    in 2^20 bits, k=7) a false positive on a disjoint probe has
    probability ~1e-26, so we assert exact separation both ways.
    Identifier hygiene: a key column named like the parsed fragment's
    hash-index lambda variable (``i``, in any case) hashes its VALUES —
    the bits equal the Column-API construction, and disjoint probes
    stay separated (a shadowed key gives every key the same positions,
    so every probe hits)."""
    from clickhouse_datafusion_spark.operators.sketch import (
        bloom_build, bloom_probe)

    ins, probes = keysets
    q = f"`{key_col}`"
    df = spark.createDataFrame([(k,) for k in ins], f"{q} string")
    bloom = bloom_build(df, key_col)
    want = _bloom_bits_column_api(df, key_col, 1 << 20, 7)
    assert sorted(bloom.collect()) == sorted(want.collect()), (key_col, ins)
    got_in = {r.doc_id: r.might_contain for r in bloom_probe(
        df.selectExpr(q, f"{q} AS doc_id"), bloom, key_col,
        id_col="doc_id").collect()}
    assert all(v == 1 for v in got_in.values()), (ins, got_in)
    if probes:
        pdf = spark.createDataFrame([(k, k) for k in probes],
                                    f"{q} string, doc_id string")
        got_out = {r.doc_id: r.might_contain
                   for r in bloom_probe(pdf, bloom, key_col).collect()}
        assert all(v == 0 for v in got_out.values()), (ins, probes, got_out)


def _bloom_bits_column_api(df, key_col, n_bits, n_hashes):
    """bloom_build's word table built with the Column API, whose Python
    lambdas get generated variable names that cannot shadow a column."""
    from pyspark.sql import functions as F

    from clickhouse_datafusion_spark.operators.sketch import _h60

    pos = df.select(F.explode(F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda j: F.pmod(_h60(F.concat(j.cast("string"), F.lit(":"),
                                       F.col(key_col))),
                         F.lit(n_bits)))).alias("p"))
    return (pos.select(F.floor(F.col("p") / 63).alias("word"),
                       F.pmod("p", F.lit(63)).cast("int").alias("bit"))
            .selectExpr("word", "shiftleft(CAST(1 AS BIGINT), bit) AS bv")
            .groupBy("word").agg(F.bit_or("bv").alias("bits")))


@st.composite
def _token_streams(draw):
    toks = draw(st.lists(
        st.text(alphabet="abctü", min_size=1, max_size=5),
        min_size=1, max_size=30))
    return toks


@given(_token_streams(), _token_streams())
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_cms_lower_bound_and_linearity(spark, toks_a, toks_b):
    """Two CMS invariants that hold EXACTLY: (1) est >= true count for
    every token (the one-sided error guarantee; at <=60 tokens in a
    16384-wide sketch a 4-row simultaneous collision is ~1e-11, so est
    == true here); (2) linearity — the sketch of A++B equals the
    elementwise sum of the sketches of A and B (what makes CMS
    mergeable across ingest partitions at 100 TB)."""
    from collections import Counter

    from clickhouse_datafusion_spark.operators.sketch import (
        cms_build, cms_estimate)

    df_a = spark.createDataFrame([(t,) for t in toks_a], "tok string")
    df_b = spark.createDataFrame([(t,) for t in toks_b], "tok string")
    df_ab = spark.createDataFrame([(t,) for t in toks_a + toks_b],
                                  "tok string")
    sk_a = {(r.r, r.c): r.cnt for r in cms_build(df_a).collect()}
    sk_b = {(r.r, r.c): r.cnt for r in cms_build(df_b).collect()}
    sk_ab = {(r.r, r.c): r.cnt for r in cms_build(df_ab).collect()}
    summed = Counter()
    for sk in (sk_a, sk_b):
        for k, v in sk.items():
            summed[k] += v
    assert dict(summed) == sk_ab, "CMS linearity violated"
    true = Counter(toks_a + toks_b)
    est = {r.tok: r.est_count
           for r in cms_estimate(df_ab, cms_build(df_ab)).collect()}
    for t, n in true.items():
        assert est[t] >= n, (t, n, est[t])
        assert est[t] == n, (t, n, est[t])   # collision-free at this size


@given(st.lists(st.tuples(st.text(alphabet="uvwxyz12", min_size=1,
                                  max_size=6),
                          st.integers(min_value=0, max_value=3)),
                min_size=1, max_size=40))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_hll_partition_merge_invariance(spark, keyed):
    """HLL register union is lossless: sketching arbitrary partitions of
    the data and merging (hll_rollup) must give EXACTLY the estimate of
    sketching the whole — the invariant that makes sketch-once,
    merge-later safe at 100 TB (operators/sketch.py:179)."""
    from clickhouse_datafusion_spark.operators.sketch import (
        hll_distinct_sketches, hll_rollup)

    df = spark.createDataFrame(
        [(k, g, 1) for k, g in keyed], "k string, g int, one int")
    fine = hll_distinct_sketches(df, "k", ["one", "g"])
    merged = hll_rollup(fine, ["one"]).collect()[0].est_distinct
    direct = hll_rollup(hll_distinct_sketches(df, "k", ["one"]),
                        ["one"]).collect()[0].est_distinct
    assert merged == direct, (keyed, merged, direct)


@given(st.lists(st.sampled_from(["alpha", "beta", "gamma", "délta"]),
                min_size=1, max_size=12),
       st.randoms(use_true_random=False))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_simhash_word_permutation_invariance(spark, words, rnd):
    """SimHash is a function of the word multiset: permuting the words
    of a document must not change the signature (the property LSH
    bucketing relies on for shingle-order-insensitive near-dup
    detection)."""
    from clickhouse_datafusion_spark.operators.dedup import simhash_col

    shuffled = list(words)
    rnd.shuffle(shuffled)
    df = spark.createDataFrame(
        [(" ".join(words), " ".join(shuffled))], "a string, b string")
    row = df.select(simhash_col(__import__("pyspark").sql.functions.col("a"))
                    .alias("sa"),
                    simhash_col(__import__("pyspark").sql.functions.col("b"))
                    .alias("sb")).collect()[0]
    assert row.sa == row.sb, (words, shuffled, row)


@st.composite
def _bpe_cases(draw):
    """Random unicode corpora + random (possibly nonsensical) merge
    tables — encode must SEGMENT, never alter: concatenating a word's
    tokens reproduces the word byte-for-byte under ANY merge list."""
    alpha = "abßé中 "
    docs = draw(st.lists(st.text(alphabet=alpha, min_size=0, max_size=24),
                         min_size=1, max_size=6))
    chars = "abßé中"
    merges = draw(st.lists(
        st.tuples(st.text(alphabet=chars, min_size=1, max_size=2),
                  st.text(alphabet=chars, min_size=1, max_size=2)),
        min_size=0, max_size=8))
    return docs, merges


@given(_bpe_cases())
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_encode_is_lossless_segmentation(spark, case):
    from clickhouse_datafusion_spark.operators.text import bpe_encode

    docs, merges = case
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string")
    out = {r.doc_id: r.tokens for r in
           bpe_encode(df, merges).collect()}
    for i, t in enumerate(docs):
        assert "".join(out[i]) == "".join(t.split()), (t, merges, out[i])


# ---------------------------------------------------------------------
# r10d: skew-salting equivalence — salted plans must equal unsalted
# ---------------------------------------------------------------------

@st.composite
def _skewed_rows(draw):
    """Adversarial key distributions: one hot key with most rows, NULL
    values, negative/zero values, plus a salt count sweep (1 = salting
    degenerates to the plain plan; 16 > distinct rows per key)."""
    n_hot = draw(st.integers(min_value=1, max_value=25))
    rows = [("hot", draw(st.sampled_from([0, 1, -5, 2**40, None])))
            for _ in range(n_hot)]
    for i in range(draw(st.integers(min_value=0, max_value=8))):
        rows.append((f"k{i % 3}", draw(st.integers(min_value=-9,
                                                   max_value=9))))
    n_salts = draw(st.sampled_from([1, 3, 16]))
    return rows, n_salts


@given(_skewed_rows())
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_salted_count_sum_equals_unsalted(spark, case):
    from clickhouse_datafusion_spark.operators.skew import salted_count_sum

    rows, n_salts = case
    df = spark.createDataFrame(rows, "k string, v bigint").repartition(4)
    got = {r.k: (r.n, r.total) for r in
           salted_count_sum(df, "k", "v", n_salts=n_salts).collect()}
    want = {r.k: (r.n, r.total) for r in
            df.groupBy("k").agg(
                __import__("pyspark").sql.functions.count("*").alias("n"),
                __import__("pyspark").sql.functions.sum("v").alias("total")
            ).collect()}
    assert got == want, (rows, n_salts, got, want)


@given(_skewed_rows())
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_salted_join_equals_plain_join(spark, case):
    from clickhouse_datafusion_spark.operators.skew import salted_join

    rows, n_salts = case
    probe = spark.createDataFrame(rows, "k string, v bigint")
    build = spark.createDataFrame(
        [("hot", 100), ("k0", 200), ("unmatched", 300)],
        "k string, b bigint")
    for how in ("inner", "left"):
        got = sorted(tuple((x is None, x) for x in r) for r in
                     salted_join(probe, build, "k", n_salts=n_salts,
                                 how=how).collect())
        want = sorted(tuple((x is None, x) for x in r) for r in
                      probe.join(build, "k", how).collect())
        assert got == want, (rows, n_salts, how)


# ---------------------------------------------------------------------
# r10d: funnel_depths vs a from-scratch serial oracle
# ---------------------------------------------------------------------

def _funnel_oracle(rows, window_s: int, k: int = 3):
    """Serial re-statement of the windowFunnel contract: for each user,
    for EVERY step-1 event t1, greedily take the earliest strictly-later
    event of each next step with all steps <= t1 + window; the user's
    depth is the max over chains."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for u, step, t in rows:
        by_user[u].append((t, step))
    out = {}
    for u, evs in by_user.items():
        evs.sort()
        best = 0
        for t1, s in evs:
            if s != 0:
                continue
            depth, cur = 1, t1
            for want in range(1, k):
                nxt = [t for t, st in evs
                       if st == want and t > cur and t <= t1 + window_s]
                if not nxt:
                    break
                cur = min(nxt)
                depth += 1
            best = max(best, depth)
        if best:
            out[u] = best
    return out


@st.composite
def _event_streams(draw):
    n = draw(st.integers(min_value=1, max_value=30))
    rows = []
    for _ in range(n):
        rows.append((draw(st.integers(min_value=0, max_value=3)),
                     draw(st.integers(min_value=0, max_value=2)),
                     draw(st.integers(min_value=0, max_value=20))))
    w = draw(st.sampled_from([1, 3, 10]))
    return rows, w


@given(_event_streams())
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_funnel_depths_matches_serial_oracle(spark, case):
    """Adversarial streams: same-timestamp events (strictly-later
    semantics), multiple step-1 starts per user, missing middle steps,
    window boundaries hit exactly."""
    import datetime

    from pyspark.sql import functions as F

    from clickhouse_datafusion_spark.operators.funnel import funnel_depths

    rows, w = case
    base = datetime.datetime(2024, 1, 1)
    data = [(u, s, base + datetime.timedelta(seconds=t))
            for u, s, t in rows]
    df = spark.createDataFrame(data, "user_id int, step int, ts timestamp")
    got = {r.user_id: r.depth for r in funnel_depths(
        df, [F.col("step") == i for i in range(3)],
        F.expr(f"INTERVAL {w} SECONDS")).collect()}
    want = _funnel_oracle(rows, w)
    assert got == want, (rows, w, got, want)


def _seq_match_oracle(rows, k: int = 3):
    """Per user: 1 iff greedy nested-min chaining (t_i = min ts with
    cond_i and ts > t_{i-1}) completes all k steps."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for u, step, t in rows:
        by_user[u].append((t, step))
    out = {}
    for u, evs in by_user.items():
        cur, ok = None, True
        for want in range(k):
            cand = [t for t, s in evs
                    if s == want and (cur is None or t > cur)]
            if not cand:
                ok = False
                break
            cur = min(cand)
        out[u] = 1 if ok else 0
    return out


def _seq_count_oracle(rows, k: int = 3):
    """Per user: greedy automaton over time-sorted events counting
    non-overlapping chains, strictly-later between ALL accepted steps."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for u, step, t in rows:
        by_user[u].append((t, step))
    out = {}
    for u, evs in by_user.items():
        evs.sort()
        n = state = 0
        last_t = None
        for t, s in evs:
            if last_t is not None and t <= last_t:
                continue
            if s == state:
                state += 1
                last_t = t
                if state == k:
                    n += 1
                    state = 0
        out[u] = n
    return out


@given(_event_streams())
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_sequence_match_and_count_match_serial_oracles(spark, case):
    """sequence_match (as-of-join chaining) and sequence_count (the
    module's one sequential automaton) against from-scratch serial
    oracles on streams with same-timestamp collisions and duplicate
    steps — the classes where strictly-later semantics bite."""
    import datetime

    from pyspark.sql import functions as F

    from clickhouse_datafusion_spark.operators.funnel import (
        sequence_count,
        sequence_match,
    )

    rows, _ = case
    base = datetime.datetime(2024, 1, 1)
    data = [(u, s, base + datetime.timedelta(seconds=t))
            for u, s, t in rows]
    df = spark.createDataFrame(data, "user_id int, step int, ts timestamp")
    conds = [F.col("step") == i for i in range(3)]
    got_m = {r.user_id: r.matched
             for r in sequence_match(df, conds).collect()}
    assert got_m == _seq_match_oracle(rows), (rows, got_m)
    got_c = {r.user_id: r.n_matches
             for r in sequence_count(df, conds).collect()}
    assert got_c == _seq_count_oracle(rows), (rows, got_c)


@pytest.mark.parametrize("ts_type", ["timestamp", "date", "bigint"])
@given(_event_streams(), st.sampled_from(["ts", "t", "acc", "x"]))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_sequence_count_ts_type_envelope(spark, ts_type, case, ts_col):
    """sequence_count's input-type envelope: the fold's NULL start for
    last_t is typed from the data, so an orderable ``ts`` of type
    timestamp, date or bigint (under any column name) gives the serial
    automaton's counts."""
    import datetime

    from pyspark.sql import functions as F

    from clickhouse_datafusion_spark.operators.funnel import sequence_count

    rows, _ = case
    conv = {
        "timestamp": lambda t: (datetime.datetime(2024, 1, 1)
                                + datetime.timedelta(seconds=t)),
        "date": lambda t: (datetime.date(2024, 1, 1)
                           + datetime.timedelta(days=t)),
        "bigint": lambda t: t,
    }[ts_type]
    df = spark.createDataFrame(
        [(u, s, conv(t)) for u, s, t in rows],
        f"user_id int, step int, `{ts_col}` {ts_type}")
    got = {r.user_id: r.n_matches for r in sequence_count(
        df, [F.col("step") == i for i in range(3)],
        ts_col=ts_col).collect()}
    assert got == _seq_count_oracle(rows), (ts_type, rows, got)
