"""Text-analysis operators: language-ID, quality scoring, token counting,
document fingerprinting.

All pure ``pyspark.sql.functions`` compositions — no Python UDFs — so they
run inside whole-stage codegen and scale linearly with input splits: a scan →
project pipeline with zero shuffles. At 100 TB these are embarrassingly
parallel; the only tuning knob is input split size
(``spark.sql.files.maxPartitionBytes``).

Every operator has an exact SQL twin (see queries.py) so the DuckDB oracle
can hash-check it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clickhouse_datafusion_spark.fragments import sql_ident, sql_str

# Small function-word profiles per language. Counting is done with
# multiplicity (filter + contains, not set-intersect) so Spark and the SQL
# oracle agree exactly.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "von"),
    "en": ("the", "a", "and", "of", "to", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "de", "en", "que"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "du", "dans", "que"),
}

EN_STOPWORDS = LANG_PROFILES["en"] + ("on", "as", "with", "at", "by", "from")

# 2^31 - 1; the polynomial hash stays oracle-expressible (DuckDB list_reduce).
# Production fingerprint at 100 TB should use xxhash64(text) (64-bit, faster);
# this rolling form exists to mirror streaming/rolling fingerprints and to be
# exactly reproducible in ANSI SQL.
FP_MOD = 2_147_483_647
FP_BASE = 31


def words(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def token_count_cols(text_col: str = "text") -> list[Column]:
    """Whitespace tokens, regex (BPE-ish boundary) tokens, and a chars/4
    BPE-budget estimate."""
    c = F.col(text_col)
    return [
        F.size(F.split(c, " ")).cast("bigint").alias("ws_tokens"),
        F.size(F.regexp_extract_all(c, F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), 0))
        .cast("bigint").alias("re_tokens"),
        F.ceil(F.length(c) / 4.0).cast("bigint").alias("bpe_budget"),
    ]


def quality_cols(text_col: str = "text") -> list[Column]:
    """Length/stopword/alpha statistics and a blended quality score.

    The word array is lambda-bound per output column (see
    ``operators.dedup.bind_once``): stop_ratio and quality each split the
    text once instead of re-inlining the split per reference (the quality
    score alone used to carry three splits and two stopword filters)."""
    from clickhouse_datafusion_spark.operators.dedup import bind_once
    c = F.col(text_col)
    alpha_chars = F.length(F.regexp_replace(c, "[^a-zA-Z]", ""))
    alpha_ratio = F.floor(alpha_chars * 10000 / F.length(c) + F.lit(0.5)) \
        / F.lit(10000.0)

    def stop_ratio_of(ws):
        stop_hits = F.size(F.filter(ws, lambda w: w.isin(*EN_STOPWORDS)))
        return F.floor(stop_hits * 10000 / F.size(ws) + F.lit(0.5)) \
            / F.lit(10000.0)

    def score_of(ws):
        return F.floor(
            (F.least(F.size(ws) / F.lit(200.0), F.lit(1.0)) * 40
             + alpha_ratio * 40
             + F.least(stop_ratio_of(ws) * 4, F.lit(1.0)) * 20) * 100
            + F.lit(0.5)) / F.lit(100.0)

    ws_col = words(text_col)
    return [
        F.length(c).cast("bigint").alias("n_chars_m"),
        F.size(ws_col).cast("bigint").alias("n_words"),
        bind_once(ws_col, stop_ratio_of).alias("stop_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        bind_once(ws_col, score_of).alias("quality"),
    ]


def _lang_scores_arr(text_col: str) -> Column:
    """Per-language function-word hit counts as ONE bound array (element
    order = ``sorted(LANG_PROFILES)``). The text is split once and each
    profile filter runs once — consumers index the lambda-bound array
    instead of re-inlining filter-over-split per reference (the CASE
    chain in :func:`lang_id_col` used to re-evaluate ``greatest`` per
    branch: ~k² filter+split evals per row for k languages; see
    ``operators.dedup.bind_once``)."""
    from clickhouse_datafusion_spark.operators.dedup import bind_once

    def arr_of(ws):
        return F.array(*[
            F.size(F.filter(ws, lambda w: w.isin(*LANG_PROFILES[lg])))
            .cast("bigint")
            for lg in sorted(LANG_PROFILES)])

    return bind_once(words(text_col), arr_of)


def lang_id_col(text_col: str = "text") -> Column:
    """n-gram/function-word heuristic language ID with deterministic
    tie-breaking (alphabetical on equal score; 'und' when no hits)."""
    from clickhouse_datafusion_spark.operators.dedup import bind_once
    langs = sorted(LANG_PROFILES)

    def pred_of(arr):
        m = F.array_max(arr)
        out = F.lit("und")
        for i, lg in reversed(list(enumerate(langs))):
            # first lang wins ties: CASE chain, alphabetical
            out = F.when((m > 0) & (F.element_at(arr, i + 1) == m), lg) \
                .otherwise(out)
        return out

    return bind_once(_lang_scores_arr(text_col), pred_of)


def lang_margin_cols(text_col: str = "text") -> list[Column]:
    """Language ID with a CONFIDENCE MARGIN — (lang_pred, lang_margin):
    margin = best function-word score minus runner-up. The routing signal
    corpus pipelines actually need: high-margin docs take the cheap
    heuristic's label, low-margin ones (code-switching, short text,
    boilerplate) go to the expensive model or a human queue — gating the
    slow path by margin is how lang-ID stays a shuffle-free projection
    over 99% of a crawl. Margin 0 ⇔ tie or no hits ('und').

    Runner-up via array_sort of the per-language scores (second-from-top
    slot) — pure codegen, identical in the SQL oracle (`list_sort`).
    """
    from clickhouse_datafusion_spark.operators.dedup import bind_once
    n = len(LANG_PROFILES)

    def margin_of(arr):
        srt = F.array_sort(arr)
        return F.element_at(srt, n) - F.element_at(srt, n - 1)

    return [lang_id_col(text_col).alias("lang_pred"),
            bind_once(_lang_scores_arr(text_col), margin_of)
            .cast("bigint").alias("lang_margin")]


def fingerprint_col(text_col: str = "text") -> Column:
    """Rolling polynomial hash over characters, mod 2^31-1 (oracle-exact)."""
    chars = F.split(F.col(text_col), "")
    return F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, ch: (acc * FP_BASE + F.coalesce(F.ascii(ch), F.lit(0))) % FP_MOD,
    ).alias("fp")


# PII patterns restricted to constructs with identical semantics in Java
# regex (Spark) and RE2 (DuckDB): char classes, bounded repetition, no
# lookaround — so the oracle can hash-match redaction exactly.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?[0-9][-0-9() ]{7,}[0-9]"


def redact_pii_cols(text_col: str | Column = "text") -> list[Column]:
    """PII scrub for training corpora: count + redact emails and phone-like
    spans. Pure regexp codegen — shuffle-free projection at any scale."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    redacted = F.regexp_replace(
        F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE, "<PHONE>")
    return [
        F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL_RE), 0))
        .cast("bigint").alias("n_emails"),
        F.size(F.regexp_extract_all(c, F.lit(PII_PHONE_RE), 0))
        .cast("bigint").alias("n_phones"),
        redacted.alias("redacted"),
    ]


def contamination_scores(train_df: DataFrame, eval_df: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         ngram: int = 5, min_hits: int = 1) -> DataFrame:
    """Train/eval contamination (decontamination pass of a training
    pipeline): for each training document, the fraction of its distinct
    word n-grams that appear anywhere in the evaluation set.

    Returns (doc_id, n_hits, contamination) for contaminated train docs.

    Scale design: the eval side (benchmark suites) is tiny relative to a
    100 TB corpus — its distinct-shingle set is built once and BROADCAST,
    so the whole pass is a map-side semi-join over the train scan plus one
    groupBy keyed by doc id: a single shuffle of (id, n) pairs, never text.
    """
    from clickhouse_datafusion_spark.operators.dedup import word_ngrams

    eval_grams = (eval_df
                  .select(F.explode(word_ngrams(text_col, ngram))
                          .alias("g"))
                  .distinct())
    from clickhouse_datafusion_spark.operators.dedup import (
        _ensure_parallelism)

    train_grams = (_ensure_parallelism(train_df, by=id_col).select(
        F.col(id_col),
        word_ngrams(text_col, ngram).alias("grams"))
        .select(id_col, F.size("grams").alias("n_grams"),
                F.explode("grams").alias("g")))
    hits = (train_grams.join(F.broadcast(eval_grams), "g")
            .groupBy(id_col, "n_grams")
            .agg(F.count("*").alias("n_hits"))
            .filter(F.col("n_hits") >= min_hits))
    ratio = (F.floor(F.col("n_hits") * 10000 / F.col("n_grams") + F.lit(0.5))
             / F.lit(10000.0))
    return hits.select(id_col, F.col("n_hits").cast("bigint").alias("n_hits"),
                       ratio.alias("contamination"))


def repetition_cols(text_col: str = "text") -> list[Column]:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    duplicate-word fraction, most-common-word fraction, top-bigram
    fraction. High values flag boilerplate/spammy documents that LLM
    training pipelines drop.

    Pure array-HOF codegen — shuffle-free projection. The per-row mode
    computation is O(distinct × words) via filter-count over the distinct
    list: right for web-scale SHORT documents (≤ a few thousand words,
    the dominant pretraining shape). For book-length inputs use
    :func:`repetition_scores_exploded` — linear time, two (id, token)
    shuffles. All ratios use the repo's integer-arithmetic
    FLOOR(x·10⁴ + .5)/10⁴ convention so the DuckDB oracle is bit-exact."""
    from clickhouse_datafusion_spark.operators.dedup import bind_once

    r4dp = lambda num, den: F.floor(num * 10000 / den + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731

    # Degenerate docs (NULL text → NULL token array; n = 0 is impossible
    # with split semantics but guarded anyway) get explicit 0.0 fractions —
    # the same definition the exploded twin uses, so the two paths stay
    # row-for-row identical on real corpora (r4 advice: they diverged).
    #
    # Every reference to the split array (and to the derived bigram array)
    # sits INSIDE a HOF lambda below — mode-counting re-reads the array
    # once per distinct token — so both are bound once per row
    # (``operators.dedup.bind_once``). Unbound, the raw split subtree
    # re-evaluates per lambda element: O(distinct·words) *re-splits* on
    # top of the intended O(distinct·words) comparisons, which turned the
    # quality projection from seconds into unbounded at a 500k-doc corpus.

    def dup_of(ws):
        n = F.size(ws)
        return (F.when(n >= 1, r4dp(n - F.size(F.array_distinct(ws)), n))
                .otherwise(F.lit(0.0)))

    def top_word_of(ws):
        n = F.size(ws)
        top_word = F.array_max(F.transform(
            F.array_distinct(ws),
            lambda w: F.size(F.filter(ws, lambda x: x == w))))
        return F.when(n >= 1, r4dp(top_word, n)).otherwise(F.lit(0.0))

    def top_bigram_of(ws):
        n = F.size(ws)
        # the n >= 2 guard must wrap the ARRAY construction, not just the
        # final fraction: bind_once evaluates the bound subtree eagerly,
        # and sequence(1, 0) counts DOWN, indexing past a 1-word array
        bigrams = F.when(n >= 2, F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at(ws, i),
                                  F.element_at(ws, i + 1)))) \
            .otherwise(F.array().cast("array<string>"))

        def frac_of(bg):
            top_bigram = F.array_max(F.transform(
                F.array_distinct(bg),
                lambda b: F.size(F.filter(bg, lambda x: x == b))))
            return F.when(n >= 2, r4dp(top_bigram, n - 1)) \
                .otherwise(F.lit(0.0))

        return bind_once(bigrams, frac_of)

    ws = words(text_col)
    return [
        bind_once(ws, dup_of).alias("dup_word_frac"),
        bind_once(ws, top_word_of).alias("top_word_frac"),
        bind_once(ws, top_bigram_of).alias("top_bigram_frac"),
    ]


def repetition_scores_exploded(df: DataFrame, text_col: str = "text",
                               id_col: str = "doc_id") -> DataFrame:
    """Linear-time twin of :func:`repetition_cols` for LONG documents.

    Explodes tokens and reduces per (doc, token) — O(words) work instead
    of the HOF path's O(distinct × words) per-row mode scan, at the cost
    of two shuffles keyed by (id, token) / (id). Identical output
    (property-tested against the HOF path); pick this one when documents
    can be book-length, the projection path when they're web-short.
    """
    ws = words(text_col)
    n = F.size(ws)
    bigrams = F.when(n >= 2, F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(" ", F.element_at(ws, i),
                              F.element_at(ws, i + 1)))) \
        .otherwise(F.array().cast("array<string>"))
    base = df.select(F.col(id_col).alias("id"), ws.alias("ws"),
                     bigrams.alias("bg"))

    def stats(col: str, out_prefix: str) -> DataFrame:
        tok = base.select("id", F.explode(col).alias("tok"))
        per_tok = tok.groupBy("id", "tok").agg(F.count("*").alias("c"))
        return per_tok.groupBy("id").agg(
            F.sum("c").alias(f"{out_prefix}_n"),
            F.count("*").alias(f"{out_prefix}_distinct"),
            F.max("c").alias(f"{out_prefix}_top"))

    r4dp = lambda num, den: F.floor(num * 10000 / den + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    w, b = stats("ws", "w"), stats("bg", "b")
    # Anchor on the base doc set, not the exploded aggregate: a doc whose
    # token array is NULL/empty produces no exploded rows and would vanish
    # from the output entirely (r4 advice), while the projection path keeps
    # it. Left-joining back and coalescing to the same explicit 0.0
    # fractions restores row-for-row parity between the two paths.
    return (base.select("id").join(w, "id", "left").join(b, "id", "left")
            .select(
                F.col("id").alias(id_col),
                F.coalesce(r4dp(F.col("w_n") - F.col("w_distinct"),
                                F.col("w_n")), F.lit(0.0))
                .alias("dup_word_frac"),
                F.coalesce(r4dp(F.col("w_top"), F.col("w_n")), F.lit(0.0))
                .alias("top_word_frac"),
                F.coalesce(r4dp(F.col("b_top"), F.col("b_n")), F.lit(0.0))
                .alias("top_bigram_frac")))


def corpus_frequency_score(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           max_vocab: int | None = None) -> DataFrame:
    """Corpus-level unigram familiarity score per document — the integer
    cousin of unigram-LM perplexity filtering (documents made of globally
    common words score high; gibberish/OOV-heavy documents score low).

    Returns (id, n_words, corpus_hits, score_ppm) where ``corpus_hits`` =
    Σ over the doc's word occurrences of that word's corpus count, and
    ``score_ppm = corpus_hits·10⁶ DIV (n_words·total_words)`` — exact
    integer arithmetic end to end, so the DuckDB oracle is bit-identical
    (a float log-prob would hang the hash on libm's last ulp).

    Scale shape: ONE word-keyed aggregate builds the vocabulary, which is
    BROADCAST back (plus a 1-row total via broadcast cross-join — nothing
    is collected on the driver); the per-doc reduce is one id-keyed
    shuffle of (id, count) pairs. At web scale pass ``max_vocab`` to keep
    only the top-K words (count desc, word asc — a deterministic
    tie-break); OOV words then contribute 0, exactly like an LM's OOV
    floor. Integer headroom: hits·10⁶ needs corpus_total·doc_len·10⁶ <
    2⁶³ — beyond ~10¹² corpus words switch score_ppm to per-shard
    normalization or a double log-prob (the gate stays exact).
    """
    from clickhouse_datafusion_spark.operators.dedup import (
        _ensure_parallelism)

    # cheap streaming projection: widen only on near-serial scans
    # (r15: keyed by id so the per-doc reduce inherits the partitioning)
    df = _ensure_parallelism(df, cpu_heavy=False, by=id_col)
    w = df.select(F.col(id_col), F.explode(words(text_col)).alias("w"))
    vocab = w.groupBy("w").agg(F.count("*").alias("cnt"))
    if max_vocab is not None:
        vocab = (vocab.orderBy(F.col("cnt").desc(), "w").limit(max_vocab))
    total = vocab.agg(F.sum("cnt").cast("bigint").alias("tot"))
    per_doc = (w.join(F.broadcast(vocab), "w")
               .groupBy(id_col)
               .agg(F.sum("cnt").cast("bigint").alias("corpus_hits"),
                    F.count("*").alias("n_in_vocab")))
    n_words = df.select(F.col(id_col),
                        F.size(words(text_col)).cast("bigint").alias("n_words"))
    return (n_words.join(per_doc, id_col, "left")
            .crossJoin(F.broadcast(total))
            .select(
                id_col, "n_words",
                F.coalesce("corpus_hits", F.lit(0)).alias("corpus_hits"),
                F.expr("(coalesce(corpus_hits, 0) * 1000000) "
                       "DIV (n_words * tot)").alias("score_ppm")))


def adjacent_word_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """(id, w1, w2) for every adjacent word pair — the bigram extraction
    shared by the LM scorer's string-keyed twin and ``bpe_pair_counts``'s
    word-level cousin. ``arrays_zip(ws, slice(ws, 2, n-1))`` + one
    explode: a shuffle-free projection (the explode multiplies rows
    within the input split, it does not move them), and — unlike the
    pre-r7 ``transform`` lambda — entirely whole-stage-codegen (Spark
    HOFs are ``CodegenFallback``, interpreted per element). Zip pads the
    shorter side with NULL, so the doc-final word yields one (w_n, NULL)
    struct; split elements are never NULL, so filtering it is exact."""
    ws = words(text_col)
    n = F.size(ws)
    z = F.arrays_zip(ws.alias("w1"),
                     F.slice(ws, 2, F.greatest(n - 1, F.lit(0))).alias("w2"))
    return (df.select(F.col(id_col), F.explode(z).alias("_p"))
            .select(id_col, "_p.w1", "_p.w2")
            .filter(F.col("w2").isNotNull()))


def _hashed_sentinel_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """(id, h1, h2) xxhash64-keyed adjacent word pairs WITH SENTINEL:
    every word occurrence emits exactly one row — word i pairs with word
    i+1, and the FINAL word pairs with NULL. Two properties make this the
    LM scorer's hot-path projection (r6 VERDICT, the t11 weak entry):

    - **No strings leave the row.** Words are hashed to 64-bit keys
      inside the transform lambda, so the ~90×-fanout exploded stream,
      every join, and every shuffle carry only bigints. Key collisions
      would merge two distinct words' counts; at B distinct bigram keys
      the probability is ~B²/2⁶⁵ (≈7e-7 for 5M keys) — documented
      divergence-in-principle, unobservable in practice (the sf0.01
      driver gate compares against the string-keyed DuckDB oracle).
    - **The h1-marginal IS the unigram count.** Because the sentinel row
      makes every occurrence (including doc-final words) a w1 exactly
      once, ``GROUP BY h1, h2`` followed by a tiny h1-rollup yields both
      LM tables from ONE corpus-wide aggregate — the "fuse the two LM
      aggregates into one pair-keyed pass with a word-marginal rollup"
      shape, replacing the separate corpus-size word explode+shuffle.

    NO higher-order function touches the hot path: Spark HOFs
    (``transform``/``filter`` lambdas) are ``CodegenFallback`` —
    interpreted per ELEMENT with boxing, measured ~2x the whole-stage-
    codegen cost on this 45M-pair stream. Pairing is ``arrays_zip(ws,
    slice(ws, 2, n-1))`` (zip pads the shorter side with NULL — the
    sentinel falls out for free) and the hashes are a plain post-explode
    projection, all inside one codegen span."""
    # r14: parsed projections (py4j round-trip economy; see fragments).
    # The zip needs named fields, so the word array and its tail are
    # projected (aliased a/b) first — CollapseProject folds it away.
    qid, qtx = sql_ident(id_col), sql_ident(text_col)
    # explode_outer: a NULL text (NULL split) still emits one all-NULL
    # row, so consumers aggregating per doc see every input doc — the LM
    # scorer depends on this to skip its old base re-join entirely
    return (df.selectExpr(
                qid, f"split({qtx}, ' ') AS a",
                f"slice(split({qtx}, ' '), 2, "
                f"greatest(size(split({qtx}, ' ')) - 1, 0)) AS b")
            .selectExpr(qid, "explode_outer(arrays_zip(a, b)) AS _p")
            .selectExpr(
                qid,
                "CASE WHEN _p.a IS NOT NULL THEN xxhash64(_p.a) END AS h1",
                "CASE WHEN _p.b IS NOT NULL THEN xxhash64(_p.b) END AS h2"))


def bigram_lm_score(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", lm_df: DataFrame | None = None,
                    alpha_num: int = 2, alpha_den: int = 5,
                    broadcast_lm: bool = True) -> DataFrame:
    """Bigram language-model familiarity score with Stupid Backoff — the
    integer cousin of CCNet/KenLM perplexity filtering, one order up from
    ``corpus_frequency_score``: a document scores high when its word
    TRANSITIONS are common in the reference corpus, so word-salad built
    from frequent words (which fools a unigram filter) scores low.

    Per adjacent pair (w1,w2): seen bigrams contribute
    ``c(w1,w2)·10⁶ DIV c(w1)`` (the conditional in ppm); unseen bigrams
    back off to ``α·c(w2)·10⁶ DIV total`` with α = alpha_num/alpha_den
    (default 2/5 = the standard 0.4 — kept rational so everything stays
    exact integer arithmetic and the DuckDB oracle matches bit-for-bit;
    a float log-prob would hang the gate on libm ulps). Doc score =
    mean contribution: ``Σ DIV n_pairs``; pairless docs score 0.

    Scale shape (rebuilt r7 — the r6 verdict's one weak entry): the LM is
    ONE pair-keyed aggregate over the reference corpus's hashed
    sentinel-pair stream (``_hashed_sentinel_pairs``) — the unigram table
    is its h1-marginal rollup, so the separate corpus-size word
    explode+shuffle is gone; scoring is the same hashed projection +
    broadcast joins against the LM tables + one id-keyed reduce in which
    NO string ever enters an exploded row, join key, or shuffle. Pass
    ``broadcast_lm=False`` when the bigram table outgrows the broadcast
    budget (≳ a few GB) — the joins then shuffle on (h1,h2)/h2, still
    skew-safe because bigram keys are long-tailed. Cap the tables
    upstream (min-count pruning) the way real LM filters do; pruned
    bigrams simply take the backoff path, which is the correct LM
    semantics for pruning.
    """
    bi2, bk = build_bigram_lm(lm_df if lm_df is not None else df,
                              text_col, id_col, alpha_num, alpha_den)
    return score_with_bigram_lm(df, bi2, bk, text_col, id_col, broadcast_lm)


def build_bigram_lm(lm_df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", alpha_num: int = 2,
                    alpha_den: int = 5) -> tuple[DataFrame, DataFrame]:
    """Build the two folded LM tables from a reference corpus:
    ``(bigrams, backoff)`` where bigrams = (h1, h2, _seen ppm) and
    backoff = (h2, _bo ppm). Production trains this OFFLINE (CCNet
    trains its KenLM once) — persist with :func:`save_bigram_lm` and
    score any number of batches with :func:`score_with_bigram_lm`.

    One corpus-wide aggregate: sentinel pairs make the h1-marginal the
    exact unigram count (every occurrence is a w1 exactly once), so the
    separate corpus-size word explode+shuffle is gone. c(w1) folds into
    the bigram table and the whole backoff formula
    (α·c(w2)·10⁶ DIV (α_den·total)) into a per-word table at BUILD
    time: the hot per-pair scoring path is then exactly two broadcast
    hash probes + a coalesce. Folding `total` here matters — the naive
    shape crossJoins broadcast(total) onto the 90×-fanout pair stream,
    a BroadcastNestedLoopJoin over every pair row that measured ~3 s of
    the old 5.2 s at the 500k-doc corpus. An h2 absent from the LM
    coalesces to 0 = the exact c(w2)=0 backoff value."""
    from clickhouse_datafusion_spark.operators.dedup import (
        _ensure_parallelism)

    lm = _ensure_parallelism(lm_df, cpu_heavy=False)
    # a NULL text must contribute NOTHING to the LM: explode_outer emits
    # one all-NULL row per such doc (the scorer NEEDS that row so
    # pairless docs reach its per-doc aggregate), but here it would
    # count as a phantom unigram occurrence and inflate `total`,
    # deflating every backoff score (found by the hypothesis property
    # test: LM corpus ['a', NULL] scored backoff 200000 vs the
    # reference's 400000). Real sentinel rows (doc-final word, NULL h2)
    # have h1 NOT NULL and stay.
    pairs = (_hashed_sentinel_pairs(lm, text_col, id_col)
             .filter(F.col("h1").isNotNull()))
    # ONE grouping-sets aggregate builds BOTH count tables (r14): the
    # (h1,h2) set is the bigram table, the (h1) set is the unigram
    # marginal — count(*) over the same sentinel-pair rows, so c1 is
    # exactly the old sum(c2) rollup. One shuffle and ONE stage cut
    # replace the previous pair-agg shuffle + rollup shuffle + two cuts
    # (each cut's AQE stages executed serially at plan build). Cost:
    # Expand doubles the pair stream entering the map-side partial
    # aggregate; shuffle bytes are unchanged (the same distinct-pair +
    # distinct-word partial rows move, now in one exchange keyed by
    # (h1, h2, grouping_id)). grouping_id() separates the sets exactly:
    # gid=0 ⇒ (h1,h2) group (h2 NULL here IS the real sentinel group),
    # gid=1 ⇒ h2 grouped out. stage_cut defaults to localCheckpoint; on
    # lossy clusters (dynamic allocation) set the stageCut conf — an
    # executor lost after a localCheckpoint fails the job
    # unrecoverably (see stagecut.py).
    from clickhouse_datafusion_spark.operators.stagecut import stage_cut
    # r15: a THIRD grouping set — the grand total () — folds the
    # backoff denominator into the SAME aggregate: `tot` was previously
    # a separate sum(c1) over the cut (two more serial AQE waves per
    # build; at scale a second pass over the unigram table). gid=3
    # (both keys grouped out) is exactly sum over all pair rows =
    # the old sum(c1); gid 0/1 rows are untouched, so bi2/bk values
    # are bit-identical. Cost: the Expand now makes 3 copies of each
    # pair row instead of 2 entering the map-side partial aggregate —
    # the ()-set copies collapse to ONE row per map partition.
    g = stage_cut(pairs.groupingSets([["h1", "h2"], ["h1"], []],
                                     "h1", "h2")
                  .agg(F.expr("CAST(count(*) AS BIGINT) AS _c"),
                       F.grouping_id().alias("_gid")))
    bi_full = g.filter("_gid = 0").selectExpr("h1", "h2", "_c AS c2")
    uni = g.filter("_gid = 1").selectExpr("h1", "_c AS c1")
    total = g.filter("_gid = 3").selectExpr("_c AS tot")
    bi2 = (bi_full.filter(F.col("h2").isNotNull())
           .join(uni, "h1")
           .selectExpr("h1", "h2", "(c2 * 1000000) DIV c1 AS _seen"))
    bk = (uni.crossJoin(F.broadcast(total))
          .selectExpr("h1 AS h2",
                      f"({int(alpha_num)} * c1 * 1000000) "
                      f"DIV ({int(alpha_den)} * tot) AS _bo"))
    return bi2, bk


def score_with_bigram_lm(df: DataFrame, bigrams: DataFrame,
                         backoff: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         broadcast_lm: bool = True) -> DataFrame:
    """Score a batch against a prebuilt LM (:func:`build_bigram_lm` /
    :func:`load_bigram_lm`): the incremental path a production filter
    runs per crawl shard — pair projection + two broadcast hash probes
    + one id-keyed reduce, no LM rebuild."""
    from clickhouse_datafusion_spark.operators.dedup import (
        _ensure_parallelism)

    # a text corpus is tiny ON DISK relative to its exploded pair stream
    # (~100x fan-out), so a small-file scan can arrive in 1-2 splits and
    # serialize the whole explode+join pipeline on a 32-core box (t11
    # measured 13s single-split vs ~1.5s distributed at sf1x); at real
    # scale the scan already has >= defaultParallelism splits and this
    # is a no-op
    df = _ensure_parallelism(df, cpu_heavy=False, by=id_col)
    maybe_b = F.broadcast if broadcast_lm else (lambda x: x)
    # the sentinel rows are KEPT in the scoring stream: every doc (even a
    # pairless single-word one) then reaches the per-doc aggregate, so
    # the old `base LEFT JOIN pd` re-scan + 500k×500k join — measured
    # ~2.5 s of the 100×-corpus wall — disappears. A NULL-h2 sentinel
    # matches neither broadcast table (null join keys never match) and
    # its _contrib stays NULL: summed as 0, counted as 0 pairs.
    #
    # SINGLE-LONG join keys (r12 verdict, the t11 decade weak): Spark's
    # multi-column hash join packs every probe into an UnsafeRow and
    # walks the generic UnsafeHashedRelation; a single non-null bigint
    # key takes the LongHashedRelation fast path instead. Measured at
    # the 500k-doc corpus (BASELINE.md r13, t11's decade gap): the
    # (h1,h2) two-key probe costs 1.7-2.4 s over the 45M-pair stream,
    # the same probe keyed by xxhash64(h1,h2) costs 0.26-0.53 s — 5-7×.
    # So fold the pair key into one long HERE, derived from the SAME
    # (h1,h2) the persisted LM carries (save/load format unchanged);
    # collision odds stack one more B²/2⁶⁵ term on the already-
    # documented word-hash analysis. The backoff probe (h2) is already
    # single-key; the shuffle path (broadcast_lm=False) shuffles on the
    # one long instead of two — same values, narrower exchange.
    qid = sql_ident(id_col)
    hp = _hashed_sentinel_pairs(df, text_col, id_col)
    bi1k = bigrams.selectExpr("xxhash64(h1, h2) AS _h12", "_seen")
    scored = (hp.selectExpr(
                  qid, "h2",
                  "CASE WHEN h2 IS NOT NULL THEN xxhash64(h1, h2) END "
                  "AS _h12")
              .join(maybe_b(bi1k), "_h12", "left")
              .join(maybe_b(backoff), "h2", "left")
              .selectExpr(
                  qid,
                  "CASE WHEN h2 IS NOT NULL THEN coalesce(_seen, _bo, 0) "
                  "END AS _contrib"))
    pd = scored.groupBy(id_col).agg(
        F.expr("CAST(sum(_contrib) AS BIGINT) AS _s"),
        F.expr("CAST(count(_contrib) AS BIGINT) AS n_pairs"))
    return pd.selectExpr(
        qid, "n_pairs",
        "CAST(coalesce(_s DIV nullif(n_pairs, 0), 0) AS BIGINT) "
        "AS score_ppm")


def save_bigram_lm(bigrams: DataFrame, backoff: DataFrame,
                   path: str) -> int:
    """Persist both LM tables as one pinned snapshot version (the
    snapshot store, operators/layout.py): a scoring run months later
    can name 'LM v3' and reproduce byte-identically while retrains keep
    landing as new versions. Returns the version number."""
    import os

    from clickhouse_datafusion_spark.operators.layout import write_snapshot

    v = write_snapshot(bigrams, os.path.join(path, "bigrams"))
    v2 = write_snapshot(backoff, os.path.join(path, "backoff"))
    if v != v2:  # torn write (a previous save died between the two)
        raise RuntimeError(
            f"snapshot version skew under {path}: bigrams v={v} "
            f"vs backoff v={v2} — remove the orphan and retry")
    return v


def load_bigram_lm(spark, path: str,
                   version: int | None = None) -> tuple[DataFrame, DataFrame]:
    """Load a pinned (or latest) persisted LM as (bigrams, backoff)."""
    import os

    from clickhouse_datafusion_spark.operators.layout import read_snapshot

    return (read_snapshot(spark, os.path.join(path, "bigrams"), version),
            read_snapshot(spark, os.path.join(path, "backoff"), version))


def normalize_text_col(text_col: str | Column = "text") -> Column:
    """Canonical text normalization — the step BEFORE any hashing/dedup so
    trivially-different bytes (case, control chars, run-on whitespace)
    don't defeat exact dedup: lowercase, control chars → space, whitespace
    runs collapsed, ends trimmed.

    Pure regexp codegen, shuffle-free at any scale. The character classes
    are written explicitly (``[ \\t\\n\\r\\f]`` not ``\\s``) because Java
    regex and RE2 disagree on ``\\s``'s membership (``\\x0b``) — explicit
    classes keep the DuckDB oracle byte-identical. Unicode NFC/accent
    folding is deliberately out of scope (engine-dependent tables); add a
    Pandas-UDF ``unicodedata.normalize`` stage when corpora need it.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    no_ctl = F.regexp_replace(F.lower(c), "[\\x00-\\x1f\\x7f]", " ")
    collapsed = F.regexp_replace(no_ctl, "[ \\t\\n\\r\\f]+", " ")
    return F.trim(collapsed)


def strip_html_col(html_col: str | Column = "html") -> Column:
    """Visible text from raw HTML — the first transform every web-crawl
    corpus runs (C4/RefinedWeb both start here): drop script/style/comment
    blocks WITH their contents, drop remaining tags, decode the six
    ubiquitous entities, collapse whitespace.

    Pure regexp codegen, shuffle-free at any scale. Patterns stay in the
    Java-regex ∩ RE2 common subset (``(?s)`` dotall + non-greedy, no
    lookaround) so the DuckDB oracle is byte-identical. ``&amp;`` decodes
    LAST — the single-pass rule that keeps ``&amp;lt;`` → ``&lt;`` (text
    that *displays* as an entity) from over-decoding to ``<``. This is a
    cleaner, not a parser: malformed nesting degrades to extra whitespace,
    never to an exception — the right failure mode at 10⁹ pages. For
    DOM-aware extraction (boilerplate removal by block structure) plug a
    real parser in via mapInPandas downstream.
    """
    c = F.col(html_col) if isinstance(html_col, str) else html_col
    # block elements whose CONTENT must go, then comments, then all tags
    c = F.regexp_replace(c, "(?s)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, "(?s)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, "(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, "<[^>]*>", " ")
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
                    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")):
        c = F.regexp_replace(c, ent, ch)
    c = F.regexp_replace(c, "[ \\t\\n\\r\\f]+", " ")
    return F.trim(c)


TRACKING_PARAM_RE = "^(utm_[^=]*|fbclid|gclid|msclkid|ref)="


def canonical_url_col(url_col: str | Column = "url") -> Column:
    """Canonical URL — the key for URL-level crawl dedup (the cheapest
    dedup pass: drop re-crawls of the same page before touching content).
    Two URLs that differ only in case of scheme/host, fragment, default
    port, duplicate/trailing path slashes, tracking parameters
    (utm_*/fbclid/gclid/msclkid/ref), or query-parameter order map to one
    canonical string.

    Pure regexp/array codegen — shuffle-free projection at any scale.
    Patterns stay inside the Java-regex ∩ RE2 common subset (explicit
    classes, no lookaround) so the DuckDB oracle is byte-identical.
    Userinfo (user:pass@) and IDN/punycode normalization are out of
    scope — flag, don't guess, at the ingest boundary.
    """
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    u = F.regexp_replace(F.trim(u), "#.*", "")          # strip fragment
    scheme = F.lower(F.regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    host = F.lower(F.regexp_extract(rest, "^([^/?]*)", 1))
    host = F.when(scheme == "http", F.regexp_replace(host, ":80$", "")) \
        .when(scheme == "https", F.regexp_replace(host, ":443$", "")) \
        .otherwise(host)
    path = F.regexp_extract(rest, "^[^/?]*([^?]*)", 1)
    path = F.regexp_replace(path, "/{2,}", "/")         # collapse // runs
    path = F.regexp_replace(path, "/+$", "")            # strip trailing /
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(rest, "\\?(.*)", 1)
    params = F.array_join(
        F.array_sort(F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE))), "&")
    return F.concat(
        scheme, F.lit("://"), host, path,
        F.when(params == "", F.lit("")).otherwise(F.concat(F.lit("?"),
                                                           params)))


def bm25_scores(df: DataFrame, query_terms: list[str],
                text_col: str = "text", id_col: str = "doc_id",
                ln_idf: bool = False) -> DataFrame:
    """BM25 relevance of every document to a bag of query terms — the
    retrieval-side scoring a training pipeline uses for targeted corpus
    selection (pull documents about X) and quality-weighted sampling.

    Okapi BM25 with k1 = 6/5, b = 3/4 (the canonical 1.2 / 0.75 written as
    rationals). Default scoring is EXACT INTEGER end to end so the DuckDB
    oracle hash-matches bit-for-bit: the tf saturation term

        tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))

    is cleared of fractions by multiplying through by 20·TW (avgdl = TW/N):

        tf_part_milli = (44·tf·TW·1000) DIV (20·tf·TW + 6·TW + 18·dl·N)

    and the idf uses the Lucene-style 1+odds WITHOUT the log, scaled:
    ``idf_milli = ((2·N+2)·1000) DIV (2·df+1)`` — i.e. the argument of
    ``ln(1 + (N−df+0.5)/(df+0.5)) = ln((N+1)/(df+0.5))``, which is
    always ≥ 1 (the textbook RSJ odds go NEGATIVE under the log when
    df > N/2, a well-known pathology for common terms that Lucene's form
    avoids). The log itself is dropped because it is monotone per-term
    and libm's last-ulp differences between the JVM and DuckDB would hang
    a value hash — same reasoning as :func:`corpus_frequency_score`.
    ``ln_idf=True`` switches to Lucene's ``ln((N+1)/(df+0.5))`` double
    idf for production ranking parity (score_milli becomes a double).

    Returns (id, n_terms, score_milli) for documents matching ≥1 term.

    Scale shape: the token explode is filtered to the query terms at the
    scan (an IN-list of a few dozen literals — codegen, no broadcast
    needed), so only matching (id, term) pairs shuffle; df is an aggregate
    OF that tiny tf relation, broadcast back; N/TW are 1-row broadcast
    aggregates of the corpus stats. One id-keyed shuffle of integer pairs
    dominates. Integer headroom: 44·tf·TW·1000 < 2⁶³ holds to ~10¹⁴
    corpus words; past that, pre-divide TW from num/den (it cancels) or
    take ``ln_idf=True`` doubles.

    The narrow (id, dl, matches) base is stage-cut so the stats branch
    and the tf branch share ONE full-text scan (measured 2.5 s → 0.8 s
    at the 10× scale). r14: this was ``.persist()`` until the round-14
    audit — CacheManager registers the canonical plan session-wide, so
    a SECOND scoring call against the same corpus silently reused the
    first call's materialized blocks (cross-run result caching, the
    class the bench rules forbid; verified: one cached RDD after two
    calls, iteration 2 reading it). ``stage_cut`` materializes once
    per CALL and shares only within it.
    """
    from clickhouse_datafusion_spark.operators.stagecut import stage_cut

    # One full-text scan total: the corpus stats branch and the tf branch
    # both need the word split — the dominant cost at scale — so split
    # once into a narrow cut base of (id, doc length, MATCHING words
    # only; query terms are a few % of a corpus). Everything downstream
    # reads this ~16 B/doc + matches relation, never the text again.
    base = stage_cut(df.select(
        F.col(id_col), F.size(words(text_col)).alias("dl"),
        F.filter(words(text_col),
                 lambda x: x.isin(*query_terms)).alias("mws")))
    w = base.select(F.col(id_col), "dl", F.explode("mws").alias("w"))
    tf = w.groupBy(id_col, "dl", "w").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    stats = base.agg(F.count("*").alias("n_docs"),
                     F.sum("dl").alias("tw"))
    j = (tf.join(F.broadcast(dfreq), "w")
         .crossJoin(F.broadcast(stats)))
    tf_part_milli = F.expr(
        "(44 * tf * tw * 1000) DIV (20 * tf * tw + 6 * tw + 18 * dl * n_docs)")
    if ln_idf:
        contrib = (F.log((F.col("n_docs") + F.lit(1.0))
                         / (F.col("df") + F.lit(0.5)))
                   * tf_part_milli / F.lit(1000.0))
        agg = F.round(F.sum(contrib), 4).alias("score_milli")
    else:
        contrib = F.expr(
            "((2 * n_docs + 2) * 1000 DIV (2 * df + 1))"
            " * ((44 * tf * tw * 1000) DIV (20 * tf * tw + 6 * tw + 18 * dl * n_docs))"
            " DIV 1000")
        agg = F.sum(contrib).cast("bigint").alias("score_milli")
    return (j.groupBy(id_col)
            .agg(F.count("*").cast("bigint").alias("n_terms"), agg))


def importance_weights(corpus_df: DataFrame, target_df: DataFrame,
                       text_col: str = "text", id_col: str = "doc_id",
                       scale: int = 1_000_000) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every corpus
    document by how much its unigram distribution resembles a small
    TARGET domain (the data you want more of) relative to the corpus
    itself; resampling by these weights tilts the training mix toward the
    target without hand-written rules.

    Per word ``w``: ratio_w = (tgt_cnt_w·TW_corpus·scale) DIV
    (corpus_cnt_w·TW_target) — the target/corpus unigram likelihood ratio
    in ppm (both sides normalized by their total word mass). Per doc:
    ``weight_ppm`` = mean ratio over the doc's word OCCURRENCES, exact
    integer arithmetic end to end (DSIR's log-ratio sum is the monotone
    log of our product; the mean-ratio form keeps the gate hash-exact —
    same libm argument as :func:`bm25_scores`). Corpus-only words get
    ratio 0, exactly DSIR's OOV floor under a target-smoothed LM.

    Returns (id, n_words, hits, weight_ppm) for every corpus doc.

    Scale shape: identical to :func:`corpus_frequency_score` — the target
    is small (a benchmark suite, a curated domain), so its vocabulary
    aggregate is tiny; the corpus vocabulary is one word-keyed aggregate
    joined to it and BROADCAST back; the per-doc reduce is one id-keyed
    integer shuffle. Integer headroom: tgt_cnt·TW_corpus·scale < 2⁶³
    bounds TW_corpus·TW_target ≲ 10¹²·scale⁻¹·tgt_cnt⁻¹; past web scale,
    pre-divide the constant TW ratio into ``scale``.
    """
    w_corpus = corpus_df.select(F.col(id_col),
                                F.explode(words(text_col)).alias("w"))
    vocab_c = w_corpus.groupBy("w").agg(F.count("*").alias("c_cnt"))
    vocab_t = (target_df.select(F.explode(words(text_col)).alias("w"))
               .groupBy("w").agg(F.count("*").alias("t_cnt")))
    tw_c = vocab_c.agg(F.sum("c_cnt").cast("bigint").alias("tw_c"))
    tw_t = vocab_t.agg(F.sum("t_cnt").cast("bigint").alias("tw_t"))
    ratios = (vocab_c.join(vocab_t, "w", "left")
              .crossJoin(F.broadcast(tw_c)).crossJoin(F.broadcast(tw_t))
              .select("w", F.expr(
                  f"(coalesce(t_cnt, 0) * tw_c * {int(scale)})"
                  " DIV (c_cnt * tw_t)").alias("r")))
    per_doc = (w_corpus.join(F.broadcast(ratios), "w")
               .groupBy(id_col)
               .agg(F.count("*").cast("bigint").alias("hits"),
                    F.sum("r").cast("bigint").alias("r_sum")))
    n_words = corpus_df.select(
        F.col(id_col), F.size(words(text_col)).cast("bigint").alias("n_words"))
    return (n_words.join(per_doc, id_col, "left")
            .select(id_col, "n_words",
                    F.coalesce("hits", F.lit(0)).cast("bigint").alias("hits"),
                    F.expr("coalesce(r_sum, 0) DIV n_words")
                    .alias("weight_ppm")))


def bpe_pair_counts(df: DataFrame, text_col: str = "text",
                    min_count: int = 1) -> DataFrame:
    """Adjacent-symbol pair frequencies over the corpus — the inner
    statistic of BPE tokenizer training (each merge step picks the most
    frequent pair; this computes the full pair table for one iteration,
    seeded at the character level).

    Returns (a, b, cnt) for every adjacent character pair inside words
    (BPE's word-boundary convention: pairs never span whitespace), with
    word frequency weighting exactly as training uses it.

    Scale shape: text→pair expansion is a projection; ONE pair-keyed
    aggregate with map-side combine produces the table, whose size is
    bounded by |alphabet|² per iteration — tiny however large the
    corpus. Iterating merges would re-run this over a progressively
    merged symbol column (driver loop, one aggregate per merge — the
    standard distributed BPE shape).

    The pair stream is ONE char split of the whole text zipped with its
    own tail — a word-interior char pair is exactly an adjacent char
    pair of the full text where neither side is a space, so the
    word-explode stage and the per-word pair HOF both disappear. That
    HOF was the r7 hot spot: Spark lambdas are ``CodegenFallback``
    (interpreted per element), and replacing explode(words)+transform
    with the zip halved t9 at the 500k-doc corpus (5.75 → 2.44 s,
    identical output; DuckDB 4.18 s). ``arrays_zip`` pads the tail with
    NULL and split-of-text never yields NULL chars, so the b IS NULL
    filter exactly drops the one text-final sentinel; ''-guards cover
    degenerate empty texts (split('', '') → ['']).
    """
    cs = F.split(F.col(text_col), "")
    z = F.arrays_zip(cs.alias("a"),
                     F.slice(cs, 2, F.greatest(F.size(cs) - 1,
                                               F.lit(0))).alias("b"))
    pairs = (df.select(F.explode(z).alias("p"))
             .select("p.a", "p.b")
             .filter(F.col("b").isNotNull()
                     & (F.col("a") != " ") & (F.col("b") != " ")
                     & (F.col("a") != "") & (F.col("b") != "")))
    return (pairs.groupBy("a", "b")
            .agg(F.count("*").cast("bigint").alias("cnt"))
            .filter(F.col("cnt") >= min_count))


def analyze(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass text analysis: tokens + quality + language + fingerprint +
    repetition signals — a single shuffle-free projection."""
    return df.select(
        "*",
        *token_count_cols(text_col),
        *quality_cols(text_col),
        lang_id_col(text_col).alias("lang_pred"),
        fingerprint_col(text_col),
        *repetition_cols(text_col),
    )


def bpe_train(df: DataFrame, n_merges: int = 10, text_col: str = "text",
              min_pair_count: int = 2) -> tuple[list[tuple[str, str]], DataFrame]:
    """Distributed BPE tokenizer training (Sennrich et al. 2016): run
    ``n_merges`` merge iterations over the corpus and return
    ``(merges, word_table)`` — the learned merge list in order, and the
    final (word, count, symbols) table.

    Standard BPE structure, Spark-shaped:

    - Training operates on the DISTINCT-WORD frequency table, not the
      corpus: one initial word-keyed aggregate collapses 100 TB of text
      to ~10⁷–10⁸ (word, count) rows, and every iteration after that
      touches only this small table.
    - Each iteration: pair counts = one pair-keyed aggregate weighted by
      word count (map-side combined, |alphabet|²-bounded); the argmax
      pair (deterministic tie-break: count desc, pair lexicographic) is
      a 1-row collect; the merge rewrite is an Arrow-batched scan-merge
      kernel over the symbols arrays.
    - ``localCheckpoint`` per iteration truncates the growing lineage —
      same discipline as the connected-components loop.

    Stops early when no pair reaches ``min_pair_count``. Iterative and
    driver-coordinated, so (like KMeans/IVF) it is pytest-verified
    against the reference algorithm rather than SQL-oracled.
    """
    import pandas as pd

    from pyspark.sql import types as T

    spark = df.sparkSession
    wt = (df.select(F.explode(words(text_col)).alias("w"))
          .filter(F.length("w") >= 1)
          .groupBy("w").agg(F.count("*").alias("cnt"))
          .withColumn("syms", F.split(F.col("w"), ""))
          .localCheckpoint(eager=True))
    merges: list[tuple[str, str]] = []
    out_schema = T.StructType([
        T.StructField("w", T.StringType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("syms", T.ArrayType(T.StringType())),
    ])
    for _ in range(n_merges):
        pair_counts = (wt.filter(F.size("syms") >= 2)  # fully-merged words carry no pairs
            .select("cnt", F.explode(F.transform(
                F.sequence(F.lit(1), F.size("syms") - 1),
                lambda i: F.struct(
                    F.element_at("syms", i).alias("a"),
                    F.element_at("syms", i + 1).alias("b")))).alias("p"))
            .groupBy("p.a", "p.b").agg(F.sum("cnt").alias("n")))
        top = (pair_counts.orderBy(F.desc("n"), "a", "b").limit(1)
               .collect())
        if not top or top[0]["n"] < min_pair_count:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        merged = a + b

        def rewrite(batches, _a=a, _b=b, _m=merged):
            for pdf in batches:
                def merge_one(syms):
                    out, i, n = [], 0, len(syms)
                    while i < n:
                        if i + 1 < n and syms[i] == _a and syms[i + 1] == _b:
                            out.append(_m)
                            i += 2
                        else:
                            out.append(syms[i])
                            i += 1
                    return out
                pdf = pdf.copy()
                pdf["syms"] = pdf["syms"].map(
                    lambda s: merge_one(list(s)))
                yield pdf

        # coalesce before checkpointing: the unionAll of the two halves
        # doubles the partition count every iteration otherwise (256 tasks
        # by merge 7 on a 31-word table)
        n_part = max(2, spark.sparkContext.defaultParallelism)
        wt = (wt.filter(F.size("syms") >= 2).mapInPandas(rewrite, out_schema)
              .unionAll(wt.filter(F.size("syms") < 2))
              .coalesce(n_part)
              .localCheckpoint(eager=True))
    return merges, wt


def bpe_encode(df: DataFrame, merges: list[tuple[str, str]],
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Tokenize with a trained BPE merge list: per word, repeatedly merge
    the adjacent pair with the LOWEST merge rank until none applies (the
    standard BPE encode algorithm, matching :func:`bpe_train`'s
    semantics — encoding the training corpus reproduces training's final
    symbol table, property-tested).

    Returns (id, tokens: array<string>, n_bpe_tokens). The merge table is
    a driver-side dict closed over by an Arrow-batched kernel —
    broadcast-by-closure, fine for the ≤100k merges of real tokenizers.
    Shuffle-free projection; at scale this is the hot path, so the kernel
    keeps a per-batch word cache (corpus words repeat heavily — the cache
    hit rate IS the Zipf curve).
    """
    import pandas as pd

    from pyspark.sql import types as T

    rank = {pair: i for i, pair in enumerate(merges)}

    def encode_word(w: str, cache: dict) -> list[str]:
        hit = cache.get(w)
        if hit is not None:
            return hit
        syms = list(w)
        while len(syms) >= 2:
            best_i, best_r = -1, None
            for i in range(len(syms) - 1):
                r = rank.get((syms[i], syms[i + 1]))
                if r is not None and (best_r is None or r < best_r):
                    best_i, best_r = i, r
            if best_r is None:
                break
            syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        cache[w] = syms
        return syms

    out_schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("n_bpe_tokens", T.LongType()),
    ])

    def op(batches, _id=id_col, _t=text_col):
        cache: dict = {}
        for pdf in batches:
            toks = [
                [t for w in (txt.split(" ") if txt else [])
                 for t in encode_word(w, cache)]
                for txt in pdf[_t]]
            yield pd.DataFrame({
                _id: pdf[_id],
                "tokens": toks,
                "n_bpe_tokens": [len(t) for t in toks]})

    return df.select(id_col, text_col).mapInPandas(op, out_schema)


def hashed_classifier_score(df: DataFrame, weights: DataFrame,
                            n_buckets: int = 4096,
                            bias_ppm: int = 0, seed: str | int = 0,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            widen: bool = True) -> DataFrame:
    """fastText/CCNet-style LINEAR quality-classifier scoring via the
    hashing trick — the workhorse filter of GPT-3/LLaMA-class corpus
    curation (a logistic model over hashed bag-of-words features, scored
    over every crawl document). This operator is the inference side:
    training produces a weight vector; scoring is a projection + one
    broadcast join + one id-keyed reduce.

    Features are hashed unigrams: ``bucket = md5(seed‖word)[:6hex] mod
    n_buckets`` (md5 so external trainers and the SQL oracle reproduce
    assignments; collisions are the hashing trick's documented tradeoff,
    identical in every engine). ``weights`` is a (bucket INT, w_ppm
    BIGINT) relation — integer parts-per-million so the score is exact:
    ``score_ppm = bias_ppm + (Σ_occurrences w_ppm(bucket)) DIV n_words``
    (mean feature weight, the fastText reduction). Missing buckets weigh
    0. Returns (id, n_words, score_ppm, keep = score_ppm ≥ 0).

    Scale shape: the weight table is ≤ n_buckets rows — ALWAYS broadcast
    (that is the point of the hashing trick: bounded model size no
    matter the vocabulary); the only exchange is the id-keyed reduce of
    (id, w_ppm) pairs. The sigmoid is monotone, so thresholding in ppm
    logit space ≡ thresholding the probability — no float ever needed.
    """
    from clickhouse_datafusion_spark.operators.dedup import _ensure_parallelism

    # cheap streaming projection: widen only on near-serial scans.
    # ``widen=False`` (r14) is for MID-CHAIN callers whose input already
    # sits behind a shuffle/materialization (x56: the stage-cut survivors
    # table): there the file-split probe both misreads the layout (it
    # sees the base table's 1-2 parquet splits, not the 32 post-shuffle
    # partitions) and inserts a full-text round-robin repartition that
    # moves every byte for nothing.
    if widen:
        df = _ensure_parallelism(df, cpu_heavy=False, by=id_col)
    # r14: dense expression blocks are parsed SQL fragments — one py4j
    # round trip each instead of one per Column operator (see
    # fragments); same Catalyst expressions.
    qid, qtx = sql_ident(id_col), sql_ident(text_col)
    wd = df.selectExpr(qid, f"explode(split({qtx}, ' ')) AS _w")
    bkt = (f"CAST(conv(substring(md5(concat({sql_str(f'{seed}:')}, _w)), "
           f"1, 6), 16, 10) AS INT) % {int(n_buckets)}")
    hits = (wd.selectExpr(qid, f"{bkt} AS bucket")
            .join(F.broadcast(weights), "bucket", "left")
            .groupBy(id_col)
            .agg(F.expr("CAST(sum(coalesce(w_ppm, 0)) AS BIGINT) AS _dot")))
    n_words = df.selectExpr(
        qid, f"CAST(size(split({qtx}, ' ')) AS BIGINT) AS n_words")
    return (n_words.join(hits, id_col, "left")
            .selectExpr(
                qid, "n_words",
                f"CAST({int(bias_ppm)} + (coalesce(_dot, 0) DIV n_words) "
                "AS BIGINT) AS score_ppm")
            .withColumn("keep", (F.col("score_ppm") >= 0).cast("int")))


def c4_line_filter(df: DataFrame, min_words: int = 5,
                   blocklist: tuple[str, ...] = ("javascript",
                                                 "lorem ipsum", "cookie"),
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """C4-style LINE-level cleaning (Raffel et al. 2020 §2.2): web pages
    are cleaned line by line, not dropped whole — keep only lines that
    (a) have ≥ ``min_words`` words, (b) end in terminal punctuation
    (. ! ? or closing quote), and (c) contain no blocklist phrase
    (case-insensitive) — the menu/boilerplate/"enable javascript"
    remover that precedes every doc-level quality filter.

    Returns (id, n_lines, n_kept, clean_text, clean_md5). Pure
    shuffle-free projection: split on newlines → ``filter`` HOF →
    ``array_join`` — no explode, no Python, no data movement; the doc
    never leaves its partition. Regex/contains stay in the Java-regex ∩
    RE2 common subset so any engine agrees byte-for-byte.
    """
    # r14: one parsed projection instead of a Column-API lambda chain
    # (py4j round-trip economy; see fragments). Same expressions.
    if isinstance(text_col, str):
        src = sql_ident(text_col)
    else:
        df = df.withColumn("_c4_src", text_col)
        src = "_c4_src"
    cond = (f"size(split(trim(x), ' ')) >= {int(min_words)}"
            " AND x RLIKE '[.!?\"]$'")
    for term in blocklist:
        cond += f" AND NOT contains(lower(x), {sql_str(term.lower())})"
    lines = f"split({src}, '\\n')"
    kept = f"filter({lines}, x -> {cond})"
    clean = f"array_join({kept}, '\\n')"
    return df.selectExpr(
        sql_ident(id_col),
        f"CAST(size({lines}) AS BIGINT) AS n_lines",
        f"CAST(size({kept}) AS BIGINT) AS n_kept",
        f"{clean} AS clean_text",
        f"md5({clean}) AS clean_md5")


def blocklist_filter(df: DataFrame, blocklist: tuple[str, ...],
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Taboo-word document filter (the C4 "List of Dirty, Naughty …"
    step, Dolma's taggers): count whole-word blocklist hits and flag the
    document. Whole-WORD matching on the whitespace tokens — substring
    matching ("class" hitting "ass") is the classic false-positive this
    avoids; normalize upstream (``normalize_text_col``) for
    case/punctuation robustness.

    Returns (id, n_hits, keep). Pure shuffle-free projection — the
    blocklist compiles into the ``filter`` lambda as literals. That is
    the right shape up to ~10⁴ terms (codegen'd OR-chain / IN-list);
    beyond that, explode words and broadcast-join the term table
    (exactly ``hashed_classifier_score``'s shape with unit weights).
    """
    # r14: one parsed projection (py4j round-trip economy; see fragments)
    terms = f"array({', '.join(sql_str(t) for t in blocklist)})"
    hits = (f"filter(split({sql_ident(text_col)}, ' '), "
            f"w -> array_contains({terms}, w))")
    return df.selectExpr(
        sql_ident(id_col),
        f"CAST(size({hits}) AS BIGINT) AS n_hits",
        f"CAST(size({hits}) = 0 AS INT) AS keep")


def train_quality_classifier(labeled_df: DataFrame, n_buckets: int = 4096,
                             label_col: str = "label",
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             seed: str | int = 0,
                             reg_param: float = 0.01,
                             max_iter: int = 50) -> DataFrame:
    """Train the fastText/CCNet-style quality classifier IN-CLUSTER and
    return the integer-ppm weight relation ``hashed_classifier_score``
    consumes — closing the filter loop (label a sample → train here →
    score the full crawl with the broadcast weights).

    Features are the SAME md5-bucketed unigram counts the scorer uses
    (one explode + one (doc, bucket) count aggregate → a SparseVector
    per doc), so train and inference can never disagree about
    featurization. The model is MLlib ``LogisticRegression`` — L-BFGS
    over the distributed feature matrix, the standard shape for a
    linear filter at corpus scale (each iteration is one pass of
    gradient aggregates; nothing is collected but the
    ``n_buckets``-sized coefficient vector).

    Returns (bucket INT, w_ppm BIGINT) — coefficients scaled to ppm and
    truncated to integers; the intercept folds into
    ``hashed_classifier_score(bias_ppm=...)`` (returned on the
    DataFrame as ``.bias_ppm``). Iterative and seed-dependent like
    ``bpe_train``/KMeans, so pytest-verified rather than SQL-oracled.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import SparseVector, VectorUDT
    from pyspark.sql.types import LongType, StructField, StructType

    from clickhouse_datafusion_spark.operators.dedup import (
        _ensure_parallelism)

    spark = labeled_df.sparkSession
    labeled_df = _ensure_parallelism(labeled_df, by=id_col)
    wd = labeled_df.select(
        F.col(id_col), F.explode(words(text_col)).alias("_w"))
    bkt = (F.conv(F.substring(
        F.md5(F.concat(F.lit(f"{seed}:"), F.col("_w"))), 1, 6), 16, 10)
        .cast("int") % n_buckets)
    counts = (wd.select(F.col(id_col), bkt.alias("b"))
              .groupBy(id_col, "b").agg(F.count("*").alias("c")))
    rows = (counts.groupBy(id_col)
            .agg(F.sort_array(F.collect_list(
                F.struct(F.col("b"), F.col("c")))).alias("_bc"))
            .join(labeled_df.select(id_col, F.col(label_col)
                                    .cast("double").alias("_y")), id_col))

    # VectorUDT doesn't ride Arrow batches — assemble the SparseVector
    # with a plain UDF over the (bucket, count) struct list (runs once
    # per TRAINING row; training samples are the labeled subset, not the
    # corpus, so the Python hop is off the 100 TB path by construction)
    from pyspark.sql.functions import udf

    to_vec = udf(lambda bc: SparseVector(
        n_buckets, [int(x["b"]) for x in bc],
        [float(x["c"]) for x in bc]), VectorUDT())
    train = rows.select(to_vec("_bc").alias("features"),
                        F.col("_y").alias("label"))
    model = LogisticRegression(maxIter=max_iter, regParam=reg_param,
                               standardization=False).fit(train)
    coefs = model.coefficients
    w_rows = [(int(i), int(coefs[int(i)] * 1_000_000))
              for i in coefs.indices] if hasattr(coefs, "indices") else [
        (i, int(c * 1_000_000)) for i, c in enumerate(coefs) if c != 0.0]
    out = spark.createDataFrame(
        w_rows or [(0, 0)],
        StructType([StructField("bucket", LongType()),
                    StructField("w_ppm", LongType())]))
    out = out.select(F.col("bucket").cast("int"), F.col("w_ppm"))
    out.bias_ppm = int(model.intercept * 1_000_000)
    return out
