"""r15 optimization-round regression tests: the ADVICE correctness fixes
(packing literal guards, quoted chunk column, conf-gated span-removal
broadcast, no-probe d5 dim routing). The fragment-spelling tests live in
test_fragments.py."""
from __future__ import annotations


# ------------------------------------------------- packing literal guards

def test_global_prefix_sum_inf_order_values(spark):
    """A double order column containing inf drives inf into the uniform
    bucket bounds — the build must parse and the prefix sum stay exact."""
    from clickhouse_datafusion_spark.operators.packing import (
        global_prefix_sum)

    df = spark.createDataFrame(
        [(0.0, 1.0), (1.0, 2.0), (float("inf"), 4.0)], ["k", "v"])
    out = global_prefix_sum(df, value_col="v", order_col="k",
                            bounds_mode="uniform")
    rows = {r["k"]: r["_cum_before"] for r in out.collect()}
    assert rows == {0.0: 0.0, 1.0: 1.0, float("inf"): 3.0}


# -------------------------------------------------- chunk column quoting

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


# ------------------------------------- span-dedup broadcast gate (advice)

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


# --------------------------------------------------- d5 dim probe removal

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
