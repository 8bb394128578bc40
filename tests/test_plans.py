"""Plan-quality gates for the headline queries: the properties that decide
whether a plan survives a 100×–1000× scale-up — pushdown, pruning,
broadcasts, no cartesian products, codegen coverage.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from clickhouse_datafusion_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pruned_schema,
    assert_pushed_filters,
    plan_report,
)
from clickhouse_datafusion_spark.queries import QUERIES
from tests.conftest import SF_SMOKE


def q(name, spark):
    return QUERIES[name].spark_fn(spark, SF_SMOKE)


def test_q6_filters_pushed_to_scan(spark):
    df = q("q6_forecast_revenue", spark)
    assert_pushed_filters(df, "l_shipdate", "l_discount", "l_quantity")


def test_q1_schema_pruned(spark):
    # q1 reads 7 of 11 lineitem columns; keys not referenced must be pruned
    df = q("q1_pricing_summary", spark)
    assert_pruned_schema(df, "l_partkey")
    assert_pruned_schema(df, "l_suppkey")


def test_q3_broadcasts_customer(spark):
    # customer is AQE-sized (it scales with the facts): the broadcast must
    # appear in the runtime-final plan, not as a static hint
    df = q("q3_shipping_priority", spark)
    assert_broadcast_join(df, 1, execute=True)
    assert_no_cartesian(df)


def test_q5_broadcasts_dims(spark):
    # the supplier⋈nation⋈region(ASIA) chain broadcasts into lineitem
    # BEFORE the orders join — lineitem⋈orders stays the only shuffle join
    df = q("q5_region_revenue", spark)
    assert_broadcast_join(df, 3)
    assert_no_cartesian(df)


def test_q9_part_filter_pushed_and_no_cartesian(spark):
    # q9 (5-table profit rollup): the part name filter must reach the
    # part scan, lineitem reads only its 5 referenced columns, and the
    # whole join tree stays equi-join (no cartesian at any scale)
    df = q("q9_product_profit", spark)
    assert_pushed_filters(df, "p_name")
    assert_pruned_schema(df, "l_quantity")
    assert_pruned_schema(df, "l_shipdate")
    assert_no_cartesian(df)
    rep = plan_report(df, execute=True)
    assert rep["broadcasts"] >= 3, rep      # part/supplier/nation at bench SF


def test_q18_single_lineitem_aggregate(spark):
    # q18: the per-order quantity sum is computed ONCE (one lineitem
    # aggregate exchange) and the tiny survivor set broadcasts into
    # orders — lineitem is never re-scanned or join-shuffled
    df = q("q18_large_volume_customers", spark)
    assert_no_cartesian(df)
    rep = plan_report(df, execute=True)
    assert rep["broadcasts"] >= 1, rep
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the executed AQE string prints Final AND Initial sections — count
    # the final plan only, or one scan reads as two
    plan = plan.split("== Initial Plan ==")[0]
    import re as _re

    li_scans = len(_re.findall(r"FileScan parquet[^\n]*lineitem", plan))
    assert li_scans == 1, plan[:2000]


def test_flagship_single_shuffle_agg(spark):
    df = q("flagship_top_customers", spark)
    rep = plan_report(df, execute=True)  # AQE decides the customer join
    assert rep["broadcasts"] >= 1
    # partial agg + broadcast join: at most 2 hash-shuffles (agg + none for join)
    assert rep["shuffles"] <= 2, rep
    assert not rep["cartesian"]


@pytest.mark.parametrize("name", [
    "q1_pricing_summary", "j5_multiway", "a4_group_by_multi",
    "j1_inner_join", "e2_user_activity"])
def test_headliners_codegen_and_no_cartesian(spark, name):
    rep = plan_report(q(name, spark), execute=True)
    assert rep["codegen_stages"] >= 1, rep
    assert not rep["cartesian"], rep


def test_dedup_exact_single_shuffle(spark):
    rep = plan_report(q("d1_exact_dedup_groups", spark))
    # hash-groupBy dedup must be exactly one shuffle (partial+final agg)
    assert rep["shuffles"] <= 1, rep


def test_topk_uses_take_ordered(spark):
    from clickhouse_datafusion_spark.plans.explain import executed_plan

    p = executed_plan(q("o2_topk", spark))
    assert "TakeOrderedAndProject" in p  # no global sort for ORDER BY+LIMIT


def test_executed_metrics_output_rows(spark, views):
    """O10 EXPLAIN ANALYZE parity: per-operator executed output_rows
    (reference tests/e2e.rs:2184-2208 checks the metric surface exists and
    carries real values)."""
    from clickhouse_datafusion_spark.plans.explain import (
        executed_metrics, output_rows)

    df = spark.sql(
        "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus")
    expect = df.count()
    nodes = executed_metrics(df)
    assert any("numOutputRows" in n["metrics"] for n in nodes)
    rows = output_rows(df)
    # the final aggregate emits exactly the result row count
    agg_counts = [v for k, v in rows.items() if "HashAggregate" in k]
    assert expect in agg_counts, rows
    # the scan reports the full table row count
    scan_counts = [v for k, v in rows.items()
                   if "Scan" in k or "ColumnarToRow" in k]
    assert max(scan_counts) == spark.table("orders").count(), rows


def test_explain_analyze_front_door(spark, engine):
    """EXPLAIN ANALYZE through engine.sql returns metric rows, including
    output_rows, for both reads and the INSERT write path."""
    import uuid

    res = engine.sql(
        "EXPLAIN ANALYZE SELECT count(*) AS n FROM clickhouse.main.orders")
    metrics = {r.metric for r in res.collect()}
    assert "output_rows" in metrics
    short = f"ea_{uuid.uuid4().hex[:8]}"
    engine.catalog.create_table("main", short, "id BIGINT, s STRING")
    try:
        r = engine.sql(
            f"EXPLAIN ANALYZE INSERT INTO main.{short} "
            f"SELECT o_orderkey, o_orderstatus FROM clickhouse.main.orders "
            f"WHERE o_orderkey <= 10")
        row = [x for x in r.collect() if x.metric == "output_rows"]
        assert row and row[0].value == spark.table(f"main.{short}").count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS main.{short}")


def test_corpus_score_broadcasts_vocab(spark):
    """t7's vocabulary and total must reach the per-doc join as broadcasts
    (the 100 TB story: the dictionary moves, never the corpus)."""
    from clickhouse_datafusion_spark.catalog import resolve_parquet_path
    from clickhouse_datafusion_spark.operators.text import corpus_frequency_score
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(resolve_parquet_path(f"{SF_SMOKE}/documents.parquet"))
    plan = (corpus_frequency_score(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("BroadcastExchange") >= 2, plan[:2000]
    assert "CartesianProduct" not in plan


def test_bm25_broadcasts_df_and_stats(spark):
    """x16's document-frequency and corpus-stats relations must broadcast
    into the tf join (only matching (id, term) pairs ever shuffle)."""
    rep = plan_report(q("x16_bm25_scoring", spark), execute=True)
    assert rep["broadcasts"] >= 2, rep
    # the 1-row stats crossJoin must be a broadcast nested loop, never a
    # materialized cartesian product
    plan = QUERIES["x16_bm25_scoring"].spark_fn(spark, SF_SMOKE) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_domain_cap_single_shuffle(spark):
    # blocklist filter + one domain-keyed window shuffle, nothing else
    rep = plan_report(q("x17_domain_cap", spark))
    assert rep["shuffles"] <= 1, rep


def test_seeded_shuffle_single_shuffle(spark):
    # shard assignment is a projection; the only exchange is the per-shard rank
    rep = plan_report(q("x18_seeded_shuffle", spark))
    assert rep["shuffles"] <= 1, rep


def test_incremental_dedup_no_cartesian_bounded_shuffles(spark):
    # static plan: distinct + (both join sides) + keeper window <= 4
    # hash exchanges (AQE replans the small seen side to a broadcast at
    # runtime, but the executed-plan string repeats query-stage subtrees,
    # so the stable bound is asserted on the static plan)
    rep = plan_report(q("x19_incremental_dedup", spark))
    assert not rep["cartesian"], rep
    assert rep["shuffles"] <= 4, rep
    # runtime: the seen-hash side must broadcast into the anti-join
    rep_exec = plan_report(q("x19_incremental_dedup", spark), execute=True)
    assert rep_exec["broadcasts"] >= 1, rep_exec


def test_corpus_pipeline_single_content_shuffle(spark):
    # quality filter and split are projections; dedup's keeper window is
    # the only data shuffle
    rep = plan_report(q("x20_corpus_pipeline", spark))
    assert rep["shuffles"] <= 1, rep


def test_importance_weights_broadcast_ratios(spark):
    rep = plan_report(q("x22_importance_weights", spark), execute=True)
    assert rep["broadcasts"] >= 1, rep  # ratio table moves, corpus does not


def test_mixture_sample_single_shuffle(spark):
    rep = plan_report(q("x23_mixture_sample", spark))
    assert rep["shuffles"] <= 1, rep


def test_cross_doc_span_dedup_bounded_shuffles(spark):
    # Affected-only rebuild (r7) + aggregate keeper election (r8) +
    # marker-join rebuild (r14): the pre-r14 plan sort-merge-joined the
    # affected token stream against rm_pos — a full shuffle AND sort of
    # every affected token ahead of the id-keyed rebuild shuffle — and
    # scanned the corpus a third time (before_aff) for a final outer
    # join. Both are gone: rm_pos and rm_docs join broadcast (hence
    # broadcasts >= 2) and the rebuild is one conditional aggregate.
    # The logical shuffles are the token lead-window (id), keeper
    # election (gh), salted join-back ((gh,_salt)), removal distinct
    # (id,wpos), rm_docs distinct (id), rebuild aggregate (id);
    # AQE stage reuse collapses the plan-text replication of the
    # election chain across its consumers at runtime, hence the bound
    # is on plan_report's reuse-stripped count.
    rep = plan_report(q("d8_cross_doc_span_dedup", spark), execute=True)
    assert not rep["cartesian"], rep
    assert rep["shuffles"] <= 6, rep
    assert rep["broadcasts"] >= 2, rep


def test_bloom_probe_broadcasts_filter_single_shuffle(spark):
    # build = one word-keyed aggregate; probe joins the (tiny) word table
    # broadcast — the probe side never shuffles on the bloom key
    df = q("x27_bloom_prefilter", spark)
    rep = plan_report(df)
    assert rep["broadcasts"] >= 1, rep
    assert not rep["cartesian"]
    # shuffles: bloom-build aggregate + probe-side hit aggregate only
    assert rep["shuffles"] <= 3, rep


def test_cms_constant_size_aggregate_broadcast_probe(spark):
    df = q("x28_count_min_sketch", spark)
    rep = plan_report(df)
    assert rep["broadcasts"] >= 1, rep   # sketch broadcast into the probe
    assert not rep["cartesian"]


def test_url_canonicalize_single_shuffle(spark):
    # canonicalization is a pure projection; the only shuffle is the
    # final canon-keyed groupBy
    df = q("t10_url_canonicalize", spark)
    rep = plan_report(df)
    assert rep["shuffles"] <= 1, rep
    assert not rep["cartesian"]


def test_semantic_dedup_no_allpairs(spark):
    # the blocked pipeline must never plan a cartesian/theta self-join
    df = q("d9_semantic_dedup", spark)
    rep = plan_report(df)
    assert not rep["cartesian"], rep


def test_hll_rollup_two_aggregates(spark):
    # fine sketches + rollup merge = two aggregate shuffles; the exact
    # side adds its own distinct aggregate. No cartesian anywhere.
    df = q("x29_hll_rollup", spark)
    rep = plan_report(df)
    assert not rep["cartesian"], rep


def test_r5d_entries_plan_shapes(spark):
    # t12/s7: pure projections — zero shuffles, zero Python evals
    for name in ("t12_html_strip", "s7_random_projection"):
        df = q(name, spark)
        rep = plan_report(df)
        assert rep["shuffles"] == 0, (name, rep)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PythonUDF" not in plan and "BatchEval" not in plan, name
    # x33: one scalar-moments aggregate broadcast onto the projection
    rep = plan_report(q("x33_outlier_flags", spark), execute=True)
    assert rep["broadcasts"] >= 1, rep
    assert not rep["cartesian"], rep
    # x34: exactly the one key-window shuffle
    rep = plan_report(q("x34_locf_backfill", spark))
    assert rep["shuffles"] <= 1, rep
    # x32/x35: heap top-k, never a global sort shuffle
    for name in ("x32_uniform_sample_k", "x35_priority_sample"):
        plan = (q(name, spark)._jdf.queryExecution()
                .executedPlan().toString())
        assert "TakeOrderedAndProject" in plan, name
    # t11: LM tables broadcast into the scoring join, no cartesian
    rep = plan_report(q("t11_bigram_lm_score", spark), execute=True)
    assert rep["broadcasts"] >= 2, rep
    assert not rep["cartesian"], rep
    # x36: prefix sum's only data shuffle is the bucket window (the
    # offsets window runs over <= n_buckets aggregate rows)
    rep = plan_report(q("x36_doc_bin_packing", spark))
    assert not rep["cartesian"], rep
    assert rep["shuffles"] <= 4, rep


def test_r5d_late_entries_plan_shapes(spark):
    # t13: pure projection — no shuffle, no Python
    df = q("t13_lang_margin", spark)
    rep = plan_report(df)
    assert rep["shuffles"] == 0, rep
    # x37: histogram aggregate + windows over aggregate rows only
    rep = plan_report(q("x37_group_quantiles", spark))
    assert not rep["cartesian"] and rep["shuffles"] <= 3, rep
    # x38: one full-outer join of hash projections, no cartesian
    rep = plan_report(q("x38_snapshot_diff", spark))
    assert not rep["cartesian"] and rep["shuffles"] <= 2, rep
    # s8/x39: bucketed/blocked pipelines — never a cartesian product
    for name in ("s8_hard_negatives", "x39_curated_corpus"):
        rep = plan_report(q(name, spark))
        assert not rep["cartesian"], (name, rep)
    # x40: broadcast-eval — the train side is never join-shuffled
    plan = (q("x40_near_contamination", spark)
            ._jdf.queryExecution().executedPlan().toString())
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_r5e_entries_plan_shapes(spark):
    # x46: k−1 as-of joins, each one user-keyed shuffle pair — bounded,
    # never a theta/cartesian join over the event table
    rep = plan_report(q("x46_sequence_match", spark))
    assert not rep["cartesian"], rep
    # x47 (r15): the automaton's ONLY exchange is the user-keyed
    # collect_list aggregate, and the fold runs as a JVM aggregate()
    # HOF — NO Python node of any kind (the applyInPandas form paid one
    # Arrow batch + one pandas DataFrame per user: 4.2 s wall / 0.24 s
    # JVM CPU for 1500 sf0.1 groups; 9.4x pairwise after the rewrite)
    df = q("x47_sequence_count", spark)
    rep = plan_report(df)
    assert rep["shuffles"] <= 1, rep
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert "EvalPython" not in plan and "PythonUDF" not in plan, plan[:800]
    assert "collect_list" in plan  # the per-user event array the fold reads
    # a12: two-level aggregate — (group,key) shuffle then group shuffle
    rep = plan_report(q("a12_summap", spark))
    assert rep["shuffles"] <= 2 and not rep["cartesian"], rep
    # t14: the hashed weight table must BROADCAST (bounded model size is
    # the point of the hashing trick); no cartesian anywhere
    rep = plan_report(q("t14_hashed_classifier", spark), execute=True)
    assert rep["broadcasts"] >= 1 and not rep["cartesian"], rep
    # x48/x49: exactly the one group-/bucket-keyed window shuffle
    for name in ("x48_group_sample_k", "x49_length_batches"):
        rep = plan_report(q(name, spark))
        assert rep["shuffles"] <= 1, (name, rep)


def test_r5e_aggregate_and_text_plan_shapes(spark):
    # a13: count aggregate + rank/collect over AGGREGATE rows only
    rep = plan_report(q("a13_topk_array", spark))
    assert rep["shuffles"] <= 3 and not rep["cartesian"], rep
    # a14: lag window and group aggregate share the ONE user shuffle
    rep = plan_report(q("a14_delta_sum", spark))
    assert rep["shuffles"] <= 1, rep
    # t15/t16: shuffle-free projections, no Python, no explode
    for name in ("t15_c4_line_filter", "t16_blocklist_filter"):
        df = q(name, spark)
        rep = plan_report(df)
        assert rep["shuffles"] == 0, (name, rep)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PythonUDF" not in plan and "Generate" not in plan, name


def test_r5e_sql_surface_plan_shapes(spark):
    # x5b: native unpivot plans as Expand (rows multiply in place) —
    # NOT the oracle's 4× union re-scan
    df = q("x5b_unpivot", spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan and "Union" not in plan, plan[:1500]
    # w7: one user-keyed window shuffle, range frame
    rep = plan_report(q("w7_range_interval", spark))
    assert rep["shuffles"] <= 1, rep
    # a10c: grouping sets = Expand + ONE aggregate shuffle
    rep = plan_report(q("a10c_grouping_sets", spark))
    assert rep["shuffles"] <= 1 and not rep["cartesian"], rep


def test_dictget_is_joinless_projection(spark):
    """The dictionary lookup must compile to a constant-map projection —
    a join in this plan means the feature lost its point."""
    df = q("x51_dictget", spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "PythonUDF" not in plan, plan[:1500]
    rep = plan_report(df)
    assert rep["shuffles"] == 0, rep


def test_paragraph_dedup_bounded_shuffles(spark):
    """d10: explode in place, ONE hash aggregate, hash join back, id
    reassembly — bounded key shuffles, never a cartesian."""
    rep = plan_report(q("d10_paragraph_dedup", spark))
    assert not rep["cartesian"] and rep["shuffles"] <= 5, rep


def test_web_curation_chain_shape(spark):
    """x56: the composed r5e chain — no cartesian, bounded key
    shuffles (paragraph ownership, classifier reduce, bucket rank,
    joins between stages)."""
    rep = plan_report(q("x56_web_curation", spark))
    assert not rep["cartesian"], rep
    assert rep["shuffles"] <= 12, rep


def test_x59_mixture_zero_data_shuffles(spark):
    """Temperature mixture: the corpus-side path is a broadcast-joined
    projection — the only hash shuffles belong to the O(groups) plan
    aggregate, never to document rows."""
    df = q("x59_temperature_mixture", spark)
    rep = plan_report(df, execute=True)
    assert rep["broadcasts"] >= 1, rep
    # plan-side count agg (partial+final) may shuffle its O(groups) rows;
    # the documents scan itself must reach the output unshuffled
    assert rep["shuffles"] <= 2, rep
    assert not rep["cartesian"]


def test_x60_curriculum_histogram_only_shuffle(spark):
    """Curriculum phases: shuffles touch only the score histogram (O(
    distinct scores) aggregate rows); the base data flows scan→join→
    project with a broadcast."""
    df = q("x60_curriculum_phases", spark)
    rep = plan_report(df, execute=True)
    assert rep["broadcasts"] >= 1, rep
    assert rep["shuffles"] <= 2, rep
    assert not rep["cartesian"]


def test_x58_sample_filter_under_aggregate(spark):
    """SAMPLE lowering: the bucket filter sits under the aggregate (a
    Filter over the scan), so sampling thins rows before any exchange."""
    df = q("x58_sample_clause", spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    agg_at = plan.find("HashAggregate")
    filt_at = plan.rfind("Filter")
    assert agg_at != -1 and filt_at != -1 and filt_at > agg_at, plan[:1500]


# ---------------------------------------------------------------------------
# Dialect-lowering plan gates (r5 verdict stretch 8): the string-routed
# x51–x58 surface executes through engine.py lowerings — these assertions
# pin the lowered SHAPE so a regression to a non-pushed form cannot land
# silently.

def test_sample_lowers_to_bucket_filter_not_sample_node(spark, views):
    """FROM t SAMPLE f must lower to a deterministic md5-bucket FILTER that
    Catalyst collapses into the scan — never a Sample(withReplacement
    physical node (non-deterministic, no IO pruning, not repeatable)."""
    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine

    eng = ClickHouseSparkEngine(spark)
    eng.set_sample_key("orders", "o_orderkey")
    df = eng.sql("SELECT o_orderkey FROM orders SAMPLE 0.25")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Sample(withReplacement" not in plan, plan
    assert "Sample " not in plan, plan
    # the bucket predicate reaches a Filter (md5/hash of the sample key)
    assert "Filter" in plan and "md5" in plan.lower(), plan


def test_limit_by_lowers_to_ranked_window(spark, views):
    """LIMIT n BY cols must lower to a per-group rank filter (window or
    equivalent) — one partitioned pass, not a global sort + collect."""
    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine

    eng = ClickHouseSparkEngine(spark)
    df = eng.sql("SELECT o_custkey, o_orderkey FROM orders "
                 "ORDER BY o_custkey, o_orderkey LIMIT 2 BY o_custkey")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan or "row_number" in plan, plan
    # and no cartesian / global CollectLimit over the whole table
    assert "CartesianProduct" not in plan, plan
    # semantics: at most 2 rows per group
    import collections
    counts = collections.Counter(r.o_custkey for r in df.collect())
    assert counts and max(counts.values()) <= 2


def test_mutation_rewrite_has_no_per_row_udf(spark, views, tmp_path):
    """ALTER TABLE ... UPDATE lowers to a CASE-projection snapshot rewrite
    — whole-stage-codegen'able, no Python/BatchEvalPython in the plan."""
    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine

    eng = ClickHouseSparkEngine(spark)
    eng.sql("CREATE MATERIALIZED VIEW mut_plan_mv AS "
            "SELECT o_orderkey, o_totalprice FROM orders")
    eng.sql("ALTER TABLE mut_plan_mv UPDATE o_totalprice = o_totalprice * 2 "
            "WHERE o_orderkey % 2 = 0")
    df = eng.sql("SELECT * FROM mut_plan_mv")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    eng.sql("DROP TABLE mut_plan_mv")


def _lambda_bodies(plan: str) -> list[str]:
    """Balanced-paren body of every ``lambdafunction(`` in a plan string.

    Nested lambdas are included in their enclosing body too — a violation
    is flagged regardless of nesting depth."""
    bodies = []
    marker = "lambdafunction("
    i = plan.find(marker)
    while i >= 0:
        k = i + len(marker)
        depth, start = 1, k
        while depth and k < len(plan):
            depth += {"(": 1, ")": -1}.get(plan[k], 0)
            k += 1
        bodies.append(plan[start:k - 1])
        i = plan.find(marker, i + 1)
    return bodies


def test_no_split_inside_hof_lambdas(spark):
    """bind_once lint (r6 verdict task 6): Catalyst's subexpression
    elimination does not cross HOF-lambda boundaries, so a raw
    ``split(...)`` subtree referenced inside a ``transform``/``filter``
    lambda re-evaluates once PER ELEMENT — the O(len²) class that made
    t6 non-terminating at the 500k-doc corpus (r6b). Every default-path
    operator expression must reference token arrays through a bound
    NamedLambdaVariable (``operators.dedup.bind_once``), never the raw
    split. This sweep renders each operator's analyzed plan and asserts
    no ``split(`` appears inside any ``lambdafunction(`` body.

    Deliberately NOT swept: ``_bucket_pairs``'s banding-bounded re-sort
    (no split)."""
    from clickhouse_datafusion_spark.operators import dedup, text

    F_ = __import__("pyspark.sql.functions", fromlist=["F"])
    df = spark.createDataFrame(
        [("d1", "a b c d e f g")], "doc_id string, text string")

    col_cases = {
        "word_ngrams": [dedup.word_ngrams("text").alias("g")],
        "gram_hashes": [dedup.gram_hashes("text").alias("g")],
        "minhash_signature": [dedup.minhash_signature("text").alias("g")],
        "simhash_col": [dedup.simhash_col("text").alias("g")],
        "token_count_cols": text.token_count_cols(),
        "quality_cols": text.quality_cols(),
        "lang_id_col": [text.lang_id_col()],
        "lang_margin_cols": text.lang_margin_cols(),
        "fingerprint_col": [text.fingerprint_col()],
        "repetition_cols": text.repetition_cols(),
    }
    df_cases = {
        "adjacent_word_pairs": text.adjacent_word_pairs(df),
        "_hashed_sentinel_pairs": text._hashed_sentinel_pairs(df),
        "bpe_pair_counts": text.bpe_pair_counts(df),
        "bigram_lm_score": text.bigram_lm_score(df),
        "ngram_jaccard_pairs": dedup.ngram_jaccard_pairs(df),
        "drop_cross_doc_spans": dedup.drop_cross_doc_spans(df),
    }
    for name, cols in col_cases.items():
        df_cases[name] = df.select(*cols)

    offenders = {}
    for name, out in df_cases.items():
        plan = out._jdf.queryExecution().analyzed().toString()
        hits = [b[:120] for b in _lambda_bodies(plan) if "split(" in b]
        if hits:
            offenders[name] = hits
    assert not offenders, (
        "raw split( inside a HOF lambda body — wrap the subtree in "
        f"operators.dedup.bind_once: {offenders}")


def test_q9_orderkey_join_is_shuffled_hash(spark):
    # r10: the orders join carries a scoped shuffle_hash hint (the SMJ
    # default paid a two-sided sort worth 4.3x at 600M rows —
    # BASELINE.md r10). The hint must survive planning: the orderkey
    # join is a ShuffledHashJoin, never a SortMergeJoin, and the rest
    # of the plan keeps its shape (no cartesian, part filter pushed).
    df = q("q9_product_profit", spark)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in plan, plan[:2000]
    joins = [ln for ln in plan.splitlines()
             if "ShuffledHashJoin" in ln and "orderkey" in ln.lower()]
    assert joins, plan[:2000]


def test_t11_lm_probes_are_single_key_hash_joins(spark):
    """r13 regression guard for the t11 decade fix: the LM scoring
    pass's broadcast probes must stay SINGLE-key (LongHashedRelation
    fast path) — a reintroduced (h1,h2) two-key probe walks the
    generic UnsafeHashedRelation at 5-7x the cost on the 45M-pair
    decade stream (BASELINE.md r13) while printing an identical-
    looking BroadcastHashJoin."""
    rep = plan_report(q("t11_bigram_lm_score", spark), execute=True)
    assert rep["multikey_hash_joins"] == 0, rep
    assert rep["broadcasts"] >= 2, rep       # both LM tables broadcast
    rep_b = plan_report(q("t11b_bigram_lm_prebuilt", spark), execute=True)
    assert rep_b["multikey_hash_joins"] == 0, rep_b


# -- r15 reshapes: their structural claims -----------------------------
#
# - d8/d10: heavy bytes (token stream / paragraph text) cross the network
#   ONLY through the single size-derived doc repartition — never through
#   an EnsureRequirements exchange (the r14 shape shuffled the exploded
#   stream for the window / the _h join / the id rebuild).
# - d3: the widen is keyed by id, so the 33-column min-partials exchange
#   is gone and no round-robin exchange remains.


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _ensure_exchange_inputs(plan: str) -> list[str]:
    """The Input column list of every ENSURE_REQUIREMENTS exchange."""
    out = []
    blocks = re.split(r"\n\(\d+\) ", plan)
    for b in blocks:
        if b.startswith("Exchange") and "ENSURE_REQUIREMENTS" in b:
            m = re.search(r"Input \[\d+\]: \[([^\]]*)\]", b)
            out.append(m.group(1) if m else "")
    return out


def test_d8_token_stream_never_shuffles(spark):
    plan = _plan(q("d8_cross_doc_span_dedup", spark))
    # the exploded token stream (its word payload, w#...) must not
    # appear in any EnsureRequirements exchange: the partitioning comes
    # from the doc repartition and propagates through Generate/Window/
    # broadcast joins. Narrow metadata exchanges (the (id, wpos)
    # removal distinct, the keeper election) are the design and stay.
    for inputs in _ensure_exchange_inputs(plan):
        cols = [c.strip() for c in inputs.split(",")]
        assert not any(c.startswith("w#") for c in cols), inputs
    assert "RoundRobinPartitioning" not in plan
    assert "REPARTITION_BY_NUM" in plan  # the doc-id repartition


def test_d10_paragraph_text_single_exchange(spark, monkeypatch):
    # the meta shape is size-gated (>= 8 MB; the gate corpus is tiny) —
    # force it on so the structural claim is what gets pinned
    from clickhouse_datafusion_spark.operators import dedup

    monkeypatch.setattr(dedup, "PARAGRAPH_META_SHAPE_MIN_BYTES", 0)
    plan = _plan(q("d10_paragraph_dedup", spark))
    # paragraph bodies (_p) cross only the explicit doc repartition;
    # ownership/keep flow as (id, pos, hash) metadata
    for inputs in _ensure_exchange_inputs(plan):
        assert "_p#" not in inputs, inputs
    assert "REPARTITION_BY_NUM" in plan


def test_d10_small_input_keeps_single_pipeline_shape(spark):
    # below the gate the r14 shape plans: no doc repartition, and the
    # shape has strictly fewer exchanges (the sf0.1 A/B reads 0.86x for
    # the meta shape there — BASELINE.md r15)
    plan = _plan(q("d10_paragraph_dedup", spark))
    assert "REPARTITION_BY_NUM" not in plan


def test_d3_widen_keyed_no_min_partials_exchange(spark):
    plan = _plan(q("d3_minhash_lsh_candidates", spark))
    assert "RoundRobinPartitioning" not in plan
    # the r14 plan exchanged 33 columns of partial mins; the keyed widen
    # leaves the signature aggregate exchange-free, so no
    # EnsureRequirements exchange carries min#... columns
    for inputs in _ensure_exchange_inputs(plan):
        assert "min#" not in inputs, inputs


def test_t11_score_reduce_inherits_widen_partitioning(spark):
    plan = _plan(q("t11b_bigram_lm_prebuilt", spark))
    # the per-doc contribution reduce must not re-exchange: its
    # ClusteredDistribution(doc_id) is satisfied by the keyed widen
    for inputs in _ensure_exchange_inputs(plan):
        assert "_contrib" not in inputs, inputs
