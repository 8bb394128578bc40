"""r15 optimization-round plan pins: the reshapes' structural claims.

- d8/d10: heavy bytes (token stream / paragraph text) cross the network
  ONLY through the single size-derived doc repartition — never through
  an EnsureRequirements exchange (the r14 shape shuffled the exploded
  stream for the window / the _h join / the id rebuild).
- d3: the widen is keyed by id, so the 33-column min-partials exchange
  is gone and no round-robin exchange remains.
"""
from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from clickhouse_datafusion_spark.queries import QUERIES
from tests.conftest import SF_SMOKE


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


def q(name, spark):
    return QUERIES[name].spark_fn(spark, SF_SMOKE)


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
