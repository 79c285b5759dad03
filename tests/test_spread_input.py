"""Pins for the r17/r18 unsplittable-input spread and its r18 gate
(VERDICT r17 items 1 and 8), plus shape pins for the r18 rewrites.

The spread's SAFE direction is the no-op: a listing failure or an
already-wide input must insert nothing. These tests pin both fallback
branches so the behavior can't drift silently, and pin the r18
per-consumer gate decisions (measured by the A/B script added in
da7af74).
"""

from __future__ import annotations

from catena_spark import tables
from catena_spark.operators import llm, relational as rel
from catena_spark.plans import formatted_plan
from tests.conftest import SF_SMALL


def test_spread_inserts_single_roundrobin_on_small_input(spark):
    """The fixture documents table is one small file -> exactly one
    round-robin fan-out before the per-row kernels."""
    plan = formatted_plan(llm._docs_norm(spark, SF_SMALL))
    assert plan.count("RoundRobinPartitioning") == 1


def test_spread_gate_opt_out_removes_exchange(spark):
    """spread=False (r18 gate) must leave the scan unfanned."""
    plan = formatted_plan(llm._docs_norm(spark, SF_SMALL, spread=False))
    assert "RoundRobinPartitioning" not in plan


def test_gated_consumers_have_no_roundrobin(spark):
    """The five consumers whose interleaved A/Bs showed the exchange
    costs more than it buys (OPTIMIZATION_r18.md) stay opted out."""
    for fn in (
        llm.llm_exact_dedup,
        llm.llm_tfidf_top_terms,
        llm.llm_dedup_remap,
        llm.llm_inverted_index,
        llm.llm_bm25_topk,
    ):
        plan = formatted_plan(fn(spark, SF_SMALL))
        assert "RoundRobinPartitioning" not in plan, fn.__name__


def test_heavy_consumers_keep_roundrobin(spark):
    """The heavy per-row kernels keep their measured 3-4x fan-out win."""
    for fn in (llm.llm_doc_fingerprint, llm.llm_winnowing_fingerprint):
        plan = formatted_plan(fn(spark, SF_SMALL))
        assert plan.count("RoundRobinPartitioning") == 1, fn.__name__


def test_spread_noop_on_listing_failure(spark):
    """OSError while estimating splits -> the SAME DataFrame back (no
    exchange), and the fallback is observable via the warn registry
    (ADVICE r17 item 2)."""
    df = tables.load(spark, SF_SMALL, "documents")
    llm._SPREAD_WARNED.discard("no-such-table")
    out = llm._spread_input(df, "/no/such/dir", "no-such-table")
    assert out is df
    assert "no-such-table" in llm._SPREAD_WARNED


def test_spread_listing_failure_logs_once_per_table(spark, caplog):
    """The listing fallback is logged on the catena_spark logger once
    per table, however often the listing fails."""
    import logging

    df = tables.load(spark, SF_SMALL, "documents")
    llm._SPREAD_WARNED.discard("no-such-table")
    with caplog.at_level(logging.WARNING, logger="catena_spark"):
        for _ in range(2):
            assert llm._spread_input(df, "/no/such/dir", "no-such-table") is df
    records = [r for r in caplog.records if r.name == "catena_spark"]
    assert len(records) == 1
    assert records[0].levelno == logging.WARNING
    assert "'no-such-table'" in records[0].getMessage()


def test_spread_noop_when_input_already_wide(spark, monkeypatch):
    """splits * 2 >= defaultParallelism -> no exchange inserted (the
    100 TB branch: thousands of splits feed the kernels directly)."""
    df = tables.load(spark, SF_SMALL, "documents")
    monkeypatch.setattr(llm, "_SPLIT_BYTES", 1)  # every byte its own split
    out = llm._spread_input(df, SF_SMALL, "documents")
    assert out is df


def test_spread_path_convention_shared_with_loader():
    """The estimator reads the layout from tables.parquet_path — the
    loader's own helper — so the two cannot drift (ADVICE r17 item 2)."""
    assert tables.parquet_path("/x", "documents") == "/x/documents.parquet"


# ---------------------------------------------------------------- r18 shape pins


def test_q8_scale_shape_filters_orders_before_fact_join(spark):
    """join_q8_market_share (r18): the ASIA filter must reach orders
    through a LEFT SEMI below the fact join, so the at-scale plan never
    reshuffles the joined fact stream by custkey. The semi join is the
    new shape's signature and survives any broadcast regime."""
    plan = formatted_plan(rel.join_q8_market_share(spark, SF_SMALL))
    assert "LeftSemi" in plan


def test_minhash_size_filter_below_candidate_distinct(spark):
    """llm_minhash_pairs (r18): the size-bound filter lives in the band
    self-join condition, so rejected candidates never reach the dedup
    exchange. Signature: no separate size-attach joins remain — the
    plan's only joins are the band self-join and the two token-array
    attaches (3 total), vs 5 in the r17 shape."""
    import re

    plan = formatted_plan(llm.llm_minhash_pairs(spark, SF_SMALL))
    joins = len(
        re.findall(
            r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)",
            plan,
        )
    )
    assert joins == 3, f"expected 3 joins, plan has {joins}"


def test_stats_suite_bounded_moments_fit_bigint_at_scale():
    """agg_stats_suite (r18): the BIGINT accumulation of the bounded
    moments is safe far past the 100 TB row count (~1e12 rows); ANSI
    mode fails loud if this arithmetic bound is ever violated."""
    rows_100tb = 10**12
    assert 2500 * rows_100tb * 3600 < 2**63  # qi*qi <= 50*50, 3600x margin
    assert 10**4 * rows_100tb * 900 < 2**63  # dc*dc <= 100*100
