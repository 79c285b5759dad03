"""Plan-quality gates (SURVEY.md §4, task brief: '.explain the plan and
iterate until it's the plan you'd want'): pushdown reaches scans,
dimension joins broadcast, top-k avoids global sort, as-of join avoids
nested-loop, aggregates are partial before the exchange."""

from __future__ import annotations

from catena_spark.operators import llm, relational as rel, timeseries as ts
from catena_spark.plans import (
    assert_in_plan,
    assert_not_in_plan,
    assert_pushed_filter,
    formatted_plan,
)
from tests.conftest import SF_SMALL


def test_flagship_pushdown_and_partial_agg(spark):
    df = rel.agg_pricing_summary(spark, SF_SMALL)
    assert_pushed_filter(df, "l_shipdate")
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2, "no partial aggregation"


def test_filter_pushdown_all_predicates(spark):
    df = rel.filter_pushdown_dates(spark, SF_SMALL)
    assert_pushed_filter(df, "l_shipdate")
    assert_pushed_filter(df, "l_returnflag")
    assert_pushed_filter(df, "l_discount")


def test_rollup_dims_broadcast(spark):
    df = rel.agg_rollup_nation_region(spark, SF_SMALL)
    assert_in_plan(df, "BroadcastHashJoin")


def test_topk_no_global_sort(spark):
    df = rel.topk_revenue_q3(spark, SF_SMALL)
    assert_in_plan(df, "TakeOrderedAndProject")


def test_asof_join_no_nested_loop(spark):
    df = ts.ts_asof_join(spark, SF_SMALL)
    assert_not_in_plan(df, "BroadcastNestedLoopJoin", "CartesianProduct")


def test_range_scan_pushdown(spark):
    df = ts.ts_range_scan(spark, SF_SMALL)
    # source/metric filters push down to the events scan (ts is computed
    # post-scan from the nanos column, so only equality predicates push)
    assert_pushed_filter(df, "user_id")
    assert_pushed_filter(df, "event_type")


def test_minhash_no_cross_product(spark):
    df = llm.llm_minhash_pairs(spark, SF_SMALL)
    assert_not_in_plan(df, "CartesianProduct")


def test_scan_prunes_columns(spark):
    df = rel.topk_revenue_q3(spark, SF_SMALL)
    plan = formatted_plan(df)
    # lineitem scan must not read all 11 columns for a 4-column need
    assert "l_comment" not in plan
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln and "lineitem" in ln]
    if scan_lines:  # schema line present in formatted output
        assert "l_tax" not in scan_lines[0]


def test_q5_dims_broadcast_facts_shuffle(spark):
    df = rel.join_q5_local_supplier(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert_pushed_filter(df, "o_orderdate")


def test_exists_rewrites_to_semi_join(spark):
    df = rel.subq_exists_urgent_big(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan
    assert_pushed_filter(df, "o_totalprice")


def test_q6_all_predicates_pushed(spark):
    df = rel.agg_q6_forecast_revenue(spark, SF_SMALL)
    assert_pushed_filter(df, "l_shipdate")
    assert_pushed_filter(df, "l_discount")
    assert_pushed_filter(df, "l_quantity")
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2, "no partial aggregation"


def test_q21_semi_anti_no_cartesian(spark):
    df = rel.join_q21_sole_blame_supplier(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_contamination_benchmark_broadcast(spark):
    df = llm.llm_contamination_check(spark, SF_SMALL)
    assert_in_plan(df, "BroadcastHashJoin")


def test_kmeans_centroids_broadcast_no_shuffle_of_vectors(spark):
    df = llm.llm_kmeans_assign(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_rollup_cascade_single_shuffle(spark):
    df = ts.ts_rollup_cascade(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert plan.count("Exchange") <= 2, "rollup should shuffle once (+AQE read)"
    assert "Expand" in plan, "grouping-sets Expand missing"


def test_simhash_near_pairs_no_cross_product(spark):
    df = llm.llm_simhash_near_pairs(spark, SF_SMALL)
    assert_not_in_plan(df, "CartesianProduct")


def test_corr_pairs_preaggregates_before_self_join(spark):
    # the O(m^2) pair join must run on bucket sums, not raw points:
    # both join inputs are aggregates (partial+final per side + final
    # pair aggregate => at least 5 HashAggregate nodes), and the
    # equality part of the join key keeps it a hash join, not a loop.
    df = ts.ts_corr_metric_pairs(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 5, "pair join not pre-aggregated"
    assert_not_in_plan(df, "CartesianProduct")


def test_bigram_model_broadcast_no_shuffle_of_stream(spark):
    # the bigram model table must broadcast; the exploded bigram stream
    # must never hash-exchange on bg (only doc_id for the final agg).
    df = llm.llm_bigram_lm_score(spark, SF_SMALL)
    assert_in_plan(df, "BroadcastHashJoin")


def test_winnowing_single_partition_key(spark):
    # window + distinct + aggregate all share the doc_id partitioning;
    # no cartesian anywhere.
    df = llm.llm_winnowing_fingerprint(spark, SF_SMALL)
    assert_not_in_plan(df, "CartesianProduct", "BroadcastNestedLoopJoin")


def test_orc_partitioned_read_prunes(spark, tmp_path):
    # the dt range predicate must reach the ORC scan as a partition
    # filter: only the 2 matching dt directories of the 30 written ever
    # get listed/opened.
    from catena_spark import tables
    from pyspark.sql import functions as F

    ev = tables.load(spark, SF_SMALL, "events").withColumn("dt", F.to_date("ts"))
    path = str(tmp_path / "orc")
    ev.write.mode("overwrite").partitionBy("dt").orc(path)
    back = spark.read.orc(path).where(
        (F.col("dt") >= F.lit("2024-01-03").cast("date"))
        & (F.col("dt") < F.lit("2024-01-05").cast("date"))
    )
    plan = formatted_plan(back)
    assert "PartitionFilters: [" in plan and "dt" in plan.split("PartitionFilters:")[1][:120], plan[:2000]


def test_ewma_single_exchange_partition_fold(spark):
    """ts_ewma's r5 restructure (partition-level mapInPandas fold) must
    keep the grouped-map's plan economy: exactly one hash Exchange on
    the series key feeding the in-partition sort, and no grouped-map
    FlatMapGroups node (the per-group Arrow overhead it replaced)."""
    import re

    df = ts.ts_ewma(spark, SF_SMALL)
    plan = formatted_plan(df)
    # formatted plans name each operator twice (tree + detail section):
    # count the numbered operator headers, not raw substring hits
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_null_semantics_no_single_partition_window(spark):
    """r10: fn_null_semantics's global count must be the broadcast
    1-row-scalar pattern, NOT an unpartitioned WindowExec — the latter
    moves the entire row-scale orders table to one partition (the shape
    the r9 'no Window.orderBy()' audit missed because the offender was
    Window.partitionBy() with no keys)."""
    df = rel.fn_null_semantics(spark, SF_SMALL)
    assert_not_in_plan(df, "Window")
    assert_in_plan(df, "BroadcastNestedLoopJoin")
