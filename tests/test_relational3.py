"""Plan-shape pins for the relational tier-3 TPC-H shapes (correctness
itself is covered by test_oracle_parity.py, which parametrizes over the
whole catalog). These pin the SCALE properties the docstrings claim:
semi-join for EXISTS, filter pushdown before joins, broadcast dims,
window-decorrelated min/max-equality subqueries, no cartesian products.
"""

from __future__ import annotations

import re

from lenses_topology_example_spark.catalog import _CATALOG

from .conftest import formatted_plan


def test_order_priority_count_is_semi_join(spark, sf_dir):
    plan = formatted_plan(_CATALOG["order_priority_count"][0](spark, sf_dir))
    assert "LeftSemi" in plan, "EXISTS must plan as a semi join"
    # the quarter filter reaches the orders scan
    m = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("o_orderdate" in f for f in m), "date filter must reach the scan"
    assert "CartesianProduct" not in plan


def test_volume_shipping_broadcasts_nation_aliases(spark, sf_dir):
    plan = formatted_plan(_CATALOG["volume_shipping"][0](spark, sf_dir))
    # both nation aliases broadcast; shipdate window pushed to the scan
    assert plan.count("BroadcastHashJoin") >= 2
    m = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("l_shipdate" in f for f in m)
    assert "CartesianProduct" not in plan


def test_market_share_single_agg_pass(spark, sf_dir):
    plan = formatted_plan(_CATALOG["market_share"][0](spark, sf_dir))
    # conditional + total sum in ONE aggregation (partial+final pair),
    # not two join branches over lineitem
    assert plan.count("lineitem.parquet") == 1
    m = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("EqualTo(p_type,PROMO)" in f for f in m)


def test_product_profit_part_filter_pushdown(spark, sf_dir):
    plan = formatted_plan(_CATALOG["product_profit"][0](spark, sf_dir))
    m = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("p_name" in f for f in m), "LIKE filter must reach the part scan"
    assert "CartesianProduct" not in plan


def test_customer_distribution_left_outer(spark, sf_dir):
    plan = formatted_plan(_CATALOG["customer_distribution"][0](spark, sf_dir))
    assert "LeftOuter" in plan, "zero-order customers must survive the join"
    # the priority filter must NOT be pushed to the orders scan as a
    # row-filter that would drop customers — it lives in the join
    assert len(re.findall(r"HashAggregate", plan)) >= 4, "two agg passes"


def test_top_supplier_decimal_max_window(spark, sf_dir):
    plan = formatted_plan(_CATALOG["top_supplier"][0](spark, sf_dir))
    assert "Window" in plan
    # the window runs over the aggregated per-supplier frame, never raw
    # lineitem: exactly one lineitem scan feeding one partial+final agg
    assert plan.count("lineitem.parquet") == 1


def test_min_cost_supplier_partitioned_window(spark, sf_dir):
    plan = formatted_plan(_CATALOG["min_cost_supplier"][0](spark, sf_dir))
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    # per-part window: partition spec present (not an empty-frame window)
    assert re.search(r"partitionBy.*l_partkey|l_partkey.*windowspecdef", plan) or (
        "l_partkey" in plan
    )


# --- round-9 wave: Q3/Q6/Q11/Q16/Q19/Q20/Q21 plan pins ----------------------


def _final_plan(spark, sf_dir, name: str) -> str:
    """Execute, then explain — AQE's exchange-reuse only shows in the
    final adaptive plan."""
    df = _CATALOG[name][0](spark, sf_dir)
    df.collect()
    return formatted_plan(df)


def test_shipping_priority_topk_and_pushdown(spark, sf_dir):
    plan = formatted_plan(_CATALOG["shipping_priority"][0](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, "top-10 must not full-sort"
    m = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("o_orderdate" in f for f in m)
    assert any("l_shipdate" in f for f in m)
    assert any("c_mktsegment" in f for f in m)
    assert "CartesianProduct" not in plan


def test_forecast_revenue_zero_join_full_pushdown(spark, sf_dir):
    plan = formatted_plan(_CATALOG["forecast_revenue"][0](spark, sf_dir))
    assert "Join" not in plan and "Exchange hashpartitioning" not in plan
    m = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any(
        "l_shipdate" in f and "l_discount" in f and "l_quantity" in f
        for f in m
    ), "all three predicates must reach the scan"


def test_important_parts_reuses_value_exchange(spark, sf_dir):
    # the scalar-average branch must ride pv's shuffle, not rescan
    plan = _final_plan(spark, sf_dir, "important_parts")
    assert "ReusedExchange" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row scalar broadcast
    assert "CartesianProduct" not in plan
    # and no unpartitioned window over the part aggregate
    assert "Window" not in plan


def test_parts_supplier_rel_anti_join_and_pruning(spark, sf_dir):
    plan = formatted_plan(_CATALOG["parts_supplier_rel"][0](spark, sf_dir))
    assert "LeftAnti" in plan, "excluded suppliers must anti-join"
    assert "BroadcastHashJoin" in plan
    m = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("p_size" in f and "p_brand" in f for f in m), (
        "part filters must prune the part scan before the join"
    )


def test_discounted_revenue_channel_inside_join(spark, sf_dir):
    plan = formatted_plan(_CATALOG["discounted_revenue"][0](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert plan.count("lineitem.parquet") == 1
    m = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    # implied superset predicates prune BOTH scans
    assert any("In(p_brand" in f for f in m)
    assert any("l_quantity" in f for f in m), (
        "the OR'd quantity bands must reach the lineitem scan"
    )


def test_promo_suppliers_reuses_volume_exchange(spark, sf_dir):
    plan = _final_plan(spark, sf_dir, "promo_suppliers")
    assert "ReusedExchange" in plan
    m = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("StringStartsWith(p_name,red)" in f for f in m)
    assert any("l_shipdate" in f for f in m)
    assert "CartesianProduct" not in plan


def test_waiting_suppliers_no_self_join_blowup(spark, sf_dir):
    # the EXISTS/NOT-EXISTS pair is decorrelated to keyed aggregates —
    # lineitem must appear exactly once as a live scan (the second
    # occurrence is subsumed by exchange reuse) and never self-join
    plan = _final_plan(spark, sf_dir, "waiting_suppliers")
    assert "ReusedExchange" in plan
    m = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("EqualTo(o_orderstatus,F)" in f for f in m)
    assert "CartesianProduct" not in plan
