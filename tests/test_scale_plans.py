"""Scale-safety regression tests for the TPC-H-shaped plans.

Round-4 review finding: ~10 plans carried ``F.broadcast()`` hints on
sf-scaled tables (orders, part, customer, supplier, or joins derived
from them). A hint overrides Spark's size check, so those plans were
executor OOMs at 100× by construction even though they were green at
test scale. The fix: hints remain ONLY on fixed-size dims (nation: 25
rows, region: 5) and 1-row scalar intermediates; every sf-scaled side
is left to the size-based broadcast decision (plan-time file-size
statistics + AQE runtime sizes).

These tests pin that property: with the size-based mechanism disabled
(``spark.sql.autoBroadcastJoinThreshold = -1``), any BroadcastExchange
left in the physical plan can only come from an explicit hint. Plans
that must not hint anything sf-scaled are asserted to contain at most
their known dim/scalar hints — so a reintroduced forced broadcast of a
fact-scale table fails the suite, not a 1000-executor cluster.
"""

from __future__ import annotations

import re

import pytest

from aws_csp_datapipeline_spark.plans.registry import specs


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _broadcast_count(plan: str) -> int:
    return plan.count("BroadcastExchange")


@pytest.fixture(scope="module")
def no_auto_broadcast(spark):
    """Disable size-based broadcast so only explicit hints survive."""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    old = {}
    for k in keys:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, "-1")
    yield spark
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


# (query, max explicit-hint BroadcastExchanges allowed, what the allowance is)
#  - 0: plan joins only sf-scaled tables; any hint is a scale bug.
#  - n>0: the plan hints fixed-size dims (nation/region) or 1-row
#    scalar intermediates, which are broadcast-safe at any sf.
_PLAN_BUDGETS = [
    ("q3_shipping_priority", 0, "customer/orders/lineitem all sf-scaled"),
    ("q10_returned_items", 1, "nation (25 rows)"),
    ("q12_two_case_sums", 0, "lineitem x orders fact-to-fact"),
    ("q14_promo_ratio", 0, "part is sf-scaled"),
    ("q19_disjunctive_filter", 0, "part is sf-scaled"),
    ("q20_excess_shippers", 0, "part + HAVING survivors both sf-bounded"),
    ("q5_revenue_by_nation", 2, "region, nation x region"),
    ("q7_volume_by_year", 1, "nation"),
    ("q8_market_share", 1, "nation"),
    ("q9_profit_by_nation_year", 1, "nation"),
    ("q15_top_supplier", 1, "1-row scalar max"),
    ("q11_important_stock", 1, "1-row scalar threshold"),
    # round-5 sweep beyond the TPC-H block: sides that grow with the
    # data (near-dup group labels, per-user cohorts, versioned dims)
    # must not be hint-broadcast either.
    ("d8_redundancy_by_source", 0, "redundant-doc set grows with corpus"),
    ("fun2_retention", 0, "cohort table is one row per user"),
    # m12: the 2 allowed hints are scd2_apply's on the per-batch CDC
    # update set (bounded per batch by contract); the versioned DIM
    # side of pit_lookup itself is unhinted (broadcast_dim=False).
    ("m12_pit_lookup", 2, "SCD2 change batch, bounded per CDC batch"),
    # round-6 additions: both sides of d10's cell pair join and the
    # corpus side of tt11 grow with the data — no hints allowed.
    ("d10_semdedup", 0, "embeddings are sf-scaled on both join sides"),
    ("tt11_deterministic_shuffle", 0, "pure narrow + per-batch window"),
]


@pytest.mark.parametrize(
    "name,budget,why", _PLAN_BUDGETS, ids=[p[0] for p in _PLAN_BUDGETS]
)
def test_no_forced_broadcast_of_sf_scaled_tables(
    no_auto_broadcast, sf_oracle, name, budget, why
):
    spark = no_auto_broadcast
    by_name = {s.name: s for s in specs()}
    df = by_name[name].fn(spark, sf_oracle)
    plan = _physical_plan(df)
    got = _broadcast_count(plan)
    assert got <= budget, (
        f"{name}: {got} BroadcastExchange nodes with size-based broadcast "
        f"disabled, but only {budget} explicit hint(s) are scale-safe "
        f"({why}). A forced broadcast of an sf-scaled table has been "
        f"reintroduced:\n{plan}"
    )


def test_auto_broadcast_still_kicks_in_at_test_scale(spark, sf_oracle):
    """Sanity for the other direction: with the size-based mechanism
    ON, small-at-runtime sides DO broadcast (we did not trade the OOM
    bug for permanently shuffling tiny tables). The threshold is set
    explicitly because the no_auto_broadcast module fixture may still
    be active (module-scope teardown runs after every test here)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    try:
        by_name = {s.name: s for s in specs()}
        df = by_name["q3_shipping_priority"].fn(spark, sf_oracle)
        plan = _physical_plan(df)
        assert _broadcast_count(plan) >= 1, (
            "q3 at sf0.01 should auto-broadcast its small sides via "
            f"statistics; got none:\n{plan}"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_results_unchanged_by_join_strategy(spark, sf_oracle):
    """The join-strategy change is physical only: q3's rows are
    identical with and without size-based broadcast, and with
    sort-merge join preferred through ``spark.conf.set`` (how a
    deployment reverts the session's shuffled-hash preference). Both
    thresholds are pinned explicitly for EACH run — the
    no_auto_broadcast module fixture may still have broadcast disabled
    when this test runs, so relying on the ambient value would make
    the comparison vacuous (both runs broadcast-free)."""
    by_name = {s.name: s for s in specs()}
    fn = by_name["q3_shipping_priority"].fn
    smj = "spark.sql.join.preferSortMergeJoin"
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    old = {k: spark.conf.get(k, None) for k in [*keys, smj]}

    def _run(threshold: str):
        for k in keys:
            spark.conf.set(k, threshold)
        return [tuple(r) for r in fn(spark, sf_oracle).collect()]

    try:
        with_auto = _run(str(64 * 1024 * 1024))
        # the with_auto leg must actually broadcast, else this test
        # compares identical physical plans and proves nothing
        plan = _physical_plan(fn(spark, sf_oracle))
        assert _broadcast_count(plan) >= 1, plan
        without_auto = _run("-1")
        spark.conf.set(smj, "true")
        sort_merge = _run("-1")
        plan = _physical_plan(fn(spark, sf_oracle))
        assert "SortMergeJoin" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert with_auto == without_auto == sort_merge


def test_runtime_bloom_filter_injects_into_fact_joins(spark, sf_oracle):
    """Runtime bloom-filter join pruning (default-on in Spark 4) must
    be able to inject into our fact-join plans: with the size
    thresholds relaxed to test scale, q3 gets a might_contain()
    cascade (customer -> orders -> lineitem) on the probe sides, and
    the rows are unchanged. At 100 TB the default thresholds
    (creation side <= 10 MB after filtering, application side scan
    >= 10 GB) fire on exactly these shapes without any query change —
    this test pins that our plans stay runtime-filter-compatible
    (declarative equi-joins on raw key columns, no expression wrapped
    around the join keys, which would defeat the rewrite)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    by_name = {s.name: s for s in specs()}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = by_name["q3_shipping_priority"].fn(spark, sf_oracle)
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert optimized.count("might_contain") >= 2, (
            "expected a runtime bloom-filter cascade in q3's optimized "
            f"plan:\n{optimized}"
        )
        with_bloom = sorted(map(tuple, df.collect()))
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    plain = sorted(
        map(tuple, by_name["q3_shipping_priority"].fn(spark, sf_oracle).collect())
    )
    assert with_bloom == plain
