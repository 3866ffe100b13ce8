"""Plan-shape pins for the round-12 optimization work.

Each test pins a structural property an optimization established, so a
regression fails the suite instead of silently re-serializing a stage
or re-duplicating a pipeline:

* er2's self-join sides are CANONICALLY IDENTICAL, so the sorted lane
  exchange is computed once (round 11 computed the whole
  scan→distinct→lanes→sizes pipeline twice — zero ReusedExchange).
* ``gate_after_spread`` keeps an expensive gate predicate ABOVE a
  round-robin spread (Catalyst pushes deterministic conjuncts through
  RepartitionOperation, dragging the gate back into the single-task
  scan stage), while the control shows the push DOES happen without
  the pin — if a Spark upgrade changes either behavior, we learn here.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_csp_datapipeline_spark.parallelism import gate_after_spread
from aws_csp_datapipeline_spark.plans.registry import queries


@pytest.fixture()
def no_aqe(spark):
    """ReuseExchange runs at plan time only without AQE (with AQE the
    same dedup happens at runtime, stage-level, where it is not
    visible in a static plan string)."""
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.adaptive.enabled", old)


def test_er2_lane_exchange_is_reused(no_aqe, sf_oracle):
    df = queries()["er2_scale_safe_matches"](no_aqe, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, (
        "er2's fk self-join sides must stay canonically identical "
        "(alias every column on BOTH sides, join on fk + block cols) "
        "so the lane pipeline is computed once — see "
        "linkage._candidate_name_pairs_sql"
    )
    # the lane Generate (the ×9 explode) must appear exactly once —
    # a second one means a side stopped reusing and rebuilt the lanes
    # — and the subkeys Generate (the over-cap split explode, a CASE
    # WHEN over the window count) exactly once for the same reason
    assert plan.count("Generate explode(array(named_struct(k,") == 1, plan
    assert plan.count("Generate explode(") == 2


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _line_of(plan: str, needle: str) -> int:
    for i, ln in enumerate(plan.splitlines()):
        if needle in ln:
            return i
    raise AssertionError(f"{needle!r} not in plan:\n{plan}")


def test_gate_after_spread_stays_above_repartition(spark):
    src = spark.range(100).select(
        F.col("id"), F.concat(F.lit("x"), F.col("id")).alias("s")
    )
    gate = F.length(F.reverse(F.col("s"))) > 1
    pinned = src.repartition(8).filter(gate_after_spread(gate))
    plan = _optimized(pinned)
    # parents print before children: the gate Filter must sit ABOVE
    # (= earlier line than) the round-robin Repartition
    assert _line_of(plan, "reverse(") < _line_of(plan, "Repartition")


def test_unpinned_gate_is_pushed_below_repartition(spark):
    """Control: Catalyst DOES push a bare deterministic gate through
    the repartition — the behavior gate_after_spread exists to stop.
    If a Spark upgrade stops pushing, the pin becomes unnecessary;
    this test failing is the signal to re-evaluate both."""
    src = spark.range(100).select(
        F.col("id"), F.concat(F.lit("x"), F.col("id")).alias("s")
    )
    gate = F.length(F.reverse(F.col("s"))) > 1
    plain = src.repartition(8).filter(gate)
    plan = _optimized(plain)
    assert _line_of(plan, "reverse(") > _line_of(plan, "Repartition")


def test_gate_after_spread_changes_no_rows(spark):
    src = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("m")
    )
    cond = F.col("m") < 3
    a = sorted(r.id for r in src.filter(cond).collect())
    b = sorted(
        r.id for r in src.repartition(8).filter(gate_after_spread(cond)).collect()
    )
    assert a == b
