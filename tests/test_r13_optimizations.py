"""Round-13 optimization pins.

Each test pins a structural property a round-13 change introduced, so
a later edit (or Spark upgrade) that silently regresses it fails
loudly rather than re-serializing a driver or executor path.
"""

from __future__ import annotations

import os
import shutil
import time

import pytest

from aws_csp_datapipeline_spark import catalog
from aws_csp_datapipeline_spark.plans.registry import queries


@pytest.fixture()
def no_aqe(spark):
    """ReuseExchange runs at plan time only without AQE (with AQE the
    same dedup happens at runtime, stage-level, via the canonicalized
    stage cache — not visible in a static plan string)."""
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.adaptive.enabled", old)


class TestLoadTableMemo:
    """load_table returns a per-session memoized plan handle: repeated
    reads of an unchanged path must not re-pay the JVM round-trip +
    footer schema inference (measured ~90 ms/call, 82 calls per
    headline registry pass), while a REWRITTEN path must get a fresh
    relation (stat-stamped key)."""

    def test_same_path_same_handle(self, spark, tmp_path):
        df = spark.range(5).selectExpr("id", "id * 2 as v")
        p = tmp_path / "t.parquet"
        df.write.parquet(str(p))
        a = catalog.load_table(spark, str(tmp_path), "t")
        b = catalog.load_table(spark, str(tmp_path), "t")
        assert a is b

    def test_rewrite_invalidates(self, spark, tmp_path):
        p = tmp_path / "t.parquet"
        spark.range(3).write.parquet(str(p))
        a = catalog.load_table(spark, str(tmp_path), "t")
        assert a.count() == 3
        time.sleep(0.02)  # ensure a distinct mtime_ns stamp
        shutil.rmtree(str(p))
        spark.range(7).write.parquet(str(p))
        b = catalog.load_table(spark, str(tmp_path), "t")
        assert b is not a
        assert b.count() == 7

    def test_memo_is_per_session_object(self, spark, tmp_path):
        """A different SparkSession wrapper must not share handles:
        plan objects are bound to the session that created them."""
        p = tmp_path / "t.parquet"
        spark.range(4).write.parquet(str(p))
        a = catalog.load_table(spark, str(tmp_path), "t")
        other = spark.newSession()
        b = catalog.load_table(other, str(tmp_path), "t")
        assert a is not b
        assert b.count() == 4

    def test_memo_hit_still_forces_utc_for_events(self, spark, sf_smoke):
        """A session time zone changed after the first events load must
        not shift event times on a memo hit: a query built on the
        memoized relation renders ``ts`` in the session's zone, so
        load_table must re-force UTC on every call."""
        from pyspark.sql import functions as F

        def times(df):
            ts = df.orderBy("event_id").select(F.col("ts").cast("string"))
            return [r[0] for r in ts.limit(20).collect()]

        tz = spark.conf.get("spark.sql.session.timeZone")
        try:
            before = times(catalog.load_table(spark, sf_smoke, "events"))
            spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
            after = times(catalog.load_table(spark, sf_smoke, "events"))
        finally:
            spark.conf.set("spark.sql.session.timeZone", tz)
        assert after == before


class TestZeroEagerJobsAtPlanBuild:
    """VERDICT r12 item 9: building every headline DataFrame must
    launch ZERO Spark jobs — a hidden eager action at plan build
    (d3's former count(), er2/er3's former preflight aggregate) is a
    full input scan per invocation at 100 TB. All remaining knobs
    read parquet footer metadata driver-side instead."""

    def test_headline_builds_launch_no_jobs(self, spark, sf_oracle):
        import bench
        from aws_csp_datapipeline_spark.plans.registry import queries as qreg

        qs = qreg()
        sc = spark.sparkContext
        # One warm pass first: Spark fires a tiny footer job per
        # FIRST read.parquet of a path, and s1 fetches its scalar
        # query vector once — both one-time per-session costs now
        # that load_table / query_vector memoize. The pin is that a
        # REPEAT build (what every bench rep after the first pays)
        # launches nothing.
        for name in bench.HEADLINE:
            if name in qs:
                qs[name](spark, sf_oracle)
        group = "r13-plan-build-probe"
        sc.setJobGroup(group, "plan build must stay lazy")
        try:
            for name in bench.HEADLINE:
                if name in qs:
                    qs[name](spark, sf_oracle)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        ids = sc.statusTracker().getJobIdsForGroup(group)
        assert list(ids) == [], (
            f"headline plan builds launched Spark jobs {sorted(ids)} — "
            "an eager action crept into a builder (replace it with "
            "footer metadata via catalog.table_row_count)"
        )


class TestEr3SharedLaneSubexpressions:
    """The lv1 lane keys are 3-piece concat_ws over SHARED prefix /
    content columns computed once per row in a projection that must
    stay ABOVE the round-robin spread (below it the shared work would
    serialize onto the single-task scan) and BELOW the explode (the
    whole point: 37 lanes reuse 15 sub-expressions)."""

    def test_shared_projection_above_spread_below_generate(
        self, spark, sf_oracle
    ):
        df = queries()["er3_indel_complete_matches"](spark, sf_oracle)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        lines = plan.splitlines()

        gen = next(
            i for i, ln in enumerate(lines)
            if "explode(array_distinct(" in ln
        )
        # parents print before children: directly under the lane
        # explode sits the shared projection, directly under that the
        # round-robin spread (the cached subtree embeds the physical
        # plan, so the spread prints as a RoundRobin Exchange)
        assert " AS _g_p2" in lines[gen + 1], lines[gen + 1][:300]
        assert (
            "RoundRobin" in lines[gen + 2] or "Repartition" in lines[gen + 2]
        ), lines[gen + 2][:300]
