"""The engine's request path over a SnapshotStore-backed table: how
many Spark jobs each route launches, and the exactness of the
envelope's total_count, which rides on the collecting job.

Job counts are read per route from a private job group through
``statusTracker()``, after draining the listener bus that feeds it.
With AQE on, a shuffle's map side runs as its own job, so one
aggregation with a shuffle counts 2.
"""

from __future__ import annotations

import itertools
import json

import pytest
from pyspark.sql import functions as F

from aws_csp_datapipeline_spark.engine import CSP_TOOLS_SCHEMA, CspToolsEngine
from aws_csp_datapipeline_spark.sources.sinks import json_envelope
from aws_csp_datapipeline_spark.sources.snapshot_store import SnapshotStore

N_ROWS = 40
_groups = itertools.count()


def _rows():
    return [
        {
            "s_no": i,
            "team_name": ["FCS", "GCSS", "CMS", None][i % 4],
            "tool_name": f"tool_{i}",
            "description": f"desc {i}" if i % 5 else None,
            "tool_script": ["Script", "Tool", "Dashboard"][i % 3],
            "created_date": "2021-01-01",
            "active_inactive": ["Active", "Inactive", "N/A"][i % 3],
            "can_be_reused_across_csp_teams": ["yes", "No", "Yes", "no"][i % 4],
            "login": ["aravran", "sasanjay"][i % 2],
            "is_display": i % 7 != 0,  # some rows soft-deleted
        }
        for i in range(1, N_ROWS + 1)
    ]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    s = SnapshotStore(str(tmp_path_factory.mktemp("csp_tools")))
    s.commit(spark.createDataFrame(_rows(), CSP_TOOLS_SCHEMA), expected_version=0)
    return s


@pytest.fixture()
def engine(spark, store):
    return CspToolsEngine(spark, store.read(spark))


def jobs_of(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"request-path-{next(_groups)}"
    sc.setJobGroup(group, "request-path job budget")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# ------------------------------------------------------------ job budget


def test_snapshot_read_launches_no_job(spark, store):
    df, jobs = jobs_of(spark, lambda: store.read(spark))
    assert jobs == 0
    assert df.columns == [f.name for f in CSP_TOOLS_SCHEMA]


@pytest.mark.parametrize("route", [{"s_no": 8}, {"s_no": 7}, {"login": "aravran"}])
def test_ordered_envelope_is_one_job(spark, engine, route):
    env, jobs = jobs_of(spark, lambda: json.loads(engine.get_tools_envelope(**route)))
    assert jobs == 1
    assert env["total_count"] == engine.get_tools(**route).count()


def test_dashboard_is_at_most_three_jobs(spark, engine):
    out, jobs = jobs_of(
        spark, lambda: {k: v.collect() for k, v in engine.dashboard().items()}
    )
    assert jobs <= 3
    assert set(out) == {"by_tool_script", "by_team", "by_reused", "team_by_active", "detail"}


def test_dashboard_matches_per_chart_group_bys(engine):
    """The one-pass charts equal the per-chart group-bys they replace,
    NULL groups and active_inactive values outside the pivot included."""
    from aws_csp_datapipeline_spark.operators import relational as R

    v = R.visible(engine.table)
    dash = engine.dashboard()

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    for name, key in [
        ("by_tool_script", "tool_script"),
        ("by_team", "team_name"),
        ("by_reused", "can_be_reused_across_csp_teams"),
    ]:
        assert rows(dash[name]) == rows(R.group_count(v, [key]))
        assert dash[name].columns == [key, "cnt"]
    pivot = R.pivot_count(v, "team_name", "active_inactive", ["Active", "Inactive"])
    assert rows(dash["team_by_active"]) == rows(pivot.na.fill(0, ["Active", "Inactive"]))
    assert dash["team_by_active"].columns == ["team_name", "Active", "Inactive"]


def test_create_check_is_at_most_two_jobs(spark, engine):
    res, jobs = jobs_of(spark, lambda: engine.create_tool({"tool_name": "brand_new"}))
    assert res.status == 201 and res.s_no == N_ROWS + 1
    assert jobs <= 2
    dup, jobs = jobs_of(spark, lambda: engine.create_tool({"tool_name": "tool_3"}))
    assert dup.status == 400
    assert jobs <= 2


@pytest.mark.parametrize("route", ["update", "delete"])
def test_guarded_mutation_probe_is_one_job(spark, engine, route):
    def call():
        if route == "update":
            return engine.update_tool(5, {"description": "x"})
        return engine.delete_tool(5)

    res, jobs = jobs_of(spark, call)
    assert res.status == 200
    assert jobs == 1


def test_request_path_plans_have_no_python_rdd(spark, store, engine):
    created = engine.create_tool({"tool_name": "plan_probe"}).engine.table
    plans = {
        "read": store.read(spark),
        "get": engine.get_tools(login="aravran"),
        "create": created,
        "update": engine.update_tool(5, {"description": "x"}).engine.table,
        "delete": engine.delete_tool(5).engine.table,
        **{f"dashboard.{k}": v for k, v in engine.dashboard().items()},
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, f"{name} scans a Python RDD:\n{plan}"


def test_committed_create_round_trips(spark, tmp_path):
    """A create committed through the store reads back with its
    assigned key and every field the request gave."""
    s = SnapshotStore(str(tmp_path))
    s.commit(spark.createDataFrame(_rows(), CSP_TOOLS_SCHEMA), expected_version=0)
    rec = {"tool_name": "committed", "team_name": "CCS", "login": "jdoe"}
    s.mutate(spark, lambda t: CspToolsEngine(spark, t).create_tool(rec).engine.table)
    row = CspToolsEngine(spark, s.read(spark)).get_tools(s_no=N_ROWS + 1).head()
    assert row["tool_name"] == "committed" and row["team_name"] == "CCS"
    assert row["login"] == "jdoe" and row["description"] is None
    assert row["is_display"] is True


# ------------------------------------------------------------ envelope count


@pytest.mark.parametrize(
    "kwargs",
    [
        {"limit": 0, "order_by": "s_no"},
        {"limit": 5, "order_by": "s_no"},
        {"limit": 5, "order_by": ["team_name", "s_no"]},
        {"limit": 5},
        {"limit": None, "allow_full_collect": True},
        {"limit": None, "allow_full_collect": True, "order_by": "s_no"},
    ],
)
def test_envelope_total_count_is_exact(store, spark, kwargs):
    df = store.read(spark)
    env = json.loads(json_envelope(df, **kwargs))
    assert env["total_count"] == df.count() == N_ROWS
    limit = kwargs["limit"]
    assert len(env["records"]) == (N_ROWS if limit is None else limit)


def test_envelope_count_on_presorted_input(spark):
    """An input already sorted on the order key must still be counted
    in full, not just the rows the top-K reads of each partition."""
    df = spark.range(0, 100, 1, 4).withColumn("v", F.col("id") % 3).orderBy("id")
    env = json.loads(json_envelope(df, limit=5, order_by="id"))
    assert env["total_count"] == 100
    assert [r["id"] for r in env["records"]] == [0, 1, 2, 3, 4]


def test_envelope_ordered_prefix_matches_column_sort(store, spark):
    df = store.read(spark)
    env = json.loads(json_envelope(df, limit=12, order_by=["team_name", "s_no"]))
    expected = [json.loads(r) for r in df.orderBy("team_name", "s_no").limit(12).toJSON().collect()]
    assert env["records"] == expected


@pytest.mark.parametrize("route", [{}, {"login": "aravran"}, {"login": "nobody"}, {"s_no": 14}])
def test_route_envelope_counts_visible_rows(engine, route):
    """Route predicates and the soft-delete filter both hold in the
    observed count (s_no 14 is soft-deleted)."""
    env = json.loads(engine.get_tools_envelope(limit=3, **route))
    expected = engine.get_tools(**route)
    assert env["total_count"] == expected.count()
    assert len(env["records"]) == min(3, env["total_count"])
