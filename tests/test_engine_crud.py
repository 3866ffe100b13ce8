"""FIXTURES.md §F-D golden CRUD sequence, run against the engine
facade — the reference's documented lifecycle semantics:

1. insert new unique tool_name → s_no = COALESCE(MAX,0)+1
2. insert duplicate tool_name → 400, state unchanged
3. update s_no=5 → only those fields change
4. soft-delete s_no=3 → hidden from reads, still counted in MAX
5. hard-delete s_no=7 → gap; next insert still MAX+1
6. update/delete non-existent s_no=99 → 404, no-op
7. insert into EMPTY table → s_no=1 (COALESCE edge)
"""

import pytest

from aws_csp_datapipeline_spark.engine import CSP_TOOLS_SCHEMA, CspToolsEngine


def _seed(spark, n=10):
    rows = [
        {
            "s_no": i,
            "team_name": ["FCS", "GCSS", "CMS"][i % 3],
            "tool_name": f"tool_{i}",
            "description": f"desc {i}",
            "tool_script": ["Script", "Tool", "Dashboard", "Cradle Job"][i % 4],
            "created_date": "23-Dec",
            "active_inactive": "Active" if i % 2 else "Inactive",
            "can_be_reused_across_csp_teams": "yes" if i % 2 else "No",
            "login": "aravran" if i % 2 else "sasanjay",
            "is_display": True,
        }
        for i in range(1, n + 1)
    ]
    return CspToolsEngine(spark, spark.createDataFrame(rows, CSP_TOOLS_SCHEMA))


@pytest.fixture(scope="module")
def seeded(spark):
    return _seed(spark)


def test_step1_insert_assigns_max_plus_one(seeded):
    res = seeded.create_tool({"tool_name": "tool_new", "team_name": "CCS"})
    assert res.status == 201 and res.s_no == 11
    assert res.engine.total_count() == 11


def test_step2_duplicate_insert_rejected(seeded):
    res = seeded.create_tool({"tool_name": "tool_5"})
    assert res.status == 400
    assert res.engine.total_count() == 10  # unchanged


def test_step3_update_changes_only_given_fields(seeded):
    res = seeded.update_tool(5, {"description": "UPDATED"})
    assert res.status == 200
    row = res.engine.get_tools(s_no=5).head()
    assert row["description"] == "UPDATED"
    assert row["tool_name"] == "tool_5"  # untouched


def test_step4_soft_delete_hides_but_counts_in_max(seeded):
    res = seeded.delete_tool(3)
    assert res.status == 200
    eng = res.engine
    assert eng.get_tools(s_no=3).count() == 0          # hidden from reads
    assert eng.total_count() == 9
    assert eng.summary() == (1, 10, 10)                # still physically present
    nxt = eng.create_tool({"tool_name": "tool_after_sd"})
    assert nxt.s_no == 11                              # MAX counts hidden rows


def test_step5_hard_delete_leaves_gap(seeded):
    res = seeded.delete_tool(7, hard=True)
    eng = res.engine
    assert eng.summary() == (1, 10, 9)                 # row 7 gone
    nxt = eng.create_tool({"tool_name": "tool_after_hd"})
    assert nxt.s_no == 11                              # still MAX+1, gap remains
    keys = {r["s_no"] for r in nxt.engine.get_tools().collect()}
    assert 7 not in keys and 11 in keys


def test_step6_missing_key_is_404_noop(seeded):
    assert seeded.update_tool(99, {"description": "x"}).status == 404
    assert seeded.delete_tool(99).status == 404
    assert seeded.total_count() == 10


def test_step7_empty_table_first_key_is_one(spark):
    eng = CspToolsEngine(spark)
    res = eng.create_tool({"tool_name": "first"})
    assert res.status == 201 and res.s_no == 1


@pytest.mark.parametrize(
    "record, error",
    [
        ({"tool_name": None, "team_name": "CCS"}, ValueError),  # non-nullable key
        ({"tool_name": "tool_typed", "team_name": 5}, TypeError),  # not a string
    ],
)
def test_create_refuses_record_outside_schema(seeded, record, error):
    """POST /createTool's body is outside input: a None tool_name or a
    wrongly typed field is refused, never committed or cast."""
    with pytest.raises(error):
        seeded.create_tool(record)
    assert seeded.total_count() == 10


def test_dashboard_datasets(seeded):
    """The five QuickSight chart datasets (dashboard PNG shapes) over
    the seeded table, cross-checked against hand counts."""
    dash = seeded.dashboard()
    by_team = {r["team_name"]: r["cnt"] for r in dash["by_team"].collect()}
    assert by_team == {"FCS": 3, "GCSS": 4, "CMS": 3}
    by_script = {r["tool_script"]: r["cnt"] for r in dash["by_tool_script"].collect()}
    assert sum(by_script.values()) == 10
    pivot = {r["team_name"]: (r["Active"], r["Inactive"])
             for r in dash["team_by_active"].collect()}
    assert sum(a + i for a, i in pivot.values()) == 10
    assert dash["detail"].columns == [
        "s_no", "team_name", "tool_name", "active_inactive",
        "created_date", "can_be_reused_across_csp_teams",
    ]
    # soft-deleted rows disappear from every dashboard dataset
    eng2 = seeded.delete_tool(1).engine
    assert sum(r["cnt"] for r in eng2.dashboard()["by_team"].collect()) == 9


def test_envelope_route_caps_collect_and_refuses_unbounded(seeded):
    """Golden for the API-misuse loop: the GET route's envelope caps
    the driver collect at `limit` while total_count stays distributed,
    and an unbounded collect must be opted into explicitly — the
    facade end-to-end, not just json_envelope's own guard."""
    import json

    env = json.loads(seeded.get_tools_envelope(limit=3))
    assert env["total_count"] == 10  # distributed count, not len(records)
    assert len(env["records"]) == 3

    with pytest.raises(ValueError, match="allow_full_collect"):
        seeded.get_tools_envelope(limit=None)

    env_all = json.loads(
        seeded.get_tools_envelope(limit=None, allow_full_collect=True)
    )
    assert len(env_all["records"]) == env_all["total_count"] == 10

    # route predicates still apply inside the envelope
    env_one = json.loads(seeded.get_tools_envelope(s_no=5, limit=150))
    assert env_one["total_count"] == 1
    assert env_one["records"][0]["tool_name"] == "tool_5"


def test_merge_upsert_updates_and_inserts(spark):
    from aws_csp_datapipeline_spark.operators.crud import merge_upsert

    table = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k int, name string, v double"
    )
    # batch lacks the 'v' column: matched row keeps its old v, new row gets NULL
    batch = spark.createDataFrame([(2, "B"), (3, "c")], "k int, name string")
    out = {r["k"]: r for r in merge_upsert(table, batch, "k").collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["name"] == "a" and out[1]["v"] == 10.0  # untouched
    assert out[2]["name"] == "B" and out[2]["v"] == 20.0  # updated, v kept
    assert out[3]["name"] == "c" and out[3]["v"] is None  # inserted, v NULL


def test_apply_cdc_semantics(spark):
    from aws_csp_datapipeline_spark.operators.crud import apply_cdc

    table = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, name string"
    )
    changes = spark.createDataFrame(
        [
            (1, "U", 1, "a1"),   # superseded by seq 2
            (1, "U", 2, "a2"),   # wins
            (2, "D", 1, None),   # delete
            (4, "I", 1, "d"),    # insert new key
            (5, "D", 1, None),   # delete of absent key: no-op
        ],
        "k int, op string, seq int, name string",
    )
    out = {r["k"]: r["name"] for r in apply_cdc(table, changes, "k").collect()}
    assert out == {1: "a2", 3: "c", 4: "d"}
