"""CspToolsEngine — the reference's API surface as a library facade.

Maps the four Lambda routes (lambda/lambda_function.py:15-18) onto the
operator library, each call launching only the Spark jobs its answer
needs instead of submit/poll/paginate round-trips (SURVEY.md §3):

- ``get_tools([s_no|login])``  ← GET  /getTools        (:932-968)
- ``create_tool(record)``      ← POST /createTool      (:1004-1018)
- ``update_tool(s_no, rec)``   ← POST /updateTool      (:1040-1044)
- ``delete_tool(s_no)``        ← POST /deleteTool      (:1029-1035)

State is a snapshot DataFrame; every mutation returns a NEW engine
wrapping the post-state (persist-where-you-like). Status envelopes
(200/201/400/404) become typed results. The wide ``csp_tools`` schema
follows FIXTURES.md §F-A / sql/ddl_create_tables.sql:3-26.

Jobs per route over a ``SnapshotStore`` snapshot (opening one launches
none; AQE runs a shuffle's map side as its own job):

- ``get_tools_envelope``: 1 (records and total_count in one job)
- ``dashboard()`` with all five datasets collected: 3 (2 for the
  single aggregation pass behind the four charts, 1 for ``detail``)
- ``create_tool``: 2 (one aggregate answers both the duplicate check
  and MAX(s_no)), plus 1 to commit
- ``update_tool`` / ``delete_tool``: 1 (the key probe), plus 1 to commit

No route builds a frame from a Python list (``createDataFrame(list)``
puts its rows in a Python-worker RDD): a new row and the dashboard's
small results travel as Arrow tables into JVM ``LocalRelation``s,
which collect without a job.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from aws_csp_datapipeline_spark.operators import crud as M
from aws_csp_datapipeline_spark.operators import relational as R

CSP_TOOLS_SCHEMA = T.StructType(
    [
        T.StructField("s_no", T.LongType(), False),
        T.StructField("team_name", T.StringType()),
        T.StructField("tool_name", T.StringType(), False),
        T.StructField("description", T.StringType()),
        T.StructField("tool_script", T.StringType()),
        T.StructField("created_date", T.StringType()),
        T.StructField("active_inactive", T.StringType()),
        T.StructField("can_be_reused_across_csp_teams", T.StringType()),
        T.StructField("login", T.StringType()),
        T.StructField("is_display", T.BooleanType(), False),
    ]
)
_ARROW_SCHEMA = to_arrow_schema(CSP_TOOLS_SCHEMA)


def _local_tools(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """``csp_tools`` rows as a JVM ``LocalRelation``. The typed Arrow
    build refuses a value of the wrong type (TypeError) instead of
    casting it, as ``createDataFrame``'s schema check did."""
    return spark.createDataFrame(
        pa.Table.from_pylist(rows, schema=_ARROW_SCHEMA), CSP_TOOLS_SCHEMA
    )


@dataclass
class MutationResult:
    """Typed stand-in for the reference's HTTP envelopes."""

    status: int  # 200/201/400/404 per the reference's codes
    engine: "CspToolsEngine"
    s_no: int | None = None
    message: str = ""


class CspToolsEngine:
    def __init__(self, spark: SparkSession, table: DataFrame | None = None):
        self.spark = spark
        self.table = (
            table
            if table is not None
            else _local_tools(spark, [])
        )

    # ------------------------------------------------------------ reads

    def get_tools(self, s_no: int | None = None, login: str | None = None) -> DataFrame:
        """Read path: visibility filter always applies
        (lambda_function.py:31, 693, 773); optional key predicates
        mirror the query-param dispatch (:935-958)."""
        out = R.visible(self.table)
        if s_no is not None:
            out = R.point_lookup(out, "s_no", s_no)
        if login is not None:
            out = R.filter_eq(out, "login", login)
        return out

    def total_count(self) -> int:
        """The envelope's total_count (lambda_function.py:98)."""
        return R.visible(self.table).count()

    def get_tools_envelope(
        self,
        s_no: int | None = None,
        login: str | None = None,
        limit: int | None = 150,
        allow_full_collect: bool = False,
        order_by: str | list[str] | None = "s_no",
    ) -> str:
        """The GET route's actual response shape: the
        ``{total_count, records}`` JSON envelope
        (lambda_function.py:96-102) over the visibility-filtered read.

        End-to-end misuse guard: the default collects at most
        ``limit`` records (the reference's interactive cap is
        LIMIT 150, sql/ddl_create_tables.sql:36) while total_count
        stays distributed; asking for ``limit=None`` without
        ``allow_full_collect=True`` raises — the facade never ships
        an unbounded result to the driver by accident
        (tests/test_engine_crud.py golden). ``order_by`` defaults to
        s_no so a capped envelope is the deterministic ordered prefix
        (the reference's interactive queries ORDER BY s_no,
        sql/ddl_create_tables.sql:71-72)."""
        from aws_csp_datapipeline_spark.sources.sinks import json_envelope

        return json_envelope(
            self.get_tools(s_no=s_no, login=login),
            limit=limit,
            allow_full_collect=allow_full_collect,
            order_by=order_by,
        )

    def summary(self) -> tuple:
        """MIN/MAX/count sanity triple (sql/ddl_create_tables.sql:64)
        over ALL rows (soft-deleted included, as in the reference)."""
        row = R.summary_stats(self.table, "s_no").head()
        return (row["min_val"], row["max_val"], row["n_rows"])

    # ---------------------------------------------------------- mutations

    def create_tool(self, record: dict) -> MutationResult:
        """Insert with uniqueness guard + serial key: duplicate
        tool_name → 400 (check_And_Insert, lambda_function.py:342-352);
        else s_no = COALESCE(MAX,0)+1 — soft-deleted rows still count
        toward MAX (:269-271) — and 201 with the assigned key.

        One eager aggregate answers both questions; the new row is an
        Arrow-built local frame already carrying its key, so the commit
        scans the table once more and nothing else. A None tool_name
        raises ValueError and a non-string field TypeError."""
        if record.get("tool_name") is None:
            raise ValueError("tool_name is required and may not be None")
        check = self.table.agg(
            F.bool_or(F.col("tool_name") == F.lit(record["tool_name"])).alias("exists"),
            F.coalesce(F.max("s_no"), F.lit(0)).alias("max_key"),
        ).head()
        if check["exists"]:
            return MutationResult(400, self, message="tool_name already exists")
        s_no = check["max_key"] + 1
        values = {f.name: record.get(f.name) for f in CSP_TOOLS_SCHEMA}
        values.update(s_no=s_no, is_display=True)
        new_row = _local_tools(self.spark, [values])
        merged = self.table.unionByName(new_row.select(*self.table.columns))
        return MutationResult(201, CspToolsEngine(self.spark, merged), s_no=s_no)

    def update_tool(self, s_no: int, updates: dict) -> MutationResult:
        """Guarded keyed update: absent key → 404 (check_And_Update,
        lambda_function.py:468-475); else only the provided fields
        change (:412-421)."""
        if not self._key_exists(s_no):
            return MutationResult(404, self, message=f"s_no {s_no} not found")
        out = M.update_by_key(self.table, "s_no", s_no, updates)
        return MutationResult(200, CspToolsEngine(self.spark, out), s_no=s_no)

    def delete_tool(self, s_no: int, hard: bool = False) -> MutationResult:
        """Guarded delete: soft by default (is_display=FALSE,
        soft_delete_tool :553-557), hard as the analyst path
        (sql/ddl_create_tables.sql:61-62)."""
        if not self._key_exists(s_no):
            return MutationResult(404, self, message=f"s_no {s_no} not found")
        out = (
            M.hard_delete(self.table, "s_no", s_no)
            if hard
            else M.soft_delete(self.table, "s_no", s_no)
        )
        return MutationResult(200, CspToolsEngine(self.spark, out), s_no=s_no)

    def _key_exists(self, s_no: int) -> bool:
        return not self.table.filter(F.col("s_no") == s_no).isEmpty()

    # ---------------------------------------------------------- analytics

    def dashboard(self) -> dict[str, DataFrame]:
        """The QuickSight dashboard's five datasets
        (quicksight/Quicksight Dashboard.png; README.md:87-90), over
        visible rows only:

        1. count by tool_script (pie)
        2. count of tools by team (pie)
        3. count by can_be_reused flag (pie, case drift preserved as
           the dashboard shows all four spellings as distinct groups)
        4. team × active_inactive counts (grouped bar → pivot)
        5. the 6-column detail table projection

        The four charts come from ONE aggregation pass — one grouping
        set per pie chart, each row also counting Active/Inactive for the
        pivot — and are returned as local frames (collecting them
        launches no job). ``detail`` stays lazy."""
        v = R.visible(self.table)
        by = ["tool_script", "team_name", "can_be_reused_across_csp_teams"]
        ai = F.col("active_inactive")
        counts = v.groupingSets([[c] for c in by], *by).agg(
            # the one column this row's grouping set groups by
            F.coalesce(*[F.when(F.grouping(c) == 0, F.lit(c)) for c in by]).alias("set"),
            F.count(F.lit(1)).alias("cnt"),
            F.count_if(ai == "Active").alias("Active"),
            F.count_if(ai == "Inactive").alias("Inactive"),
        )
        # Back to the JVM as a LocalRelation: filtering and collecting it
        # is folded on the driver, no job.
        charts = self.spark.createDataFrame(counts.toArrow(), counts.schema)

        def chart(key: str, *cols: str) -> DataFrame:
            return charts.filter(F.col("set") == key).select(key, *cols)

        return {
            "by_tool_script": chart("tool_script", "cnt"),
            "by_team": chart("team_name", "cnt"),
            "by_reused": chart("can_be_reused_across_csp_teams", "cnt"),
            "team_by_active": chart("team_name", "Active", "Inactive"),
            "detail": v.select(
                "s_no", "team_name", "tool_name", "active_inactive",
                "created_date", "can_be_reused_across_csp_teams",
            ),
        }
