"""Read/query surface: projections, filters, aggregates, sorts, joins.

Re-expresses the reference's query surface (SURVEY.md §2.2-2.6) as
declarative DataFrame transforms. Catalyst provides predicate pushdown,
column pruning, TakeOrderedAndProject top-k, and the EXISTS→semi-join
rewrite for free (SURVEY.md §4.1) — the functions here exist to name
the semantics, keep aliases oracle-stable, and pick scale-correct
physical hints (broadcast for dimension joins).

Reference parity citations are per-function (file:line into
/root/reference/).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------- filters

def visible(df: DataFrame, flag: str = "is_display") -> DataFrame:
    """Soft-delete visibility view: every read path in the reference
    filters ``WHERE is_display = TRUE`` (lambda/lambda_function.py:31,
    693, 773). The logical table is this view over the physical one.
    """
    return df.filter(F.col(flag))


def point_lookup(df: DataFrame, key: str, value) -> DataFrame:
    """Equality filter on a numeric key — ``WHERE s_no = k``
    (lambda/lambda_function.py:693; sql/ddl_create_tables.sql:35).
    Pushed to the parquet scan → row-group min/max skipping at scale.
    """
    return df.filter(F.col(key) == F.lit(value))


def filter_eq(df: DataFrame, col: str, value) -> DataFrame:
    """String equality filter — ``WHERE login='x'``
    (lambda/lambda_function.py:773; sql/ddl_create_tables.sql:54).
    """
    return df.filter(F.col(col) == F.lit(value))


def filter_and(df: DataFrame, *preds: Column) -> DataFrame:
    """Conjunctive predicate — ``WHERE s_no=k AND is_display=TRUE``
    (lambda/lambda_function.py:693). Spark splits conjuncts and pushes
    each independently.
    """
    out = df
    for p in preds:
        out = out.filter(p)
    return out


def contains_ci(df: DataFrame, col: str, needle: str) -> DataFrame:
    """Case-insensitive substring match —
    ``WHERE upper(team_name) LIKE '%GCSS%'``
    (sql/ddl_create_tables.sql:70).
    """
    return df.filter(F.upper(F.col(col)).like(f"%{needle.upper()}%"))


# ------------------------------------------------- existence / semi / anti

def exists_semi(probe: DataFrame, table: DataFrame, key: str | list[str]) -> DataFrame:
    """EXISTS as a relational op: rows of ``probe`` with a match in
    ``table`` — the reference's existence checks
    (``check_tool_exists`` lambda/lambda_function.py:169-211,
    ``check_s_no_exists`` :650-684) done as one distributed semi-join
    instead of a per-key round-trip.
    """
    return probe.join(table, key, "left_semi")


def not_exists_anti(probe: DataFrame, table: DataFrame, key: str | list[str]) -> DataFrame:
    """NOT EXISTS / insert-if-absent guard
    (``check_And_Insert`` lambda/lambda_function.py:342-364) as an
    anti-join.
    """
    return probe.join(table, key, "left_anti")


def exists_flag(df: DataFrame, pred: Column) -> DataFrame:
    """Scalar ``SELECT EXISTS(SELECT 1 FROM t WHERE pred)``
    (lambda/lambda_function.py:172-178) — one boolean row.
    ``limit(1)`` short-circuits the scan.
    """
    return (
        df.filter(pred)
        .limit(1)
        .agg((F.count(F.lit(1)) > 0).alias("exists_flag"))
    )


# ------------------------------------------------------------- aggregates

def scalar_max(df: DataFrame, col: str, alias: str = "max_val") -> DataFrame:
    """Ungrouped MAX — high-water key fetch ``SELECT MAX(s_no)``
    (lambda/lambda_function.py:299). Partial-aggregated map-side; no
    full shuffle.
    """
    return df.agg(F.max(col).alias(alias))


def summary_stats(df: DataFrame, col: str) -> DataFrame:
    """``SELECT MIN(s_no), MAX(s_no), count(*)``
    (sql/ddl_create_tables.sql:64).
    """
    return df.agg(
        F.min(col).alias("min_val"),
        F.max(col).alias("max_val"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def total_count(df: DataFrame) -> DataFrame:
    """KPI total_count of visible records
    (lambda/lambda_function.py:98, 817; README.md:88)."""
    return df.agg(F.count(F.lit(1)).alias("total_count"))


def group_count(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Group-by count (1 or 2 keys) — the QuickSight pie/bar charts
    (quicksight PNG; README.md:87-90). Map-side partial aggregation
    then one shuffle on the group keys.
    """
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))


def pivot_count(
    df: DataFrame, row_key: str, pivot_key: str, pivot_vals: Sequence[str]
) -> DataFrame:
    """Chart form of the 2-key group-by: ``groupBy(a).pivot(b).count()``
    (dashboard top-right grouped bar). Explicit pivot values → single
    pass, no extra distinct-values job.
    """
    return (
        df.groupBy(row_key)
        .pivot(pivot_key, list(pivot_vals))
        .agg(F.count(F.lit(1)))
    )


def next_serial_key(df: DataFrame, key: str) -> DataFrame:
    """``COALESCE(MAX(s_no),0)+1`` — the serial-key assignment scalar
    (lambda/lambda_function.py:269-271), with the empty-table edge.
    """
    return df.agg(
        (F.coalesce(F.max(key), F.lit(0)) + F.lit(1)).alias("next_key")
    )


# ------------------------------------------------------- sorts and top-k

def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """filter→ORDER BY→LIMIT (sql/ddl_create_tables.sql:69-72). Spark
    plans TakeOrderedAndProject: per-partition heaps, no global sort —
    the scale-correct top-k.
    """
    return df.orderBy(*order).limit(k)


# ---------------------------------------------------------------- joins

def broadcast_join(
    fact: DataFrame, dim: DataFrame, on: str | list[str], how: str = "inner"
) -> DataFrame:
    """Dimension join with an explicit broadcast hint — the star-schema
    joins implied by README.md:116 ("Add more tables for dimensional
    modelling"). Broadcasting the small side removes the shuffle of the
    fact table entirely.
    """
    return fact.join(F.broadcast(dim), on, how)
