"""Distributed global ranking primitive: equality with the
single-partition window form on ties-heavy data, determinism across
partition counts, and the absence of a single-partition corpus sort
in the plan."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from aws_csp_datapipeline_spark.functions.rank import (
    exact_ntile,
    global_row_number,
)


def _corpus(spark):
    # many ties in the measure column -> the tie-break does real work
    return spark.range(0, 5_000).select(
        F.col("id"),
        (F.col("id") % 37).alias("v"),
    )


def test_global_row_number_equals_window_form(spark):
    df = _corpus(spark)
    order = [F.desc("v"), F.asc("id")]
    got = {
        r["id"]: r["rn"]
        for r in global_row_number(df, order).collect()
    }
    want = {
        r["id"]: r["rn"]
        for r in df.select(
            "id", F.row_number().over(Window.orderBy(*order)).alias("rn")
        ).collect()
    }
    assert got == want


def test_global_row_number_deterministic_across_parallelism(spark):
    df = _corpus(spark)
    order = [F.asc("v"), F.asc("id")]
    a = {r["id"]: r["rn"] for r in global_row_number(df, order).collect()}
    b = {
        r["id"]: r["rn"]
        for r in global_row_number(df.repartition(17), order).collect()
    }
    assert a == b


def test_exact_ntile_equals_window_ntile(spark):
    df = _corpus(spark)
    order = [F.asc("v"), F.asc("id")]
    for k in (3, 7, 10):
        got = {
            r["id"]: r["t"]
            for r in exact_ntile(df, k, order, out="t").collect()
        }
        want = {
            r["id"]: r["t"]
            for r in df.select(
                "id", F.ntile(k).over(Window.orderBy(*order)).alias("t")
            ).collect()
        }
        assert got == want, k


def test_no_single_partition_sort_of_the_corpus(spark):
    df = _corpus(spark)
    plan = (
        global_row_number(df, [F.asc("v"), F.asc("id")])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the corpus moves through a RANGE exchange (parallel); the only
    # allowed SinglePartition exchange is the tiny per-range count
    # frame feeding the offsets window
    assert "rangepartitioning" in plan or "RangePartitioning" in plan


def test_n_hint_dispatch(spark):
    """n_hint (a zero-job footer statistic) picks the physical form:
    small frames take the plain window (strictly cheaper below
    SINGLE_PARTITION_MAX — measured 2.5x on t14 at sf0.1), large or
    unhinted frames take the distributed range rank (2.6-4.1x at
    sf100 — SCALE.md). Both forms produce identical values."""
    df = _corpus(spark)
    order = [F.asc("v"), F.asc("id")]
    small = global_row_number(df, order, n_hint=5_000)
    large = global_row_number(df, order, n_hint=50_000_000)
    assert "rangepartitioning" not in (
        small._jdf.queryExecution().executedPlan().toString().lower()
    )
    assert "rangepartitioning" in (
        large._jdf.queryExecution().executedPlan().toString().lower()
    )
    a = {r["id"]: r["rn"] for r in small.collect()}
    b = {r["id"]: r["rn"] for r in large.collect()}
    assert a == b
    ts = {r["id"]: r["t"] for r in exact_ntile(df, 4, order, out="t", n_hint=10).collect()}
    tl = {r["id"]: r["t"] for r in exact_ntile(df, 4, order, out="t", n_hint=10**9).collect()}
    assert ts == tl


def test_cache_handoff_contract(spark):
    """The distributed path persists its ranged frame into the active
    lifecycle scope; the window path persists nothing; the scope's
    exit leaves the CacheManager empty."""
    from aws_csp_datapipeline_spark import lifecycle
    from tests.leaks import cache_is_empty

    spark.catalog.clearCache()
    df = _corpus(spark)
    order = [F.asc("v"), F.asc("id")]
    with lifecycle.scope():
        global_row_number(df, order, n_hint=10).count()
        assert cache_is_empty(spark)
        global_row_number(df, order).count()
        assert not cache_is_empty(spark)
    assert cache_is_empty(spark)
