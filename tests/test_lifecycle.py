import os

import pytest

from aws_csp_datapipeline_spark import lifecycle
from tests.leaks import cache_is_empty, catalog_tables, persistent_rdds


def test_scope_releases_frames_and_dirs_even_on_error(spark):
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError):
        with lifecycle.scope():
            lifecycle.persist(spark.range(10)).count()
            d = lifecycle.tempdir("lifecycle_test_")
            assert not cache_is_empty(spark) and os.path.isdir(d)
            raise RuntimeError("the build failed")
    assert cache_is_empty(spark)
    assert not os.path.exists(d)


def test_outside_a_scope_nothing_is_released(spark):
    spark.catalog.clearCache()
    df = lifecycle.persist(spark.range(10))
    d = lifecycle.tempdir("lifecycle_test_")
    with lifecycle.scope():
        pass
    try:
        assert df.is_cached and os.path.isdir(d)
    finally:
        df.unpersist()
        os.rmdir(d)


def test_scope_frees_checkpoints_and_drops_views(spark):
    before = persistent_rdds(spark)
    with lifecycle.scope():
        lifecycle.checkpoint(spark.range(10))
        name = lifecycle.view_name(spark, "lifecycle_test")
        spark.range(3).createOrReplaceTempView(name)
        assert persistent_rdds(spark) - before
        assert name in catalog_tables(spark)
    assert not persistent_rdds(spark) - before
    assert name not in catalog_tables(spark)


def test_release_checkpoint_frees_what_unpersist_leaves(spark):
    before = persistent_rdds(spark)
    df = spark.range(100).localCheckpoint(eager=True)
    df.unpersist()
    spark.catalog.clearCache()
    assert persistent_rdds(spark) - before
    lifecycle.release_checkpoint(df)
    assert not persistent_rdds(spark) - before
    lifecycle.release_checkpoint(spark.range(3))  # any other frame: a no-op


def test_sql_keeps_a_bound_persisted_frame_cached(spark):
    """A persisted frame bound into SQL text is read from its cache,
    and no binding view outlives the call. (pyspark's own
    ``spark.sql(text, **frames)`` uncaches such a frame when it drops
    its view.)"""
    spark.catalog.clearCache()
    tables = catalog_tables(spark)
    with lifecycle.scope():
        kept = lifecycle.persist(spark.range(50).selectExpr("id", "id % 5 AS k"))
        q = lifecycle.sql(spark, "SELECT k FROM {kept} WHERE id > 3", kept=kept)
        assert "InMemoryRelation" in q._jdf.queryExecution().withCachedData().toString()
        assert kept.is_cached and q.count() == 46
    assert catalog_tables(spark) == tables
    assert cache_is_empty(spark)
