import os

import pytest

from aws_csp_datapipeline_spark import lifecycle
from tests.leaks import cache_is_empty


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
