"""Memo keys must be complete: a memo may serve a stored object only
when everything that object depends on is in its key.
``catalog.load_table`` keys on the path's stat stamp; a path that
cannot be stat'ed has no stamp and is never memoized.
"""

from __future__ import annotations

from aws_csp_datapipeline_spark import catalog


def test_unstattable_path_is_not_memoized(spark, tmp_path):
    """A ``file://`` URI reads fine in Spark but ``os.stat`` cannot
    see it, so a rewrite there would be undetectable: every load must
    give a fresh relation."""
    spark.range(3).write.parquet(str(tmp_path / "t.parquet"))
    uri = f"file://{tmp_path}"
    a = catalog.load_table(spark, uri, "t")
    b = catalog.load_table(spark, uri, "t")
    assert a is not b
    assert b.count() == 3
