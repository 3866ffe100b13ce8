"""Memo keys must be complete: a memo may serve a stored object only
when everything that object depends on is in its key.

- ``catalog.load_table`` keys on the path's stat stamp; a path that
  cannot be stat'ed has no stamp and is never memoized.
- ``exprcache.cached_column`` entries belong to one py4j gateway.
"""

from __future__ import annotations

from pyspark import SparkContext

from aws_csp_datapipeline_spark import catalog, exprcache


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


class _Gateway:
    pass


def test_exprcache_entries_do_not_outlive_their_gateway(monkeypatch):
    """A new gateway allocated at a dead one's address (CPython reuses
    a freed block for the next object of the same size) must not be
    served the dead gateway's entries."""
    monkeypatch.setattr(exprcache, "_CACHE", {})
    gw = _Gateway()
    dead_id = id(gw)
    monkeypatch.setattr(SparkContext, "_gateway", gw)
    assert exprcache.cached_column(("gw-probe",), lambda: "dead") == "dead"
    SparkContext._gateway = None
    del gw
    spares = []
    new = _Gateway()
    while id(new) != dead_id and len(spares) < 1000:
        spares.append(new)
        new = _Gateway()
    SparkContext._gateway = new
    assert exprcache.cached_column(("gw-probe",), lambda: "live") == "live"

