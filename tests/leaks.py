"""Leak checks: building and forcing a query inside one
``lifecycle.scope()`` must leave the session as it found it — no
cached relation, no persistent RDD (a ``localCheckpoint`` included),
no catalog table or view, no active stream, no temp dir."""

from __future__ import annotations

import tempfile
from contextlib import contextmanager

import pytest

from aws_csp_datapipeline_spark import lifecycle
from aws_csp_datapipeline_spark.functions import artifact_cache


def cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def persistent_rdds(spark) -> set[int]:
    """Ids of the RDDs holding blocks: cached relations' and
    checkpoints'. An id that was already there may leave during a
    body (JVM GC lets the ContextCleaner drop an unreferenced one);
    a new one that stays is the body's."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def catalog_tables(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables()}


@contextmanager
def leaves_nothing(spark, tmp_dir, what: str):
    """Run the body in a fresh scope with ``tempfile`` pointed at the
    new, empty ``tmp_dir``; after the scope exits, assert the session
    holds nothing the body made. The artifact cache stays where it
    was: it is a deliberate cross-call cache, not a leak."""
    spark.catalog.clearCache()
    tmp_dir.mkdir()
    rdds, tables = persistent_rdds(spark), catalog_tables(spark)
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_GRAFT_ARTIFACT_DIR", artifact_cache.cache_base())
        mp.setattr(tempfile, "tempdir", str(tmp_dir))
        with lifecycle.scope():
            yield
    assert cache_is_empty(spark), f"{what}: left a cached relation"
    left_rdds = persistent_rdds(spark) - rdds
    assert not left_rdds, f"{what}: left persistent RDDs {sorted(left_rdds)}"
    assert catalog_tables(spark) == tables, f"{what}: changed the catalog"
    assert not spark.streams.active, f"{what}: left an active stream"
    left = sorted(p.name for p in tmp_dir.iterdir())
    assert not left, f"{what}: left temp entries {left}"
