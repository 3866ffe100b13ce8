"""One resource scope for everything a plan build leaves behind.

A plan builder that persists or checkpoints an intermediate frame,
stages a stream's landing/checkpoint/sink directory, or names a
memory sink, registers it here instead of handing it to its caller.
The caller that forces the result owns the release:

    with lifecycle.scope():
        rows = build(spark, sf_dir).collect()
    # every frame persisted or checkpointed, every dir made and every
    # view named inside is gone

Outside a scope nothing is registered: persisted frames stay cached
until ``spark.catalog.clearCache()``, checkpoints until JVM GC, dirs
on disk and views in the catalog, as a stateless one-shot caller
expects. Registration lives in a contextvar, so it does not cross
threads.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

_HELD: ContextVar[list | None] = ContextVar("spark_graft_scope", default=None)


@contextmanager
def scope():
    """Run, on exit, every release registered inside."""
    held: list = []
    token = _HELD.set(held)
    try:
        yield
    finally:
        _HELD.reset(token)
        for release in reversed(held):
            release()


def _on_exit(release) -> None:
    held = _HELD.get()
    if held is not None:
        held.append(release)


def persist(df: DataFrame) -> DataFrame:
    """``df.persist(MEMORY_AND_DISK)`` (spill, don't recompute on
    eviction), released at scope exit."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _on_exit(lambda: df.unpersist(blocking=False))
    return df


def release_checkpoint(df: DataFrame) -> None:
    """Free a ``localCheckpoint`` frame's blocks now.

    ``df.unpersist()`` and ``clearCache()`` do not reach them: the
    frame's plan is a ``LogicalRDD`` over the checkpointed RDD, which
    is not in the CacheManager, so its blocks stay (and the RDD stays
    in ``getPersistentRDDs()``) until JVM GC lets the ContextCleaner
    drop it. Unpersisting that RDD frees them. A no-op on any other
    frame, a reliable ``checkpoint`` one included (its files live in
    the checkpoint dir)."""
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def checkpoint(df: DataFrame, eager: bool = True, storage_level=None) -> DataFrame:
    """``df.localCheckpoint(...)``, released at scope exit."""
    return release_at_exit(df.localCheckpoint(eager=eager, storageLevel=storage_level))


def release_at_exit(df: DataFrame) -> DataFrame:
    """Register a frame checkpointed elsewhere (say, in a stream's
    ``foreachBatch`` thread, which no scope reaches) for release at
    scope exit."""
    _on_exit(lambda: release_checkpoint(df))
    return df


def tempdir(prefix: str) -> str:
    """A fresh ``mkdtemp`` dir, removed at scope exit."""
    path = tempfile.mkdtemp(prefix=prefix)
    _on_exit(lambda: shutil.rmtree(path, ignore_errors=True))
    return path


def view_name(spark: SparkSession, prefix: str) -> str:
    """A per-call temp view name (for a memory sink's ``queryName``),
    its view dropped at scope exit. Concurrent calls never share one."""
    name = f"{prefix}_{uuid.uuid4().hex[:12]}"
    _on_exit(lambda: spark.catalog.dropTempView(name))
    return name


def sql(spark: SparkSession, text: str, **frames: DataFrame) -> DataFrame:
    """``spark.sql(text, **frames)``: each ``{name}`` in ``text`` reads
    the frame passed as ``name``, bound as a temp view for the analysis
    only. pyspark's own binding drops its views through
    ``Catalog.dropTempView``, which also uncaches the view's plan: a
    frame persisted by an earlier statement lost its cache entry, and
    every read of it recomputed the frame. These views are dropped from
    the session catalog alone, so a persisted frame stays cached."""
    names = {k: f"_graft_{k}_{uuid.uuid4().hex[:12]}" for k in frames}
    try:
        for k, df in frames.items():
            df.createOrReplaceTempView(names[k])
        return spark.sql(text.format(**names))
    finally:
        catalog = spark._jsparkSession.sessionState().catalog()
        for name in names.values():
            catalog.dropTempView(name)
