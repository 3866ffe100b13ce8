"""One resource scope for everything a plan build leaves behind.

A plan builder that persists an intermediate frame, or stages a
stream's landing/checkpoint/sink directory, registers it here
instead of handing it to its caller. The caller that forces the
result owns the release:

    with lifecycle.scope():
        rows = build(spark, sf_dir).collect()
    # every frame persisted and every dir made inside is gone

Outside a scope nothing is registered: persisted frames stay cached
until ``spark.catalog.clearCache()`` and dirs stay on disk, as a
stateless one-shot caller expects. Registration lives in a
contextvar, so it does not cross threads.
"""

from __future__ import annotations

import shutil
import tempfile
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_HELD: ContextVar[list | None] = ContextVar("spark_graft_scope", default=None)


@contextmanager
def scope():
    """Release, on exit, every frame and dir registered inside."""
    held: list = []
    token = _HELD.set(held)
    try:
        yield
    finally:
        _HELD.reset(token)
        for item in reversed(held):
            if isinstance(item, str):
                shutil.rmtree(item, ignore_errors=True)
            else:
                item.unpersist(blocking=False)


def _register(item):
    held = _HELD.get()
    if held is not None:
        held.append(item)
    return item


def persist(df: DataFrame) -> DataFrame:
    """``df.persist(MEMORY_AND_DISK)`` (spill, don't recompute on
    eviction), released at scope exit."""
    return _register(df.persist(StorageLevel.MEMORY_AND_DISK))


def tempdir(prefix: str) -> str:
    """A fresh ``mkdtemp`` dir, removed at scope exit."""
    return _register(tempfile.mkdtemp(prefix=prefix))
