"""Module-level cache for STATIC Column expression trees.

Building a large literal expression through the pyspark Column API
costs one py4j round-trip per Column call (hundreds per tree), and
``F.expr`` over a big SQL text costs one JVM parse per invocation —
either way the IDENTICAL tree is rebuilt on every plan construction
(measured r12→r13: ~1.8 s of er3+er4's and ~0.8 s of d3's per-call
build time, pure driver work under guide §5). A Column is an
immutable wrapper over an unresolved JVM expression tree, so a tree
that references nothing caller-specific (literal params arrays,
literal sign matrices, band-key arrays) can be built once per JVM and
reused by every plan. A builder that emits its whole plan as SQL text
(``functions/linkage.py``) needs none of this.

Cache entries belong to the py4j gateway they were built on: if the
JVM gateway is ever torn down and relaunched, the cache is emptied,
so stale JavaObject handles never leak into the new JVM. The module
holds that gateway object itself, not its ``id()``, which a new
gateway could reuse once the old one is collected.
"""

from __future__ import annotations

from typing import Callable

from pyspark import SparkContext
from pyspark.sql import Column

_CACHE: dict[tuple, Column] = {}
_GATEWAY = None  # the gateway every entry in _CACHE was built on


def cached_column(key: tuple, builder: Callable[[], Column]) -> Column:
    """Return the memoized Column for ``key``, building it once per
    (gateway, key). ``builder`` must construct a tree with no free
    references to caller state beyond what ``key`` encodes."""
    global _GATEWAY
    if SparkContext._gateway is not _GATEWAY:
        _CACHE.clear()
        _GATEWAY = SparkContext._gateway
    col = _CACHE.get(key)
    if col is None:
        if len(_CACHE) > 512:  # keys are static; this never triggers
            _CACHE.clear()  # pragma: no cover
        col = builder()
        _CACHE[key] = col
    return col
