"""Scan-stage parallelism guard for per-row-expensive operators.

A Parquet scan parallelizes at row-group granularity. A table written
as one file with one row group (common for small extracts — and
exactly how the driver's test data is laid out) therefore scans as a
SINGLE task, and every expression evaluated in that scan stage
(shingling, per-char hashing, dot products) runs on one core no
matter how many the session has.

``ensure_min_parallelism`` redistributes a *narrow projection* across
the session's cores before the expensive expressions are applied:

- It must be called on a projection that carries only the columns the
  operator needs (id + text / id + vector), so the exchange moves
  kilobytes per row at most — never the full table width.
- On a real cluster reading real multi-row-group data the scan
  already has >= cores partitions and the guard is a NO-OP (no
  exchange is added to the plan).
- The round-robin repartition also evens out per-row cost skew
  (document lengths are long-tailed), which hash-partitioned or
  file-split inputs do not guarantee.
"""

from __future__ import annotations

import math
import os
import re
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SIZE_SUFFIX = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10, "kib": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20, "mib": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30, "gib": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40, "tib": 1 << 40,
}


def _parse_byte_conf(value: str, default: int = 128 << 20) -> int:
    m = re.match(r"^\s*(\d+)\s*([a-z]*)\s*$", value.lower())
    if not m or m.group(2) not in _SIZE_SUFFIX:
        return default
    return int(m.group(1)) * _SIZE_SUFFIX[m.group(2)]


def _estimated_local_scan_tasks(spark, files: list[str]) -> int:
    """Estimate how many non-empty scan tasks a FileSourceScan gets for
    the given ``file:`` URIs. Byte ranges of ``maxPartitionBytes`` cap
    the split count, and for parquet a split is only non-empty if a
    row-group midpoint falls inside it — so per file the estimate is
    min(byte-range splits, row groups); non-parquet files (multiLine
    CSV/JSON don't byte-range-split) count as one task."""
    max_bytes = _parse_byte_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
    )
    try:
        import pyarrow.parquet as pq
    except Exception:  # pragma: no cover
        pq = None
    total = 0
    for f in files:
        path = unquote(urlparse(f).path)
        splits = max(1, math.ceil(os.path.getsize(path) / max_bytes))
        if splits > 1 and path.endswith(".parquet"):
            # A byte-range split is only a real task if a row-group
            # midpoint falls inside it. If we CANNOT confirm the
            # row-group count (pyarrow absent, corrupt/truncated
            # footer — pyarrow raises ArrowInvalid, not OSError),
            # assume ONE task: the guard's job is to err toward
            # repartitioning, never to crash plan construction or to
            # skip the spread exactly when a big single-row-group
            # file would serialize the scan.
            if pq is None:
                splits = 1
            else:
                try:
                    splits = min(splits, pq.ParquetFile(path).num_row_groups)
                except Exception:
                    splits = 1
        elif not path.endswith(".parquet"):
            splits = 1
        total += splits
    return total


def shuffle_partitions(spark) -> int:
    """The session's shuffle partition count as an int, falling back
    to ``defaultParallelism`` when the conf is non-numeric (e.g.
    'auto' under AQE-managed shuffle on some platforms — ADVICE r12:
    a bare int() here crashed plan build on such deployments)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def gate_after_spread(cond: Column) -> Column:
    """Pin a per-row-expensive gate predicate ABOVE a preceding
    ``ensure_min_parallelism`` spread.

    Catalyst pushes deterministic filter conjuncts through round-robin
    repartitions (``PushDownPredicates`` treats RepartitionOperation
    as transparent), which drags the gate expression back into the
    single-task scan stage the spread exists to escape — measured:
    pipe4's quality+trigram gates ran 2.1 s on ONE core at sf0.1 with
    the spread in place, filter pushed below it. A LEADING always-true
    nondeterministic conjunct stops the push (the rule pushes only the
    deterministic PREFIX of a conjunction), at the cost of one
    ``monotonically_increasing_id()`` evaluation per row.

    This forgoes no real pushdown benefit at scale: these gates are
    complex expression trees no parquet reader accepts as
    PushedFilters, and on multi-row-group layouts (where the spread
    is a no-op and no exchange exists) scan, projection and filter
    fuse into one WholeStageCodegen stage regardless of filter
    placement. Bonus: the unpushed form evaluates a gate that is both
    filtered on and projected out (pipe4's ``__q``) once via column
    reuse instead of twice (below-filter + above-projection — the
    guide §4.4 duplication, which applies to large expression trees
    exactly as to UDFs).

    Shape note: the guard wraps ``cond`` inside a CASE WHEN rather
    than AND-ing it on — a top-level conjunction gets split by
    ``splitConjunctivePredicates`` and the rule for
    RepartitionOperation pushes every DETERMINISTIC conjunct
    independent of position (measured: the first AND-based version
    protected pipe4's projection-referencing gate but pipe6's
    direct-over-the-spread gate sank anyway). A CaseWhen whose guard
    is nondeterministic is one unsplittable nondeterministic
    predicate; ``mid() >= 0`` is always true, so it evaluates exactly
    ``cond`` (NULL folds to false in a filter on either form)."""
    return F.when(
        F.monotonically_increasing_id() >= 0, cond
    ).otherwise(F.lit(False))


def ensure_min_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ``df`` up to ``min_partitions`` (default:
    the session's core count) — a no-op when the input layout already
    guarantees at least that many scan tasks.

    The decision reads ``df.inputFiles()`` (driver-side listing on the
    analyzed plan — no physical planning, no job) plus, for few LOCAL
    files, their sizes and parquet footers (cheap local metadata):

    - >= target input files: every file is at least one scan task, the
      guard is a no-op.
    - fewer files but on a remote filesystem (s3/hdfs/...): a cluster
      layout; large parquet files there byte-range-split into many
      tasks, so no exchange is forced onto a 100-TB scan.
    - fewer LOCAL files: estimate the actual scan-task count from file
      size vs ``spark.sql.files.maxPartitionBytes`` capped by parquet
      row-group count — a single LARGE local file that already splits
      into >= target tasks is left alone; the single-row-group extract
      this guard exists for is repartitioned.
    - no input files (in-memory test relations): repartition only if
      the RDD lineage reports fewer than target partitions (the data
      is driver-created and tiny by construction, so the ``df.rdd``
      probe is cheap here).
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if len(files) >= target:
        return df
    if files and any(not f.startswith("file:") for f in files):
        return df
    if files:
        try:
            if _estimated_local_scan_tasks(spark, files) >= target:
                return df
        except OSError:
            pass  # unreadable path metadata: fall through to repartition
        return df.repartition(target)
    # No listable input files: in-memory relation (or listing failed).
    try:
        if df.rdd.getNumPartitions() >= target:
            return df
    except Exception:
        pass
    return df.repartition(target)
