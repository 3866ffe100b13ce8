"""Versioned snapshot store with optimistic concurrency control.

The reference serializes every mutation behind a whole-table exclusive
lock (``LOCK TABLE ... IN EXCLUSIVE MODE``,
lambda/lambda_function.py:266-273): writer 2 blocks until writer 1
commits, so each mutation is applied on top of the previous one and
none is lost. The CRUD operators here (operators/crud.py M1-M10) are
pure snapshot transformations; this module supplies the missing
concurrency guarantee WITHOUT a lock, using the optimistic commit
protocol production table formats use (Delta/Iceberg): each commit is
a put-if-absent of the next version's manifest, so of two writers
racing from the same snapshot exactly one wins and the loser gets a
``ConcurrentWriteError`` and re-applies its transformation on the
winner's snapshot. The serialized outcome is identical to the
reference's lock — but readers never block and never see a partial
table.

Layout under ``root/``::

    _commits/00000001.json   -> {"data": "<data dir name>",
    _commits/00000002.json       "schema": <StructType JSON>}
                                (atomic put-if-absent = the commit point)
    data/<uuid>/...parquet   (written BEFORE the manifest; an orphan
                              dir from a failed/lost race is garbage,
                              never visible)

The manifest carries the table schema so a read hands it to
``spark.read.schema(...)``: no footer-inference job per snapshot open.
File sources make every field nullable, so the schema a read returns
is the one inference would give.

Atomicity relies on ``link(2)`` failing when the target exists: the
manifest is staged under a private name, then hard-linked to its
version name, so it appears whole or not at all and a reader never
opens a half-written one — correct on local/NFS filesystems. On S3
the same protocol is what Delta implements with a coordination layer
for put-if-absent; the engine-side contract (read version, transform,
commit-or-retry) is unchanged, which is why the CRUD operators stay
storage-agnostic.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class ConcurrentWriteError(Exception):
    """Another writer committed since this writer's snapshot was read."""


class SnapshotStore:
    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(os.path.join(root, "_commits"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # ---- read side -------------------------------------------------

    def version(self) -> int:
        """Latest committed version, 0 if the table is empty."""
        commits = os.listdir(os.path.join(self.root, "_commits"))
        versions = [int(c.split(".")[0]) for c in commits if c.endswith(".json")]
        return max(versions, default=0)

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame | None:
        """Snapshot at ``version`` (default: latest). None for an empty
        table — the caller supplies the seed schema on first write.
        Launches no Spark job: the schema comes from the manifest."""
        v = self.version() if version is None else version
        if v == 0:
            return None
        with open(os.path.join(self.root, "_commits", f"{v:08d}.json")) as fh:
            manifest = json.load(fh)
        return spark.read.schema(T.StructType.fromJson(manifest["schema"])).parquet(
            os.path.join(self.root, "data", manifest["data"])
        )

    # ---- write side ------------------------------------------------

    def commit(self, df: DataFrame, expected_version: int) -> int:
        """Persist ``df`` as version ``expected_version + 1``.

        The parquet data lands in an unreferenced uuid directory first;
        publishing the manifest is the single atomic commit point.
        Raises ConcurrentWriteError if any other writer committed that
        version first (the data dir is then an invisible orphan).
        """
        data_name = uuid.uuid4().hex
        df.write.mode("errorifexists").parquet(
            os.path.join(self.root, "data", data_name)
        )
        target = expected_version + 1
        manifest = os.path.join(self.root, "_commits", f"{target:08d}.json")
        staged = os.path.join(self.root, "_commits", f".{data_name}.tmp")
        with open(staged, "w") as fh:
            json.dump({"data": data_name, "schema": df.schema.jsonValue()}, fh)
        try:
            os.link(staged, manifest)
        except FileExistsError as exc:
            raise ConcurrentWriteError(
                f"version {target} was committed by another writer"
            ) from exc
        finally:
            os.remove(staged)
        return target

    def mutate(
        self,
        spark: SparkSession,
        fn: Callable[[DataFrame | None], DataFrame],
        max_retries: int = 10,
    ) -> int:
        """Apply ``fn`` (snapshot -> new snapshot) with optimistic
        retry: on conflict, re-read the winner's snapshot and re-apply.
        This is the lock-free equivalent of the reference's
        lock-serialized mutation — every writer's transformation lands
        exactly once, in some serial order."""
        for _ in range(max_retries):
            v = self.version()
            out = fn(self.read(spark, v) if v else None)
            # materialize the plan BEFORE the commit race window: fn may
            # lazily reference the snapshot we read, which stays valid
            # (old versions are immutable), so correctness is unaffected.
            try:
                return self.commit(out, v)
            except ConcurrentWriteError:
                continue
        raise ConcurrentWriteError(
            f"gave up after {max_retries} optimistic retries"
        )
