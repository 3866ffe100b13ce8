"""Concurrent-writer semantics for the mutation path.

The reference's one concurrency guarantee is the whole-table exclusive
lock around every mutation (lambda/lambda_function.py:266-273): writers
serialize, so no update is lost and serial keys stay unique and
contiguous. These tests demonstrate the same guarantee through
SnapshotStore's optimistic commit protocol — including the
reference's exact hot case, two clients inserting with
COALESCE(MAX(s_no),0)+1 key assignment at the same time.
"""

from __future__ import annotations

import tempfile
import threading

import pytest

from aws_csp_datapipeline_spark.operators.crud import (
    assign_serial_keys,
    update_from_batch,
)
from aws_csp_datapipeline_spark.sources.snapshot_store import (
    ConcurrentWriteError,
    SnapshotStore,
)


def _seed(spark, store):
    seed = spark.createDataFrame(
        [(1, "alpha", 10.0), (2, "beta", 20.0)], "s_no long, name string, val double"
    )
    store.commit(seed, expected_version=0)
    return seed


def test_versions_and_latest_read(spark):
    with tempfile.TemporaryDirectory() as d:
        store = SnapshotStore(d)
        assert store.version() == 0 and store.read(spark) is None
        _seed(spark, store)
        assert store.version() == 1
        v2 = store.mutate(
            spark, lambda t: update_from_batch(
                t, spark.createDataFrame([(1, 99.0)], "s_no long, val double"), "s_no"
            )
        )
        assert v2 == 2
        latest = {r["s_no"]: r["val"] for r in store.read(spark).collect()}
        assert latest == {1: 99.0, 2: 20.0}
        # old snapshots remain immutable and readable (time travel)
        old = {r["s_no"]: r["val"] for r in store.read(spark, version=1).collect()}
        assert old == {1: 10.0, 2: 20.0}


def test_conflicting_writer_is_rejected_not_lost(spark):
    """Two writers race from the same snapshot: exactly one commit
    wins; the loser gets ConcurrentWriteError — a detected conflict,
    never a silent lost update or a corrupt/partial table."""
    with tempfile.TemporaryDirectory() as d:
        store = SnapshotStore(d)
        _seed(spark, store)
        v = store.version()
        snap = store.read(spark, v)
        a = update_from_batch(
            snap, spark.createDataFrame([(1, -1.0)], "s_no long, val double"), "s_no"
        )
        b = update_from_batch(
            snap, spark.createDataFrame([(2, -2.0)], "s_no long, val double"), "s_no"
        )
        assert store.commit(a, v) == v + 1
        with pytest.raises(ConcurrentWriteError):
            store.commit(b, v)
        # table state is exactly writer A's output
        got = {r["s_no"]: r["val"] for r in store.read(spark).collect()}
        assert got == {1: -1.0, 2: 20.0}


def test_optimistic_retry_serializes_like_the_reference_lock(spark):
    """mutate() with retry produces the lock-serialized outcome: both
    writers' changes land, applied in some serial order."""
    with tempfile.TemporaryDirectory() as d:
        store = SnapshotStore(d)
        _seed(spark, store)

        def upd(key, val):
            def fn(t):
                batch = spark.createDataFrame([(key, val)], "s_no long, val double")
                return update_from_batch(t, batch, "s_no")

            return fn

        errs = []

        def run(key, val):
            try:
                store.mutate(spark, upd(key, val))
            except Exception as e:  # pragma: no cover
                errs.append(e)

        t1 = threading.Thread(target=run, args=(1, 111.0))
        t2 = threading.Thread(target=run, args=(2, 222.0))
        t1.start(); t2.start(); t1.join(); t2.join()
        assert not errs
        assert store.version() == 3  # two serialized commits on top of seed
        got = {r["s_no"]: r["val"] for r in store.read(spark).collect()}
        assert got == {1: 111.0, 2: 222.0}  # neither update lost


def test_concurrent_serial_key_inserts_stay_unique_and_contiguous(spark):
    """The reference's hot case: COALESCE(MAX(s_no),0)+1 key assignment
    from two concurrent clients (lambda_function.py:258-333). Under the
    exclusive lock the keys come out unique and contiguous; the
    optimistic path must match that exactly."""
    with tempfile.TemporaryDirectory() as d:
        store = SnapshotStore(d)
        _seed(spark, store)  # keys 1, 2

        def insert(names):
            def fn(t):
                batch = spark.createDataFrame(
                    [(n, 0.0) for n in names], "name string, val double"
                )
                keyed = assign_serial_keys(t, batch, "s_no")
                return t.unionByName(keyed.select(*t.columns))

            return fn

        threads = [
            threading.Thread(
                target=lambda ns=ns: store.mutate(spark, insert(ns))
            )
            for ns in (["gamma", "delta"], ["epsilon"], ["zeta", "eta"])
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        rows = store.read(spark).collect()
        keys = sorted(r["s_no"] for r in rows)
        assert keys == list(range(1, 8))  # unique AND contiguous: 1..7
        assert len({r["name"] for r in rows}) == 7  # every insert landed


def test_uncommitted_write_is_invisible(spark):
    """Atomic visibility: data written but not yet manifest-committed
    (a crashed or still-running writer) is never readable."""
    import json
    import os
    import uuid

    with tempfile.TemporaryDirectory() as d:
        store = SnapshotStore(d)
        _seed(spark, store)
        # simulate a writer that died after writing data, before commit
        orphan = uuid.uuid4().hex
        spark.createDataFrame([(9, "ghost", 0.0)], "s_no long, name string, val double") \
            .write.parquet(os.path.join(d, "data", orphan))
        assert store.version() == 1
        assert {r["s_no"] for r in store.read(spark).collect()} == {1, 2}


def test_manifest_schema_read_matches_inference(spark):
    """The manifest is {"data", "schema"}; a read takes the schema from
    it and returns what footer inference would (a file source makes
    every field nullable), for the latest and an older version."""
    import json
    import os

    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory() as d:
        store = SnapshotStore(d)
        seed = spark.range(3).withColumn("name", F.lit("x"))  # non-nullable fields
        store.commit(seed, expected_version=0)
        store.mutate(spark, lambda t: t.withColumn("name", F.upper("name")))
        for version in (1, 2):
            with open(os.path.join(d, "_commits", f"{version:08d}.json")) as fh:
                manifest = json.load(fh)
            assert set(manifest) == {"data", "schema"}
            inferred = spark.read.parquet(os.path.join(d, "data", manifest["data"])).schema
            assert store.read(spark, version=version).schema == inferred
        assert {r["name"] for r in store.read(spark, version=1).collect()} == {"x"}
        assert {r["name"] for r in store.read(spark).collect()} == {"X"}
