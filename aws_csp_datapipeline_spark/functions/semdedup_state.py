"""Persisted semantic-dedup state: the day-over-day ARTIFACT form.

``similarity.semdedup_kept_state`` computes the carried (id, cell,
unit-vector) table in-session, and ``semdedup_incremental`` admits a
batch against it — but the incremental lane was sign-bit-only: a
kept-state built beyond the sign-bit cap (~1M vectors at target 64)
composes a KMeans coarse cell into the bucket id, and without the
trained centers persisted BESIDE the state, no later session can
re-derive a batch's buckets. This module closes that gap with the
same lifecycle shape as ``functions/ann_index.py``:

- ``build_semdedup_state``: full SemDeDup pass (identical drop rule
  to ``semdedup_flags`` — shared ``_dup_ids``), kept rows written
  bucket-SORTED to ``<dir>/state`` plus a ``meta.json`` carrying the
  ENTIRE quantizer identity: threshold, sign_bits, ivf_cells, and
  the KMeans centers when the composite quantizer is in play.
- ``incremental_from_state``: admit a new batch using the FROZEN
  persisted quantizer (sign bits re-derived per vector; coarse cell
  via euclidean argmin against the broadcast persisted centers — the
  ``ann_index._assign_with_centers`` discipline: a broadcast
  crossJoin + min_by, JVM codegen end to end, never an in-plan
  higher-order argmin, which measured unusable at 2M rows — see
  ``similarity._ivf_model``'s rejected-designs note). Optionally
  APPENDS the accepted rows so tomorrow's batch sees today's.

Why sorted-by-bucket instead of a ``bucket=`` partition directory per
cell (the ann_index layout): semdedup buckets number ~N/64 — 16k+
directories past the cap, a small-file explosion for ~64-row cells —
while IVF cells number ~√N. Sorting by bucket into a bounded file
count gives parquet row-group min/max pruning on the bucket filter
instead (the SORTKEY analog, same trade as ``sources/layout.py``).

Scale shape: each increment reads meta + the state (bucket-pruned at
the row-group level under a bucket-equi-join's dynamic filter, full
read worst-case), pays |batch| x |kept-in-cell| single-dot
comparisons, and appends only accepted rows. The existing corpus is
never re-deduplicated; the build is paid once per full pass.

Batch-internal near-duplicates are intentionally admitted together
(same loose contract as ``semdedup_incremental`` — each other's
near-dups but nobody's in the kept set); they collapse on the next
full pass.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from aws_csp_datapipeline_spark import lifecycle
from aws_csp_datapipeline_spark.functions.similarity import (
    _as_double,
    _cells_and_units,
    _dup_ids,
    _ivf_model,
    auto_semdedup_quantizer,
    dot,
    l2_norm,
)

_META = "meta.json"
_STATE = "state"


def build_semdedup_state(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    state_dir: str,
    threshold: float = 0.45,
    sign_bits: int | None = None,
    ivf_cells: int | None = None,
    n_rows: int | None = None,
    target_cell: int = 64,
) -> dict:
    """Full-pass semantic dedup + persist the kept state; returns the
    metadata dict. Quantizer knobs default to
    ``auto_semdedup_quantizer`` on the corpus size (pass ``n_rows``
    from parquet footer metadata to keep the build's plan lazy);
    explicit ``sign_bits``/``ivf_cells`` pin a config (e.g. the
    attested 6-bit oracle plan)."""
    n = n_rows if n_rows is not None else df.count()
    if sign_bits is None or ivf_cells is None:
        auto_cells, auto_bits = auto_semdedup_quantizer(n, target_cell)
        ivf_cells = auto_cells if ivf_cells is None else ivf_cells
        sign_bits = auto_bits if sign_bits is None else sign_bits
    model = (
        _ivf_model(df, vec_col, ivf_cells, n_rows=n) if ivf_cells > 0 else None
    )
    centers = (
        [[float(x) for x in c] for c in model.clusterCenters()]
        if model is not None
        else []
    )
    base = _cells_and_units(
        df, vec_col, id_col, sign_bits, ivf_cells, n_rows=n, model=model
    )
    kept = base.join(_dup_ids(base, threshold), "__id", "left_anti").select(
        F.col("__id").alias("id"),
        F.col("__bucket").alias("bucket"),
        F.col("__u").alias("unit"),
    )
    (
        kept.repartition("bucket")
        .sortWithinPartitions("bucket")
        .write.mode("overwrite")
        .parquet(os.path.join(state_dir, _STATE))
    )
    n_kept = df.sparkSession.read.parquet(
        os.path.join(state_dir, _STATE)
    ).count()
    base.unpersist()
    meta = {
        "threshold": threshold,
        "sign_bits": sign_bits,
        "ivf_cells": ivf_cells if model is not None else 0,
        "centers": centers,
        "n_rows": n,
        "n_kept": n_kept,
        "vec_col": vec_col,
        "id_col": id_col,
    }
    with open(os.path.join(state_dir, _META), "w") as fh:
        json.dump(meta, fh)
    return meta


def read_state_meta(state_dir: str) -> dict:
    with open(os.path.join(state_dir, _META)) as fh:
        return json.load(fh)


def _frozen_cells_and_units(
    spark: SparkSession, incoming: DataFrame, meta: dict
) -> DataFrame:
    """(__id, __bucket, __u) for a new batch under the PERSISTED
    quantizer: the sign-bit half is re-derived per vector (pure
    function of the vector), and the coarse-cell half — when the
    state was built past the cap — is an euclidean argmin against
    the broadcast persisted centers (|c|² − 2 v·c; |v|² constant per
    row), one broadcast crossJoin + min_by keyed by the batch row id.
    Composite id: cell · 2^sign_bits + sign_bucket, exactly the
    build-side formula."""
    sign_bits = int(meta["sign_bits"])
    vec_col, id_col = meta["vec_col"], meta["id_col"]
    src_all = incoming.select(
        F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v")
    )
    # Null-vector contract (ADVICE r10): the in-session twin
    # (semdedup_incremental via _cells_and_units) assigns null vectors
    # bucket 0 with a null unit — they can never cosine-match anything
    # (dot(null, ·) is null ⇒ filtered), so they come back
    # accepted=true. Mirror that here instead of silently dropping
    # them: split nulls out before the center crossJoin (a null __v
    # would make every __cdist null and min_by's pick unspecified) and
    # union them back with the same (bucket 0, null unit) shape, so
    # the frozen lane stays decision-for-decision equal to the
    # in-session lane on any input.
    nulls = src_all.filter(F.col("__v").isNull()).select(
        "__id",
        F.lit(0).cast("long").alias("__bucket"),
        F.lit(None).cast("array<double>").alias("__u"),
    )
    src = src_all.filter(F.col("__v").isNotNull())
    bucket = None
    for i in range(sign_bits):
        bit = F.when(
            F.element_at(F.col("__v"), i + 1) > 0,
            F.lit(1 << (sign_bits - 1 - i)),
        ).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    bucket = (bucket if bucket is not None else F.lit(0)).cast("long")
    unit = F.element_at(
        F.transform(
            F.array(
                F.struct(
                    F.col("__v").alias("v"), l2_norm(F.col("__v")).alias("n")
                )
            ),
            lambda s: F.transform(s["v"], lambda e: e / s["n"]),
        ),
        1,
    )
    if meta.get("centers"):
        centers_df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(meta["centers"])],
            "__cell int, __ctr array<double>",
        )
        joined = src.crossJoin(F.broadcast(centers_df)).withColumn(
            "__cdist",
            dot(F.col("__ctr"), F.col("__ctr"))
            - F.lit(2.0) * dot(F.col("__v"), F.col("__ctr")),
        )
        # min over struct(cdist, cell): exact-distance ties break to
        # the LOWEST cluster index — KMeans model.transform's rule on
        # the build side (ADVICE r10: bare min_by("__cell", "__cdist")
        # leaves the tie-break unspecified, so an exact-tie vector
        # could re-home to a different composite bucket than the
        # build wrote, and could differ across re-evaluations).
        src = (
            joined.groupBy("__id")
            .agg(
                F.min(F.struct("__cdist", "__cell")).alias("__best"),
                F.first("__v").alias("__v"),
            )
            .select(
                "__id", F.col("__best.__cell").alias("__cell"), "__v"
            )
        )
        bucket = (
            F.col("__cell").cast("long")
            * F.lit(1 << sign_bits).cast("long")
            + bucket
        )
    return src.select(
        "__id", bucket.alias("__bucket"), unit.alias("__u")
    ).unionByName(nulls)


def incremental_from_state(
    spark: SparkSession,
    state_dir: str,
    incoming: DataFrame,
    append: bool = False,
) -> DataFrame:
    """Admit each incoming vector iff no persisted kept vector shares
    its bucket with cosine >= the state's threshold. Returns one row
    per incoming vector: (id_col, bucket, accepted) — the
    ``semdedup_incremental`` contract, with the quantizer and
    threshold taken from the ARTIFACT (the state, not the caller,
    owns the geometry).

    ``append=True`` writes the accepted rows into the state and bumps
    ``n_kept`` — the day-over-day loop: the next batch is admitted
    against today's accepted rows too. Before the append write the
    decision frame is eagerly localCheckpoint()ed — materialized
    once with its lineage TRUNCATED — so neither the write nor the
    caller's later consumption can re-evaluate the plan against the
    now-grown state (a re-evaluation would re-score batch-accepted
    rows against their own appended copies, cosine 1.0, and flip
    them to rejected — ADVICE r10; a plain persist() is defeated by
    the write's recacheByPath, see inline comment)."""
    meta = read_state_meta(state_dir)
    threshold = float(meta["threshold"])
    inc = _frozen_cells_and_units(spark, incoming, meta)
    kept = spark.read.parquet(os.path.join(state_dir, _STATE)).select(
        F.col("bucket").alias("__b"), F.col("unit").alias("__ku")
    )
    hits = (
        inc.select(
            F.col("__id").alias("__iid"),
            F.col("__bucket").alias("__b"),
            F.col("__u").alias("__iu"),
        )
        .join(kept, "__b")
        .filter(dot(F.col("__iu"), F.col("__ku")) >= threshold)
        .select(F.col("__iid").alias("__id"))
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    out = inc.join(hits, "__id", "left").select(
        F.col("__id").alias(meta["id_col"]),
        F.col("__bucket").alias("bucket"),
        F.col("__hit").isNull().alias("accepted"),
        F.col("__u").alias("__unit"),
    )
    if append:
        # Freeze the decisions BEFORE the state grows: localCheckpoint
        # (eager) materializes the frame AND truncates its lineage, so
        # nothing can re-evaluate it against the appended rows. A
        # persist() is NOT enough here — it stays registered in the
        # CacheManager keyed to the state path, and the append write
        # below triggers recacheByPath, which RE-COMPUTES the cached
        # plan over the grown directory and flips every batch-accepted
        # row to rejected (cosine 1.0 against its own appended copy) —
        # observed, not hypothetical (test_append_makes_next_batch_
        # see_accepted fails under the persist form). DISK_ONLY: the
        # frame is batch-scale WITH the embedding payload (__unit), so
        # a production-sized increment doesn't belong in deserialized
        # heap blocks (the r12 iterative-lane discipline).
        out = lifecycle.checkpoint(out, storage_level=StorageLevel.DISK_ONLY)
        accepted = out.filter(F.col("accepted")).select(
            F.col(meta["id_col"]).alias("id"),
            "bucket",
            F.col("__unit").alias("unit"),
        )
        (
            accepted.repartition("bucket")
            .sortWithinPartitions("bucket")
            .write.mode("append")
            .parquet(os.path.join(state_dir, _STATE))
        )
        n_new = spark.read.parquet(os.path.join(state_dir, _STATE)).count()
        meta["n_kept"] = n_new
        with open(os.path.join(state_dir, _META), "w") as fh:
            json.dump(meta, fh)
    return out.drop("__unit")
