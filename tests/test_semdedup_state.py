"""Persisted semdedup state artifact: build → incremental admit →
append, with the frozen-quantizer contract past the sign-bit cap.

Load-bearing assertions:
- the persisted state (sign-bit config) is EXACTLY
  ``semdedup_kept_state``'s in-session output, and
  ``incremental_from_state`` reproduces ``semdedup_incremental``
  decision-for-decision — the artifact is a serialization of the
  existing lane, not a new algorithm;
- with the COMPOSITE quantizer (ivf_cells > 0), a fresh session's
  frozen re-derivation (broadcast-argmin against persisted centers)
  assigns every kept vector the same bucket the build wrote — the
  centers in meta.json are sufficient to re-home any future batch;
- append=True makes batch N+1 see batch N's accepted vectors.
"""

import pyspark.sql.functions as F
import pytest

from aws_csp_datapipeline_spark import lifecycle
from aws_csp_datapipeline_spark.catalog import load_table
from aws_csp_datapipeline_spark.functions import semdedup_state as SS
from aws_csp_datapipeline_spark.functions.similarity import (
    semdedup_incremental,
    semdedup_kept_state,
)


@pytest.fixture(autouse=True)
def _scoped():
    """Build every in-session lane inside a scope, so its persisted
    frames leave the cache with the test and later plans see none."""
    with lifecycle.scope():
        yield


def test_state_build_matches_in_session_kept_state(spark, sf_oracle, tmp_path):
    e = load_table(spark, sf_oracle, "embeddings")
    existing = e.filter(F.col("vec_id") < 250)
    sd = str(tmp_path / "sd_state")
    meta = SS.build_semdedup_state(
        existing, "embedding", "vec_id", sd, threshold=0.45,
        sign_bits=6, ivf_cells=0,
    )
    persisted = {
        (r["id"], r["bucket"])
        for r in spark.read.parquet(sd + "/state").collect()
    }
    in_session = {
        (r["vec_id"], r["bucket"])
        for r in semdedup_kept_state(
            existing, "embedding", "vec_id", 0.45, 6
        ).collect()
    }
    assert persisted == in_session
    assert meta["n_kept"] == len(in_session)


def test_incremental_from_state_matches_in_session(spark, sf_oracle, tmp_path):
    e = load_table(spark, sf_oracle, "embeddings")
    existing = e.filter(F.col("vec_id") < 250)
    incoming = e.filter(F.col("vec_id") >= 250)
    sd = str(tmp_path / "sd_state2")
    SS.build_semdedup_state(
        existing, "embedding", "vec_id", sd, threshold=0.45,
        sign_bits=6, ivf_cells=0,
    )
    from_state = {
        (r["vec_id"], r["bucket"], r["accepted"])
        for r in SS.incremental_from_state(spark, sd, incoming).collect()
    }
    in_session = {
        (r["vec_id"], r["bucket"], r["accepted"])
        for r in semdedup_incremental(
            semdedup_kept_state(existing, "embedding", "vec_id", 0.45, 6),
            incoming, "embedding", "vec_id", threshold=0.45, sign_bits=6,
        ).collect()
    }
    assert from_state == in_session
    assert from_state  # non-vacuous


def test_frozen_composite_quantizer_rehomes_identically(
    spark, sf_oracle, tmp_path
):
    """ivf_cells > 0: a fresh 'session' re-deriving buckets from the
    persisted centers must assign every kept vector its build-time
    bucket (the frozen-quantizer rule extended to semdedup)."""
    e = load_table(spark, sf_oracle, "embeddings")
    sd = str(tmp_path / "sd_state3")
    meta = SS.build_semdedup_state(
        e, "embedding", "vec_id", sd, threshold=0.45,
        sign_bits=2, ivf_cells=4,
    )
    assert meta["ivf_cells"] == 4 and len(meta["centers"]) == 4
    rehomed = {
        (r["__id"], r["__bucket"])
        for r in SS._frozen_cells_and_units(
            spark, e, SS.read_state_meta(sd)
        ).collect()
    }
    persisted = {
        (r["id"], r["bucket"])
        for r in spark.read.parquet(sd + "/state").collect()
    }
    assert persisted <= rehomed  # every kept row re-homes to its bucket


def test_append_makes_next_batch_see_accepted(spark, sf_oracle, tmp_path):
    e = load_table(spark, sf_oracle, "embeddings")
    existing = e.filter(F.col("vec_id") < 250)
    batch1 = e.filter(F.col("vec_id").between(250, 349))
    sd = str(tmp_path / "sd_state4")
    SS.build_semdedup_state(
        existing, "embedding", "vec_id", sd, threshold=0.45,
        sign_bits=6, ivf_cells=0,
    )
    n_kept0 = SS.read_state_meta(sd)["n_kept"]
    out1 = SS.incremental_from_state(spark, sd, batch1, append=True)
    accepted1 = [r["vec_id"] for r in out1.filter("accepted").collect()]
    assert accepted1
    assert SS.read_state_meta(sd)["n_kept"] == n_kept0 + len(accepted1)
    # batch 2 = exact copies of batch-1-ACCEPTED vectors under new ids:
    # every copy must now be rejected (cosine 1.0 against the appended
    # rows) — proof the append is live state, not a side file
    batch2 = e.filter(F.col("vec_id").isin(accepted1)).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    out2 = SS.incremental_from_state(spark, sd, batch2)
    assert out2.filter("accepted").count() == 0


def test_null_vectors_match_in_session_contract(spark, sf_oracle, tmp_path):
    """ADVICE r10: the frozen lane silently DROPPED null-vector rows
    while the in-session twin returns them (bucket 0, accepted=true —
    dot(null, ·) can never clear the threshold). Pin the contract:
    both lanes emit one row per incoming id, nulls included, with
    identical decisions — including through the composite-quantizer
    (centers) path, where a null would otherwise poison the argmin."""
    e = load_table(spark, sf_oracle, "embeddings")
    existing = e.filter(F.col("vec_id") < 250)
    incoming = e.filter(F.col("vec_id").between(250, 299)).withColumn(
        "embedding",
        F.when(F.col("vec_id") % 10 == 0, F.lit(None)).otherwise(
            F.col("embedding")
        ),
    )
    sd = str(tmp_path / "sd_nulls")
    SS.build_semdedup_state(
        existing, "embedding", "vec_id", sd, threshold=0.45,
        sign_bits=6, ivf_cells=0,
    )
    from_state = {
        (r["vec_id"], r["bucket"], r["accepted"])
        for r in SS.incremental_from_state(spark, sd, incoming).collect()
    }
    in_session = {
        (r["vec_id"], r["bucket"], r["accepted"])
        for r in semdedup_incremental(
            semdedup_kept_state(existing, "embedding", "vec_id", 0.45, 6),
            incoming, "embedding", "vec_id", threshold=0.45, sign_bits=6,
        ).collect()
    }
    assert from_state == in_session
    null_rows = {t for t in from_state if t[0] % 10 == 0}
    assert len(null_rows) == 5  # nulls present, not dropped
    assert all(b == 0 and acc for (_, b, acc) in null_rows)
    # composite path: nulls must not reach the center-argmin crossJoin
    sd2 = str(tmp_path / "sd_nulls_ivf")
    SS.build_semdedup_state(
        e.filter(F.col("vec_id") < 250), "embedding", "vec_id", sd2,
        threshold=0.45, sign_bits=2, ivf_cells=4,
    )
    frozen = SS._frozen_cells_and_units(
        spark, incoming, SS.read_state_meta(sd2)
    )
    got = {(r["__id"], r["__bucket"]) for r in frozen.collect()}
    assert len(got) == 50
    assert all(b == 0 for (i, b) in got if i % 10 == 0)


def test_frozen_center_argmin_breaks_ties_to_lowest_index(spark, tmp_path):
    """ADVICE r10: an exact-tie vector (equidistant from two persisted
    centers) must re-home to the LOWEST cluster index — KMeans
    model.transform's deterministic rule on the build side — not
    whichever side min_by happens to see first."""
    meta = {
        "threshold": 0.45,
        "sign_bits": 1,
        "ivf_cells": 2,
        # v=[0,1] is exactly equidistant from both centers
        "centers": [[1.0, 1.0], [-1.0, 1.0]],
        "vec_col": "embedding",
        "id_col": "vec_id",
    }
    incoming = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [0.9, 1.0]), (3, [-0.9, 1.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {
        r["__id"]: r["__bucket"]
        for r in SS._frozen_cells_and_units(spark, incoming, meta).collect()
    }
    # bucket = cell * 2^1 + sign_bit; element 1 of v is irrelevant to
    # the tie — sign bit of v[0]: [0,1]->0, [0.9,...]->1, [-0.9,...]->0
    assert rows[2] == 0 * 2 + 1  # clearly nearest center 0
    assert rows[3] == 1 * 2 + 0  # clearly nearest center 1
    assert rows[1] == 0 * 2 + 0  # TIE -> lowest index (cell 0)
