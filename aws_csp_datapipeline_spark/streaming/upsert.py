"""Streaming CDC upsert: a change feed arriving as files, folded into
a maintained snapshot one micro-batch at a time.

This is the streaming form of ``operators.crud.apply_cdc`` — the
reference's per-row insert/update/delete API routes
(lambda/lambda_function.py:1004-1044) become a change *stream*, and
the snapshot is the continuously-merged table. Against Delta/Iceberg
storage the per-batch step is ``MERGE INTO`` inside ``foreachBatch``;
here the snapshot stays a DataFrame, materialized per batch with
``localCheckpoint`` so each fold reads the previous batch's result
(never a lazy self-reference) and the plan doesn't grow with batch
count.

Sequential correctness: ``apply_cdc`` keeps the latest change per key
within a batch, and batches arrive in sequence order (file-source
ordering by modification time), so the fold of batches equals the
global latest-change-per-key fold — the batch oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from aws_csp_datapipeline_spark import lifecycle
from aws_csp_datapipeline_spark.operators.crud import apply_cdc


def stream_upsert_cdc(
    spark: SparkSession,
    snapshot: DataFrame,
    changes_dir: str,
    key: str,
    op_col: str = "op",
    seq_col: str = "seq",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Replay a CDC landing directory (parquet change files) through a
    checkpointed stream, folding each micro-batch into ``snapshot``
    with ``apply_cdc``; returns the final snapshot.

    ``max_files_per_trigger=1`` processes one change file per batch —
    the arrival granularity of the reference's S3-notification path
    (one uploaded file ≡ one trigger).
    """
    checkpoint = checkpoint_dir or lifecycle.tempdir("upsert_ckpt_")
    # The snapshot is TABLE-scale, so its per-batch materializations
    # go to serialized disk blocks, and each fold drops the superseded
    # batch's blocks — otherwise N micro-batches retain N full-table
    # copies on the heap (the r12 iterative-lane discipline,
    # SCALE.md "gr3/gr5 at sf100").
    state = {
        "snap": lifecycle.checkpoint(snapshot, storage_level=StorageLevel.DISK_ONLY)
    }

    stream = (
        spark.readStream.schema(
            spark.read.parquet(changes_dir).schema
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("latestFirst", "false")
        .parquet(changes_dir)
    )

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merged = apply_cdc(
            state["snap"], batch_df, key, op_col=op_col, seq_col=seq_col
        )
        prev = state["snap"]
        state["snap"] = merged.localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY
        )
        lifecycle.release_checkpoint(prev)

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # fold ran on the stream's callback thread, outside the scope
    return lifecycle.release_at_exit(state["snap"])
