"""Mutation operators: the reference's CRUD surface as pure
DataFrame -> DataFrame transformations (SURVEY.md §2.8 M1-M7).

The reference mutates one Redshift table in place behind a whole-table
exclusive lock (lambda/lambda_function.py:266-273); here each mutation
is a snapshot-in → snapshot-out transformation. Persistence and the
concurrent-writer guarantee the reference's lock provided are supplied
by ``sources/snapshot_store.py`` (optimistic put-if-absent commits with
conflict retry — demonstrated in tests/test_concurrency.py, including
the concurrent MAX(key)+1 insert case) or by Delta MERGE where the jar
is available — these operators stay storage-agnostic.

Scale notes are per-function; the one intrinsically serial piece
(contiguous key assignment) windows ONLY the new batch, never the
existing table.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assign_serial_keys(
    table: DataFrame,
    new_rows: DataFrame,
    key: str,
    order_by: Sequence[str] | None = None,
) -> DataFrame:
    """M1: serial-key insert — the reference's
    ``INSERT ... SELECT COALESCE(MAX(s_no),0)+1`` under a table lock
    (lambda/lambda_function.py:258-333), restated for batches.

    The current max is a scalar aggregate over the table
    (map-side-combined, no shuffle of data rows); ``row_number`` runs
    over ONLY the new batch. A single-partition window over a small
    batch is fine; the 100-TB table itself is never windowed. When
    contiguity isn't observable, prefer ``monotonically_increasing_id``.
    Returns new_rows with ``key`` assigned (same schema as table).
    """
    order = list(order_by) if order_by else list(new_rows.columns)
    w = Window.orderBy(*order)
    # scalar max as a 1-row DF; cross-join broadcasts it to the batch
    cur_max = table.agg(
        F.coalesce(F.max(key), F.lit(0)).alias("__cur_max")
    )
    numbered = new_rows.withColumn("__rn", F.row_number().over(w))
    return (
        numbered.crossJoin(F.broadcast(cur_max))
        .withColumn(key, (F.col("__cur_max") + F.col("__rn")).cast("long"))
        .drop("__rn", "__cur_max")
    )


def insert_with_serial_keys(
    table: DataFrame, new_rows: DataFrame, key: str
) -> DataFrame:
    """M1 full flow: assign keys then append (unionByName)."""
    keyed = assign_serial_keys(table, new_rows, key)
    return table.unionByName(keyed.select(*table.columns))


def insert_if_absent(
    table: DataFrame, new_rows: DataFrame, unique_key: str | Sequence[str]
) -> DataFrame:
    """M2: uniqueness-guarded insert (check_And_Insert,
    lambda/lambda_function.py:338-396): drop incoming rows whose
    ``unique_key`` already exists, via one anti-join — the per-key
    EXISTS probe vectorized. New side is typically small → broadcast
    the probe result path is left to AQE.
    """
    keys = [unique_key] if isinstance(unique_key, str) else list(unique_key)
    return new_rows.join(table, keys, "left_anti")


def update_by_key(
    table: DataFrame, key: str, key_value, updates: Mapping[str, object]
) -> DataFrame:
    """M3: keyed update (update_tool_data,
    lambda/lambda_function.py:399-462) — ``UPDATE ... SET c=v WHERE
    s_no=k`` as conditional column rewrites. One pass, no shuffle.
    """
    pred = F.col(key) == F.lit(key_value)
    out = table
    for c, v in updates.items():
        out = out.withColumn(c, F.when(pred, F.lit(v)).otherwise(F.col(c)))
    return out


def update_from_batch(
    table: DataFrame, updates: DataFrame, key: str
) -> DataFrame:
    """M3 at scale: apply a whole batch of updates keyed by ``key``
    (the Delta-MERGE shape, lambda/lambda_function.py:412-428 semantics
    generalized). Updated columns take the batch's value where a match
    exists. Broadcast the (small) update batch; the big table never
    shuffles.
    """
    upd_cols = [c for c in updates.columns if c != key]
    renamed = updates.select(
        F.col(key), *[F.col(c).alias(f"__u_{c}") for c in upd_cols]
    )
    joined = table.join(F.broadcast(renamed), key, "left")
    out = joined
    for c in upd_cols:
        out = out.withColumn(c, F.coalesce(F.col(f"__u_{c}"), F.col(c)))
    return out.drop(*[f"__u_{c}" for c in upd_cols])


def merge_upsert(table: DataFrame, batch: DataFrame, key: str) -> DataFrame:
    """M8/MERGE: SCD1 upsert — ``WHEN MATCHED THEN UPDATE, WHEN NOT
    MATCHED THEN INSERT`` (the transactional generalization of the
    reference's probe-then-insert/update flows,
    lambda/lambda_function.py:338-396 + 399-462, collapsed into one
    relational expression).

    Matched rows take the batch's column values (broadcast left join +
    coalesce — the big table never shuffles); unmatched batch rows are
    appended, with any table columns missing from the batch filled
    with NULL. Against Delta storage this is ``MERGE INTO``; here it
    stays a pure snapshot transformation.
    """
    updated = update_from_batch(table, batch, key)
    # Which batch keys already exist? A naive batch-anti-join-table
    # would SHUFFLE the whole table (anti builds on the right side);
    # instead probe with a broadcast semi scan — the table is read
    # (key column only, pruned) but never shuffled, and the matched
    # key set is bounded by the batch size.
    matched = table.join(
        F.broadcast(batch.select(key).distinct()), key, "left_semi"
    ).select(key)
    inserts = batch.join(F.broadcast(matched), key, "left_anti")
    cols = []
    for f in table.schema.fields:
        if f.name in inserts.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return updated.unionByName(inserts.select(*cols))


def apply_cdc(
    table: DataFrame,
    changes: DataFrame,
    key: str,
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """CDC apply: fold a change feed (op ∈ I/U/D, monotone ``seq``)
    into a snapshot — the change-data-capture generalization of the
    reference's per-row insert/update/delete routes (one route call ≡
    one change row; lambda/lambda_function.py:1004-1044).

    Three steps, none of which shuffles the snapshot (a full-outer
    merge would — Spark can't broadcast a full-outer hash join, so it
    degrades to a both-sides-shuffled sort-merge):
    1. collapse the feed to the LATEST change per key (window over the
       feed only — the snapshot is never windowed);
    2. broadcast LEFT join feed→snapshot: D drops the row, U/I rewrite
       it, untouched keys pass through;
    3. feed keys absent from the snapshot become inserts — membership
       probed with a broadcast semi scan (key column only), never an
       anti-join that would shuffle the table.

    ``changes`` must carry ``key``, ``op_col``, ``seq_col`` plus the
    table's data columns (ignored for D).
    """
    w = Window.partitionBy(key).orderBy(F.col(seq_col).desc())
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", seq_col)
    )
    data_cols = [c for c in table.columns if c != key]
    lat = latest.select(
        F.col(key),
        F.col(op_col).alias("__op"),
        *[F.col(c).alias(f"__c_{c}") for c in data_cols],
    )
    merged = table.join(F.broadcast(lat), key, "left")
    # D rows drop out here; a D for an absent key never reaches the
    # insert path either (op filter below), so it can't resurrect
    kept = merged.filter(F.col("__op").isNull() | (F.col("__op") != "D"))
    updated = kept.select(
        F.col(key),
        *[
            F.when(F.col("__op").isin("I", "U"), F.col(f"__c_{c}"))
            .otherwise(F.col(c))
            .alias(c)
            for c in data_cols
        ],
    )
    matched = table.join(
        F.broadcast(lat.select(key).distinct()), key, "left_semi"
    ).select(key)
    inserts = (
        lat.filter(F.col("__op").isin("I", "U"))
        .join(F.broadcast(matched), key, "left_anti")
        .select(F.col(key), *[F.col(f"__c_{c}").alias(c) for c in data_cols])
    )
    return updated.unionByName(inserts)


def soft_delete(table: DataFrame, key: str, key_value, flag: str = "is_display") -> DataFrame:
    """M4: soft delete — ``UPDATE ... SET is_display=FALSE WHERE
    s_no=k`` (soft_delete_tool, lambda/lambda_function.py:549-592).
    Row stays (still counts for MAX-key assignment); reads filter it
    out via the visibility view (relational.visible).
    """
    return table.withColumn(
        flag,
        F.when(F.col(key) == F.lit(key_value), F.lit(False)).otherwise(F.col(flag)),
    )


def hard_delete(table: DataFrame, key: str, key_value) -> DataFrame:
    """M5: hard delete — ``DELETE FROM t WHERE s_no = k``
    (sql/ddl_create_tables.sql:61-62). An anti-filter; at rest this is
    a partition-pruned rewrite (or Delta DELETE)."""
    return table.filter(F.col(key) != F.lit(key_value))


def guarded_update(
    table: DataFrame, updates: DataFrame, key: str
) -> tuple[DataFrame, DataFrame]:
    """M6: guarded mutation (check_And_Update,
    lambda/lambda_function.py:466-546): split the update batch into
    (applicable, rejected-404) via semi/anti joins, then apply the
    applicable ones. Returns (updated_table, rejected_updates).
    """
    applicable = updates.join(table, key, "left_semi")
    rejected = updates.join(table, key, "left_anti")
    return update_from_batch(table, applicable, key), rejected


def dedup_by_keys(
    df: DataFrame, keys: Sequence[str], order_col: str
) -> DataFrame:
    """M7: duplicate-load avoidance ("simple date check",
    README.md:56) — keep exactly one row per key combination,
    deterministically (lowest ``order_col``), via a per-key window.
    Unlike ``dropDuplicates`` this is reproducible, which the oracle
    needs. Shuffles once on ``keys``.
    """
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(F.col(order_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
