"""Distributed exact global ranking — the unpartitioned-Window fix.

``F.row_number().over(Window.orderBy(...))`` with no partition key is
correct and convenient, and it funnels EVERY row through one task: the
single-partition sort is this repo's canonical scale anti-pattern
(SCALE.md bans it from headline plans). But several real operators
need a TOTAL order — vocabulary id assignment (t14), rank fusion
(s10's RRF), rank-weighted statistics (w13's Gini), equi-depth
binning (h2) — where a top-k heap can't substitute because every
row's rank contributes to the result.

``global_row_number`` computes the identical ranks distributively,
with the classic range-partition + offset construction:

1. ``repartitionByRange`` on the FULL ordering (which must be a total
   order — include the unique tie-break column; callers here always
   rank on (rounded measure, key)) splits the data into ordered,
   non-overlapping ranges;
2. each range ranks locally (a Window partitioned by the range id —
   Catalyst adds one hash exchange of narrow rows, every range a
   parallel task);
3. range row-counts (a tiny per-range aggregate, broadcast back)
   become prefix offsets: global rank = offset(range) + local rank.

The result is DETERMINISTIC even though range boundaries come from
sampling: with a total order, every row's set of predecessors — and
hence offset + local rank — is boundary-invariant (a boundary only
moves rows between adjacent ranges together with their counts). AQE
may coalesce adjacent ranges; adjacency preserves order, so ranks are
unchanged.

``exact_ntile`` builds NTILE(k) from the global rank in closed form
(the first n % k tiles hold ceil(n/k) rows, the rest floor(n/k)) —
bit-identical to ``F.ntile(k).over(Window.orderBy(...))`` and to SQL
NTILE, pinned against DuckDB by the h2/t26 oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aws_csp_datapipeline_spark import lifecycle


# Below this many ranked rows the plain single-partition window wins:
# the distributed form pays a persist, a broadcast join, and two extra
# exchanges that measure ~2.5× on a 200k-row vocabulary (t14 at
# sf0.1), while a one-task sort of ≤5M narrow rows is seconds.
# Above it the window's 1-task sort dominates everything: measured at
# sf100, 15M-row Gini rank 44-69 s window vs 17-23 s distributed,
# 150M-row decile ntile 490-499 s vs 118-120 s (SCALE.md "rank
# primitive"). Callers pass ``n_hint`` — an UPPER BOUND on the ranked
# row count from parquet-footer metadata (catalog.table_row_count,
# zero jobs; the lazy-knob rule) — to dispatch; no hint = distributed
# (the safe-at-scale default).
SINGLE_PARTITION_MAX = 5_000_000


def global_row_number(
    df: DataFrame,
    order: list[Column],
    out: str = "rn",
    n_hint: int | None = None,
) -> DataFrame:
    """Add ``out`` = the 1-based global row number of each row under
    ``order`` (MUST be a total order — include a unique tie-break).
    Identical values to ``row_number().over(Window.orderBy(*order))``,
    computed without a single-partition sort — unless ``n_hint``
    (an upper bound on the ranked row count, typically a
    parquet-footer table count) says the frame is small enough that
    the window form is strictly cheaper (``SINGLE_PARTITION_MAX``)."""
    if n_hint is not None and n_hint <= SINGLE_PARTITION_MAX:
        return df.withColumn(
            out, F.row_number().over(Window.orderBy(*order))
        )
    # The ranged frame feeds two consumers (the rank rows and the
    # offsets); persist it so the source computes ONCE — without the
    # cache a separate branch measured as a second full scan + range
    # shuffle of the input (exchange reuse did not fire under AQE).
    # The cache is the input's width — callers here rank
    # already-aggregated frames (vocab counts, per-customer revenue,
    # score lists), not raw corpora.
    ranged = lifecycle.persist(
        df.repartitionByRange(*order).withColumn("__grp", F.spark_partition_id())
    )
    # local rank AND group size come from the SAME window stage (same
    # partition key ⇒ one exchange, stacked Window nodes)
    lw = Window.partitionBy("__grp").orderBy(*order)
    cw = Window.partitionBy("__grp")
    local = ranged.withColumn("__lrn", F.row_number().over(lw)).withColumn(
        "__gc", F.count(F.lit(1)).over(cw)
    )
    groups = local.select("__grp", "__gc").distinct()  # one row per range
    ow = Window.orderBy("__grp").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = groups.select(
        "__grp", F.coalesce(F.sum("__gc").over(ow), F.lit(0)).alias("__off")
    )
    return (
        local.join(F.broadcast(offsets), "__grp")
        .withColumn(out, (F.col("__off") + F.col("__lrn")).cast("int"))
        .drop("__grp", "__lrn", "__gc", "__off")
    )


def exact_ntile(
    df: DataFrame,
    k: int,
    order: list[Column],
    out: str = "tile",
    n_hint: int | None = None,
) -> DataFrame:
    """Add ``out`` = NTILE(k) under ``order`` (a total order), via
    ``global_row_number`` + the closed-form bucket expression —
    bit-identical to the window NTILE at any scale. Same ``n_hint``
    dispatch as ``global_row_number``: small frames take the plain
    window NTILE."""
    if n_hint is not None and n_hint <= SINGLE_PARTITION_MAX:
        return df.withColumn(
            out, F.ntile(k).over(Window.orderBy(*order))
        )
    ranked = global_row_number(df, order, out="__gr")
    # count through the ranked lineage, not the raw input — the rank's
    # cached ranged frame serves it without recomputing the source
    n = ranked.agg(F.count(F.lit(1)).alias("__n"))
    j = ranked.crossJoin(F.broadcast(n))
    q = F.floor(F.col("__n") / k)
    rem = F.col("__n") % k
    r = F.col("__gr")
    in_big = r <= rem * (q + 1)
    tile = F.when(in_big, F.ceil(r / (q + 1))).otherwise(
        rem + F.ceil((r - rem * (q + 1)) / q)
    )
    return j.withColumn(out, tile.cast("int")).drop("__gr", "__n")
