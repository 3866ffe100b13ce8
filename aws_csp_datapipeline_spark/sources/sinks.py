"""Sinks (SURVEY.md §2.1 S5-S6).

The reference materializes results as a ``{total_count, records}``
JSON envelope (lambda/lambda_function.py:96-102, 814-823) and loads
tables row-by-row (README.md:55). Here: the envelope is a collect-side
convenience for small results; table persistence is batch columnar
writes with layout control replacing Redshift's DISTSTYLE/SORTKEY
(sql/ddl_create_tables.sql:26).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def json_envelope(
    df: DataFrame,
    limit: int | None = None,
    allow_full_collect: bool = False,
    order_by: str | list[str] | None = None,
) -> str:
    """``{total_count, records}`` envelope. total_count counts every
    row of ``df``; only ``limit`` records are collected (the reference
    caps interactive results at LIMIT 150,
    sql/ddl_create_tables.sql:36).

    ``order_by`` sorts before the limit so a truncated envelope is a
    DETERMINISTIC prefix — mirroring the reference, whose interactive
    queries carry ORDER BY s_no (sql/ddl_create_tables.sql:71-72).
    Without it, ``df.limit(n)`` on a larger result returns an
    arbitrary, run-to-run varying subset. One documented divergence
    from the reference remains: its lambda paginates the FULL result
    (lambda_function.py:98) so total_count == len(records) there,
    while here total_count counts all rows and records is the capped
    prefix.

    An ordered capped envelope is one Spark job: its top-K reads every
    row, and total_count is a ``DataFrame.observe`` count on that job.
    Without a limit, total_count is the number of records collected.
    An unordered ``limit(n)`` stops reading early, and ``limit=0`` may
    be pruned to an empty relation, so those keep a separate
    ``count()``.

    This is the one deliberate ``.collect()`` in the codebase — an
    API-parity endpoint for bounded interactive results, not a query
    operator. Misuse guard: with ``limit=None`` the WHOLE result ships
    to the driver, so an unbounded collect must be opted into with
    ``allow_full_collect=True``; otherwise this raises instead of
    OOM-ing the driver on a corpus-scale plan."""
    if limit is None and not allow_full_collect:
        raise ValueError(
            "json_envelope without a limit collects the entire result "
            "on the driver; pass limit=N (the reference caps at 150) "
            "or explicitly opt in with allow_full_collect=True"
        )
    observation = None
    out = df
    if order_by is not None and limit:
        # the top-K reads every row, so it can count them too
        observation = Observation()
        out = out.observe(observation, F.count(F.lit(1)).alias("n"))
    if order_by is not None:
        cols = [order_by] if isinstance(order_by, str) else list(order_by)
        # A struct key sorts exactly like the column list, but no input
        # ordering can satisfy it: given an input already sorted on the
        # columns, the top-K would read only `limit` rows per partition
        # and the observed count would come up short.
        out = out.orderBy(F.struct(*cols))
    if limit is not None:
        out = out.limit(limit)
    # A Dataset action: an RDD action (toJSON().collect()) leaves the
    # observation unfilled.
    rows = [r.json for r in json_lines(out).collect()]
    if limit is None:
        total = len(rows)
    elif observation is not None:
        total = observation.get["n"]
    else:
        total = df.count()
    return json.dumps({"total_count": total, "records": [json.loads(r) for r in rows]})


def json_lines(df: DataFrame) -> DataFrame:
    """Distributed JSON serialization: one JSON string per row —
    ``F.to_json(F.struct('*'))``, no driver collect."""
    return df.select(F.to_json(F.struct(*df.columns)).alias("json"))


def paginate(df: DataFrame, page_size: int = 1000):
    """S4: paginated result fetch (the reference's NextToken loop,
    lambda/lambda_function.py:65-91) — ``toLocalIterator`` streams one
    partition at a time to the driver; yields row-dict pages."""
    page: list[dict] = []
    for row in df.toLocalIterator():
        page.append(row.asDict())
        if len(page) >= page_size:
            yield page
            page = []
    if page:
        yield page


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    sort_key: str | None = None,
    partition_by: list[str] | None = None,
    target_partitions: int | None = None,
) -> None:
    """Warehouse-table sink: batch parquet append replacing the
    reference's 1-row-per-transaction INSERT loop
    (lambda/lambda_function.py:266-273). ``sort_key`` reproduces
    SORTKEY semantics — rows sorted within files → parquet min/max
    row-group pruning on that key at read time."""
    out = df
    if target_partitions:
        out = out.repartition(target_partitions)
    if sort_key:
        out = out.sortWithinPartitions(sort_key)
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
