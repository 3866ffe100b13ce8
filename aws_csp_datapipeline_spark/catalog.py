"""Table registry for the driver-provided test star schema.

Explicit schemas (no inference in the engine core — SURVEY.md §1.3) for
the TPC-H-ish tables plus the LLM-pipeline tables. ``load_tables``
returns lazy DataFrames; Catalyst prunes columns / pushes predicates to
the Parquet scan per consuming query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Explicit schemas so readers never infer. Timestamps are stored as
# parquet TIMESTAMP (naive micros); with the UTC session they are
# stable across engines.
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def table_row_count(sf_dir: str, name: str) -> int:
    """EXACT row count from the parquet FOOTER metadata (pyarrow,
    driver-side) — zero Spark jobs. This is the statistic the
    auto-quantizer knobs need (d10's cell count, s5's IVF cells,
    pipe2/pipe4's salt buckets): reading it from file metadata keeps
    the plan builders LAZY — a `df.count()` there launches a hidden
    eager job per invocation (the r9 verdict's watch item 2).
    Handles both single-file and directory-of-parts layouts; row
    counts come from footer stats, so cost is one footer read per
    file regardless of table size. The walk mirrors Spark's path
    filter: hidden / underscore-prefixed directories and files
    (``_temporary`` staging trees from an interrupted write,
    ``.crc`` siblings) are pruned, so a stale staging file can't
    inflate the count that feeds the quantizer/salt/dispatch knobs
    (ADVICE r10)."""
    import os

    import pyarrow.parquet as pq

    path = table_path(sf_dir, name)
    if os.path.isdir(path):
        total = 0
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in files:
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    total += pq.ParquetFile(
                        os.path.join(root, f)
                    ).metadata.num_rows
        return total
    return pq.ParquetFile(path).metadata.num_rows


def _tune_runtime(spark: SparkSession) -> None:
    """Size runtime-mutable knobs for a session the engine didn't
    build (the driver hands us a vanilla SparkSession). Only the
    untouched Spark default (200 shuffle partitions) is overridden —
    a deliberate setting, ours or the caller's, is left alone. 200
    reduce tasks per shuffle on a small-core local session is pure
    scheduling overhead (worst for iterative plans: PageRank,
    connected components, streaming state stores, which all inherit
    it as their state partition count)."""
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            cores = spark.sparkContext.defaultParallelism
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(max(2 * cores, 16))
            )
    except Exception:
        pass  # read-only conf backend: keep the session as-is


# Per-session memo of loaded base-table DataFrames (plan handles, not
# data): every `spark.read.parquet(path)` is a driver round-trip that
# lists the path and re-reads footers for schema inference — measured
# ~90 ms per call, 82 calls / 6.2 s across one pass of the headline
# registry (guide §5: the driver should not repeat metadata work; §6:
# Spark itself caches file listings for the same reason). The memo key
# includes the path's (mtime_ns, size), so a table REWRITTEN in place
# (CRUD tests, scratch corpora) gets a fresh relation — only genuinely
# unchanged inputs reuse the plan handle. DataFrames are immutable, so
# handing the same lazy plan to many queries changes nothing about
# what each computes, and no data is cached: every action still scans
# parquet.
_LOAD_MEMO = None  # WeakKeyDictionary[SparkSession, dict[tuple, DataFrame]]


def _path_stamp(path: str) -> tuple | None:
    """(mtime_ns, size) of ``path``, or None when it cannot be stat'ed
    (a remote URI, a permission error): a change there is undetectable,
    so such a path is never memoized."""
    import os

    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table lazily. Parquet carries its own schema; we keep
    the registry as documentation + for CSV/JSON readers that need it.

    ``events.ts`` arrives in different parquet physical types across
    testdata generations: TIMESTAMP(NANOS) (which Spark's vectorized
    reader rejects — read as long nanos via ``nanosAsLong`` and
    rebuilt with ``timestamp_micros``) or plain TIMESTAMP(MICROS)
    (read natively as TIMESTAMP_NTZ — cast to session TimestampType).
    Both normalizations are pure column expressions, fully codegen'd,
    and yield identical values under the UTC test session.
    """
    _tune_runtime(spark)
    path = table_path(sf_dir, name)
    # weak-keyed on the live SparkSession wrapper: a stopped-and-
    # rebuilt session gets a fresh sub-map (never plan handles bound
    # to a dead one), and dead sessions drop their entries with GC
    global _LOAD_MEMO
    if _LOAD_MEMO is None:
        import weakref

        _LOAD_MEMO = weakref.WeakKeyDictionary()
    if name == "events":
        # On every call, memo hit or not: queries built on the returned
        # relation are analyzed and run under the session's confs then.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The NTZ→TimestampType branch of normalize_event_ts interprets
        # naive wall time in the SESSION timezone; the engine's contract
        # (and every oracle comparison) is UTC. Force it here so a
        # caller-built non-UTC session can't silently shift event times.
        if spark.conf.get("spark.sql.session.timeZone") != "UTC":
            spark.conf.set("spark.sql.session.timeZone", "UTC")
    per_session = _LOAD_MEMO.setdefault(spark, {})
    stamp = _path_stamp(path)
    key = (path, stamp)
    hit = per_session.get(key)
    if hit is not None:
        return hit
    if len(per_session) > 256:  # bound: stamps of rewritten paths pile up
        per_session.clear()
    df = spark.read.parquet(path)
    if name == "events":
        df = df.withColumn("ts", normalize_event_ts(df))
    if stamp is not None:
        per_session[key] = df
    return df


def normalize_event_ts(df: DataFrame):
    """Column expression turning whatever physical type ``ts`` was
    read as (long nanos | TIMESTAMP_NTZ | TIMESTAMP) into
    TimestampType. The non-long branch assumes a UTC session (forced
    in ``load_table``)."""
    if isinstance(df.schema["ts"].dataType, T.LongType):
        return F.timestamp_micros(F.expr("ts div 1000"))
    return F.col("ts").cast("timestamp")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
