"""The driver-contract query registry.

Each entry is a named query: a ``(spark, sf_dir) -> DataFrame`` plan
built from the operator library, plus (where SQL-expressible) an ANSI
SQL oracle that DuckDB runs on the same parquet tables. Aliases are
kept identical on both sides — the driver sorts columns by name before
hashing values (see /root/repo/__spark_entry__.py docstring).

Float discipline: aggregate outputs of double columns are ROUNDed on
BOTH sides so engine-order-dependent last-bit drift can't break the
value hash. IEEE -0.0 rule (CORRECTNESS_r11's ml2 fail): DuckDB's
ROUND preserves the sign of a tiny negative (-1e-17 -> -0.0) while
Spark's BigDecimal-backed round always returns +0.0, so every oracle
ROUND over a SIGNED quantity that can land near zero (z-scores,
centered means, slopes, cosines, log-ratios, diffs) must carry a
`+ 0` zero-fold; tools/audit_negzero.py sweeps the registry for
violations and tests/test_registry_oracle.py enforces it.

Registry keys map to SURVEY.md §2 operator ids in each docstring.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_csp_datapipeline_spark.catalog import load_table
from aws_csp_datapipeline_spark.operators import relational as R


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    # Largest SF at which the oracle comparison is VALID (None = any).
    # Machine-enforced gate for sketch-backed queries whose oracle is
    # only exact inside a documented window (a15: GK rank error ≤
    # N/accuracy ⇒ exact only while every group holds ≤ accuracy
    # rows). tests/test_registry_oracle.py downgrades the compare to
    # rows-only beyond this SF instead of reporting a spurious
    # mismatch; the driver attests at sf0.01, inside every window.
    oracle_sf_max: float | None = None


_REGISTRY: list[QuerySpec] = []


def register(name: str, oracle: str | None = None, oracle_sf_max: float | None = None):
    def deco(fn):
        _REGISTRY.append(QuerySpec(name, fn, oracle, oracle_sf_max))
        return fn

    return deco


# Attestation window: the driver's correctness report samples a fixed-size
# prefix of the registry, so the first 50 entries are a curated cross-family
# sample (CRUD, cleaning, dedup, text, similarity, streaming, sampling,
# window, as-of, pattern, graph, quality, core analytics) rather than the
# module-import order, which would front-load the analytics block.
#
# The window ROTATES: a fixed core keeps the external record's
# longitudinal coverage of every family, then come the names the driver
# has never hash-checked, and attested names fill the rest. Everything
# rotated OUT stays green in tests/test_registry_oracle.py (same DuckDB
# compare, every oracle-paired query). tests/test_registry_window.py
# asserts every registry name is driver-attested (appears in a
# committed CORRECTNESS_r*.json) or in this window, so attestation debt
# cannot accrue silently when lanes are added.
#
# 13 lanes stay rows-only BY DESIGN (index/sketch/stream/BPE-internal
# outputs plus one transcendental-key sampler: pipe3, a9, a17, s3, s5,
# s18, s19, s20, st9, t17, t18, pipe5, tt20 — tt20's E-S ranking key is
# log(u)/w, and IEEE leaves log's last ulp engine-specific), each with
# a behavioral pytest in lieu of a SQL oracle.
_WINDOW: tuple[str, ...] = (
    # --- fixed core ---
    "q1_pricing_summary",
    "m1_serial_insert",
    "m4_soft_delete_visible",
    "f7_messy_dates",
    "d1_exact_dedup",
    "d3_minhash_lsh_pairs",
    "t1_token_stats",
    "s1_cosine_topk",
    "st1_stream_ingest_dedup",
    "tt1_hash_split",
    "w1_topk_per_group",
    "x1_asof_join",
    "gr1_triangle_count",
    "dq1_column_profile",
    "pipe4_full_curation",
    # --- oracle-upgrade tail: the last driver record predates the
    # oracle pairing (it says no_oracle), so the driver has never
    # hash-checked these ---
    "a20_cms_heavy_hitters",
    "dq14_file_manifest",
    "t5_winnow_fingerprints",
    "mm1_media_features",
    "mm5_audio_features",
    "mm6_video_meta",
    "mm7_image_dhash_groups",
    "mm8_image_neardup_pairs",
    # --- no driver record yet ---
    "gr9_neighbor_jaccard_estimate",
    "ml3_roc_auc",
    "ml4_score_reliability",
    "ml5_threshold_sweep",
    "ml6_best_operating_point",
    "ml7_scorer_auc",
    "ml8_pr_auc",
    "tt17_purged_time_split",
    "tt18_epoch_expansion",
    "tt19_scaling_law_subsets",
    "st11_stream_gate_monitor",
    "tt20_weighted_topk_sample",  # rows-only lane
    # --- attested names that keep each family in the sample ---
    "q17_below_avg_quantity",
    "q18_large_orders",
    "d5_minhash_signatures",
    "d7_canonical_corpus",
    "gr3_pagerank_top",
    "s8_cosine_neardup_pairs",
    "s13_centroid_distances",
    "st4_stream_stream_join",
    "st7_stream_cdc_upsert",
    "tt5_split_leakage",
    "dq3_snapshot_diff",
    "fun3_benford_audit",
    "h3_log_histogram",
    "w8_range_frame",
    "x11_minmax_downsample",
)


def specs() -> list[QuerySpec]:
    _load_plan_modules()
    by_name = {s.name: s for s in _REGISTRY}
    window = [by_name[n] for n in _WINDOW if n in by_name]
    in_window = {s.name for s in window}
    return window + [s for s in _REGISTRY if s.name not in in_window]


_LOADED = False


def _load_plan_modules() -> None:
    """Import the plan modules exactly once so their @register calls
    populate the registry (kept lazy to avoid circular imports)."""
    global _LOADED
    if _LOADED:
        return
    _LOADED = True
    from aws_csp_datapipeline_spark.plans import (  # noqa: F401
        q_analytics,
        q_analytics2,
        q_analytics3,
        q_analytics4,
        q_analytics5,
        q_analytics6,
        q_asof,
        q_cleaning,
        q_crud,
        q_dedup,
        q_graph,
        q_linkage,
        q_pattern,
        q_quality,
        q_range,
        q_sampling,
        q_similarity,
        q_streaming,
        q_text,
        q_tokenize,
        q_window,
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {s.name: s.fn for s in specs()}


def oracle_sql() -> dict[str, str]:
    return {s.name: s.oracle for s in specs() if s.oracle is not None}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# =====================================================================
# Flagship — scan → filter → 2-key group-by → multi-agg → order
# (dashboard A5 shape over the lineitem analog; SURVEY.md §7.2 M1)
# =====================================================================

@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                    AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                               AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
           ROUND(AVG(l_quantity), 4)                                    AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                               AS avg_price,
           COUNT(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary. Filter pushes to the parquet
    scan; group-by partial-aggregates map-side then shuffles only the
    (returnflag, linestatus) groups — constant-size shuffle at any SF.
    """
    li = _t(spark, sf_dir, "lineitem")
    filtered = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    return filtered.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


# =====================================================================
# Projections & filters (SURVEY.md §2.2 P1-P8)
# =====================================================================

@register(
    "p3_detail_projection",
    """
    SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
    FROM orders WHERE o_orderkey <= 150
    """,
)
def p3_detail_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P3: multi-column projection + key-range predicate (the
    dashboard detail table shape). Scan reads only 4 columns
    (ReadSchema pruning) and skips row groups past key 150.
    """
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 150)
        .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
    )


@register(
    "p4_point_lookup",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS DATE) AS o_orderdate
    FROM orders WHERE o_orderkey = 42
    """,
)
def p4_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: point lookup ``WHERE s_no = k`` (lambda_function.py:693)."""
    return R.point_lookup(_t(spark, sf_dir, "orders"), "o_orderkey", 42).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.to_date("o_orderdate").alias("o_orderdate"),
    )


@register(
    "p5_filter_eq_string",
    """
    SELECT c_custkey, c_name, c_mktsegment FROM customer
    WHERE c_mktsegment = 'BUILDING'
    """,
)
def p5_filter_eq_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: string equality filter (``WHERE login='x'``,
    lambda_function.py:773)."""
    return R.filter_eq(_t(spark, sf_dir, "customer"), "c_mktsegment", "BUILDING").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "p7_conjunctive_filter",
    """
    SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 300000.0
      AND o_orderpriority = '1-URGENT'
    """,
)
def p7_conjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: conjunctive predicate (lambda_function.py:693) — each
    conjunct pushes down independently."""
    o = _t(spark, sf_dir, "orders")
    return R.filter_and(
        o,
        F.col("o_orderstatus") == "F",
        F.col("o_totalprice") > 300000.0,
        F.col("o_orderpriority") == "1-URGENT",
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")


@register(
    "p8_contains_ci",
    """
    SELECT p_partkey, p_name, p_brand FROM part
    WHERE upper(p_name) LIKE '%RED%'
    """,
)
def p8_contains_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/F1/F2: case-insensitive contains
    (sql/ddl_create_tables.sql:70)."""
    return R.contains_ci(_t(spark, sf_dir, "part"), "p_name", "red").select(
        "p_partkey", "p_name", "p_brand"
    )


# =====================================================================
# Existence / semi / anti (SURVEY.md §2.2 P9, §2.6)
# =====================================================================

@register(
    "p9_exists_semijoin",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 450000.0)
    """,
)
def p9_exists_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: EXISTS as a distributed left-semi join (the reference's
    per-key probe check_s_no_exists, lambda_function.py:650-684,
    vectorized over all keys at once)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000.0)
    return R.exists_semi(
        c, o, [c.c_custkey == o.o_custkey]
    ).select("c_custkey", "c_name")


@register(
    "p9_not_exists_antijoin",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def p9_not_exists_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 guard shape: NOT EXISTS as a left-anti join
    (check_And_Insert, lambda_function.py:342-364)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return R.not_exists_anti(
        c, o, [c.c_custkey == o.o_custkey]
    ).select("c_custkey", "c_name")


@register(
    "p9_exists_flag",
    """
    SELECT COUNT(*) > 0 AS exists_flag FROM (
      SELECT 1 FROM part WHERE upper(p_name) LIKE '%RED%' LIMIT 1
    )
    """,
)
def p9_exists_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 scalar form: SELECT EXISTS(...) → one boolean row
    (lambda_function.py:172-178); limit(1) short-circuits."""
    return R.exists_flag(
        _t(spark, sf_dir, "part"), F.upper(F.col("p_name")).like("%RED%")
    )


# =====================================================================
# Aggregates (SURVEY.md §2.3 A1-A7)
# =====================================================================

@register("a1_scalar_max", "SELECT MAX(o_orderkey) AS max_val FROM orders")
def a1_scalar_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: ungrouped MAX (high-water key, lambda_function.py:299)."""
    return R.scalar_max(_t(spark, sf_dir, "orders"), "o_orderkey")


@register(
    "a2_summary_stats",
    """
    SELECT MIN(o_orderkey) AS min_val, MAX(o_orderkey) AS max_val,
           COUNT(*) AS n_rows
    FROM orders
    """,
)
def a2_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: MIN/MAX/count sanity triple (sql/ddl_create_tables.sql:64)."""
    return R.summary_stats(_t(spark, sf_dir, "orders"), "o_orderkey")


@register("a3_total_count", "SELECT COUNT(*) AS total_count FROM events")
def a3_total_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: KPI total_count (lambda_function.py:98, 817)."""
    return R.total_count(_t(spark, sf_dir, "events"))


@register(
    "a4_group_count",
    "SELECT o_orderpriority, COUNT(*) AS cnt FROM orders GROUP BY o_orderpriority",
)
def a4_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: 1-key group-by count (the QuickSight pie charts)."""
    return R.group_count(_t(spark, sf_dir, "orders"), ["o_orderpriority"])


@register(
    "a5_group_count_2key",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def a5_group_count_2key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: 2-key group-by count (dashboard grouped bar)."""
    return R.group_count(_t(spark, sf_dir, "lineitem"), ["l_returnflag", "l_linestatus"])


@register(
    "a5_pivot_count",
    """
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_linestatus = 'F') AS "F",
           COUNT(*) FILTER (WHERE l_linestatus = 'O') AS "O"
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a5_pivot_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 chart form: groupBy(a).pivot(b).count() with explicit pivot
    values (single pass — no distinct-values pre-job). Empty cells
    filled with 0 to match COUNT FILTER semantics."""
    out = R.pivot_count(
        _t(spark, sf_dir, "lineitem"), "l_returnflag", "l_linestatus", ["F", "O"]
    )
    return out.na.fill(0, ["F", "O"])


@register(
    "a6_group_sum",
    """
    SELECT event_type, ROUND(SUM(value), 2) AS total_value, COUNT(*) AS cnt
    FROM events GROUP BY event_type
    """,
)
def a6_group_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: group-by SUM ("Tool usage by team", README.md:88)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.sum("value"), 2).alias("total_value"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "a7_next_serial_key",
    "SELECT COALESCE(MAX(n_nationkey), 0) + 1 AS next_key FROM nation",
)
def a7_next_serial_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: COALESCE(MAX(key),0)+1 serial-key scalar
    (lambda_function.py:269-271), incl. the empty-table edge."""
    return R.next_serial_key(_t(spark, sf_dir, "nation"), "n_nationkey")


# =====================================================================
# Sort / limit / top-k (SURVEY.md §2.5 O1-O3)
# =====================================================================

@register(
    "o3_topk",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 150
    """,
)
def o3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1-O3: filter→ORDER BY→LIMIT 150
    (sql/ddl_create_tables.sql:69-72). Planned as
    TakeOrderedAndProject — per-partition heaps, no global sort.
    o_orderkey tiebreak keeps the row set deterministic."""
    return R.top_k(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        150,
    )


# =====================================================================
# Joins (SURVEY.md §2.6 — star-schema surface)
# =====================================================================

@register(
    "j1_broadcast_dim_join",
    """
    SELECT n.n_nationkey, n.n_name, r.r_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def j1_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join with broadcast hint — zero shuffle."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return R.broadcast_join(n, r, [n.n_regionkey == r.r_regionkey]).select(
        "n_nationkey", "n_name", "r_name"
    )


@register(
    "j2_star_agg",
    """
    SELECT r.r_name, COUNT(*) AS n_customers,
           ROUND(SUM(c.c_acctbal), 2) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def j2_star_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema rollup: fact × two broadcast dims × group-by. The
    fact table never shuffles for the joins; only the tiny grouped
    result shuffles."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = R.broadcast_join(c, n, [c.c_nationkey == n.n_nationkey])
    joined = R.broadcast_join(joined, r, [n.n_regionkey == r.r_regionkey])
    return joined.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
    )
