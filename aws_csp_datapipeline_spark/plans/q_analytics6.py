"""Sixth analytics batch: time-series comparison (period-over-period),
distribution shape (equi-depth histogram, Benford first-digit audit),
and statistical outlier gating — the reporting-layer ops a metrics
warehouse runs on top of the reference's group-by dashboard surface
(QuickSight PNG; README.md:87-90), generalized to the star schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_csp_datapipeline_spark.catalog import load_table, table_row_count
from aws_csp_datapipeline_spark.plans.registry import register


@register(
    "w12_period_over_period",
    """
    WITH monthly AS (
      SELECT o_orderpriority, strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             SUM(o_totalprice) AS rev
      FROM orders GROUP BY 1, 2
    )
    SELECT o_orderpriority, month, ROUND(rev, 2) AS revenue,
           ROUND(
             (rev - lag(rev) OVER (PARTITION BY o_orderpriority ORDER BY month))
             / lag(rev) OVER (PARTITION BY o_orderpriority ORDER BY month), 6)
             AS mom_change
    FROM monthly
    """,
)
def w12_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue change per priority class — the
    aggregate-then-window composition every metrics dashboard runs
    (LAG over a grouped series). The raw fact rows reduce to
    |priorities| x |months| rows in one partial-aggregated shuffle;
    the LAG window runs on that constant-size series, partitioned by
    priority so no single-partition bottleneck appears at any fact
    scale."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        "o_orderpriority",
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month"),
    ).agg(F.sum("o_totalprice").alias("rev"))
    w = Window.partitionBy("o_orderpriority").orderBy("month")
    prev = F.lag("rev").over(w)
    return monthly.select(
        "o_orderpriority",
        "month",
        F.round("rev", 2).alias("revenue"),
        F.round((F.col("rev") - prev) / prev, 6).alias("mom_change"),
    )


@register(
    "h2_equidepth_histogram",
    """
    WITH binned AS (
      SELECT o_totalprice,
             CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey)
                  AS INTEGER) AS decile
      FROM orders
    )
    SELECT decile, COUNT(*) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi,
           ROUND(AVG(o_totalprice), 4) AS mean_price
    FROM binned GROUP BY decile
    """,
)
def h2_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram of order value: exact ntile with
    a key tie-break so bin assignment is fully deterministic, then
    per-bin count/bounds/mean. The EXACT ntile no longer needs a
    single-partition sort: `functions/rank.exact_ntile`
    (range-partitioned global rank + closed-form bucket) is
    bit-identical to the window NTILE with the fact table moving
    through parallel range exchanges only; the cheaper-still 100-TB
    alternative remains approx-percentile cut points
    (a15_approx_percentile) joined back as bin edges. Ten output
    rows either way."""
    from aws_csp_datapipeline_spark.functions.rank import exact_ntile

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    binned = exact_ntile(
        o, 10, [F.asc("o_totalprice"), F.asc("o_orderkey")], out="decile",
        n_hint=table_row_count(sf_dir, "orders"),
    )
    return binned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
        F.round(F.avg("o_totalprice"), 4).alias("mean_price"),
    )


@register(
    "fun3_benford_audit",
    """
    WITH digits AS (
      SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
               AS first_digit
      FROM orders WHERE o_totalprice >= 1.0
    ),
    counted AS (
      SELECT first_digit, COUNT(*) AS n FROM digits GROUP BY first_digit
    )
    SELECT first_digit, n,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS observed_share,
           ROUND(log10(1.0 + 1.0 / CAST(first_digit AS DOUBLE)), 6)
             AS benford_share,
           ROUND(abs(CAST(n AS DOUBLE) / SUM(n) OVER ()
                     - log10(1.0 + 1.0 / CAST(first_digit AS DOUBLE))), 6)
             AS abs_dev
    FROM counted
    """,
)
def fun3_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit — the classic fabricated-data /
    feed-corruption screen over a monetary column. First digit is
    taken from the integer part via string head (log10-free, so no
    cross-engine float edge at exact powers of ten); the digit
    histogram is one 9-row aggregate, and the share/expectation
    arithmetic runs on that 9-row result (the SUM() OVER () is a
    9-row window, not a data-scale one)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1.0)
    digits = o.select(
        F.substring(F.floor("o_totalprice").cast("long").cast("string"), 1, 1).alias(
            "first_digit"
        )
    )
    counted = digits.groupBy("first_digit").agg(F.count(F.lit(1)).alias("n"))
    total = Window.partitionBy()
    share = F.col("n").cast("double") / F.sum("n").over(total)
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("first_digit").cast("double"))
    return counted.select(
        "first_digit",
        "n",
        F.round(share, 6).alias("observed_share"),
        F.round(benford, 6).alias("benford_share"),
        F.round(F.abs(share - benford), 6).alias("abs_dev"),
    )


@register(
    "dq9_outlier_audit",
    """
    WITH stats AS (
      SELECT event_type, COUNT(*) AS n,
             ROUND(AVG(value) - 3 * stddev_samp(value), 6) + 0 AS lo_bound,
             ROUND(AVG(value) + 3 * stddev_samp(value), 6) AS hi_bound
      FROM events GROUP BY event_type
    )
    SELECT s.event_type, s.n,
           ROUND(s.lo_bound, 4) + 0 AS lo,
           ROUND(s.hi_bound, 4) AS hi,
           CAST(SUM(CASE WHEN e.value < s.lo_bound OR e.value > s.hi_bound
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN stats s USING (event_type)
    GROUP BY s.event_type, s.n, s.lo_bound, s.hi_bound
    """,
)
def dq9_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group 3-sigma outlier audit — the anomaly gate a feed
    monitor runs before publishing a partition. Two aggregations over
    one fact table: per-type moment stats (constant-size result,
    broadcast back onto the rows) then a conditional count against
    the bounds. Bounds are rounded to 6 dp on BOTH sides before the
    comparison so engine-order summation drift (~1e-10 here) cannot
    flip a row's outlier status."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value") - 3 * F.stddev_samp("value"), 6).alias("lo_bound"),
        F.round(F.avg("value") + 3 * F.stddev_samp("value"), 6).alias("hi_bound"),
    )
    joined = ev.join(F.broadcast(stats), "event_type")
    is_out = (F.col("value") < F.col("lo_bound")) | (F.col("value") > F.col("hi_bound"))
    return joined.groupBy("event_type", "n", "lo_bound", "hi_bound").agg(
        F.sum(F.when(is_out, 1).otherwise(0)).alias("n_outliers")
    ).select(
        "event_type",
        "n",
        F.round("lo_bound", 4).alias("lo"),
        F.round("hi_bound", 4).alias("hi"),
        "n_outliers",
    )


@register(
    "a18_generalized_means",
    """
    SELECT l_returnflag, COUNT(*) AS n,
           ROUND(AVG(l_quantity), 4) AS arith_mean,
           ROUND(EXP(AVG(LN(l_quantity))), 4) AS geo_mean,
           ROUND(COUNT(*) / SUM(1.0 / l_quantity), 4) AS harm_mean
    FROM lineitem WHERE l_quantity > 0
    GROUP BY l_returnflag
    """,
)
def a18_generalized_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic / geometric / harmonic means per group in ONE pass —
    the rate-vs-ratio aggregate family (geo for growth factors, harm
    for rates) a metrics layer needs beyond AVG. All three reduce to
    commutative partial aggregates (sum, sum-of-logs, sum-of-
    reciprocals), so the shuffle carries three doubles per group at
    any scale."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("l_quantity"), 4).alias("arith_mean"),
        F.round(F.exp(F.avg(F.log("l_quantity"))), 4).alias("geo_mean"),
        F.round(F.count(F.lit(1)) / F.sum(F.lit(1.0) / F.col("l_quantity")), 4).alias(
            "harm_mean"
        ),
    )


@register(
    "f17_map_battery",
    """
    SELECT o_orderkey,
           3 AS n_keys,
           o_orderstatus AS status_val,
           'bucket=' || CAST(o_orderkey % 10 AS VARCHAR)
             || ',prio=' || o_orderpriority
             || ',status=' || o_orderstatus AS map_render,
           2 AS n_after_filter,
           array_to_string(list_sort([CAST(o_orderkey % 10 AS VARCHAR),
                                      o_orderpriority, o_orderstatus]), '|')
             AS vals_sorted
    FROM orders WHERE o_orderkey <= 2000
    """,
)
def f17_map_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType expression battery: create_map / map_concat / size /
    element_at / map_keys / map_values / map_filter / transform over
    a sorted key render — the property-bag manipulation surface
    (Spark's MapType is free per SURVEY §1.2 but deserves explicit
    coverage). The oracle states each result as plain string algebra,
    so Spark's map semantics are checked against an engine that never
    builds a map. All narrow expressions — no shuffle, whole-stage
    codegen throughout."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"), F.lit("prio"), F.col("o_orderpriority")
    )
    m2 = F.map_concat(
        m, F.create_map(F.lit("bucket"), (F.col("o_orderkey") % 10).cast("string"))
    )
    rendered = F.concat_ws(
        ",",
        F.transform(
            F.array_sort(F.map_keys(m2)),
            lambda k: F.concat(k, F.lit("="), F.element_at(m2, k)),
        ),
    )
    dropped = F.map_filter(m2, lambda k, v: k != F.lit("prio"))
    return o.select(
        "o_orderkey",
        F.size(m2).alias("n_keys"),
        F.element_at(m2, F.lit("status")).alias("status_val"),
        rendered.alias("map_render"),
        F.size(dropped).alias("n_after_filter"),
        F.array_join(F.array_sort(F.map_values(m2)), "|").alias("vals_sorted"),
    )


@register(
    "dq10_spike_detection",
    """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, d, n,
             AVG(n) OVER (PARTITION BY event_type ORDER BY d
                          ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS mu,
             stddev_samp(n) OVER (PARTITION BY event_type ORDER BY d
                          ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS sigma
      FROM daily
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day, n,
           ROUND((n - mu) / sigma, 4) + 0 AS zscore
    FROM w WHERE sigma IS NOT NULL AND sigma > 0
    """,
)
def dq10_spike_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-spike detection: each day's event count scored against
    its own trailing-week baseline (mean/stddev over the 7 prior
    days, never including the current day) — the feed-health monitor
    that catches both outages and replays. The corpus reduces to
    |types| x |days| daily counts in one partial-aggregated shuffle;
    the trailing window runs on that constant-size series. First
    week of each series is unscored (sigma undefined) by
    construction, matching the oracle's NULL filter."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-7, -1)
    )
    scored = daily.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n",
        F.avg("n").over(w).alias("__mu"),
        F.stddev_samp("n").over(w).alias("__sigma"),
    )
    return scored.filter(
        F.col("__sigma").isNotNull() & (F.col("__sigma") > 0)
    ).select(
        "event_type",
        "day",
        "n",
        F.round((F.col("n") - F.col("__mu")) / F.col("__sigma"), 4).alias("zscore"),
    )


@register(
    "a20_cms_heavy_hitters",
    """
    SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS est_count
    FROM lineitem GROUP BY l_suppkey
    ORDER BY est_count DESC, l_suppkey LIMIT 10
    """,
    oracle_sf_max=0.01,
)
def a20_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection via a Count-Min Sketch: build the
    d=4 x w=1024 relational sketch over lineitem's supplier column,
    then rank the candidate keys by estimated frequency. The sketch
    is mergeable (UNION + re-aggregate) — the same table maintained
    per day rolls up to any grain without re-scanning raw rows, the
    frequency analogue of a17's HLL rollup.

    Exactness window (the d10/d12 oracle pattern): the hash family is
    deterministic (xxhash64, fixed seeds), so on a fixed corpus the
    estimates are a fixed function of the key set. At sf0.01 the 100
    distinct suppliers occupy 1024 buckets per row; a key is inflated
    only if it collides in ALL 4 rows (P ~ (100/1024)^4 ~ 9e-5 per
    key), and a direct check shows ZERO inflated keys at sf0.001 and
    sf0.01 (width 256 left 2 inflated keys — why the lane was
    no-oracle until r12). Inside that window min-of-4 equals the true
    count and the exact-count SQL is a valid oracle; beyond it
    (oracle_sf_max=0.01) the driver downgrades to rows-only, and the
    eps*N error bound stays pinned by tests/test_approx_quality.py."""
    from aws_csp_datapipeline_spark.functions.sketches import cms_build, cms_estimate

    li = load_table(spark, sf_dir, "lineitem")
    sketch = cms_build(li, F.col("l_suppkey"), depth=4, width=1024)
    candidates = li.select("l_suppkey").distinct()
    est = cms_estimate(sketch, candidates, "l_suppkey", depth=4, width=1024)
    return est.orderBy(F.desc("est_count"), F.asc("l_suppkey")).limit(10)


@register(
    "a21_weighted_median",
    """
    WITH t AS (
      SELECT l_returnflag, l_extendedprice AS v,
             SUM(l_quantity) OVER (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS cw,
             SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
      FROM lineitem
    )
    SELECT l_returnflag, ROUND(MIN(v), 2) AS weighted_median
    FROM t WHERE cw >= tw / 2.0
    GROUP BY l_returnflag
    """,
)
def a21_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (quantity-weighted price) per group — the
    order statistic percentile_cont can't produce when rows carry
    weights. One cumulative-sum window in a deterministic total order
    (value + key tie-breaks) and a threshold pick. The weights are
    integer-valued doubles, so both the running and total sums are
    exact in IEEE double and the threshold comparison cannot drift
    between engines. Scale: the window partitions by group; within a
    group the scan is the sort — the 100-TB variant first reduces to
    (group, value)-level partial weights, shrinking rows by the
    duplication factor before sorting."""
    li = load_table(spark, sf_dir, "lineitem")
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("l_returnflag")
    t = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.sum("l_quantity").over(wcum).alias("cw"),
        F.sum("l_quantity").over(wtot).alias("tw"),
    )
    return (
        t.filter(F.col("cw") >= F.col("tw") / 2.0)
        .groupBy("l_returnflag")
        .agg(F.round(F.min("v"), 2).alias("weighted_median"))
    )


@register(
    "dq11_entropy_profile",
    """
    WITH c AS (
      SELECT event_type, user_id, COUNT(*) AS n FROM events GROUP BY 1, 2
    ),
    t AS (SELECT event_type, SUM(n) AS tot FROM c GROUP BY 1)
    SELECT c.event_type, COUNT(*) AS n_users,
           ROUND(-SUM((n / CAST(tot AS DOUBLE))
                      * LN(n / CAST(tot AS DOUBLE))), 4) AS user_entropy
    FROM c JOIN t USING (event_type)
    GROUP BY c.event_type
    """,
)
def dq11_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the per-user activity distribution within
    each event type — the concentration diagnostic that catches one
    bot dominating a feed (entropy collapses) or an id-mapping bug
    (entropy jumps to log N). Two partial-aggregated groupBys; the
    totals re-attach via a broadcast of |types| rows, and the entropy
    sum shuffles (type, user) singletons only."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("event_type").agg(F.sum("n").alias("tot"))
    p = F.col("n") / F.col("tot").cast("double")
    return (
        c.join(F.broadcast(t), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(-F.sum(p * F.log(p)), 4).alias("user_entropy"),
        )
    )


@register(
    "a22_revenue_concentration",
    """
    WITH per_cust AS (
      SELECT o_custkey, SUM(o_totalprice) AS rev FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT rev,
             ROW_NUMBER() OVER (ORDER BY ROUND(rev, 2) DESC, o_custkey) AS r
      FROM per_cust
    )
    SELECT ROUND(SUM(CASE WHEN r <= 100 THEN rev ELSE 0 END), 2) AS top100_rev,
           ROUND(SUM(rev), 2) AS total_rev,
           ROUND(SUM(CASE WHEN r <= 100 THEN rev ELSE 0 END) / SUM(rev), 6)
             AS top100_share
    FROM ranked
    """,
)
def a22_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: the share of total revenue held by the
    top-100 customers — the whale-dependence KPI. Customers reduce to
    one row each in a partial-aggregated shuffle; the ranking orders
    ROUNDED revenue with a key tie-break (engine-portable order, same
    trick as s10's fused rankings) and the shares fold to one row.
    At fact scale the rank IS a top-k heap here — the top-100 set is
    selected with orderBy+limit (TakeOrderedAndProject: per-partition
    heaps, no global sort, no window), and only two scalar aggregates
    meet in a broadcast join."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("rev"))
    top100 = (
        per_cust.orderBy(F.desc(F.round("rev", 2)), F.asc("o_custkey"))
        .limit(100)
        .agg(F.sum("rev").alias("__top"))
    )
    total = per_cust.agg(F.sum("rev").alias("__tot"))
    return total.crossJoin(F.broadcast(top100)).select(
        F.round(F.col("__top"), 2).alias("top100_rev"),
        F.round(F.col("__tot"), 2).alias("total_rev"),
        F.round(F.col("__top") / F.col("__tot"), 6).alias("top100_share"),
    )


@register(
    "w13_gini_coefficient",
    """
    WITH per_cust AS (
      SELECT o_custkey, SUM(o_totalprice) AS rev FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT rev,
             ROW_NUMBER() OVER (ORDER BY ROUND(rev, 2) ASC, o_custkey) AS i,
             COUNT(*) OVER () AS n
      FROM per_cust
    )
    SELECT ROUND(2.0 * SUM(i * rev) / (MAX(n) * SUM(rev))
                 - (MAX(n) + 1.0) / MAX(n), 6) AS gini,
           CAST(MAX(n) AS BIGINT) AS n_customers
    FROM ranked
    """,
)
def w13_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue (the Lorenz-curve summary
    behind a22's top-N share): ascending rank-weighted sum formula
    G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n. The rank orders ROUNDED revenue
    with a key tie-break (engine-portable); the rank-weighted sum is
    scale-normalized by n·Σx, so summation-order drift cancels to
    ~1e-15 relative before the 6-dp round. Customers reduce to one
    row each before any window; the rank is the DISTRIBUTED
    range-partitioned prefix computation (`functions/rank.
    global_row_number` — every customer's rank feeds the
    rank-weighted sum, so no top-k substitute exists), and the
    COUNT() OVER () is a broadcast scalar, never a whole-frame
    window."""
    from aws_csp_datapipeline_spark.functions.rank import global_row_number

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("rev"))
    rk = global_row_number(
        per_cust, [F.asc(F.round("rev", 2)), F.asc("o_custkey")], out="i",
        n_hint=table_row_count(sf_dir, "customer"),
    )
    ranked = rk.crossJoin(
        F.broadcast(per_cust.agg(F.count(F.lit(1)).alias("n")))
    )
    return ranked.agg(
        F.round(
            2.0 * F.sum(F.col("i") * F.col("rev")) / (F.max("n") * F.sum("rev"))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini"),
        F.max("n").cast("long").alias("n_customers"),
    )


@register(
    "g5_grouping_indicators",
    """
    SELECT COALESCE(l_returnflag, '<all>') AS flag,
           COALESCE(l_linestatus, '<all>') AS status,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def g5_grouping_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() indicator columns — the flags that let
    a consumer distinguish 'NULL because subtotal row' from 'NULL in
    the data' (the reason COALESCE placeholders alone aren't enough
    in a real dashboard feed). Single pass, |flag|x|status|+|flag|+1
    output rows."""
    li = load_table(spark, sf_dir, "lineitem")
    # grouping() must be computed inside the rollup aggregate itself
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("long").alias("g_flag"),
        F.grouping("l_linestatus").cast("long").alias("g_status"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        F.coalesce("l_returnflag", F.lit("<all>")).alias("flag"),
        F.coalesce("l_linestatus", F.lit("<all>")).alias("status"),
        "g_flag",
        "g_status",
        "n",
    )


@register(
    "a23_multi_distinct",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(DISTINCT CAST(date_trunc('day', ts) AS DATE)) AS n_days,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def a23_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) over different columns in ONE
    aggregate — Spark plans this with an Expand (each row fans out
    per distinct-column) feeding a two-level aggregation, so both
    distincts resolve in a single shuffle pass instead of two jobs.
    The expansion factor equals the number of distinct clauses, and
    partial aggregation still collapses duplicates map-side."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count_distinct(F.to_date(F.date_trunc("day", "ts"))).alias("n_days"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "h3_log_histogram",
    """
    SELECT CAST(floor(log2(value)) AS BIGINT) AS log2_bucket,
           COUNT(*) AS n,
           ROUND(MIN(value), 4) AS lo,
           ROUND(MAX(value), 4) AS hi
    FROM events WHERE value >= 1.0
    GROUP BY 1
    """,
)
def h3_log_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-scale (power-of-two) histogram — the bucket scheme for
    heavy-tailed measures where h1's fixed-width bins collapse into
    one bar. floor(log2) is a narrow expression, the aggregate is
    |buckets| rows; values at exact powers of two are >=1 so log2 is
    exact there in both engines (IEEE doubles represent 2^k and
    log2(2^k)=k exactly)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") >= 1.0)
    return ev.groupBy(
        F.floor(F.log2("value")).cast("long").alias("log2_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 4).alias("lo"),
        F.round(F.max("value"), 4).alias("hi"),
    )


@register(
    "fun4_reach_curve",
    """
    WITH fs AS (
      SELECT user_id, CAST(MIN(date_trunc('day', ts)) AS DATE) AS first_day
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(DISTINCT user_id) AS dau
      FROM events GROUP BY 1
    ),
    news AS (
      SELECT first_day AS day, COUNT(*) AS new_users FROM fs GROUP BY 1
    )
    SELECT d.day, CAST(d.dau AS BIGINT) AS dau,
           CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
           CAST(SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY d.day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_reach
    FROM daily d LEFT JOIN news n ON d.day = n.day
    ORDER BY d.day
    """,
)
def fun4_reach_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reach curve: daily active users, first-time users, and
    cumulative distinct reach per day — the growth dashboard's core
    series. Cumulative distinct is NOT a running COUNT(DISTINCT)
    (quadratic state): each user collapses to a first-seen day
    (one combiner agg on user_id), and the cumulative sum runs over
    the constant-size day table — the same first-occurrence trick as
    `t22_vocab_growth`."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    fs = ev.groupBy("user_id").agg(F.min(day).alias("day"))
    news = fs.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    daily = ev.groupBy(day.alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.join(news, "day", "left")
        .select(
            "day",
            F.col("dau").cast("long").alias("dau"),
            F.coalesce("new_users", F.lit(0)).cast("long").alias("new_users"),
        )
        .withColumn(
            "cumulative_reach", F.sum("new_users").over(w).cast("long")
        )
        .orderBy("day")
    )
