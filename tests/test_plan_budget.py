"""Plan-budget regression gate: the committed PLAN_AUDIT.md table IS
the per-query budget of the plan AQE ran. Each query is sampled cold
at the oracle scale and gated on its ``bench.plan_ledger``: a future
edit that adds an exchange of any kind, a join, a scan, a Python row
eval or a CartesianProduct to a bench-headline query, or loses an
exchange reuse, fails here instead of surfacing as wall-clock noise —
regenerating the table (`python tools/plan_audit.py`) is the explicit
way to accept a plan change in review. Each row includes
``bench.force``'s one ``exch_single``, except where the query already
ends in one partition (the top-k rows).

Exchanges of each partitioning kind, total joins, parquet scans and
Arrow operators are upper bounds (a plan that got CHEAPER passes;
refresh the table to ratchet it down); ``reused_exch`` is a lower
bound. pyrow and cartesian are hard zeros regardless of the table —
the repo's scale policy bans them outright in headline plans. The
broadcast build side (``bhj_left``) is recorded, not gated: AQE picks
it at runtime, from whichever query stage finishes first."""

import os

import pytest
from pyspark.sql import functions as F

import bench
from tools.plan_audit import parse_audit_table

REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
BUDGETS = parse_audit_table(os.path.join(REPO, "PLAN_AUDIT.md"))
UPPER = ("exch_hash", "exch_range", "exch_rr", "exch_single", "exch_other", "scans", "pandas")
JOIN_KEYS = ("bhj", "smj", "shj", "bnlj")


def ran(df) -> dict[str, int]:
    """The ledger of ``df``'s forced run."""
    return bench.plan_ledger(bench.force(df)[0])


def test_audit_table_covers_headline():
    """Every benched query must have a committed budget row — adding a
    headline query without regenerating PLAN_AUDIT.md fails here."""
    missing = [n for n in bench.HEADLINE if n not in BUDGETS]
    assert missing == [], f"regenerate PLAN_AUDIT.md: no budget for {missing}"
    assert all(set(b) == set(bench.LEDGER_KEYS) for b in BUDGETS.values())


@pytest.mark.parametrize("name", [n for n in bench.HEADLINE if n in BUDGETS])
def test_headline_plan_within_budget(spark, name, sf_oracle):
    from aws_csp_datapipeline_spark import lifecycle
    from aws_csp_datapipeline_spark.plans import registry

    with lifecycle.scope():
        _, got = bench.sample(spark, registry.queries()[name], sf_oracle, f"budget-{name}")
    spark.catalog.clearCache()
    budget = BUDGETS[name]
    assert got["cartesian"] == 0, f"{name}: CartesianProduct in plan"
    assert got["pyrow"] == 0, f"{name}: Python row eval in plan"
    grew = {k: (budget[k], got[k]) for k in UPPER if got[k] > budget[k]}
    joins = [sum(led[k] for k in JOIN_KEYS) for led in (budget, got)]
    if joins[1] > joins[0]:
        grew["joins"] = tuple(joins)
    assert not grew, (
        f"{name}: grew (budget, ran) {grew} — a plan regression, or "
        "regenerate PLAN_AUDIT.md to accept it"
    )
    assert got["reused_exch"] >= budget["reused_exch"], (
        f"{name}: reused exchanges fell {budget['reused_exch']} -> {got['reused_exch']}"
    )


def test_ledger_counts_a_round_robin_exchange(spark):
    assert ran(spark.range(100).repartition(4))["exch_rr"] == 1


def test_ledger_counts_a_reused_exchange(spark):
    agg = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    assert ran(agg.union(agg))["reused_exch"] >= 1


def test_ledger_counts_a_broadcast_join(spark):
    big = spark.range(1000).withColumn("k", F.col("id") % 10)
    small = spark.range(10).withColumnRenamed("id", "k")
    assert ran(big.join(F.broadcast(small), "k"))["bhj"] == 1


def test_ledger_walks_a_cached_relation_once(spark):
    """Two scans of one persisted frame are two ``cached_scans``, but
    the shuffle inside it ran once and is counted once."""
    agg = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().persist()
    try:
        got = ran(agg.union(agg))
    finally:
        agg.unpersist()
    assert got["cached_scans"] == 2
    assert (got["exch_hash"], got["exch_single"]) == (1, 1)


def test_ledger_counts_a_subquery_exchange(spark):
    """The subquery's hash and single-partition exchanges are counted
    beside ``force``'s own."""
    got = ran(spark.sql(
        "SELECT id FROM range(10) WHERE id < "
        "(SELECT max(c) FROM (SELECT id % 3 AS k, count(*) AS c FROM range(100) GROUP BY k))"
    ))
    assert (got["exch_hash"], got["exch_single"]) == (1, 2)


@pytest.mark.parametrize(
    ("name", "n_reads"),
    [
        ("d10_semdedup", 1),
        ("inc3_incremental_semdedup", 1),
        ("tt10_per_source_cap", 1),
        ("pipe4_full_curation", 1),
        ("d1_exact_dedup", 1),
        # er2's pair-budget pre-flight is footer-gated (ADVICE r10):
        # at oracle SF C(n, 2) fits the default budget, so the build
        # must launch no aggregate job
        ("er2_scale_safe_matches", 1),
    ],
)
def test_plan_build_is_lazy(spark, name, n_reads, sf_oracle):
    """Building these plans must launch no jobs beyond the one
    schema-read job each `spark.read.parquet` costs (measured: every
    load_table launches exactly one single-task footer job). This is
    the r9 verdict's hidden-action gate: d10/s5/pipe4 used an eager
    df.count() to pick quantizer/salt knobs — one EXTRA full-scan job
    per build — which now comes from the parquet footer via
    catalog.table_row_count (zero jobs). A regression re-adding an
    eager action shows up as jobs > n_reads here."""
    from aws_csp_datapipeline_spark import lifecycle
    from aws_csp_datapipeline_spark.plans import registry

    qs = registry.queries()
    sc = spark.sparkContext
    group = f"lazy-build-{name}"
    sc.setJobGroup(group, "plan-build laziness gate")
    try:
        with lifecycle.scope():
            qs[name](spark, sf_oracle)
    finally:
        sc.setJobGroup(None, None)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= n_reads, (
        f"{name}: plan BUILD launched {len(jobs)} jobs (> {n_reads} "
        "table-schema reads) — an eager action is hiding in the builder"
    )


def test_table_row_count_ignores_staging_files(spark, tmp_path):
    """ADVICE r10: a stale `_temporary` staging tree (interrupted
    write) or hidden dotfile must not inflate the footer count that
    feeds the quantizer/salt/dispatch knobs — mirror Spark's own path
    filter (prune `_`/`.`-prefixed dirs and files)."""
    import shutil

    from aws_csp_datapipeline_spark.catalog import table_row_count

    sf_dir = str(tmp_path)
    tbl = tmp_path / "t.parquet"
    spark.range(100).toDF("id").write.parquet(str(tbl))
    assert table_row_count(sf_dir, "t") == 100
    # simulate an interrupted write: copy a real part file into a
    # _temporary staging dir and a dot-prefixed sibling
    part = next(p for p in tbl.iterdir() if p.name.endswith(".parquet"))
    staging = tbl / "_temporary" / "0"
    staging.mkdir(parents=True)
    shutil.copy(part, staging / part.name)
    shutil.copy(part, tbl / ("." + part.name))
    assert table_row_count(sf_dir, "t") == 100
