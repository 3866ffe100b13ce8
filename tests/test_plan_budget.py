"""Plan-budget regression gate: the committed PLAN_AUDIT.md table IS
the per-query physical-plan budget. A future edit that adds a shuffle
exchange, a Python row eval, or a CartesianProduct to a bench-headline
query fails here instead of surfacing as wall-clock noise —
regenerating the table (`python tools/plan_audit.py`) is the explicit
way to accept a plan change in review.

Budgets are upper bounds (a plan that got CHEAPER passes; refresh the
table to ratchet it down). pyrow and cartesian are hard zeros
regardless of the table — the repo's scale policy bans them outright
in headline plans."""

import os
import sys

import pytest

REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
for p in (REPO, os.path.join(REPO, "tools")):
    if p not in sys.path:
        sys.path.insert(0, p)

import bench  # noqa: E402
from tools.plan_audit import collect_features, parse_audit_table  # noqa: E402

BUDGETS = parse_audit_table(os.path.join(REPO, "PLAN_AUDIT.md"))


def test_audit_table_covers_headline():
    """Every benched query must have a committed budget row — adding a
    headline query without regenerating PLAN_AUDIT.md fails here."""
    missing = [n for n in bench.HEADLINE if n not in BUDGETS]
    assert missing == [], f"regenerate PLAN_AUDIT.md: no budget for {missing}"


@pytest.mark.parametrize("name", [n for n in bench.HEADLINE if n in BUDGETS])
def test_headline_plan_within_budget(spark, name, sf_oracle):
    from aws_csp_datapipeline_spark.plans import registry

    qs = {s.name: s.fn for s in registry.specs()}
    got = collect_features(qs[name](spark, sf_oracle))
    budget = BUDGETS[name]
    assert got["cartesian"] == 0, f"{name}: CartesianProduct in plan"
    assert got["pyrow"] == 0, f"{name}: Python row eval in plan"
    for feat in ("exch", "scans", "pandas"):
        assert got[feat] <= budget[feat], (
            f"{name}: {feat} grew {budget[feat]} -> {got[feat]} — a plan "
            "regression, or regenerate PLAN_AUDIT.md to accept it"
        )


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

    qs = {s.name: s.fn for s in registry.specs()}
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
