"""Executed-plan audit over the bench headline: for every query, the
plan ledger (``bench.plan_ledger``) of one cold ``bench.sample`` —
the exchanges by partitioning kind, reused exchanges, joins and build
sides, cached and parquet scans and Python operators of the plan AQE
ran. Flags the anti-patterns this repo's scale policy bans
(CartesianProduct, Python row evals). Writes a markdown table so plan
regressions show up in review diffs, not just in wall-clock noise;
``tests/test_plan_budget.py`` reads the table back as its budgets.

Run: python tools/plan_audit.py [SF_DIR] [OUT_MD]
"""

from __future__ import annotations

import os
import sys


def parse_audit_table(md_path: str) -> dict[str, dict[str, int]]:
    """Parse the committed PLAN_AUDIT.md table back into per-query
    ledgers ({name: {exch_hash: …, reused_exch: …, …}}), keyed by the
    table's own header."""
    budgets: dict[str, dict[str, int]] = {}
    keys: list[str] = []
    with open(md_path) as fh:
        for line in fh:
            cells = [c.strip() for c in line.strip().strip("|").split("|")]
            if cells[0] == "query":
                keys = cells[1:]
            elif keys and len(cells) == len(keys) + 1 and cells[1].isdigit():
                budgets[cells[0]] = dict(zip(keys, map(int, cells[1:])))
    return budgets


def main() -> None:
    repo_root = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
    if repo_root not in sys.path:
        sys.path.insert(0, repo_root)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_md = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        repo_root, "PLAN_AUDIT.md"
    )
    from aws_csp_datapipeline_spark import lifecycle
    from aws_csp_datapipeline_spark.plans import registry
    from aws_csp_datapipeline_spark.session import get_spark
    import bench

    spark = get_spark(app_name="plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    rows = []
    flags = []
    for name in bench.HEADLINE:
        with lifecycle.scope():
            _, layer = bench.sample(spark, qs[name], sf_dir, f"plan-audit-{name}")
        if layer["cartesian"]:
            flags.append(f"{name}: CartesianProduct in plan")
        if layer["pyrow"]:
            flags.append(f"{name}: Python row eval in plan")
        rows.append([name, *(layer[k] for k in bench.LEDGER_KEYS)])

    with open(out_md, "w") as fh:
        fh.write(
            "# Executed-plan audit (bench headline)\n\n"
            f"Scale factor dir: `{sf_dir}`. Regenerate with "
            "`python tools/plan_audit.py`.\n\n"
            "Each row is `bench.plan_ledger` of one cold `bench.sample`: "
            "counts over the final adaptive plan, after the forced run. "
            "Exchanges by partitioning (hash / range / round-robin / single "
            "partition / other), reused exchanges, joins (broadcast-hash, "
            "of which build-left; sort-merge; shuffled-hash; broadcast "
            "nested-loop; cartesian), in-memory scans (per consumer), "
            "parquet scans and those with pushed filters, Arrow batch "
            "Python operators and Python row evals. A cached relation's "
            "plan is counted once, however many scans read it. Each row "
            "includes `bench.force`'s one `exch_single`, except where the "
            "query already ends in one partition (the top-k rows).\n\n"
            "| query | " + " | ".join(bench.LEDGER_KEYS) + " |\n"
        )
        fh.write("|---" * (len(bench.LEDGER_KEYS) + 1) + "|\n")
        for r in rows:
            fh.write("| " + " | ".join(str(v) for v in r) + " |\n")
        fh.write("\n## Flags\n\n")
        if flags:
            for f in flags:
                fh.write(f"- {f}\n")
        else:
            fh.write(
                "None: no CartesianProduct, no Python row eval in any "
                "headline plan.\n"
            )
    print(f"wrote {out_md}: {len(rows)} queries, {len(flags)} flags")


if __name__ == "__main__":
    main()
