"""bench.py's warm/cold contract: every sample starts cold. After a
forced run and ``clearCache()`` nothing the sample made is persisted —
no new RDD in ``getPersistentRDDs()`` and an empty CacheManager — so a
later rep cannot be served from an earlier one, and a rebuild
reproduces the first run's hash. (An RDD an earlier test left for JVM
GC to collect is not the sample's.) Spark's generated classes are the
warm half: a repeated sample compiles none."""

from __future__ import annotations

import pytest

import bench
from tests.leaks import persistent_rdds


@pytest.mark.parametrize("name", bench.HEADLINE)
def test_sample_leaves_nothing_cached(spark, sf_smoke, name):
    from aws_csp_datapipeline_spark.plans.registry import queries

    fn = queries()[name]
    spark.catalog.clearCache()
    before = persistent_rdds(spark)
    _, first = bench.force(fn(spark, sf_smoke))
    spark.catalog.clearCache()
    assert not persistent_rdds(spark) - before
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    _, again = bench.force(fn(spark, sf_smoke))
    spark.catalog.clearCache()
    assert again == first


def test_sample_keeps_its_time_when_its_stages_left_the_status_store(
    spark, sf_smoke, monkeypatch
):
    """Spark's status store evicts stages past its limit, those of the
    group just run included; reading them back then raises. The sample
    still returns its time, and its layers lack only the job-group
    keys."""
    from aws_csp_datapipeline_spark.plans.registry import queries

    store = spark.sparkContext._jsc.sc().statusStore()
    monkeypatch.setattr(
        bench, "job_group_stats", lambda spark, gid: store.lastStageAttempt(-1)
    )
    dt, layer = bench.sample(spark, queries()["q1_pricing_summary"], sf_smoke, "bench-evicted")
    assert dt > 0
    assert set(layer) == {
        "build_s", "codegen_compiles", "analysis_ms", "optimization_ms", "planning_ms",
        *bench.LEDGER_KEYS,
    }


def test_layer_medians_skip_missing_samples():
    full = {"build_s": 1.0, "jobs": 4}
    rec = bench.record(
        {"a": [1.0, 2.0, 3.0]},
        {"a": [full, {"build_s": 3.0}, {**full, "jobs": 6}]},
        [1.0, 2.0, 3.0],
        "0.1",
        3,
    )
    assert rec["layers"] == {"a": {"build_s": 1.0, "jobs": 5}}
    assert rec["queries"] == {"a": 1.0} and rec["queries_median"] == {"a": 2.0}


def test_stage_lines_name_each_stage(spark, sf_smoke, capsys):
    from aws_csp_datapipeline_spark.plans.registry import queries

    bench.sample(spark, queries()["a5_group_count_2key"], sf_smoke, "bench-stages")
    # only print_stages' lines: the sample itself notes on stderr when
    # a status-store cleanup evicted its stages mid-run
    capsys.readouterr()
    bench.print_stages(spark, "a5", "bench-stages")
    lines = capsys.readouterr().err.splitlines()
    assert lines and all(line.startswith("# a5 stage ") for line in lines)
    assert any("ms " in line and "Exchange" in line for line in lines)


def test_second_rep_compiles_no_classes(spark, sf_smoke):
    from aws_csp_datapipeline_spark.plans.registry import queries

    fn = queries()["q1_pricing_summary"]
    reps = [bench.sample(spark, fn, sf_smoke, f"bench-codegen-{i}")[1] for i in range(2)]
    assert all("codegen_compiles" in layer for layer in reps)
    assert reps[1]["codegen_compiles"] == 0


def test_curation_pass_fits_the_codegen_cache(spark, sf_smoke):
    """One er3 + inc3 pass generates more classes (~111) than Spark's
    default codegen cache holds (100), so with that default every pass
    evicted its own classes and recompiled ~88 of them. The session's
    cache holds the working set: a pass that repeats a plan an earlier
    pass ran compiles none.

    AQE picks inc3's broadcast build sides at runtime, from whichever
    query stage finishes first, and generated class ids follow planning
    order, so passes meet a few plan variants. Each pass is keyed by
    its two plan ledgers; passes run until one repeats an earlier
    pass's ledgers, and none repeating fails the test."""
    from aws_csp_datapipeline_spark.plans.registry import queries

    qs = queries()
    seen: dict[tuple, int] = {}
    for i in range(6):
        before = bench.codegen_compiles(spark)
        ledgers = tuple(
            tuple(bench.sample(spark, qs[name], sf_smoke, f"bench-thrash-{name}-{i}")[1][k]
                  for k in bench.LEDGER_KEYS)
            for name in ("er3_indel_complete_matches", "inc3_incremental_semdedup")
        )
        compiled = bench.codegen_compiles(spark) - before
        if ledgers in seen:
            break
        seen[ledgers] = compiled
    else:
        pytest.fail(f"no pass repeated an earlier pass's ledgers in 6: {seen}")
    spark.catalog.clearCache()
    assert compiled == 0, (compiled, seen)
