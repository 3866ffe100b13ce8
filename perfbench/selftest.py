"""Self-tests of the benchmark's own rules; run at the start of every
benchmark run, or alone:

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import random

from stats import check_metric_name, failed_ratio, pass_count, percentile, samples_needed


def test_metric_names() -> None:
    from run import END_TO_END, PER_LAYER

    for name in [*END_TO_END, *PER_LAYER]:
        check_metric_name(name)
    for bad in ("", "p50 latency", "wall_s!", "_x", "a" * 65):
        try:
            check_metric_name(bad)
        except ValueError:
            continue
        raise AssertionError(f"accepted bad metric name {bad!r}")


def test_benchmark_json_names() -> None:
    """BENCHMARK.json lists exactly the metrics run.py reports."""
    from run import END_TO_END, PER_LAYER, WORKLOADS

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_percentile_needs_ten_beyond() -> None:
    assert samples_needed(0.5) == 20 and samples_needed(0.9) == 100
    assert percentile([1.0] * 19, 0.5) is None
    assert percentile([float(i) for i in range(20)], 0.5) == 9.5
    assert percentile([1.0] * 99, 0.9) is None
    xs = [float(i) for i in range(100)]
    assert abs(percentile(xs, 0.9) - 89.1) < 1e-9
    assert sum(1 for x in xs if x > percentile(xs, 0.9)) >= 10


def test_failures_count_against_attempted() -> None:
    assert failed_ratio(10, 0) == 0.0
    assert failed_ratio(8, 2) == 0.25
    for attempted, failed in ((0, 0), (3, 4), (3, -1)):
        try:
            failed_ratio(attempted, failed)
        except ValueError:
            continue
        raise AssertionError(f"accepted attempted={attempted} failed={failed}")


def test_busy_ms_counts_overlap_once() -> None:
    from layers import busy_ms

    assert busy_ms([]) == 0
    assert busy_ms([(10, 20), (30, 35)]) == 15
    assert busy_ms([(10, 20), (12, 25), (14, 18), (40, 41)]) == 16


def test_pass_count_is_fixed_work() -> None:
    assert pass_count(16, 6.5) == 2 and pass_count(16, 15) == 1
    assert pass_count(1, 15) == 1


def test_model_date_twin() -> None:
    from tools_api import clean_date, messy_date

    assert clean_date("2013") == "2013-01-01"
    assert clean_date("23-Dec") == "2000-12-23"
    assert clean_date("Feb-25") == "2025-02-01"
    assert clean_date("-") is None
    rng = random.Random(0)
    assert all(clean_date(messy_date(rng)) != "" for _ in range(100))


def run_all() -> None:
    for name, fn in sorted(globals().items()):
        if name.startswith("test_"):
            fn()


if __name__ == "__main__":
    run_all()
    print("selftest: ok")
