"""Run every oracle-paired registry query against DuckDB at sf0.01 —
the same check the driver's correctness gate performs.
"""

import pytest

from aws_csp_datapipeline_spark.plans import registry
from tests.leaks import leaves_nothing
from tests.oracle import compare

SPECS = [s for s in registry.specs() if s.oracle is not None]


def _sf_of(sf_dir: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)/?$", sf_dir)
    return float(m.group(1)) if m else float("inf")


@pytest.mark.parametrize("spec", SPECS, ids=[s.name for s in SPECS])
def test_oracle_match(spark, sf_oracle, spec, tmp_path):
    with leaves_nothing(spark, tmp_path / "tmp", spec.name):
        df = spec.fn(spark, sf_oracle)
        if spec.oracle_sf_max is not None and _sf_of(sf_oracle) > spec.oracle_sf_max:
            # Outside the oracle's documented exactness window (e.g. a15's
            # GK sketch beyond ≤accuracy-rows groups): downgrade to a
            # rows-only run instead of reporting a spurious mismatch.
            assert df.count() >= 0, spec.name
        else:
            compare(df, spec.oracle, sf_oracle)


def test_entry_smoke(spark, sf_smoke):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_rows_only_queries_run(spark, sf_smoke, tmp_path):
    for s in registry.specs():
        if s.oracle is None:
            with leaves_nothing(spark, tmp_path / s.name, s.name):
                assert s.fn(spark, sf_smoke).count() >= 0, s.name
