"""Summary statistics and metric-record rules shared by every workload.

The rules here are the benchmark's own contract, checked by
``selftest.py``:

- a metric name is made of letters, digits, ``_``, ``.`` and ``-``;
- a percentile is reported only when at least ten samples lie beyond
  it (the p50 needs 20 samples, the p90 needs 100); otherwise its value
  is ``None`` and the record says how many samples there were;
- a failed or wrong operation counts against the operations attempted.
"""

from __future__ import annotations

import math
import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
MIN_BEYOND = 10


def check_metric_name(name: str) -> str:
    if not METRIC_NAME.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def samples_needed(q: float) -> int:
    """Smallest sample count with ``MIN_BEYOND`` samples above the
    ``q`` quantile (0 < q < 1)."""
    return math.ceil(MIN_BEYOND / (1.0 - q) - 1e-9)


def percentile(values: list[float], q: float) -> float | None:
    """The ``q`` quantile of ``values`` (linear interpolation), or
    None when fewer than ``samples_needed(q)`` samples exist."""
    if len(values) < samples_needed(q):
        return None
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def failed_ratio(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def pass_count(seconds: float, nominal_pass_s: float) -> int:
    """Passes a run measures: as many as take ``seconds`` at the
    workload's nominal pass time, at least one. The count is fixed by
    the arguments, not by how fast this run goes, so every run of a
    workload does the same work and a faster program measures for
    less time rather than more passes."""
    return max(1, round(seconds / nominal_pass_s))


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
