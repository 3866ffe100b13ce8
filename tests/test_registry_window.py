"""Attestation-debt guard: every registry query must be either
driver-attested (a row in some committed CORRECTNESS_r*.json) or
inside the current attestation window (registry._WINDOW). Rounds 2-4
shipped an identical window and silently accumulated 163
never-attested queries; this test makes that impossible to repeat —
adding a lane without a window slot fails CI immediately."""

import glob
import json
import os

from aws_csp_datapipeline_spark.plans import registry
from aws_csp_datapipeline_spark.plans.registry import _WINDOW

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _attested_names() -> set[str]:
    names: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        try:
            with open(path) as fh:
                doc = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        qs = doc.get("queries", doc)
        if isinstance(qs, dict):
            names.update(qs.keys())
    return names


def test_every_query_attested_windowed_or_queued():
    all_names = {s.name for s in registry.specs()}
    uncovered = all_names - _attested_names() - set(_WINDOW)
    assert not uncovered, (
        "registry queries with no driver record and no window slot: "
        f"{sorted(uncovered)} — add them to registry._WINDOW (new "
        "lanes get a first-round slot)"
    )


def test_window_and_queue_reference_real_queries():
    all_names = {s.name for s in registry.specs()}
    ghosts = set(_WINDOW) - all_names
    assert not ghosts, f"window names not in the registry: {sorted(ghosts)}"


def test_window_size_matches_driver_sample():
    # the driver attests a fixed-size prefix; a short window wastes
    # attestation slots, a long one silently truncates
    assert len(_WINDOW) == 50, len(_WINDOW)
