"""The one record parser and comparison (tools/bench_compare.py) must
read every committed bench record form."""

from __future__ import annotations

import glob
import json
import os
import re

import pytest

from tools.bench_compare import load_record, summarize

REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
ROUND_RECORDS = sorted(glob.glob(os.path.join(REPO, "BENCH_r*.json")))


def _path(name: str) -> str:
    return os.path.join(REPO, name)


@pytest.mark.parametrize("path", ROUND_RECORDS, ids=os.path.basename)
def test_reads_every_round_record(path):
    """Round records come with a ``parsed`` block or only a stdout
    tail. The headline had 35 queries through round 5 and 57 or more
    from round 6 on."""
    rnd = int(re.match(r"BENCH_r(\d+)", os.path.basename(path)).group(1))
    queries = load_record(path)["queries"]
    assert len(queries) >= (57 if rnd >= 6 else 35)
    assert all(isinstance(v, float) and v > 0 for v in queries.values())


def test_round_records_share_the_headline():
    r12, r13 = (load_record(_path(f"BENCH_r{n}.json")) for n in (12, 13))
    assert summarize(r12, r13, None)["shared_queries"] == 64


def test_anchored_comparison_writes_one_record(tmp_path, monkeypatch, capsys):
    """Two bench.py captures plus the frozen code's committed record
    give one anchored record: code ratios and the host factor."""
    from tools import bench_compare

    def capture(name, times):
        p = tmp_path / name
        p.write_text(json.dumps({"queries": times, "queries_median": times}) + "\n")
        return str(p)

    frozen = capture("frozen.out", {"a": 1.0, "b": 2.0})
    current = capture("current.out", {"a": 1.5, "b": 2.0})
    record = capture("record.json", {"a": 0.5, "b": 1.0})
    out = tmp_path / "anchored.json"
    argv = ["bench_compare", frozen, current, "--record", record, "--out", str(out)]
    monkeypatch.setattr("sys.argv", argv)
    bench_compare.main()
    written = json.loads(out.read_text())
    assert written["summary"]["code_ratio_worst5"] == [["a", 1.5], ["b", 1.0]]
    assert written["summary"]["host_anchor_factor"] == 2.0
    assert written["frozen"]["queries"] == {"a": 1.0, "b": 2.0}
    assert "host factor: 2.000" in capsys.readouterr().out


def test_recomputes_the_committed_anchored_summary():
    with open(_path("BENCH_sf0.1_r12.json")) as fh:
        anchored = json.load(fh)
    record = load_record(_path(anchored["record_source"]))
    got = summarize(anchored["frozen"], anchored["current"], record)
    assert json.loads(json.dumps(got)) == anchored["summary"]


@pytest.mark.parametrize("keep", [2000, 5000, None])
def test_reads_the_end_of_a_cut_bench_line(tmp_path, keep):
    """A capture that keeps only the end of bench.py's JSON line (the
    round records keep its last 2,000 characters) still gives per-query
    times, and never takes a per-query ``layers`` key for a query."""
    import bench
    from perfbench.layers import EXEC_KEYS

    samples = {n: [1.25, 1.5] for n in bench.HEADLINE}
    layer = dict.fromkeys(("build_s", "analysis_ms", *EXEC_KEYS), 2)
    layers = {n: [layer, layer] for n in bench.HEADLINE}
    line = json.dumps(bench.record(samples, layers, [3.0, 2.0], "0.1", 2))
    p = tmp_path / "round.json"
    p.write_text(json.dumps({"tail": "log line\n" + line[-(keep or len(line)):] + "\n"}))
    queries = load_record(str(p))["queries"]
    assert queries and set(queries) <= set(bench.HEADLINE)
    assert set(queries.values()) == {1.375}  # the median, not the min
    if keep != 2000:
        assert len(queries) == len(bench.HEADLINE)
