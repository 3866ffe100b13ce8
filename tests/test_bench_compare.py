"""The one record parser and comparison (tools/bench_compare.py) must
read every committed bench record form."""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

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


def test_out_record_survives_a_closed_stdout(tmp_path):
    """``--out`` is written before the table is printed, so a reader
    that closes stdout early (``| head``) does not lose the record.
    Unbuffered, the first print meets the closed pipe."""
    p = tmp_path / "run.out"
    p.write_text(json.dumps({"queries": {"a": 1.0}}) + "\n")
    out = tmp_path / "anchored.json"
    r, w = os.pipe()
    os.close(r)
    try:
        subprocess.run(
            [sys.executable, _path("tools/bench_compare.py"), str(p), str(p), "--out", str(out)],
            stdout=w, stderr=subprocess.DEVNULL, env={**os.environ, "PYTHONUNBUFFERED": "1"},
            check=False,
        )
    finally:
        os.close(w)
    assert json.loads(out.read_text())["summary"]["shared_queries"] == 1


@pytest.mark.parametrize("name, sf", [("BENCH_sf0.1_c4.json", "0.1"), ("BENCH_sf1_c4.json", "1")])
def test_reads_the_4core_anchor_records(name, sf):
    """The 4-core anchors are bench.py records of the whole headline,
    each query's ``layers`` carrying its plan ledger."""
    import bench

    rec = load_record(_path(name))
    assert rec["sf"] == sf and set(rec["queries"]) == set(bench.HEADLINE)
    assert all(set(bench.LEDGER_KEYS) <= set(layer) for layer in rec["layers"].values())


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


@pytest.mark.parametrize("old_has_layers", [True, False])
def test_prints_the_layers_of_the_top_movers(tmp_path, monkeypatch, capsys, old_has_layers):
    """With ``layers`` in both records, the top-N movers (either way)
    get their old and new build_s, jobs and codegen_compiles; a record
    without ``layers`` still compares, with no layer lines."""
    from tools import bench_compare

    def capture(name, times, layers):
        rec = {"queries": times, "queries_median": times}
        if layers:
            rec["layers"] = layers
        p = tmp_path / name
        p.write_text(json.dumps(rec) + "\n")
        return str(p)

    def layer(build_s, jobs, compiles=None):
        out = {"build_s": build_s, "jobs": jobs, "exec_s": 1.0}
        if compiles is not None:
            out["codegen_compiles"] = compiles
        return out

    old = capture(
        "old.out",
        {"er3": 2.0, "q1": 1.0, "d10": 1.0},
        {"er3": layer(1.25, 15), "q1": layer(0.1, 2), "d10": layer(0.3, 10)}
        if old_has_layers else None,
    )
    new = capture(
        "new.out",
        {"er3": 1.0, "q1": 1.02, "d10": 1.5},
        {"er3": layer(0.5, 15, 0), "q1": layer(0.1, 2, 0), "d10": layer(0.25, 10, 3)},
    )
    monkeypatch.setattr("sys.argv", ["bench_compare", old, new, "--top", "2"])
    bench_compare.main()
    out = capsys.readouterr().out.splitlines()
    assert any(line.split()[-1] == "q1" for line in out)  # the ratio table
    rows = {
        line.split()[0]: line.split()[1:]
        for line in out
        if " -> " in line and not line.startswith("query")
    }
    if not old_has_layers:
        assert rows == {}
        return
    assert set(rows) == {"er3", "d10"}
    assert rows["er3"] == ["1.25", "->", "0.5", "15", "->", "15", "-", "->", "0"]
    assert rows["d10"] == ["0.3", "->", "0.25", "10", "->", "10", "-", "->", "3"]
