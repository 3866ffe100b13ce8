"""Compare two bench records: per-query NEW/OLD ratios, worst first,
with the median-of-ratios (robust to a few noisy lanes) beside the sum
ratio (which one slow lane can drag).

Usage:
  python tools/bench_compare.py OLD NEW [--record R] [--out O] [--top N]

OLD and NEW may be a ``python bench.py`` stdout capture, a repo-format
record (the bench.py JSON) or a round record ``BENCH_r{N}.json``
(its ``parsed`` block, or the JSON line embedded in its stdout
``tail``). Per-query times are the medians when a record has them,
the mins otherwise. When both records carry bench.py's ``layers``,
the top-N movers (largest time ratio either way) also get their old
and new ``build_s``, ``jobs`` and ``codegen_compiles``.

Raw round-over-round ratios on one host are dominated by machine
noise (SCALE.md "Bench variance": ±35 % swings), so a code change is
measured with the anchored protocol, which separates HOST drift from
CODE drift:

  (cd FROZEN && python bench.py) > frozen.out   # previous commit
  python bench.py > current.out                 # this tree
  python tools/bench_compare.py frozen.out current.out \\
      --record BENCH_r13.json --out BENCH_sf0.1_r14.json

FROZEN is a checkout of the commit whose committed record is R (e.g.
``git archive <commit> | tar -x -C FROZEN``). OLD and NEW ran back to
back on the same host, so their ratios are code ratios; the host
anchor factor is OLD now over R, the same code's committed record.
``--out`` writes both records and the summary as one JSON file
(BENCH_sf0.1_r12.json is the exemplar). Never run the benches while
pytest or another Spark job is active.
"""

from __future__ import annotations

import argparse
import json
import math
import re
import statistics


def load_record(path: str) -> dict | None:
    """A bench record: a bench.py stdout capture (its one JSON line),
    repo-format JSON or a round record BENCH_r{N}.json (JSON possibly
    only in 'tail')."""
    with open(path) as fh:
        d = json.load(fh)
    if "queries" in d:
        return d
    if isinstance(d.get("parsed"), dict) and "queries" in d["parsed"]:
        return d["parsed"]
    pairs = tail_times(d.get("tail", ""))
    return {"queries": pairs} if pairs else None


def tail_times(tail: str) -> dict[str, float]:
    """Per-query times from the end of a bench JSON line whose head was
    cut off. A "name": number pair belongs to a per-query map
    ("queries", "queries_median") when it sits two levels deep, counted
    back from the line's closing brace; meta keys sit one level deep
    and per-query ``layers`` keys three. A name in both maps keeps its
    later value, the median."""
    tail = tail[: tail.rfind("}") + 1]
    pairs = {}
    for m in re.finditer(r'"([a-z0-9_]+)":\s*([0-9.]+)', tail):
        rest = tail[m.end():]
        depth = rest.count("}") + rest.count("]") - rest.count("{") - rest.count("[")
        if depth == 2:
            pairs[m.group(1)] = float(m.group(2))
    return pairs


def times(rec: dict) -> dict[str, float]:
    return rec.get("queries_median") or rec["queries"]


def summarize(frozen: dict, current: dict, record: dict | None) -> dict:
    fq, cq = times(frozen), times(current)
    shared = sorted(set(fq) & set(cq))
    ratios = {n: round(cq[n] / fq[n], 4) for n in shared if fq[n] > 0}
    rs = sorted(ratios.values())
    summary = {
        "shared_queries": len(shared),
        "code_ratio_sum": round(
            sum(cq[n] for n in shared) / sum(fq[n] for n in shared), 4
        ),
        "code_ratio_median": round(statistics.median(rs), 4) if rs else None,
        "code_ratio_worst5": sorted(
            ratios.items(), key=lambda kv: -kv[1]
        )[:5],
    }
    if record:
        rq = times(record)
        rshared = sorted(set(fq) & set(rq))
        if rshared:
            summary["host_anchor_factor"] = round(
                sum(fq[n] for n in rshared) / sum(rq[n] for n in rshared), 4
            )
            summary["host_anchor_note"] = (
                "frozen-code now / same-code committed record; divide raw "
                "cross-round ratios by this before reading them as code"
            )
    return summary


LAYER_KEYS = ("build_s", "jobs", "codegen_compiles")


def layer_lines(old: dict, new: dict, names: list[str]) -> list[str]:
    """One line per query in ``names``: its old -> new value of each of
    ``LAYER_KEYS`` ("-" where a record lacks it). Empty unless both
    records carry ``layers``."""
    ol, nl = old.get("layers"), new.get("layers")
    if not (ol and nl):
        return []

    def cell(layer: dict, key: str) -> str:
        v = layer.get(key)
        return "-" if v is None else f"{v:g}"

    lines = [f"{'query':<36}" + "".join(f"  {k + ' old -> new':>26}" for k in LAYER_KEYS)]
    for n in names:
        o, w = ol.get(n, {}), nl.get(n, {})
        lines.append(
            f"{n:<36}"
            + "".join(f"  {cell(o, k) + ' -> ' + cell(w, k):>26}" for k in LAYER_KEYS)
        )
    return lines


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--record", help="committed record of OLD's code (host factor)")
    ap.add_argument("--out", help="write both records and the summary here")
    ap.add_argument("--top", type=int, default=15)
    args = ap.parse_args()

    old, new = load_record(args.old), load_record(args.new)
    for path, rec in ((args.old, old), (args.new, new)):
        if rec is None:
            raise SystemExit(f"{path}: no bench queries found")
    record = load_record(args.record) if args.record else None
    summary = summarize(old, new, record)
    if not summary["shared_queries"]:
        raise SystemExit("no shared queries")
    # The record goes first: a reader that closes stdout early
    # (``| head``) must not cost it.
    if args.out:
        out = {
            "protocol": "anchored-bench v2 (tools/bench_compare.py)",
            "summary": summary,
            "current": new,
            "frozen": old,
            "record_source": args.record,
        }
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1)

    oq, nq = times(old), times(new)
    rows = sorted(
        ((nq[n] / oq[n] if oq[n] else float("inf"), n) for n in set(oq) & set(nq)),
        reverse=True,
    )
    host = summary.get("host_anchor_factor")
    print(
        f"shared: {summary['shared_queries']}  "
        f"median-of-ratios: {summary['code_ratio_median']:.3f}  "
        f"sum ratio: {summary['code_ratio_sum']:.3f}"
        + (f"  host factor: {host:.3f}" if host else "")
    )
    print(f"{'ratio':>7}  {'old_s':>8}  {'new_s':>8}  query")
    for ratio, n in rows[: args.top]:
        print(f"{ratio:7.2f}  {oq[n]:8.3f}  {nq[n]:8.3f}  {n}")
    gained = [r for r in rows if r[0] < 0.9]
    if gained:
        print(f"...and {len(gained)} queries at <0.9x (improved)")
    movers = sorted(
        rows, key=lambda r: abs(math.log(r[0])) if 0 < r[0] < math.inf else math.inf, reverse=True
    )
    for line in layer_lines(old, new, [n for _, n in movers[: args.top]]):
        print(line)


if __name__ == "__main__":
    main()
