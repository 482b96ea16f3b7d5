#!/usr/bin/env python3
"""Summarise a set of benchmark runs.

    python3 perfbench/summarize.py <runs.jsonl> [<runs.jsonl> ...]

Each input line is one run's final JSON line (as run.py prints it). For
every metric, prints the median, the quartiles and the spread (quartile
distance as a share of the median) next to the bound BENCHMARK.json fixes.
"""
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import stats  # noqa: E402

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
BOUNDS = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}


def summarize(runs):
    """metric -> (median, q1, q3, spread, n) over the runs' values."""
    values = {}
    for r in runs:
        for name, m in r["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    out = {}
    for name, vs in values.items():
        if len(vs) < 2:
            out[name] = (vs[0], vs[0], vs[0], 0.0, 1)
            continue
        q1, q2, q3 = stats.quartiles(vs)
        out[name] = (q2, q1, q3, stats.spread(vs) if q2 else float("nan"), len(vs))
    return out


def main(paths):
    for p in paths:
        runs = [json.loads(line) for line in Path(p).read_text().splitlines() if line.strip()]
        bad = sum(1 for r in runs if not r["correct"])
        print(f"{p}: {len(runs)} runs, {bad} incorrect")
        for name, (med, q1, q3, spread, n) in summarize(runs).items():
            bound = BOUNDS.get(name)
            flag = "" if bound is None else f"  bound {bound:g}{'  OVER' if spread > bound else ''}"
            print(f"  {name:34s} median {med:<12.6g} q1 {q1:<12.6g} q3 {q3:<12.6g} "
                  f"spread {spread:.3f}{flag}")


if __name__ == "__main__":
    main(sys.argv[1:])
