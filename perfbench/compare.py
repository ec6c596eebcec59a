#!/usr/bin/env python3
"""Compare two result sets of the benchmark: a parent commit and a change.

    python3 perfbench/compare.py parent.log change.log

Each log is the concatenated stdout of ``perfbench/run.py`` runs (a detail
line followed by a result line per run), made with the same ``--seconds``
and ``--trace 0``. Runs pair up by workload and seed. For every workload
and end-to-end metric the verdict is:

- ``better`` / ``worse``: the change wins (loses) at least 9 of 10 pairs,
  ties counting for neither, and the medians differ by more than the
  parent's own spread (the distance between its quartiles);
- ``unresolved``: either side's spread is wider than the metric's bound in
  BENCHMARK.json, unless every change run beats every parent run;
- ``regressed``: the change's median is worse than the parent's by more
  than the bound;
- ``same``: none of the above;
- ``invalid``: the change fails more operations on the workload than the
  parent does (a wrong or failed op can make a run look fast), whatever
  the figures say.

Each workload's row group starts with the failed and attempted op totals
of both sides.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> dict:
    """(workload, seed) -> metric values plus the run's ``failed`` and
    ``attempted`` op counts, from a log of run outputs."""
    runs, detail = {}, None
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            obj = json.loads(line)
            if "perfbench" in obj:
                detail = obj
            elif "metrics" in obj and detail is not None:
                runs[(detail["workload"], detail["seed"])] = {
                    **{k: v["value"] for k, v in obj["metrics"].items()},
                    "failed": obj["failed"], "attempted": obj["attempted"]}
                detail = None
    return runs


def spread(values: list[float]) -> float:
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> str:
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    losses = sum(sign * (c - p) < 0 for p, c in zip(parent, change))
    mp, mc = statistics.median(parent), statistics.median(change)
    gap_beats_iqr = abs(mc - mp) > spread(parent) * mp
    if wins >= 0.9 * len(parent) and gap_beats_iqr:
        return "better"
    if losses >= 0.9 * len(parent) and gap_beats_iqr:
        return "worse"
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    if max(spread(parent), spread(change)) > bound and not all_better:
        return "unresolved"
    if sign * (mc - mp) < -bound * mp:
        return "regressed"
    return "same"


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    parent, change = load(argv[0]), load(argv[1])
    workloads = sorted({w for w, _ in parent} & {w for w, _ in change})
    print(f"{'workload':10s} {'metric':12s} {'n':>3s} {'parent p50':>11s} "
          f"{'change p50':>11s} {'parent iqr':>10s} {'wins':>5s}  verdict")
    for w in workloads:
        seeds = sorted({s for ww, s in parent if ww == w} & {s for ww, s in change if ww == w})
        if len(seeds) < 2:
            continue
        fails = {side: (sum(runs[(w, s)]["failed"] for s in seeds),
                        sum(runs[(w, s)]["attempted"] for s in seeds))
                 for side, runs in (("parent", parent), ("change", change))}
        print(f"{w:10s} failed/attempted: parent {fails['parent'][0]}/{fails['parent'][1]}"
              f", change {fails['change'][0]}/{fails['change'][1]}")
        invalid = fails["change"][0] > fails["parent"][0]
        for name, m in spec.items():
            p = [parent[(w, s)][name] for s in seeds]
            c = [change[(w, s)][name] for s in seeds]
            sign = 1.0 if m["better"] == "higher" else -1.0
            wins = sum(sign * (b - a) > 0 for a, b in zip(p, c))
            print(f"{w:10s} {name:12s} {len(seeds):3d} {statistics.median(p):11.4f} "
                  f"{statistics.median(c):11.4f} {spread(p):10.3f} {wins:5d}  "
                  f"{'invalid' if invalid else verdict(p, c, m['better'], m['bound'])}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
