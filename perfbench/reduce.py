"""Reduce a trace file to per-layer self time.

    python3 perfbench/reduce.py perfbench/.work/traces/<file>.json

A span's self time is its duration minus the part of it that its child spans
cover.  Per layer (span name), self times are summed within each measured
cycle, and the median over cycles is reported; counters are reduced the same
way.  Prints one JSON object {layer: value}.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> list[tuple[str, int, float]]:
    """[(name, cycle, self seconds)] for every finished span."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = []
    for s in spans:
        if s["end"] is None:
            continue
        inner = [(max(a, s["start"]), min(b, s["end"]))
                 for a, b in children[s["id"]]]
        out.append((s["name"], s["cycle"],
                    (s["end"] - s["start"]) - _covered(inner)))
    return out


def per_cycle_median(rows) -> dict[str, float]:
    """rows of (name, cycle, value) -> {name: median over cycles of the
    per-cycle sum}.  A cycle in which a name never occurs counts as 0."""
    sums: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
    cycles = set()
    for name, cycle, value in rows:
        sums[name][cycle] += value
        cycles.add(cycle)
    return {name: statistics.median([by_cycle.get(c, 0.0) for c in cycles])
            for name, by_cycle in sums.items()}


def reduce_trace(trace: dict) -> dict[str, float]:
    """{span name + '_s': median self seconds per cycle} plus
    {counter name: median per-cycle sum}."""
    out = {f"{k}_s": v
           for k, v in per_cycle_median(self_times(trace["spans"])).items()}
    out.update(per_cycle_median((c["name"], c["cycle"], c["value"])
                                for c in trace["counters"]))
    return out


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        print(json.dumps(reduce_trace(json.load(f)), indent=1, sort_keys=True))
