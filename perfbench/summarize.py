"""Summarize saved benchmark results: per workload and metric, the
median, the quartiles and the quartile spread over the runs.

Each run writes ``.perfbench/results/<workload>-seed<n>-trace<t>.json``;
run several seeds, then::

    python3 perfbench/summarize.py [.perfbench/results]

The spread, (Q3 - Q1) / median, is what ``BENCHMARK.json``'s bounds are
checked against.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

import stats


def load(results_dir: str) -> dict[tuple[str, int, str], list[float]]:
    """(workload, trace, metric) -> values, one per saved run."""
    values: dict[tuple[str, int, str], list[float]] = {}
    for path in sorted(glob.glob(os.path.join(results_dir, "*.json"))):
        with open(path, encoding="utf-8") as fh:
            result = json.load(fh)
        for name, metric in result["metrics"].items():
            values.setdefault((result["workload"], result["trace"], name), []).append(metric["value"])
    return values


def main(argv: list[str]) -> int:
    here = os.path.dirname(os.path.abspath(__file__))
    results_dir = argv[0] if argv else os.path.join(os.path.dirname(here), ".perfbench", "results")
    for (workload, trace, name), vals in sorted(load(results_dir).items()):
        line = f"{workload:18s} trace={trace} {name:30s} n={len(vals):3d} median={stats.median(vals):12.4f}"
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
            line += f" q1={q1:.4f} q3={q3:.4f} spread={stats.quartile_spread(vals):.4f}"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
