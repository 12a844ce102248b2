"""Summarize saved benchmark runs.

    python3 perfbench/summarize.py perfbench/results/set1.jsonl [more.jsonl ...]

Each input file holds, per run, the detail line and the result line that
``run.py`` printed (its last two stdout lines). Prints, per file, workload
and metric: the number of runs, the median, the first and third quartiles
(``statistics.quantiles(n=4)``) and their distance as a share of the median.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict


def load(path: str) -> dict[str, dict[str, list[float]]]:
    values: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    with open(path) as f:
        lines = [json.loads(line) for line in f if line.strip()]
    for detail, result in zip(lines[::2], lines[1::2]):
        for name, m in result["metrics"].items():
            values[detail["workload"]][name].append(m["value"])
    return values


def main(paths: list[str]) -> int:
    for path in paths:
        for workload, metrics in sorted(load(path).items()):
            for name, vals in metrics.items():
                med = statistics.median(vals)
                q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
                spread = (q3 - q1) / med if med else float("nan")
                print(f"{path}\t{workload}\t{name}\tn={len(vals)}\tmedian={med:.4g}"
                      f"\tq1={q1:.4g}\tq3={q3:.4g}\tspread={spread:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
