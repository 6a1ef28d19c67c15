"""Median, quartiles and spread of saved benchmark results.

    python3 prodbench/spread.py runs/*.out

Each file holds the stdout of one ``run.py`` run; its last line is the
result object and the line before it the report (for the workload
name).  Prints, per workload and metric, the median, the quartiles as
``statistics.quantiles(values, n=4)`` gives them, and the spread
(q3 − q1) ÷ median.
"""

from __future__ import annotations

import collections
import json
import statistics
import sys


def main(paths: list[str]) -> int:
    values: dict[str, dict[str, list[float]]] = collections.defaultdict(
        lambda: collections.defaultdict(list))
    for path in paths:
        with open(path) as f:
            lines = f.read().splitlines()
        if len(lines) < 2:
            print(f"no result in {path}", file=sys.stderr)
            continue
        result, report = json.loads(lines[-1]), json.loads(lines[-2])
        for name, m in result["metrics"].items():
            values[report["workload"]][name].append(m["value"])
    for workload, metrics in sorted(values.items()):
        n = len(next(iter(metrics.values())))
        print(f"{workload} ({n} runs)")
        for name, vs in metrics.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if n > 1 else (med,) * 3
            spread = (q3 - q1) / med if med else float("nan")
            print(f"  {name:28s} median {med:12.4f}  q1 {q1:12.4f}  "
                  f"q3 {q3:12.4f}  spread {spread:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
