"""Median and quartile spread of the recorded untraced runs.

    python3 perfbench/spread.py [workload ...]

Reads `.perfbench_out/<workload>-seed*-trace0.json` in the current
directory (one record per seed; a rerun of a seed replaces its record) and
prints, per end-to-end metric, the run count, median, first and third
quartile (`statistics.quantiles(values, n=4)`) and the spread
(q3 - q1) / median next to a third of the metric's bound.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main(argv: list[str]) -> int:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = argv or [w["name"] for w in spec["workloads"]]
    for workload in names:
        records = []
        for path in sorted(glob.glob(f".perfbench_out/{workload}-seed*-trace0.json")):
            with open(path) as fh:
                records.append(json.load(fh))
        print(f"{workload}: {len(records)} runs, "
              f"{sum(r['failed'] for r in records)} failed operations")
        if len(records) < 2:
            continue
        for m in spec["end_to_end"]:
            vals = [r["end_to_end"][m["name"]] for r in records]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            print(f"  {m['name']:<12} median {med:12.4f} {m['unit']:<7} "
                  f"q1 {q1:12.4f}  q3 {q3:12.4f}  spread {(q3 - q1) / med:.4f} "
                  f"(bound/3 {m['bound'] / 3:.4f})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
