#!/usr/bin/env python3
"""Median and run-to-run spread of each metric over several runs.

    python3 perfbench/spread.py run1.txt run2.txt ...

Each file is the saved standard output of one `run.py` run; its last
line is the result. The spread is the distance between the first and
third quartile, as a share of the median (stats.spread)."""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def main(paths):
    results = []
    for p in paths:
        with open(p) as f:
            results.append(json.loads(f.read().strip().splitlines()[-1]))
    print(f"{len(results)} runs, {sum(r['correct'] for r in results)} correct, "
          f"{sum(r['failed'] for r in results)} failed operations")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        spread = stats.spread(vals) if len(vals) > 1 else float("nan")
        print(f"{name:28s} median {stats.median(vals):12.6g}  spread {spread:.3f}")


if __name__ == "__main__":
    main(sys.argv[1:])
