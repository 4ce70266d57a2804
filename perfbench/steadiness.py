#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, against their bounds.

    for s in 1 2 3 4 5 6 7 8 9 10; do
      python3 perfbench/run.py --workload score_pairs --seed $s --seconds 10 \\
          --trace 0 > out_$s.txt
    done
    python3 perfbench/steadiness.py out_*.txt

Reads the result line (the last line) of each file, all from one workload,
and prints each metric's median and quartile spread, (q3 - q1) / median.
Exits 1 when a spread exceeds its bound in ``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def main(paths: list[str]) -> int:
    sys.path[0] = str(ROOT)
    from perfbench.stats import quartile_spread

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for p in paths:
        result = json.loads(Path(p).read_text().strip().splitlines()[-1])
        if not result["correct"]:
            print(f"{p}: run not correct")
            return 1
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    worst = 0
    for name, v in values.items():
        spread = quartile_spread(v) if len(v) > 1 else float("nan")
        bound = bounds[name]
        over = spread > bound
        worst |= over
        print(f"{name:12s} median {statistics.median(v):12.6g}  spread {spread:.4f}"
              f"  bound {bound}  {'OVER' if over else 'ok'}  n={len(v)}")
    return int(worst)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
