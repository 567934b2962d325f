#!/usr/bin/env python3
"""Run-to-run spread of benchmark results.

    for s in 1 2 3 4 5 6 7 8 9 10; do
        python3 perfbench/run.py --workload dedup --seed $s --seconds 15 --trace 0 | tail -1
    done | python3 perfbench/spread.py

Reads one result JSON object per line (the last stdout line of each run)
and prints, per metric, the median, the quartiles as
``statistics.quantiles(values, n=4)`` cuts them, and the inter-quartile
distance as a share of the median — the figure each end-to-end metric's
``bound`` in ``BENCHMARK.json`` must stay above."""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.stats import iqr_share, quartiles  # noqa: E402


def main() -> int:
    values: dict[str, list[float]] = {}
    failed = 0
    for line in sys.stdin:
        if not line.strip():
            continue
        res = json.loads(line)
        failed += res["failed"] + (not res["correct"])
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vals in values.items():
        q1, q2, q3 = quartiles(vals)
        print(f"{name:24s} n={len(vals):2d} median={q2:.4f} q1={q1:.4f} q3={q3:.4f} "
              f"iqr/median={iqr_share(vals):.3f}")
    print(f"failed ops or incorrect runs: {failed}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
