"""Compare two sets of benchmark results, e.g. a parent commit's and a
change's ``.perfbench/results`` directories:

    python3 perfbench/compare.py <dir-a> <dir-b>

Per workload and measured end-to-end figure, gated or not, it prints
both sides' medians over their untraced runs and the ratio b/a. It refuses (exit 2) to compare
results measured at different scale factors or on different numbers of
cores, within or across the two sets.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def load(directory: str) -> dict[str, list[dict]]:
    by_workload: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*-trace0.json"))):
        with open(path, encoding="utf-8") as f:
            rec = json.load(f)
        by_workload.setdefault(rec["context"]["workload"], []).append(rec)
    return by_workload


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = load(argv[0]), load(argv[1])
    contexts = {(r["context"]["sf"], r["context"]["cpus"])
                for side in (a, b) for recs in side.values() for r in recs}
    if len(contexts) > 1:
        print(f"refusing to compare results from different (sf, cpus): {sorted(contexts)}",
              file=sys.stderr)
        return 2
    for workload in sorted(set(a) & set(b)):
        print(f"{workload}: {len(a[workload])} vs {len(b[workload])} runs")
        for metric in a[workload][0]["measured"]:
            ma = statistics.median(r["measured"][metric] for r in a[workload])
            mb = statistics.median(r["measured"][metric] for r in b[workload])
            print(f"  {metric:16s} {ma:12.4f} {mb:12.4f}  x{mb / ma:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
