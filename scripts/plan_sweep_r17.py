"""Plan-shape sweep over every registered non-stream query (r17).

For each query, counts physical-plan features from .explain("formatted")
output: Exchange / join-strategy / Window / Python-node mentions, plan
size, and REAL parquet scans per fixture table (counted from scan-node
Location lines, so InMemoryRelation reprints do NOT inflate them — the
r12 plan-string lesson applies to operator mentions, but Location lines
appear once per actual scan node in the formatted plan).

Usage: python scripts/plan_sweep_r17.py [--sf DIR] [--out FILE]
"""

from __future__ import annotations

import argparse
import io
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from programmers_data_spark import registry
from programmers_data_spark.session import get_spark
from bench import _isolate_stores


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="plans/r17/plan_sweep_r17opt1_s3.json")
    args = ap.parse_args()

    _isolate_stores("sweep")
    spark = get_spark(app_name="pds-plan-sweep-r17")
    registry.load_all()
    from programmers_data_spark.memo import clear_memo_caches

    out: dict[str, dict] = {}
    for name in sorted(registry.QUERIES):
        if name.startswith("stream_"):
            continue
        spark.catalog.clearCache()
        clear_memo_caches()
        try:
            df = registry.QUERIES[name](spark, args.sf)
            buf = io.StringIO()
            stdout, sys.stdout = sys.stdout, buf
            try:
                df.explain("formatted")
            finally:
                sys.stdout = stdout
            plan = buf.getvalue()
        except Exception as e:  # dependency-gated names
            out[name] = {"err": f"{type(e).__name__}: {e}"[:160]}
            continue
        scans: dict[str, int] = {}
        for m in re.finditer(r"Location: InMemoryFileIndex \[[^\]]*/(\w+)\.parquet\]", plan):
            scans[m.group(1)] = scans.get(m.group(1), 0) + 1
        out[name] = {
            "exchange": plan.count("Exchange"),
            "smj": plan.count("SortMergeJoin"),
            "bhj": plan.count("BroadcastHashJoin"),
            "bnlj": plan.count("BroadcastNestedLoopJoin"),
            "cartesian": plan.count("CartesianProduct"),
            "window": len(set(re.findall(r"Window \(\d+\)", plan))),
            "python": plan.count("Python")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas"),
            "inmem": plan.count("InMemoryTableScan"),
            "plan_kb": round(len(plan) / 1024, 1),
            "scans": scans,
        }
        print(name, json.dumps(out[name]["scans"]), flush=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print("wrote", args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
