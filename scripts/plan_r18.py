"""Round-17 optimization harness: capture .explain("formatted") and
isolated min-of-N noop-sink timings for named queries.

Usage:
  python scripts/plan_r18.py [--sf DIR] [--out plans/r18] [--tag before]
                             [--runs 2] [--time-only|--plan-only] name...

Writes plans/<out>/<name>_<tag>.txt and prints one timing line per
query. Timing methodology matches bench.py: _reset (clearCache +
memo clears + GC) between runs, untimed warmup, min-of-N timed
noop-sink executions, fresh per-run store scratch dirs.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from programmers_data_spark import registry
from programmers_data_spark.session import get_spark
from bench import _force, _isolate_stores, _reset


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="plans/r18")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--time-only", action="store_true")
    ap.add_argument("--plan-only", action="store_true")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    _isolate_stores("plan")
    spark = get_spark(app_name="pds-plan-r18")
    registry.load_all()
    os.makedirs(args.out, exist_ok=True)

    results: dict[str, float] = {}
    for name in args.names:
        fn = registry.QUERIES[name]
        if not args.time_only:
            _reset(spark)
            df = fn(spark, args.sf)
            buf = io.StringIO()
            stdout, sys.stdout = sys.stdout, buf
            try:
                df.explain("formatted")
            finally:
                sys.stdout = stdout
            path = os.path.join(args.out, f"{name}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"{name}: plan -> {path}", flush=True)
        if args.plan_only:
            continue
        _reset(spark)
        spark.sparkContext.setJobDescription(f"warmup {name}")
        _force(fn(spark, args.sf))
        best = float("inf")
        for i in range(args.runs):
            _reset(spark)
            spark.sparkContext.setJobDescription(f"timed {name} #{i}")
            t0 = time.perf_counter()
            _force(fn(spark, args.sf))
            best = min(best, time.perf_counter() - t0)
        results[name] = round(best, 4)
        print(f"{name}: {results[name]}s (min of {args.runs})", flush=True)
    if results:
        print(json.dumps({"tag": args.tag, "timings": results}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
