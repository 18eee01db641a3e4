"""Smoke test of the benchmark at sf0.001, one pass per workload.

    python3 perfbench/smoke.py

Run from the repository root. For every workload it runs two seeds
untraced and one traced, then checks that

- every metric BENCHMARK.json names is printed, with its unit, in the
  last stdout line of the matching run (end-to-end untraced, per-layer
  traced), and every run reports correct outputs and no failed op;
- the two seeds differ in op order and, for ``warehouse``, in how the
  arrival batches are cut, while every checked query output (its
  order-insensitive digest) is the same;
- ``harness.STORE_ENVS`` covers every store env var the engine reads.

Exits 0 when all checks hold, 1 otherwise.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = (1, 2)


def run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    """One benchmark run: (last-line JSON, result record)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--trace", str(trace),
         "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {proc.returncode}")
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    path = os.path.join(ROOT, ".perfbench", "results",
                        f"{workload}-seed{seed}-trace{trace}.json")
    with open(path, encoding="utf-8") as f:
        return last, json.load(f)


def timed_ops(record: dict) -> list[str]:
    return [o["name"] for o in record["ops"] if o["phase"].startswith("pass")]


def store_env_problems() -> list[str]:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from harness import STORE_ENVS
    from programmers_data_spark.queries.media_lifecycle_ops import AUDIO_SPEC, VIDEO_SPEC
    from programmers_data_spark.queries.round12_ops import IMAGE_SPEC

    read = {s.store_env for s in (IMAGE_SPEC, AUDIO_SPEC, VIDEO_SPEC)}
    read |= {s.ing_env for s in (IMAGE_SPEC, AUDIO_SPEC, VIDEO_SPEC)}
    for path in glob.glob(os.path.join(ROOT, "programmers_data_spark", "**", "*.py"),
                          recursive=True):
        with open(path, encoding="utf-8") as f:
            read |= set(re.findall(r"SPARK_GRAFT_[A-Z_]*STORE\b", f.read()))
    return [f"store env {e} not isolated" for e in sorted(read - set(STORE_ENVS))]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    wanted = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
              1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = store_env_problems()
    for w in (x["name"] for x in spec["workloads"]):
        records = {}
        for seed, trace in ((SEEDS[0], 0), (SEEDS[1], 0), (SEEDS[0], 1)):
            last, rec = run(w, seed, trace)
            records[seed, trace] = rec
            got = {k: v["unit"] for k, v in last["metrics"].items()}
            if got != wanted[trace]:
                problems.append(f"{w} trace {trace}: metrics {got} != {wanted[trace]}")
            if not last["correct"] or last["failed"]:
                problems.append(f"{w} seed {seed} trace {trace}: outputs not correct "
                                f"({[c for c in rec['checks'] if not c[1]]})")
        a, b = records[SEEDS[0], 0], records[SEEDS[1], 0]
        if a["digests"] != b["digests"] or not a["digests"]:
            problems.append(f"{w}: checked outputs differ between seeds")
        if timed_ops(a) == timed_ops(b):
            problems.append(f"{w}: op order does not depend on the seed")
        if w == "warehouse" and a["inputs"] == b["inputs"]:
            problems.append(f"{w}: batch cuts do not depend on the seed")
        print(f"{w}: {len(a['digests'])} outputs checked, "
              f"{len(timed_ops(a))} timed ops per pass", flush=True)
    for p in problems:
        print("SMOKE FAILED:", p)
    print("smoke ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
