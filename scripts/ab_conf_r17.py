"""Interleaved same-process A/B of a session-conf change (round 17).

Alternates VARIANT A (baseline conf) and VARIANT B (candidate conf)
across ROUNDS full session restarts, timing each named query with the
bench-identical isolated methodology (reset + untimed warmup + timed
noop run). Interleaving in ONE process across adjacent minutes is the
only adjudicable methodology on this steal-prone host (SCALE.md
round-17): cross-session absolute numbers are unreliable.

Usage:
  python scripts/ab_conf_r17.py --rounds 2 --conf k=v[,k=v...] name...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from programmers_data_spark import registry
from programmers_data_spark.session import get_spark
from bench import _force, _isolate_stores, _reset


def _session(extra: dict[str, str]):
    """Fresh session with variant conf. Stops BOTH the thread-active
    session and the default instantiated one (r17 ADVICE #3: a
    default session that is not thread-active would make getOrCreate
    reuse the old JVM conf and the variant conf silently not apply),
    then asserts the new session actually carries the requested
    extras. Limitation (documented, measurement script only): the
    --conf k=v,k=v parser splits on commas, so conf VALUES containing
    commas cannot be passed."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    default = getattr(SparkSession, "_instantiatedSession", None)
    if default is not None:
        default.stop()
    spark = get_spark(app_name="pds-ab-r17", extra_conf=extra)
    for k, v in extra.items():
        got = spark.conf.get(k, None)
        assert got == v, f"variant conf did not apply: {k}={got!r} != {v!r}"
    return spark


def _time_names(spark, sf: str, names: list[str]) -> dict[str, float]:
    out: dict[str, float] = {}
    # one warmup pass per fresh session so JVM/codegen/Arrow spin-up
    # is not charged to the first query (bench.py methodology)
    _reset(spark)
    _force(registry.QUERIES["mau"](spark, sf))
    spark.range(32).mapInPandas(lambda it: it, schema="id long").write.format(
        "noop"
    ).mode("overwrite").save()
    for name in names:
        fn = registry.QUERIES[name]
        _reset(spark)
        _force(fn(spark, sf))  # untimed warmup
        _reset(spark)
        t0 = time.perf_counter()
        _force(fn(spark, sf))
        out[name] = round(time.perf_counter() - t0, 4)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--conf", required=True, help="k=v[,k=v...] for variant B")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    conf_b = dict(kv.split("=", 1) for kv in args.conf.split(","))
    _isolate_stores("ab")
    registry.load_all()

    a_best: dict[str, float] = {}
    b_best: dict[str, float] = {}
    for rnd in range(args.rounds):
        for variant, extra, best in (
            ("A", {}, a_best),
            ("B", conf_b, b_best),
        ):
            spark = _session(extra)
            t = _time_names(spark, args.sf, args.names)
            for n, v in t.items():
                best[n] = min(best.get(n, float("inf")), v)
            print(f"round {rnd} variant {variant}: {json.dumps(t)}", flush=True)
    print("--- mins across rounds ---")
    for n in args.names:
        ratio = b_best[n] / a_best[n] if a_best[n] else float("nan")
        print(f"{n:42s} A={a_best[n]:7.3f} B={b_best[n]:7.3f} B/A={ratio:5.3f}")
    print(json.dumps({"A": a_best, "B": b_best, "conf": conf_b}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
