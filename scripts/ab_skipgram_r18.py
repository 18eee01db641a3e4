"""Interleaved same-process A/B for the skipgram_cooccurrence r18
single-pass rewrite: OLD (one scan per distance, unioned) vs NEW (the
registered query). Alternates variants round-robin in ONE session with
bench-identical reset, prints per-round timings and mins.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from programmers_data_spark import registry
from programmers_data_spark.catalog import load_table
from programmers_data_spark.queries.round10_ops import (
    SKIPGRAM_SCALE,
    TOP_SKIPGRAMS,
    WINDOW,
)
from programmers_data_spark.session import get_spark
from bench import _force, _reset

from programmers_data_spark.functions import textfn


def old_form(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(textfn.tokenize("text").alias("toks"))
    parts = []
    for d in range(1, WINDOW + 1):
        parts.append(
            toked.filter(F.size("toks") > d)
            .select(
                F.explode(
                    F.arrays_zip(
                        F.slice("toks", 1, F.size("toks") - d).alias("a"),
                        F.slice("toks", d + 1, F.size("toks") - d).alias("b"),
                    )
                ).alias("p"),
                F.lit(SKIPGRAM_SCALE // d).cast("long").alias("w"),
            )
            .select("p.a", "p.b", "w")
        )
    pairs = parts[0]
    for p in parts[1:]:
        pairs = pairs.unionByName(p)
    return (
        pairs.groupBy(F.col("a").alias("tok_a"), F.col("b").alias("tok_b"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("w").cast("long").alias("weight_milli"),
        )
        .orderBy(F.desc("weight_milli"), F.desc("n_pairs"), "tok_a", "tok_b")
        .limit(TOP_SKIPGRAMS)
    )


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    spark = get_spark(app_name="ab-skipgram-r18")
    registry.load_all()
    new_fn = registry.QUERIES["skipgram_cooccurrence"]
    variants = {"old": lambda: old_form(spark, sf_dir),
                "new": lambda: new_fn(spark, sf_dir)}
    # untimed warmups
    for name, fn in variants.items():
        _reset(spark)
        _force(fn())
    times = {"old": [], "new": []}
    for r in range(rounds):
        for name in ("old", "new") if r % 2 == 0 else ("new", "old"):
            _reset(spark)
            t0 = time.perf_counter()
            _force(variants[name]())
            dt = time.perf_counter() - t0
            times[name].append(round(dt, 4))
            print(f"round {r} {name}: {dt:.4f}", flush=True)
    print({k: (min(v), v) for k, v in times.items()})


if __name__ == "__main__":
    main()
