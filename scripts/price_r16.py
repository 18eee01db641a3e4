"""Round-16 gated first-pricing (r15 VERDICT ask #6): one standalone
session, flat controls FIRST (the run LABELS itself polluted when the
controls read above bench.CONTROL_POLLUTED_RATIO vs the committed prior — all timings still print,
and SCALE.md adjudication discards them by rule), then min-of-3
isolated timings for (a) the two r16 window leads (unpriced: the
stream ingest is batch-bench-excluded, the incremental clusters query
carried only a hot-run first price), (b) the three NEW embedding
lifecycle queries, and (c) the four replay-engine instantiations the
r16 refactor touched (regression check for the shared-engine move).
Prints one JSON blob for SCALE.md adjudication."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (  # noqa: E402
    CONTROL_POLLUTED_RATIO,
    CONTROLS,
    _force,
    _host_speed_index,
    _isolate_stores,
    _reset,
    control_median_ratio,
)
from programmers_data_spark import registry  # noqa: E402
from programmers_data_spark.session import get_spark  # noqa: E402

_isolate_stores("price16")

PRICED = [
    # the two r16 window leads (r15 VERDICT ask #6)
    "stream_text_neardup_ingest",
    "text_neardup_clusters_incremental",
    # the three NEW embedding lifecycle queries
    "embedding_neardup_incremental",
    "embedding_neardup_clusters_incremental",
    "stream_embedding_neardup_ingest",
    # replay-engine instantiations touched by the r16 refactor
    "stream_image_neardup_ingest",
    "stream_audio_neardup_ingest",
    "stream_video_neardup_ingest",
]


def _min_of(spark, sf_dir: str, name: str, n: int) -> float:
    _reset(spark)
    _force(registry.QUERIES[name](spark, sf_dir))  # untimed warmup
    best = float("inf")
    for _ in range(n):
        _reset(spark)
        t0 = time.perf_counter()
        _force(registry.QUERIES[name](spark, sf_dir))
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="pds-price-r16")
    registry.load_all()
    prior_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_DETAIL.json",
    )
    prior = json.load(open(prior_path))["queries"]

    # warmup passes (bench protocol): codegen + Arrow worker + cold
    # lineitem page cache
    _force(registry.QUERIES["mau"](spark, sf_dir))
    spark.range(32).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    _force(
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    )

    controls = {n: _min_of(spark, sf_dir, n, 2) for n in CONTROLS}
    control_ratio = control_median_ratio(controls, prior)
    out = {
        "host_speed_md5_64mb": _host_speed_index(),
        "controls": controls,
        "control_ratio": control_ratio,
        "polluted": (
            None
            if control_ratio is None
            else control_ratio > CONTROL_POLLUTED_RATIO
        ),
        "priced_min_of_3": {},
        "prior": {n: prior.get(n) for n in PRICED + CONTROLS},
    }
    for name in PRICED:
        out["priced_min_of_3"][name] = _min_of(spark, sf_dir, name, 3)
    print(json.dumps(out, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()


