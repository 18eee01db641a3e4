"""Stage-by-stage decomposition of the funnel contracts and the text
incremental cluster query (r17 VERDICT asks #2/#6): times each
component with bench-identical reset in ONE session, so the split is
internally consistent even under host steal.

Usage: python scripts/profile_funnel_r18.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from programmers_data_spark import registry
from programmers_data_spark.session import get_spark
from bench import _force, _isolate_stores, _reset


def timed(label, fn, spark, n=2):
    best = float("inf")
    for _ in range(n):
        _reset(spark)
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    print(f"{label}: {best:.3f}", flush=True)
    return best


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    _isolate_stores("prof")
    spark = get_spark(app_name="pds-profile-funnel-r18")
    registry.load_all()
    from pyspark.sql import functions as F

    from programmers_data_spark import media_index
    from programmers_data_spark.pipelines import curation_stage_frames
    from programmers_data_spark.queries.dedup_ops import verified_pair_store
    from programmers_data_spark.queries.media_lifecycle_ops import (
        AUDIO_SPEC,
        VIDEO_SPEC,
    )
    from programmers_data_spark.queries.round10_ops import quality_logits
    from programmers_data_spark.queries.round12_ops import IMAGE_SPEC
    from programmers_data_spark.queries.sampling_ops import train_val_split
    from programmers_data_spark.queries.text_quality_ops import (
        gopher_quality_flags,
    )
    from programmers_data_spark.catalog import load_table

    # one untimed pass to build all stores (the bench warmup role)
    _reset(spark)
    _force(registry.QUERIES["multimodal_funnel_contract"](spark, sf))

    # full queries, bench-identical
    timed("full multimodal_funnel_contract",
          lambda: _force(registry.QUERIES["multimodal_funnel_contract"](spark, sf)), spark)
    timed("full pipeline_funnel_contract",
          lambda: _force(registry.QUERIES["pipeline_funnel_contract"](spark, sf)), spark)

    # components (each from cold reset, stores already published)
    timed("gopher_quality_flags pass",
          lambda: _force(gopher_quality_flags(spark, sf)), spark)
    timed("text pair store READ",
          lambda: _force(verified_pair_store(spark, sf)), spark)

    def media_reads():
        for spec in (IMAGE_SPEC, AUDIO_SPEC, VIDEO_SPEC):
            _force(media_index.pair_store(spark, sf, spec))

    timed("media pair store READs (3)", lambda: media_reads(), spark)
    timed("quality_logits pass over raw docs",
          lambda: _force(quality_logits(
              load_table(spark, sf, "documents").select("doc_id", "text"))), spark)
    timed("train_val_split pass",
          lambda: _force(train_val_split(spark, sf)), spark)

    # stage-frame construction ONLY (includes eager CC + persists
    # forced by the counts) vs the six counts on warm frames
    def frames_and_counts(media):
        frames = curation_stage_frames(
            spark, sf, near_dup="best_quality", media=media
        )
        for k in ("raw", "quality_gated", "exact_deduped", "near_deduped"):
            frames[k].agg(F.count(F.lit(1))).collect()
        frames["curated"].agg(F.count(F.lit(1))).collect()

    timed("stage frames+counts (media=True)",
          lambda: frames_and_counts(True), spark)
    timed("stage frames+counts (media=False)",
          lambda: frames_and_counts(False), spark)

    # text incremental decomposition
    from programmers_data_spark.queries.curation_ops import (
        neardup_incremental,
    )
    from programmers_data_spark.queries.round15_ops import (
        text_cluster_store,
    )

    _reset(spark)
    _force(registry.QUERIES["text_neardup_clusters_incremental"](spark, sf))
    timed("full text_neardup_clusters_incremental",
          lambda: _force(registry.QUERIES["text_neardup_clusters_incremental"](spark, sf)), spark)
    timed("text_cluster_store READ",
          lambda: _force(text_cluster_store(spark, sf)), spark)
    timed("neardup_incremental (arrival pair delta)",
          lambda: _force(neardup_incremental(spark, sf)), spark)


if __name__ == "__main__":
    main()
