"""Round-13 second-session tests: the shared media-index maintenance
engine (media_index.py) and its audio/video instantiations
(queries/media_lifecycle_ops.py)."""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from programmers_data_spark import media_index, registry  # noqa: E402
from programmers_data_spark.memo import clear_memo_caches  # noqa: E402
from programmers_data_spark.testing import compare_to_oracle  # noqa: E402

registry.load_all()

from programmers_data_spark.queries import (  # noqa: E402
    media_lifecycle_ops,
    round12_ops,
)


@pytest.fixture(scope="module")
def planted_dir(tmp_path_factory):
    """The round-12 planted corpus shape: 26 documents, scene count
    SCENE_MIN (23) — (0,23), (1,24), (2,25) are same-scene pairs in
    every base-corpus modality (image/audio/video all partition by
    doc_id % scenes on the base corpus)."""
    d = tmp_path_factory.mktemp("planted_media_lifecycle")
    texts = [" ".join(f"w{i}t{j}" for j in range(30)) for i in range(26)]
    docs = pd.DataFrame(
        {
            "doc_id": range(26),
            "text": texts,
            "lang": ["en"] * 26,
            "source": [f"src{i % 3}" for i in range(26)],
            "n_chars": [len(t) for t in texts],
        }
    )
    docs.to_parquet(d / "documents.parquet", index=False)
    return str(d)


def _isolate(monkeypatch, tmp_path, spec):
    """Point a spec's published store at a fresh dir and clear the
    engine memos so the test sees a cold lifecycle."""
    monkeypatch.setenv(spec.store_env, str(tmp_path))
    clear_memo_caches()


@pytest.mark.parametrize(
    "name",
    [
        "audio_neardup_incremental",
        "video_neardup_incremental",
        "stream_audio_neardup_ingest",
        "stream_video_neardup_ingest",
    ],
)
def test_media_lifecycle_planted_parity(spark, planted_dir, name):
    """Full hash parity for each engine instantiation on the planted
    corpus (the fixture-regeneration-independence discipline)."""
    df = registry.QUERIES[name](spark, planted_dir)
    result = compare_to_oracle(name, df, registry.ORACLE[name], planted_dir)
    assert result.ok, result


@pytest.mark.parametrize(
    "spec_name", ["audio", "video"]
)
def test_incremental_union_untouched_equals_full(
    spark, planted_dir, spec_name, corpus_kernel
):
    """The incremental ≡ full identity stated WITHOUT the oracle:
    delta(arrivals) ∪ {full pairs touching no arrival} == full pair
    set — any double-count or miss breaks set equality."""
    spec = (
        media_lifecycle_ops.AUDIO_SPEC
        if spec_name == "audio"
        else media_lifecycle_ops.VIDEO_SPEC
    )
    delta = registry.QUERIES[f"{spec_name}_neardup_incremental"](
        spark, planted_dir
    )
    full = round12_ops._pairs_from(corpus_kernel(planted_dir, spec))
    r = spec.arrival_residue
    untouched = full.filter(
        (F.col("media_a") % 3 != r) & (F.col("media_b") % 3 != r)
    )
    union = delta.select("media_a", "media_b", "ham_d").unionByName(
        untouched.select("media_a", "media_b", "ham_d")
    )
    assert union.subtract(full).count() == 0
    assert full.subtract(union).count() == 0
    # and the two parts are disjoint (no pair both touched and not)
    assert delta.join(untouched, ["media_a", "media_b"]).count() == 0


def test_video_incremental_probe_plans_without_exchange(
    spark, planted_dir, tmp_path, monkeypatch
):
    """The engine's published band table is bucketed by the probe
    join key for EVERY modality: with broadcast disabled, the video
    arrival-bands x index-bands join carries exactly ONE Exchange
    (the arrival side) — the index side reads the bucket layout
    directly (the r12 image plan contract, now engine-wide)."""
    import re

    spec = media_lifecycle_ops.VIDEO_SPEC
    _isolate(monkeypatch, tmp_path, spec)
    allb = media_index.band_store(spark, planted_dir, spec)
    arrivals = media_index.hash_store(spark, planted_dir, spec).filter(
        F.col("media_id") % 3 == spec.arrival_residue
    )
    ab = round12_ops._band_frame(arrivals)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ab.alias("a").join(allb.alias("b"), ["band", "bval"])
        joined.write.format("noop").mode("overwrite").save()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
        assert n_ex == 1, (
            f"expected 1 exchange (arrival side), got {n_ex}:\n{plan}"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_store_dirs_are_per_modality(planted_dir):
    """Three specs, three disjoint content-addressed artifact trees —
    a video constant bump must never serve stale audio bits."""
    dirs = {
        media_index.store_table_dir(s, planted_dir)
        for s in (
            round12_ops.IMAGE_SPEC,
            media_lifecycle_ops.AUDIO_SPEC,
            media_lifecycle_ops.VIDEO_SPEC,
        )
    }
    assert len(dirs) == 3
    leaves = {os.path.basename(d) for d in dirs}
    assert leaves == {"image_hashes", "audio_hashes", "video_hashes"}


def test_streaming_ingest_cleans_scratch(spark, planted_dir):
    """The engine's replay scratch tree is removed once the snapshot
    localCheckpoints (the stream_upsert_publish discipline), for the
    non-image instantiations too."""
    import glob

    from programmers_data_spark.storeutil import store_base

    clear_memo_caches()
    registry.QUERIES["stream_video_neardup_ingest"](
        spark, planted_dir
    ).count()
    spec = media_lifecycle_ops.VIDEO_SPEC
    base = store_base(
        spec.ing_env, f"spark_graft_{spec.ing_prefix.rstrip('_')}"
    )
    assert glob.glob(os.path.join(base, spec.ing_prefix + "*")) == []


def test_topk_planted_parity(spark, planted_dir):
    """Full hash parity for the reverse-image-search read path on the
    planted corpus."""
    name = "image_hamming_topk"
    df = registry.QUERIES[name](spark, planted_dir)
    result = compare_to_oracle(name, df, registry.ORACLE[name], planted_dir)
    assert result.ok, result


def test_topk_semantics_on_planted(spark, planted_dir):
    """On the planted corpus the only banded candidates are the
    same-scene mates: 0's nearest neighbor is 23 (and vice versa),
    at Hamming <= 8, rank 1; scene-unique docs return no rows."""
    rows = registry.QUERIES["image_hamming_topk"](
        spark, planted_dir
    ).collect()
    by_query = {}
    for r in rows:
        by_query.setdefault(r.query_id, []).append(r)
    assert by_query[0][0].neighbor_id == 23
    assert by_query[23][0].neighbor_id == 0
    assert by_query[0][0].rnk == 1
    assert by_query[0][0].ham_d <= 8
    for q, rs in by_query.items():
        ranks = [r.rnk for r in rs]
        assert ranks == list(range(1, len(ranks) + 1)), (q, ranks)
    # docs 3..22 are scene-unique on 26 docs mod 23 — no candidates
    assert 5 not in by_query


@pytest.mark.parametrize("modality", ["image", "audio", "video"])
def test_topk_band_self_join_plans_without_exchange(
    spark, planted_dir, tmp_path, monkeypatch, modality
):
    """The serving read path's candidate generation self-joins the
    PUBLISHED bucketed band table: with broadcast disabled, the join
    must plan bucket-aligned with ZERO Exchange (both sides read the
    bucket layout) — for EVERY modality's spec, since
    audio_hamming_topk / video_hamming_topk instantiate the same
    _hamming_topk engine path as the image tier."""
    import re

    from programmers_data_spark.queries import round12_ops

    spec = {
        "image": round12_ops.IMAGE_SPEC,
        "audio": media_lifecycle_ops.AUDIO_SPEC,
        "video": media_lifecycle_ops.VIDEO_SPEC,
    }[modality]
    _isolate(monkeypatch, tmp_path, spec)
    b = media_index.band_store(spark, planted_dir, spec)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = b.alias("a").join(b.alias("b"), ["band", "bval"])
        joined.write.format("noop").mode("overwrite").save()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
        assert n_ex == 0, f"expected 0 exchanges (co-bucketed), got {n_ex}:\n{plan}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_band_case_fragment_matches_pair_cte():
    """The directed band rule the read path's oracle uses must be the
    SAME text as the shared pair fragment's — one banding rule
    engine-wide (the shared-fragment discipline)."""
    from programmers_data_spark.queries.round12_ops import _pair_cte

    assert media_lifecycle_ops._BAND_CASE_SQL in _pair_cte()


def test_incremental_clusters_planted_parity(spark, planted_dir):
    """Merge-into-stars ≡ re-cluster-everything, hash-checked on the
    planted corpus (the oracle IS the full rebuild)."""
    name = "image_neardup_clusters_incremental"
    df = registry.QUERIES[name](spark, planted_dir)
    result = compare_to_oracle(name, df, registry.ORACLE[name], planted_dir)
    assert result.ok, result


def test_incremental_clusters_equal_full(spark, planted_dir):
    """The same identity stated without the oracle: the star-merge
    result equals image_neardup_clusters row for row. Arrivals are
    doc_id % 3 == 1 (1, 4, ..., 25), so the planted pairs exercise
    both graph sides: (0,23) is existing-existing (resolved by the
    published star alone), while (1,24) and (2,25) each connect an
    arrival through the delta."""
    inc = registry.QUERIES["image_neardup_clusters_incremental"](
        spark, planted_dir
    )
    full = registry.QUERIES["image_neardup_clusters"](spark, planted_dir)
    assert inc.subtract(full).count() == 0
    assert full.subtract(inc).count() == 0
    rows = {r.media_id: r.cluster_id for r in inc.collect()}
    assert rows[23] == 0 and rows[24] == 1 and rows[25] == 2


def test_image_spec_preserves_round12_identities(planted_dir):
    """The engine refactor must not re-key the image tier's published
    artifacts or scratch envs (round-12 stores carry over)."""
    spec = round12_ops.IMAGE_SPEC
    assert spec.store_env == "SPARK_GRAFT_IMG_STORE"
    assert spec.ing_env == "SPARK_GRAFT_IMG_INGEST_STORE"
    assert spec.ing_prefix == "imgingest_"
    assert spec.cat == "img"
    d = media_index.store_table_dir(spec, planted_dir)
    assert d.endswith("image_hashes")
    # the content-address embeds the LIVE constants via algo_fp
    assert f"{round12_ops.SCENE_MIN}" in spec.algo_fp
    assert f"{round12_ops.IMG_W}x{round12_ops.IMG_H}" in spec.algo_fp


def test_pair_store_publishes_once_then_reads(
    spark, planted_dir, tmp_path, monkeypatch
):
    """The pair store (the index's fourth published artifact) pays
    its build exactly once per corpus version: the first call
    publishes a generation, later calls — even across cleared memos —
    read it back without writing a new one, and the published content
    equals the inline _pairs_from derivation exactly."""
    import glob as _glob

    from programmers_data_spark.queries import round12_ops

    spec = round12_ops.IMAGE_SPEC
    _isolate(monkeypatch, tmp_path, spec)

    first = media_index.pair_store(spark, planted_dir, spec)
    rows1 = [(r.media_a, r.media_b, r.ham_d)
             for r in first.orderBy("media_a", "media_b").collect()]
    assert rows1, "planted corpus must have near-dup pairs"
    pair_dirs = _glob.glob(str(tmp_path / "*" / "image_pairs" / "gen-*"))
    assert len(pair_dirs) == 1, pair_dirs

    clear_memo_caches()
    again = media_index.pair_store(spark, planted_dir, spec)
    rows2 = [(r.media_a, r.media_b, r.ham_d)
             for r in again.orderBy("media_a", "media_b").collect()]
    assert rows2 == rows1
    pair_dirs2 = _glob.glob(str(tmp_path / "*" / "image_pairs" / "gen-*"))
    assert pair_dirs2 == pair_dirs, "re-read must not publish again"

    inline = round12_ops._pairs_from(
        media_index.hash_store(spark, planted_dir, spec)
    )
    rows_inline = sorted(
        (r.media_a, r.media_b, r.ham_d) for r in inline.collect()
    )
    assert rows_inline == rows1
