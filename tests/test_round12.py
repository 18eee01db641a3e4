"""Round-12 tests: the image near-duplicate tier (perceptual hashes
over the pure-stdlib PNG codec, banded LSH pairs, cluster
resolution, resize invariance)."""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from programmers_data_spark import media_index, registry  # noqa: E402
from programmers_data_spark.memo import clear_memo_caches  # noqa: E402
from programmers_data_spark.queries.round12_ops import (  # noqa: E402
    HAM_T,
    IMG_H,
    IMG_W,
    SCENE_MIN,
    _perceptual_hashes,
    _pixel_buffer,
    _pool,
)
from programmers_data_spark.testing import compare_to_oracle  # noqa: E402

registry.load_all()


# ------------------------------------------------ serial references


def test_perceptual_hashes_hand_worked():
    """cells = 0..63 row-major: mean = 31, so aHash sets exactly bits
    32..63; each row is increasing, so dHash (right neighbor, wrap)
    sets only the last column (c=7 compares against c=0)."""
    alo, ahi, dlo, dhi = _perceptual_hashes(list(range(64)))
    assert alo == 0
    assert ahi == 0xFFFFFFFF
    assert dlo == dhi == 0x80808080


def test_pool_exactness():
    """2x2 pooling of a known 16x16 buffer is the integer mean."""
    buf = bytes(range(256))
    cells = _pool(buf, 16, 2)
    # cell (0,0) pools pixels 0, 1, 16, 17 -> 34 // 4 = 8
    assert cells[0][0] == 8
    # cell (7,7) pools 238, 239, 254, 255 -> 986 // 4 = 246
    assert cells[7][7] == 246


def test_perturbed_buffer_stays_near():
    """Two same-scene buffers differ in <= 2 pixels, so their dHash
    Hamming distance is <= HAM_T by construction — the serial form of
    the pair operator's keep rule (checked over many doc pairs)."""
    for scene_doc in range(0, 60, 7):
        a = _pixel_buffer(scene_doc, f"text-{scene_doc}", SCENE_MIN)
        b = _pixel_buffer(scene_doc + SCENE_MIN, "other text", SCENE_MIN)
        n_diff = sum(1 for x, y in zip(a, b) if x != y)
        assert n_diff <= 2
        _, _, dlo_a, dhi_a = _perceptual_hashes(_pool(a, 16, 2))
        _, _, dlo_b, dhi_b = _perceptual_hashes(_pool(b, 16, 2))
        ham = bin((dlo_a ^ dlo_b)).count("1") + bin((dhi_a ^ dhi_b)).count("1")
        assert ham <= HAM_T, (scene_doc, ham)


def test_hash_halves_fit_32_bits():
    for doc in range(20):
        buf = _pixel_buffer(doc, f"doc {doc}", SCENE_MIN)
        for v in _perceptual_hashes(_pool(buf, 16, 2)):
            assert 0 <= v < (1 << 32)


def test_codec_roundtrip_preserves_hash_input():
    """The kernel hashes DECODED pixels; roundtrip identity is what
    licenses the pre-encode oracle — assert it directly."""
    from programmers_data_spark.multimodal.png import decode, encode

    buf = _pixel_buffer(5, "roundtrip", SCENE_MIN)
    w, h, ch, px = decode(encode(IMG_W, IMG_H, bytes(buf), channels=1))
    assert (w, h, ch) == (IMG_W, IMG_H, 1)
    assert bytes(px) == bytes(buf)


# ------------------------------------------------ planted fixture


@pytest.fixture(scope="module")
def planted_dir(tmp_path_factory):
    """26 documents with doc_id 0..25: scene count is SCENE_MIN (23),
    so exactly (0,23), (1,24), (2,25) are planted same-scene
    near-duplicate image pairs; everything else is scene-unique."""
    d = tmp_path_factory.mktemp("planted_images")
    # 30 words per doc: long enough that the dedup augmentation's
    # 8-word prefix drop leaves a mutated copy at Jaccard >= 0.5 with
    # its original (so the cross-modal 'both' class is populated)
    texts = [
        " ".join(f"w{i}t{j}" for j in range(30)) for i in range(26)
    ]
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


def test_planted_neardup_images_found(spark, planted_dir):
    pairs = {
        (r.media_a, r.media_b): r.ham_d
        for r in registry.QUERIES["image_neardup_pairs"](
            spark, planted_dir
        ).collect()
    }
    assert set(pairs) == {(0, 23), (1, 24), (2, 25)}
    assert all(h <= HAM_T for h in pairs.values())


def test_planted_clusters_merge_scenes(spark, planted_dir):
    rows = registry.QUERIES["image_neardup_clusters"](
        spark, planted_dir
    ).collect()
    cluster = {r.media_id: r.cluster_id for r in rows}
    assert len(cluster) == 26
    assert cluster[23] == cluster[0] == 0
    assert cluster[24] == cluster[1] == 1
    assert cluster[25] == cluster[2] == 2
    # non-planted docs stay singletons under their own id
    assert all(cluster[i] == i for i in range(3, 23))


@pytest.mark.parametrize(
    "name",
    [
        "image_dhash",
        "image_neardup_pairs",
        "image_neardup_clusters",
        "image_lsh_recall",
        "image_resize_hash_invariance",
        "crossmodal_dup_consistency",
        "image_neardup_incremental",
        "audio_fingerprint",
        "audio_neardup_pairs",
    ],
)
def test_planted_fixture_oracle_parity(spark, planted_dir, name):
    """Full value-level parity on the PLANTED corpus (the driver's
    comparison, on a fixture whose answer is known by construction)."""
    df = registry.QUERIES[name](spark, planted_dir)
    result = compare_to_oracle(name, df, registry.ORACLE[name], planted_dir)
    assert result.ok, str(result)


def test_planted_recall_is_total(spark, planted_dir):
    """On the planted corpus every true pair survives banding (a
    1-pixel perturbation can spread at most 4 dHash bits over the 4
    bands, so at least one band always matches exactly)."""
    rows = registry.QUERIES["image_lsh_recall"](spark, planted_dir).collect()
    assert rows, "no scene had a true pair"
    assert all(r.recall_pct == 100 and r.n_found == r.n_true for r in rows)


def test_resize_invariance_is_exact(spark, planted_dir):
    """The invariance query's output equals image_dhash's hash columns
    row for row — the theorem, asserted engine-side (the oracle match
    asserts it cross-engine)."""
    base = (
        registry.QUERIES["image_dhash"](spark, planted_dir)
        .select("media_id", "ahash_lo", "ahash_hi", "dhash_lo", "dhash_hi")
    )
    resized = registry.QUERIES["image_resize_hash_invariance"](
        spark, planted_dir
    )
    assert base.subtract(resized).count() == 0
    assert resized.subtract(base).count() == 0


def test_crossmodal_classes_are_consistent(spark, planted_dir):
    """Class semantics on the planted corpus: a 'both' pair must
    appear in dedup_minhash's verified text pairs AND share a scene
    under the canonical (mod-1e6) keying; 'image_only' pairs must not
    be text pairs."""
    from programmers_data_spark.queries.dedup_ops import dedup_minhash

    rows = registry.QUERIES["crossmodal_dup_consistency"](
        spark, planted_dir
    ).collect()
    tpairs = {
        (r.doc_a, r.doc_b)
        for r in dedup_minhash(spark, planted_dir).collect()
    }
    assert rows
    for r in rows:
        if r.dup_class in ("both", "text_only"):
            assert (r.doc_a, r.doc_b) in tpairs, r
        else:
            assert (r.doc_a, r.doc_b) not in tpairs, r
    # the planted corpus has augmented copies (doc_id 0 and 20 are
    # multiples of 20 -> copies at 1000000/1000020), whose pairs are
    # near-dup in BOTH modalities
    assert any(r.dup_class == "both" for r in rows)
    assert any(r.dup_class == "image_only" for r in rows)


def test_incremental_union_existing_equals_full(spark, planted_dir):
    """Incremental ≡ full, asserted directly engine-side: the arrival
    delta plus the existing-only pairs is exactly the full pair set
    (the oracle asserts the same identity cross-engine)."""
    from programmers_data_spark.queries.round12_ops import (
        IMG_ARRIVAL_RESIDUE,
    )

    full = registry.QUERIES["image_neardup_pairs"](spark, planted_dir)
    delta = registry.QUERIES["image_neardup_incremental"](
        spark, planted_dir
    )
    import pyspark.sql.functions as F

    existing_only = full.filter(
        (F.col("media_a") % 3 != IMG_ARRIVAL_RESIDUE)
        & (F.col("media_b") % 3 != IMG_ARRIVAL_RESIDUE)
    )
    rebuilt = existing_only.unionByName(delta)
    assert rebuilt.subtract(full).count() == 0
    assert full.subtract(rebuilt).count() == 0
    assert delta.count() > 0  # the planted corpus has arrival pairs


def test_wav_roundtrip_preserves_pcm():
    """read_pcm(encode(pcm)) == pcm — the identity that licenses the
    audio tier's pre-encode oracle."""
    from programmers_data_spark.multimodal.wav import encode, read_pcm
    from programmers_data_spark.queries.round12_ops import _pcm_buffer

    buf = bytes(_pcm_buffer(7, "audio roundtrip", SCENE_MIN))
    assert read_pcm(encode(8000, 1, 8, buf)) == buf


def test_audio_perturbation_stays_near():
    """One perturbed sample changes one frame energy, flipping <= 2
    fingerprint bits — the serial form of the audio pair keep rule."""
    from programmers_data_spark.queries.round12_ops import (
        _audio_fingerprint,
        _pcm_buffer,
    )

    for doc in range(0, 60, 7):
        a = _pcm_buffer(doc, f"clip {doc}", SCENE_MIN)
        b = _pcm_buffer(doc + SCENE_MIN, "other clip", SCENE_MIN)
        lo_a, hi_a = _audio_fingerprint(a)
        lo_b, hi_b = _audio_fingerprint(b)
        ham = bin(lo_a ^ lo_b).count("1") + bin(hi_a ^ hi_b).count("1")
        assert ham <= HAM_T, (doc, ham)


def test_planted_audio_neardups_found(spark, planted_dir):
    pairs = {
        (r.media_a, r.media_b)
        for r in registry.QUERIES["audio_neardup_pairs"](
            spark, planted_dir
        ).collect()
    }
    assert pairs == {(0, 23), (1, 24), (2, 25)}


def test_stream_ingest_equals_batch_pairs(spark, planted_dir):
    """The streaming replay's accumulated pair store equals the batch
    pair query exactly on the planted corpus (each pair found once, in
    the micro-batch of its later member)."""
    batch = registry.QUERIES["image_neardup_pairs"](spark, planted_dir)
    streamed = registry.QUERIES["stream_image_neardup_ingest"](
        spark, planted_dir
    )
    assert streamed.subtract(batch).count() == 0
    assert batch.subtract(streamed).count() == 0
    assert streamed.count() == 3  # the planted (0,23), (1,24), (2,25)


def test_stream_ingest_cleans_scratch(spark, planted_dir):
    """The replay scratch tree is removed once the snapshot
    localCheckpoints (the stream_upsert_publish discipline)."""
    import glob

    from programmers_data_spark.queries import round12_ops

    clear_memo_caches()
    registry.QUERIES["stream_image_neardup_ingest"](
        spark, planted_dir
    ).count()
    from programmers_data_spark.storeutil import store_base

    base = store_base(
        "SPARK_GRAFT_IMG_INGEST_STORE", "spark_graft_imgingest"
    )
    assert glob.glob(os.path.join(base, "imgingest_*")) == []


def test_pair_plan_is_equi_join(spark, planted_dir):
    """The banded candidate join must plan as a hash/merge equi join —
    never a cartesian/BNLJ (the not-all-pairs discipline)."""
    plan = (
        registry.QUERIES["image_neardup_pairs"](spark, planted_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ------------------------------------------------ hypothesis theorems

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=200, deadline=None)
@given(
    buf=st.binary(min_size=256, max_size=256),
    pos1=st.integers(0, 255),
    val1=st.integers(0, 255),
    pos2=st.integers(0, 255),
    val2=st.integers(0, 255),
)
def test_dhash_locality_theorem(buf, pos1, val1, pos2, val2):
    """THEOREM: a <=2-pixel perturbation of ANY 16x16 buffer moves the
    dHash by <= 8 bits (each changed pixel changes one pooled cell,
    each changed cell feeds exactly 2 circular comparisons) — the
    HAM_T=8 keep rule is sound for every buffer, not just the
    fixtures' md5 chains. aHash has no such bound (the mean shifts
    globally), which is why banding/verify run on dHash."""
    a = bytearray(buf)
    b = bytearray(buf)
    b[pos1] = val1
    b[pos2] = val2
    _, _, dlo_a, dhi_a = _perceptual_hashes(_pool(bytes(a), 16, 2))
    _, _, dlo_b, dhi_b = _perceptual_hashes(_pool(bytes(b), 16, 2))
    ham = bin(dlo_a ^ dlo_b).count("1") + bin(dhi_a ^ dhi_b).count("1")
    assert ham <= HAM_T, ham


@settings(max_examples=200, deadline=None)
@given(
    buf=st.binary(min_size=512, max_size=512),
    pos=st.integers(0, 511),
    val=st.integers(0, 255),
)
def test_audio_fingerprint_locality_theorem(buf, pos, val):
    """THEOREM: a 1-sample perturbation of ANY 512-sample clip moves
    the energy-delta fingerprint by <= 2 bits (one frame energy
    changes; it feeds exactly 2 circular comparisons)."""
    from programmers_data_spark.queries.round12_ops import (
        _audio_fingerprint,
    )

    a = bytearray(buf)
    b = bytearray(buf)
    b[pos] = val
    lo_a, hi_a = _audio_fingerprint(bytes(a))
    lo_b, hi_b = _audio_fingerprint(bytes(b))
    ham = bin(lo_a ^ lo_b).count("1") + bin(hi_a ^ hi_b).count("1")
    assert ham <= 2, ham


@settings(max_examples=100, deadline=None)
@given(buf=st.binary(min_size=256, max_size=256))
def test_resize_invariance_theorem_any_buffer(buf):
    """THEOREM: the 2x nearest-neighbor upscale + 4x4 pooling equals
    the direct 2x2 pooling for EVERY buffer (each source pixel
    duplicates 2x2, so each 4x4 sum is 4x the 2x2 sum and
    (4*s) // 16 == s // 4) — the corpus-wide oracle identity holds
    off-fixture too."""
    from programmers_data_spark.multimodal.png import (
        decode,
        encode,
        resize_nearest,
    )

    base = _pool(buf, 16, 2)
    big = resize_nearest(encode(16, 16, buf, channels=1), 32, 32)
    w, h, ch, px = decode(big)
    assert (w, h, ch) == (32, 32, 1)
    resized = _pool(bytes(px), 32, 4)
    assert (base == resized).all()


# ------------------------------------------------ published index seam


def test_image_hash_store_roundtrip(
    spark, planted_dir, tmp_path, monkeypatch, corpus_kernel
):
    """The published image-hash index (the verified_pair_store seam
    for the media tier): first use computes + publishes through the
    K8 validated-swap layer, subsequent reads return bit-identical
    rows from the artifact."""
    from programmers_data_spark.queries import round12_ops

    monkeypatch.setenv(round12_ops.IMG_STORE_ENV, str(tmp_path))
    clear_memo_caches()
    spec = round12_ops.IMAGE_SPEC
    first = media_index.hash_store(spark, planted_dir, spec)
    direct = corpus_kernel(planted_dir, spec)
    assert first.subtract(direct).count() == 0
    assert direct.subtract(first).count() == 0
    # a fresh handle (memo cleared) must READ, not recompute: the
    # artifact directory already holds a published generation
    import glob

    gens = glob.glob(str(tmp_path) + "/*/image_hashes/*")
    assert gens, "nothing was published"
    clear_memo_caches()
    again = media_index.hash_store(spark, planted_dir, spec)
    assert again.subtract(direct).count() == 0
    assert gens == glob.glob(str(tmp_path) + "/*/image_hashes/*")


# ------------------------------------------------ round-13 hygiene


def test_doc_stats_memoized_and_exact(spark, planted_dir):
    """One 3-value aggregate serves every media helper's scene sizing
    (r12 VERDICT #3): the memo returns exact (n, n_mod20, max_id) and
    the second call never re-runs the job (cache hit by identity)."""
    from programmers_data_spark.queries import round12_ops

    clear_memo_caches()
    stats = round12_ops._doc_stats(spark, planted_dir)
    assert stats == (26, 2, 25)  # doc_id 0..25 -> {0, 20} are %20==0
    assert round12_ops._doc_stats(spark, planted_dir) is stats


@pytest.mark.parametrize("modality", ["image", "audio", "video"])
def test_xmodal_rejects_doc_ids_at_augmentation_offset(
    spark, tmp_path, monkeypatch, modality
):
    """The +1e6 augmentation offset aliases an original with a copy
    under % 1e6 scene keying — both engines would agree (hashes stay
    green) while cross-modal semantics silently degrade, so the
    builder must fail loudly instead, also under ``python -O``."""
    from programmers_data_spark.queries import round12_ops, round13_ops

    spec, extra = {
        "image": (round12_ops.IMAGE_SPEC, 0),
        "audio": (round12_ops.AUDIO_SPEC, round13_ops.XMODAL_AUDIO_SCENE_EXTRA),
        "video": (round13_ops.VIDEO_SPEC, round13_ops.XMODAL_VIDEO_SCENE_EXTRA),
    }[modality]
    d = tmp_path / "bigids"
    d.mkdir()
    docs = pd.DataFrame(
        {
            "doc_id": [5, 1_000_001],
            "text": ["a b c", "d e f"],
            "lang": ["en"] * 2,
            "source": ["s"] * 2,
            "n_chars": [5, 5],
        }
    )
    docs.to_parquet(d / "documents.parquet", index=False)
    clear_memo_caches()
    with pytest.raises(ValueError, match="alias"):
        round12_ops._xmodal_table(spark, str(d), spec, extra)


def test_lsh_recall_truth_memoized(spark, planted_dir):
    """image_lsh_recall's persisted truth set must be memoized per
    (app, sf_dir) — repeated invocations (bench runs) must not stack
    fresh cached RDDs (r12 ADVICE #1)."""
    from programmers_data_spark import memo
    from programmers_data_spark.queries import round12_ops

    clear_memo_caches()
    round12_ops.image_lsh_recall(spark, planted_dir).collect()
    entries = [
        v
        for k, v in memo._MEMO.items()
        if k[0] is media_index._scene_truth.__wrapped__
    ]
    assert len(entries) == 1 and entries[0].is_cached
    n = len(memo._MEMO)
    round12_ops.image_lsh_recall(spark, planted_dir).collect()
    assert len(memo._MEMO) == n
    spec = round12_ops.IMAGE_SPEC
    truth = media_index._scene_truth(
        spark, planted_dir, spec, media_index.store_table_dir(spec, planted_dir)
    )
    assert truth is entries[0]


# ------------------------------------------------ bucketed band store


def test_incremental_probe_index_side_plans_without_exchange(
    spark, planted_dir, tmp_path, monkeypatch
):
    """The published band table is bucketed by the probe join key:
    with broadcast disabled (forcing the shuffle-or-bucket SMJ), the
    arrival-bands x index-bands join must carry exactly ONE Exchange
    (the arrival side) — the index side reads the bucket layout
    directly (r12 VERDICT ask #2)."""
    import re

    import pyspark.sql.functions as F

    from programmers_data_spark.queries import round12_ops

    monkeypatch.setenv(round12_ops.IMG_STORE_ENV, str(tmp_path))
    clear_memo_caches()
    spec = round12_ops.IMAGE_SPEC
    allb = media_index.band_store(spark, planted_dir, spec)
    arrivals = media_index.hash_store(spark, planted_dir, spec).filter(
        F.col("media_id") % 3 == round12_ops.IMG_ARRIVAL_RESIDUE
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
        assert n_ex == 1, f"expected 1 exchange (arrival side), got {n_ex}:\n{plan}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_band_store_reregisters_over_existing_files(
    spark, planted_dir, tmp_path, monkeypatch, corpus_kernel
):
    """A fresh session (in-memory catalog forgot the table) finds the
    published bucketed files and re-registers the external table via
    DDL — no rewrite: the on-disk file set is unchanged and the
    content round-trips."""
    import glob
    import hashlib
    import os

    from programmers_data_spark.queries import round12_ops

    monkeypatch.setenv(round12_ops.IMG_STORE_ENV, str(tmp_path))
    clear_memo_caches()
    spec = round12_ops.IMAGE_SPEC
    first = media_index.band_store(spark, planted_dir, spec)
    expected = round12_ops._band_frame(corpus_kernel(planted_dir, spec))
    assert first.subtract(expected).count() == 0
    assert expected.subtract(first).count() == 0
    path = media_index.store_table_dir(
        round12_ops.IMAGE_SPEC, planted_dir, "bands"
    )
    files = sorted(glob.glob(path + "/*.parquet"))
    assert files, "band store not published"
    # simulate the fresh session: drop the catalog entry, keep files
    name = "img_bands_" + hashlib.md5(path.encode()).hexdigest()[:12]
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    clear_memo_caches()
    again = media_index.band_store(spark, planted_dir, spec)
    assert sorted(glob.glob(path + "/*.parquet")) == files  # no rewrite
    assert again.subtract(expected).count() == 0
    assert expected.subtract(again).count() == 0
    spark.sql(f"DROP TABLE IF EXISTS {name}")
