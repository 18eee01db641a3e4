"""Round-13 tier: audio cluster resolution, quadmodal adjudication,
and the multimodal curation funnel (media dedup in curate_corpus)."""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from programmers_data_spark import registry  # noqa: E402
from programmers_data_spark.testing import compare_to_oracle  # noqa: E402

registry.load_all()

from programmers_data_spark.queries import round12_ops, round13_ops  # noqa: E402


@pytest.fixture(scope="module")
def planted_dir(tmp_path_factory):
    """The round-12 planted corpus shape: 26 documents, scene count
    SCENE_MIN (23) on the image side and 24 on the cross-modal audio
    side — (0,23), (1,24), (2,25) are same-image-scene pairs;
    (0,24), (1,25) are same-audio-scene pairs (mod 24)."""
    d = tmp_path_factory.mktemp("planted_round13")
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


# ------------------------------------------------ audio clusters


def test_audio_clusters_merge_scenes(spark, planted_dir):
    """Same-scene planted clips resolve into one cluster labeled by
    the minimum member; scene-unique clips stay singletons."""
    rows = {
        r.media_id: r.cluster_id
        for r in round13_ops.audio_neardup_clusters(
            spark, planted_dir
        ).collect()
    }
    assert rows[0] == 0 and rows[23] == 0  # scene 0 (mod 23)
    assert rows[1] == 1 and rows[24] == 1
    assert rows[2] == 2 and rows[25] == 2
    for mid in range(3, 23):
        assert rows[mid] == mid  # singleton scenes


@pytest.mark.parametrize(
    "name",
    [
        "audio_neardup_clusters",
        "crossmodal_quadmodal_consistency",
        "multimodal_funnel_contract",
    ],
)
def test_planted_fixture_oracle_parity(spark, planted_dir, name):
    """Full value parity on the planted corpus (not just the driver
    comparison, on a fixture whose answer is known by construction)."""
    df = registry.QUERIES[name](spark, planted_dir)
    result = compare_to_oracle(name, df, registry.ORACLE[name], planted_dir)
    assert result.ok, str(result)


# --------------------------------------------- quadmodal adjudication


def test_quadmodal_class_expression_joins_flags(spark):
    """The shared class expression maps every flag combination to the
    '_'-joined agreeing-modality list — identical string on both
    engines, so one expression drives both."""
    rows = [
        (t, i, a, v)
        for t in (True, False)
        for i in (True, False)
        for a in (True, False)
        for v in (True, False)
        if t or i or a or v
    ]
    df = spark.createDataFrame(
        rows,
        "in_text boolean, in_image boolean, in_audio boolean,"
        " in_video boolean",
    ).select(
        "in_text", "in_image", "in_audio", "in_video",
        F.expr(round13_ops._QUAD_CLASS_SQL).alias("c"),
    )
    for r in df.collect():
        want = "_".join(
            n
            for n, flag in (
                ("text", r.in_text),
                ("image", r.in_image),
                ("audio", r.in_audio),
                ("video", r.in_video),
            )
            if flag
        )
        assert r.c == want, (r, want)


def test_quadmodal_consistent_with_bimodal(spark, planted_dir):
    """The quadmodal adjudication must agree with the r12-certified
    bimodal query on the text and image flags: a pair's quadmodal
    class contains 'text'/'image' exactly when the bimodal class does
    (the audio/video flags only refine, never rewrite, the shared
    sub-adjudication)."""
    quad = {
        (r.doc_a, r.doc_b): r.dup_class
        for r in round13_ops.crossmodal_quadmodal_consistency(
            spark, planted_dir
        ).collect()
    }
    bi = {
        (r.doc_a, r.doc_b): r.dup_class
        for r in round12_ops.crossmodal_dup_consistency(
            spark, planted_dir
        ).collect()
    }

    def flags(cls):
        if cls.endswith("_only"):
            return {cls[: -len("_only")]}
        return set(cls.split("_"))

    for pair, bcls in bi.items():
        qcls = quad.get(pair, "")
        bflags = flags(bcls) if bcls != "both" else {"text", "image"}
        assert flags(qcls) & {"text", "image"} == bflags, (
            pair, bcls, qcls,
        )
    # and no quadmodal pair carrying a text/image flag is missing
    # from the bimodal view
    for pair, qcls in quad.items():
        if flags(qcls) & {"text", "image"}:
            assert pair in bi, (pair, qcls)


def test_quadmodal_partitions_differ_per_modality(spark, planted_dir):
    """The three media residue systems (scenes / scenes+1 / scenes+2)
    yield genuinely different partitions: the planted corpus has a
    pure image pair, a pure audio pair, and a pure video pair, and
    augmented copies agree in ALL FOUR modalities."""
    cls = {
        (r.doc_a, r.doc_b): r.dup_class
        for r in round13_ops.crossmodal_quadmodal_consistency(
            spark, planted_dir
        ).collect()
    }
    assert cls.get((0, 23)) == "image"   # same scene mod 23
    assert cls.get((0, 24)) == "audio"   # same clip mod 24
    assert cls.get((0, 25)) == "video"   # same scene mod 25
    # copies pair in all four modalities (canonical keying + the
    # Jaccard-passing mutated text)
    assert cls.get((0, 1_000_000)) == "text_image_audio_video"
    assert cls.get((20, 1_000_020)) == "text_image_audio_video"


# ------------------------------------------------ multimodal funnel

# The planted corpus's synthetic "wItJ" tokens all fail the Gopher
# gate (no stopwords), leaving the funnel vacuously empty — these
# tests need the REAL fixture corpus.
_SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_multimodal_funnel_leaves_no_media_neardup_pair(spark, corpus_kernel):
    """After the media-dedup stage, no surviving pair is a near-dup
    in ANY modality (text, image, audio, or video) — the defining
    property of the widened graph under every keeper strategy."""
    from programmers_data_spark.pipelines import curation_stage_frames

    frames = curation_stage_frames(
        spark, _SF, near_dup="best_quality", media=True
    )
    alive_df = frames["near_deduped"].select("doc_id")
    alive = {r.doc_id for r in alive_df.collect()}
    assert alive, "funnel emptied the real corpus — fixture changed?"
    for pairs in (
        round12_ops._pairs_from(corpus_kernel(_SF, spec))
        for spec in (
            round12_ops.IMAGE_SPEC, round12_ops.AUDIO_SPEC, round13_ops.VIDEO_SPEC
        )
    ):
        surviving = [
            (r.media_a, r.media_b)
            for r in pairs.collect()
            if r.media_a in alive and r.media_b in alive
        ]
        assert not surviving, surviving[:5]


def test_multimodal_funnel_is_stricter(spark):
    """The media stage can only remove more: pre-near-dup stages are
    unchanged, near_deduped strictly shrinks (the real corpus has
    same-scene survivors the text graph never connects)."""
    from programmers_data_spark.queries.round11_ops import (
        pipeline_funnel_contract,
    )

    uni = {r.stage: r.n_docs
           for r in pipeline_funnel_contract(spark, _SF).collect()}
    multi = {r.stage: r.n_docs
             for r in round13_ops.multimodal_funnel_contract(
                 spark, _SF).collect()}
    for stage in ("raw", "quality_gated", "exact_deduped"):
        assert multi[stage] == uni[stage]
    assert multi["near_deduped"] < uni["near_deduped"]


def test_curate_corpus_media_stage_publishes(spark, tmp_path):
    """curate_corpus(media_dedup=True) runs end-to-end: publishes a
    generation whose row count equals the funnel's near_deduped count
    (every survivor carries its split)."""
    from programmers_data_spark.pipelines import curate_corpus
    from programmers_data_spark.publish import read_versioned

    table_dir = str(tmp_path / "curated_mm")
    funnel = curate_corpus(
        spark, _SF, table_dir,
        near_dup="best_quality", media_dedup=True,
    )
    assert 0 < funnel["near_deduped"] < funnel["exact_deduped"]
    published = read_versioned(spark, table_dir)
    assert published.count() == funnel["near_deduped"]
    assert set(published.columns) >= {"doc_id", "split"}


# ------------------------------------------------ second batch


@pytest.mark.parametrize(
    "name",
    ["audio_lsh_recall", "lang_confusion_matrix", "corpus_snapshot_diff"],
)
def test_second_batch_planted_parity(spark, planted_dir, name):
    df = registry.QUERIES[name](spark, planted_dir)
    result = compare_to_oracle(name, df, registry.ORACLE[name], planted_dir)
    assert result.ok, str(result)


def test_audio_recall_total_on_planted(spark, planted_dir):
    """A one-sample perturbation spreads <= 4 fingerprint bits over 4
    bands, so banding recall is 100 on every planted scene."""
    rows = round13_ops.audio_lsh_recall(spark, planted_dir).collect()
    assert rows, "no within-scene truth pairs on the planted corpus"
    assert all(r.recall_pct == 100 for r in rows)


def test_lang_confusion_diagonal_matches_heuristic(spark):
    """The matrix must reproduce lang_id_heuristic's agreement count
    on the diagonal, and each declared language's shares sum to less
    than or equal 1e6 ppm (integer division truncates)."""
    from programmers_data_spark.queries.text_ops import lang_id_heuristic

    sf = _SF
    agrees = (
        lang_id_heuristic(spark, sf)
        .agg(F.sum("agrees").cast("long").alias("n"))
        .collect()[0]
        .n
    )
    cm = round13_ops.lang_confusion_matrix(spark, sf).collect()
    diag = sum(
        r.n_docs for r in cm if r.declared_lang == r.predicted_lang
    )
    assert diag == agrees
    by_decl: dict[str, int] = {}
    for r in cm:
        by_decl[r.declared_lang] = by_decl.get(r.declared_lang, 0) + r.share_ppm
    assert all(1_000_000 - len(cm) <= s <= 1_000_000 for s in by_decl.values())


def test_snapshot_diff_classes_are_the_residues(spark):
    """Every class lands exactly on its defining residue: added ==
    doc_id % 17 == 3, deleted == synthetic prior ids, modified ==
    % 17 == 5, everything else unchanged."""
    rows = round13_ops.corpus_snapshot_diff(spark, _SF).collect()
    for r in rows:
        if r.change == "deleted":
            assert r.doc_id >= round13_ops.SNAP_DELETED_OFFSET
            assert (
                r.doc_id - round13_ops.SNAP_DELETED_OFFSET
            ) % 17 == round13_ops.SNAP_DELETED_RESIDUE
        elif r.change == "added":
            assert r.doc_id % 17 == round13_ops.SNAP_ADDED_RESIDUE
        elif r.change == "modified":
            assert r.doc_id % 17 == round13_ops.SNAP_MODIFIED_RESIDUE
        else:
            assert r.doc_id % 17 not in (
                round13_ops.SNAP_ADDED_RESIDUE,
                round13_ops.SNAP_MODIFIED_RESIDUE,
            ) or r.doc_id >= round13_ops.SNAP_DELETED_OFFSET
    classes = {r.change for r in rows}
    assert classes == {"added", "deleted", "modified", "unchanged"}


# ------------------------------------------------ video tier


@pytest.mark.parametrize(
    "name",
    ["video_framehash", "video_neardup_pairs", "video_neardup_clusters"],
)
def test_video_planted_parity(spark, planted_dir, name):
    df = registry.QUERIES[name](spark, planted_dir)
    result = compare_to_oracle(name, df, registry.ORACLE[name], planted_dir)
    assert result.ok, str(result)


def test_video_planted_pairs_and_clusters(spark, planted_dir):
    """Same-scene planted clips pair (XOR-fold distance <= 8 by the
    one-frame perturbation bound) and resolve into min-labeled
    clusters; scene-unique clips stay singletons."""
    pairs = {
        (r.media_a, r.media_b)
        for r in round13_ops.video_neardup_pairs(spark, planted_dir).collect()
    }
    assert {(0, 23), (1, 24), (2, 25)} <= pairs
    rows = {
        r.media_id: r.cluster_id
        for r in round13_ops.video_neardup_clusters(
            spark, planted_dir
        ).collect()
    }
    assert rows[23] == 0 and rows[24] == 1 and rows[25] == 2
    for mid in range(3, 23):
        assert rows[mid] == mid


def test_video_xor_fold_locality_bound():
    """THEOREM (serial): a clip differing from another only in the
    two documents' own one-pixel-one-frame perturbations is <= 8
    XOR-fold bits away (each perturbation touches <= 2 pooled cells
    -> <= 4 dHash bits of one frame -> <= 4 bits of the fold)."""
    import numpy as np

    from programmers_data_spark.queries.round12_ops import _pool
    from programmers_data_spark.queries.round13_ops import (
        VIDEO_FRAMES,
        _video_frame_buffer,
    )

    def fold(doc_id, text, scenes):
        acc = np.zeros(64, dtype=np.int64)
        for f in range(VIDEO_FRAMES):
            buf = _video_frame_buffer(doc_id, text, scenes, f)
            cells = np.asarray(_pool(bytes(buf), 16, 2), dtype=np.int64)
            cells = cells.reshape(8, 8)
            acc ^= (cells > np.roll(cells, -1, axis=1)).astype(
                np.int64
            ).ravel()
        return acc

    for u, v, scenes in [(0, 23, 23), (1, 24, 23), (5, 28, 23), (7, 30, 23)]:
        d = int((fold(u, f"t{u}", scenes) != fold(v, f"t{v}", scenes)).sum())
        assert d <= 8, (u, v, d)


# ------------------------------------------------ hypothesis theorems

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=150, deadline=None)
@given(
    frames=st.lists(
        st.binary(min_size=256, max_size=256),
        min_size=4, max_size=4,
    ),
    f=st.integers(0, 3),
    pos=st.integers(0, 255),
    val=st.integers(0, 255),
)
def test_video_fold_locality_theorem(frames, f, pos, val):
    """THEOREM: a 1-pixel perturbation of ONE frame of ANY 4-frame
    clip moves the XOR-fold fingerprint by <= 4 bits (the perturbed
    pixel changes one pooled cell of that frame; the cell feeds
    exactly 2 circular dHash comparisons; XOR propagates the frame's
    bit flips 1:1 into the fold) — so two clips differing only in
    their own one-pixel perturbations sit <= 8 = HAM_T apart, for
    EVERY clip, not just the fixtures' md5 chains."""
    import numpy as np

    from programmers_data_spark.queries.round12_ops import _pool

    def fold(bufs):
        acc = np.zeros(64, dtype=np.int64)
        for b in bufs:
            cells = np.asarray(_pool(bytes(b), 16, 2), dtype=np.int64)
            cells = cells.reshape(8, 8)
            acc ^= (cells > np.roll(cells, -1, axis=1)).astype(
                np.int64
            ).ravel()
        return acc

    perturbed = [bytearray(b) for b in frames]
    perturbed[f][pos] = val
    d = int((fold(frames) != fold(perturbed)).sum())
    assert d <= 4, d


@settings(max_examples=150, deadline=None)
@given(
    ids=st.lists(st.integers(0, 10_000), min_size=1, max_size=40,
                 unique=True),
    texts=st.lists(st.text(max_size=20), min_size=40, max_size=40),
)
def test_snapshot_diff_is_a_partition(ids, texts):
    """THEOREM (serial reference): the diff classes partition the id
    space — every current id is classified exactly once, every
    synthetic deleted id appears exactly once, and the class rule is
    a pure function of the residues (added=3, modified=5 by changed
    hash, deleted=offset ids, else unchanged)."""
    from programmers_data_spark.queries.round13_ops import (
        SNAP_ADDED_RESIDUE,
        SNAP_DELETED_OFFSET,
        SNAP_DELETED_RESIDUE,
        SNAP_MODIFIED_RESIDUE,
    )

    rows = {}
    for i, doc_id in enumerate(ids):
        if doc_id % 17 == SNAP_ADDED_RESIDUE:
            rows[doc_id] = "added"
        elif doc_id % 17 == SNAP_MODIFIED_RESIDUE:
            rows[doc_id] = "modified"
        else:
            rows[doc_id] = "unchanged"
        if doc_id % 17 == SNAP_DELETED_RESIDUE:
            rows[doc_id + SNAP_DELETED_OFFSET] = "deleted"
    # partition: each classified once; ids and synthetic ids disjoint
    assert len(rows) == len(ids) + sum(
        1 for d in ids if d % 17 == SNAP_DELETED_RESIDUE
    )
    # and the distributed operator agrees on a spot-check shape:
    # 'deleted' ids all carry the offset, others never do
    for doc_id, cls in rows.items():
        assert (cls == "deleted") == (doc_id >= SNAP_DELETED_OFFSET)


@pytest.mark.parametrize("name", ["video_lsh_recall"])
def test_video_recall_planted_parity(spark, planted_dir, name):
    df = registry.QUERIES[name](spark, planted_dir)
    result = compare_to_oracle(name, df, registry.ORACLE[name], planted_dir)
    assert result.ok, str(result)


def test_video_recall_total_on_planted(spark, planted_dir):
    rows = round13_ops.video_lsh_recall(spark, planted_dir).collect()
    assert rows, "no within-scene truth pairs on the planted corpus"
    assert all(r.recall_pct == 100 for r in rows)
