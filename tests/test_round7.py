"""Round-7 additions: the session memo made enforceable
(VERDICT r6 ask #6 + ADVICE r6 items 1-3)."""

from __future__ import annotations

import importlib
import pkgutil
from pathlib import Path
from types import SimpleNamespace

import pytest

import programmers_data_spark as pkg
from programmers_data_spark import memo, registry
from programmers_data_spark.memo import clear_memo_caches

registry.load_all()


def _all_package_modules():
    """Every importable module in the package source tree — from disk,
    not sys.modules, so a cache in a module nothing has imported yet
    still gets checked."""
    mods = [pkg]
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        try:
            mods.append(importlib.import_module(info.name))
        except ImportError:
            # honestly dep-gated modules (optional codec/client seams)
            continue
    return mods


def test_every_memo_cache_is_swept():
    """The one-store rule: every in-session memo lives in memo.py's
    single store, which bench.py's per-query _reset (via
    clear_memo_caches) empties. A hand memo escapes the sweep and
    gives its consumers a free ride in the bench, so none may exist:
    no module-level *_CACHE dict, and no memo key built from the
    applicationId outside memo.py."""
    hand_dicts = [
        f"{mod.__name__}.{attr}"
        for mod in _all_package_modules()
        for attr, obj in vars(mod).items()
        if attr.endswith("_CACHE") and isinstance(obj, dict)
    ]
    assert not hand_dicts, f"hand memo dicts: {hand_dicts}"
    root = Path(pkg.__file__).parent
    keyed = [
        str(p.relative_to(root))
        for p in sorted(root.rglob("*.py"))
        if p != root / "memo.py"
        and "sparkContext.applicationId" in p.read_text()
    ]
    assert not keyed, f"session keys built outside memo.py: {keyed}"

    @memo.memoized
    def planted(spark, sf_dir):
        return object()

    spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="x"))
    first = planted(spark, "sf")
    assert planted(spark, "sf") is first
    clear_memo_caches()
    assert planted(spark, "sf") is not first


def test_bench_reset_uses_the_shared_sweep():
    """bench.py must clear memos through memo.clear_memo_caches, not a
    private copy that could drift from the tested contract — and the
    scripts reuse bench's _reset/_force instead of carrying copies."""
    import inspect
    import bench

    src = inspect.getsource(bench._reset)
    assert "clear_memo_caches" in src
    scripts = Path(bench.__file__).parent / "scripts"
    copies = [
        p.name
        for p in sorted(scripts.glob("*.py"))
        if "def _reset(" in p.read_text() or "def _force(" in p.read_text()
    ]
    assert not copies, f"scripts defining their own _reset/_force: {copies}"


def test_token_budget_sample_memoizes_persist(spark, sf_oracle):
    """ADVICE r6 item 1: repeated calls must reuse ONE persisted
    tokenized projection instead of stacking a new persist per call."""
    from programmers_data_spark.queries import sampling_ops

    from programmers_data_spark import memo

    clear_memo_caches()
    sampling_ops.token_budget_sample(spark, sf_oracle)
    entries = [
        v
        for k, v in memo._MEMO.items()
        if k[0] is sampling_ops._token_docs.__wrapped__
    ]
    assert len(entries) == 1 and entries[0].is_cached
    n = len(memo._MEMO)
    sampling_ops.token_budget_sample(spark, sf_oracle)
    assert len(memo._MEMO) == n
    assert sampling_ops._token_docs(spark, sf_oracle) is entries[0]
    clear_memo_caches()
    assert not entries[0].is_cached


def test_bpe_contract_rejects_degenerate_merge_table(
    spark, sf_oracle, monkeypatch
):
    """ADVICE r6 item 2: a trainer that exhausts the pair space early
    must raise a descriptive error, not IndexError or a spurious
    hash-mismatch against the oracle's pinned n_merges."""
    from programmers_data_spark.queries import tokenizer_ops

    monkeypatch.setattr(
        tokenizer_ops, "_learn_from_corpus", lambda *a, **k: []
    )
    with pytest.raises(ValueError, match="degenerate"):
        tokenizer_ops.bpe_contract(spark, sf_oracle)


# ------------------------------------------------- builtin PNG codec


def _flat(rows):
    return bytes(b for row in rows for px in row for b in px)


def test_png_roundtrip_and_header():
    """encode → decode recovers exact pixels; read_header parses dims
    without touching pixel data."""
    from programmers_data_spark.multimodal import png

    rows = [
        [((x * 37 + y * 11) % 256, (x * 5) % 256, (y * 7) % 256) for x in range(9)]
        for y in range(4)
    ]
    raw = png.encode(9, 4, _flat(rows), channels=3)
    assert png.is_png(raw)
    assert png.read_header(raw)[:2] == (9, 4)
    w, h, ch, px = png.decode(raw)
    assert (w, h, ch) == (9, 4, 3)
    assert bytes(px) == _flat(rows)


def test_png_decodes_all_five_scanline_filters():
    """Hand-filter known scanlines with each of Sub/Up/Average/Paeth
    and assert the decoder unfilters back to the original pixels."""
    import struct
    import zlib

    from programmers_data_spark.multimodal import png

    w, h, ch = 5, 5, 3
    stride = w * ch
    pixels = bytes((y * stride + i) * 17 % 256 for y in range(h) for i in range(stride))

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    scan = bytearray()
    prev = bytes(stride)
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        line = pixels[y * stride : (y + 1) * stride]
        scan.append(ftype)
        for i in range(stride):
            left = line[i - ch] if i >= ch else 0
            upleft = prev[i - ch] if i >= ch else 0
            if ftype == 0:
                f = line[i]
            elif ftype == 1:
                f = (line[i] - left) & 0xFF
            elif ftype == 2:
                f = (line[i] - prev[i]) & 0xFF
            elif ftype == 3:
                f = (line[i] - ((left + prev[i]) >> 1)) & 0xFF
            else:
                f = (line[i] - paeth(left, prev[i], upleft)) & 0xFF
            scan.append(f)
        prev = line

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    raw = (
        png.PNG_SIGNATURE
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(scan)))
        + chunk(b"IEND", b"")
    )
    dw, dh, dch, px = png.decode(raw)
    assert (dw, dh, dch) == (w, h, ch)
    assert bytes(px) == pixels


def test_png_corruption_is_rejected():
    from programmers_data_spark.multimodal import png

    raw = bytearray(png.encode(3, 3, bytes(27), channels=3))
    with pytest.raises(ValueError, match="signature"):
        png.decode(b"GIF89a" + bytes(raw))
    raw[20] ^= 0xFF  # flip a byte inside IHDR -> CRC must catch it
    with pytest.raises(ValueError, match="CRC"):
        png.decode(bytes(raw))


def test_builtin_real_decode_through_mapinpandas(spark):
    """VERDICT r6 ask #7: decode_media(fake=False) now exercises a
    REAL codec in this sandbox (no Pillow) — actual PNG headers parsed
    through the actual Arrow mapInPandas path, no skipif."""
    from programmers_data_spark.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        png,
        resize_media,
    )

    rows = []
    for i, (w, h) in enumerate([(5, 7), (12, 3), (1, 1)]):
        payload = png.encode(w, h, bytes(w * h * 3), channels=3)
        rows.append((i, payload, "image/png", len(payload)))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    decoded = {r.media_id: r for r in decode_media(media, fake=False).collect()}
    assert (decoded[0].width, decoded[0].height) == (5, 7)
    assert (decoded[1].width, decoded[1].height) == (12, 3)
    assert (decoded[2].width, decoded[2].height) == (1, 1)

    resized = resize_media(media, width=4, height=4, fake=False).collect()
    for r in resized:
        rw, rh, _, _ = png.decode(bytes(r.payload))
        assert (rw, rh) == (4, 4)


def test_png_nearest_resize_samples_expected_pixels():
    from programmers_data_spark.multimodal import png

    # 2x2 image with 4 distinct colors; upscale 4x4 must replicate
    # each quadrant
    rows = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (9, 9, 9)]]
    raw = png.encode(2, 2, _flat(rows), channels=3)
    w, h, ch, px = png.decode(png.resize_nearest(raw, 4, 4))
    assert (w, h, ch) == (4, 4, 3)
    quad = lambda x, y: tuple(px[(y * 4 + x) * 3 : (y * 4 + x) * 3 + 3])
    assert quad(0, 0) == (255, 0, 0) and quad(3, 0) == (0, 255, 0)
    assert quad(0, 3) == (0, 0, 255) and quad(3, 3) == (9, 9, 9)


# --------------------------------------- round-7 query contracts


def test_hard_negatives_labels_always_differ(spark, sf_oracle):
    from programmers_data_spark.catalog import load_table
    from programmers_data_spark.queries.similarity_ops import HARDK

    rows = registry.QUERIES["hard_negatives"](spark, sf_oracle).collect()
    assert rows, "no hard negatives mined"
    labels = {
        r.vec_id: r.label
        for r in load_table(spark, sf_oracle, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    by_q: dict[int, int] = {}
    for r in rows:
        assert r.neg_label == labels[r.neighbor_id]
        assert labels[r.query_id] != r.neg_label, (
            f"query {r.query_id} mined a same-label 'negative'"
        )
        assert 1 <= r.rank <= HARDK
        by_q[r.query_id] = by_q.get(r.query_id, 0) + 1
    assert all(n <= HARDK for n in by_q.values())


def test_rrf_fusion_is_union_of_input_rankings(spark, sf_oracle):
    """Every fused result must come from at least one input top-k
    list, and a neighbor that tops BOTH lists must outrank one that
    appears in only one."""
    from programmers_data_spark.queries.similarity_ops import RRF_K, TOPK

    fused = registry.QUERIES["rrf_fusion"](spark, sf_oracle).collect()
    topk = registry.QUERIES["embedding_topk"](spark, sf_oracle).collect()
    cos_set = {(r.query_id, r.neighbor_id) for r in topk}
    assert fused
    # max possible single-list score < min possible double-list score
    single_max = 1.0 / (RRF_K + 1)
    double_min = 2.0 / (RRF_K + TOPK)
    assert double_min > single_max
    for r in fused:
        assert 0.0 < r.rrf <= 2.0 / (RRF_K + 1)
        if r.rrf > single_max:  # fused from both systems
            assert (r.query_id, r.neighbor_id) in cos_set


def test_source_temperature_weights_contract(spark, sf_oracle):
    """Weights sum to 1, and temperature smoothing strictly favors
    small sources: weight ratio < count ratio for any pair."""
    import math

    rows = registry.QUERIES["source_temperature_weights"](
        spark, sf_oracle
    ).collect()
    assert len(rows) >= 2
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-12
    big = max(rows, key=lambda r: r.n_docs)
    small = min(rows, key=lambda r: r.n_docs)
    if big.n_docs > small.n_docs:
        assert big.weight / small.weight < big.n_docs / small.n_docs
        assert math.isclose(
            big.weight / small.weight,
            math.sqrt(big.n_docs / small.n_docs),
            rel_tol=1e-9,
        )


def test_token_budget_allocation_sums_to_budget(spark, sf_oracle):
    """Largest-remainder allocation: quotas are integers, sum exactly
    to the budget, and each is within 1 of its real-valued share."""
    from programmers_data_spark.queries.sampling_ops import (
        ALLOCATION_BUDGET,
    )

    rows = registry.QUERIES["token_budget_allocation"](
        spark, sf_oracle
    ).collect()
    weights = {
        r.source: r.weight
        for r in registry.QUERIES["source_temperature_weights"](
            spark, sf_oracle
        ).collect()
    }
    assert sum(r.alloc for r in rows) == ALLOCATION_BUDGET
    for r in rows:
        exact = weights[r.source] * ALLOCATION_BUDGET
        assert exact - 1 < r.alloc < exact + 1


def test_split_neardup_leakage_composes_consistently(spark, sf_oracle):
    """Every emitted pair is an original-corpus near-dup pair, split
    labels agree with train_val_split, and `leaks` is their
    disagreement."""
    pairs = {
        (r.doc_a, r.doc_b)
        for r in registry.QUERIES["dedup_minhash"](spark, sf_oracle)
        .filter("doc_a < 1000000 AND doc_b < 1000000")
        .collect()
    }
    split = {
        r.doc_id: r.split
        for r in registry.QUERIES["train_val_split"](
            spark, sf_oracle
        ).collect()
    }
    rows = registry.QUERIES["split_neardup_leakage"](
        spark, sf_oracle
    ).collect()
    assert {(r.doc_a, r.doc_b) for r in rows} == pairs
    for r in rows:
        assert r.split_a == split[r.doc_a]
        assert r.split_b == split[r.doc_b]
        assert r.leaks == (r.split_a != r.split_b)


# ------------------------------------------------ builtin WAV probe


def test_wav_roundtrip_and_rejection():
    from programmers_data_spark.multimodal import wav

    pcm = bytes(range(256)) * 4  # 1024 bytes = 256 frames of 16-bit stereo
    raw = wav.encode(44100, 2, 16, pcm)
    assert wav.is_wav(raw)
    assert wav.read_header(raw) == (44100, 2, 16, 256)
    # odd-length data chunk must still parse (word-aligned pad byte)
    raw8 = wav.encode(8000, 1, 8, bytes(33))
    assert wav.read_header(raw8) == (8000, 1, 8, 33)
    with pytest.raises(ValueError, match="signature"):
        wav.read_header(b"OggS" + raw)
    with pytest.raises(ValueError, match="not a whole number"):
        wav.encode(8000, 2, 16, bytes(7))


def test_builtin_real_audio_probe_through_mapinpandas(spark):
    """probe_audio(fake=False) parses real RIFF headers through the
    Arrow path in this sandbox — no external deps, no skipif; non-WAV
    payloads raise."""
    from programmers_data_spark.multimodal import (
        MEDIA_SCHEMA,
        probe_audio,
        wav,
    )

    rows = [
        (0, wav.encode(16000, 1, 16, bytes(16000 * 2)), "audio/wav", 10),
        (1, wav.encode(8000, 2, 8, bytes(4000 * 2)), "audio/wav", 10),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in probe_audio(media, fake=False).collect()}
    assert (got[0].sample_rate, got[0].n_channels, got[0].bit_depth) == (
        16000, 1, 16,
    )
    assert got[0].n_frames == 16000 and got[0].duration_ms == 1000
    assert (got[1].sample_rate, got[1].n_channels) == (8000, 2)
    assert got[1].n_frames == 4000 and got[1].duration_ms == 500

    bad = spark.createDataFrame([(2, b"not audio", "text/plain", 9)], MEDIA_SCHEMA)
    with pytest.raises(Exception) as ei:
        probe_audio(bad, fake=False).collect()
    assert "NotImplementedError" in str(ei.value)


# -------------------------------------- codec property tests


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    ch=st.sampled_from([1, 2, 3, 4]),
    data=st.data(),
)
def test_png_roundtrip_property(w, h, ch, data):
    """encode∘decode == identity for any size / channel count /
    pixel content the encoder accepts."""
    from programmers_data_spark.multimodal import png

    px = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255),
                min_size=w * h * ch,
                max_size=w * h * ch,
            )
        )
    )
    dw, dh, dch, out = png.decode(png.encode(w, h, px, channels=ch))
    # palette expansion only applies to color type 3 (never written
    # by our encoder), so channels always survive the roundtrip
    assert (dw, dh, dch) == (w, h, ch)
    assert bytes(out) == px


@settings(max_examples=30, deadline=None)
@given(
    rate=st.integers(min_value=1, max_value=192000),
    chans=st.integers(min_value=1, max_value=8),
    depth=st.sampled_from([8, 16, 24, 32]),
    n_frames=st.integers(min_value=0, max_value=64),
)
def test_wav_roundtrip_property(rate, chans, depth, n_frames):
    from programmers_data_spark.multimodal import wav

    pcm = bytes((i * 13) % 256 for i in range(n_frames * chans * depth // 8))
    assert wav.read_header(wav.encode(rate, chans, depth, pcm)) == (
        rate, chans, depth, n_frames,
    )


def test_source_vocab_divergence_contract(spark, sf_oracle):
    """TV distance lives in [0, 1]; a single-source corpus restricted
    to itself would have TV 0, so the weighted-by-tokens average of
    per-source divergences can never exceed the max single TV; vocab
    token totals are positive for every source present in the vocab
    grid with tokens."""
    rows = registry.QUERIES["source_vocab_divergence"](
        spark, sf_oracle
    ).collect()
    assert len(rows) >= 2
    for r in rows:
        assert 0.0 <= r.tv_divergence <= 1.0
        assert r.n_vocab_tokens >= 0


def test_label_centroid_drift_contract(spark, sf_oracle):
    """Cosine to the corpus centroid lives in [-1, 1]; every label's
    vector count is positive and the counts sum to the table size."""
    from programmers_data_spark.catalog import load_table

    rows = registry.QUERIES["label_centroid_drift"](
        spark, sf_oracle
    ).collect()
    assert len(rows) >= 2
    total = load_table(spark, sf_oracle, "embeddings").count()
    assert sum(r.n_vecs for r in rows) == total
    for r in rows:
        assert r.n_vecs > 0
        assert -1.0 - 1e-12 <= r.cos_to_corpus <= 1.0 + 1e-12


def test_curriculum_phases_contract(spark, sf_oracle):
    """Phases are 0..3, doc counts differ by at most 1 between phases
    (equal rank quartiles), totals cover the corpus, and min/max
    token bounds are non-decreasing across phases (short-to-long)."""
    from programmers_data_spark.catalog import load_table
    from programmers_data_spark.queries.sampling_ops import (
        CURRICULUM_PHASES,
    )

    rows = registry.QUERIES["curriculum_phases"](spark, sf_oracle).collect()
    assert [r.phase for r in rows] == list(range(CURRICULUM_PHASES))
    n = load_table(spark, sf_oracle, "documents").count()
    assert sum(r.n_docs for r in rows) == n
    counts = [r.n_docs for r in rows]
    assert max(counts) - min(counts) <= 1
    for earlier, later in zip(rows, rows[1:]):
        assert earlier.min_tokens <= later.min_tokens
        assert earlier.max_tokens <= later.max_tokens


def test_cross_source_dup_matrix_contract(spark, sf_oracle):
    """Cells are unordered (source_a <= source_b), counts are
    positive, and shares sum to 1 over the matrix (every verified
    pair lands in exactly one cell)."""
    rows = registry.QUERIES["cross_source_dup_matrix"](
        spark, sf_oracle
    ).collect()
    assert rows, "fixture corpus has verified near-dup pairs"
    for r in rows:
        assert r.source_a <= r.source_b
        assert r.n_pairs > 0
    assert abs(sum(r.pair_share for r in rows) - 1.0) < 1e-9


def test_stream_vocab_drift_equals_batch_twin(spark, sf_oracle):
    """The streaming drift monitor must reproduce the batch
    source_vocab_divergence exactly when the stream covers the same
    corpus as the reference distribution — the composition-honesty
    invariant behind sharing one oracle."""
    a = registry.QUERIES["stream_vocab_drift"](spark, sf_oracle).collect()
    b = registry.QUERIES["source_vocab_divergence"](
        spark, sf_oracle
    ).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
