"""Audio + video index-maintenance lifecycle — the shared engine
(media_index.py) instantiated for the round-13 modalities, completing
every media tier to full lifecycle parity with the image tier:
fingerprint -> banded pairs -> clusters -> recall twin ->
**incremental maintenance** -> **streaming ingest**.

Round 12 proved the maintenance economics for image
(image_neardup_incremental / stream_image_neardup_ingest: the
existing index is a PUBLISHED artifact, only arrivals pay the Arrow
codec kernel, probes hit the PUBLISHED BUCKETED band table with no
Exchange on the index side). Round 13 factored that machinery into
media_index.py — the image tier's driver-certified rows now run the
engine — and this module is the engine applied to the audio and
video fingerprint tables, which expose the same (media_id, scene,
dhash_lo, dhash_hi) surface, so the whole lifecycle is ~a spec per
modality.

Correctness: each incremental query's oracle is the closed-form
delta (the FULL rebuild's pairs restricted to pairs touching an
arrival — incremental ≡ full, the r12 precedent), and each streaming
ingest's oracle is the full rebuild itself (slices partition the
corpus, so per-batch deltas union to exactly the full pair set).
Arrival residues differ per modality (image 1, audio 0, video 2) so
the three tiers exercise different batch/index splits of the corpus
rather than re-proving one split three times.

Reference anchor: the reference (HyeM207/Programmers-DATA) has no
media pipeline; this tier is north-star training-data-pipeline scope
(SURVEY.md §2 "LLM-data-pipeline operators"), extending the dedup
family the way dedup_ops.py did for text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import media_index
from ..registry import query

# The audio and video specs live next to their kernels; this module
# re-exports them with the maintenance queries that instantiate them.
from .round12_ops import (  # noqa: F401
    AUDIO_ARRIVAL_RESIDUE,
    AUDIO_SPEC,
    _audio_hash_cte,
    _pair_cte,
)
from .round13_ops import (  # noqa: F401
    VIDEO_ARRIVAL_RESIDUE,
    VIDEO_SPEC,
    _video_hash_cte,
)


@query(
    "audio_neardup_incremental",
    oracle=f"""
    WITH {_audio_hash_cte()},
    {_pair_cte()}
    SELECT media_a, media_b, ham_d FROM pairs
    WHERE media_a % 3 = {AUDIO_ARRIVAL_RESIDUE}
       OR media_b % 3 = {AUDIO_ARRIVAL_RESIDUE}
    ORDER BY media_a, media_b
    """,
)
def audio_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental AUDIO near-dup maintenance: arrivals (doc_id % 3
    == 0) are fingerprinted (only the batch pays the WAV codec
    kernel), the existing index is read from the published artifact,
    and arrival bands probe the published BUCKETED band table — the
    engine's incremental_delta with AUDIO_SPEC, i.e. the EXACT code
    path the driver-certified image_neardup_incremental runs.
    Oracle: the full audio rebuild restricted to pairs touching an
    arrival (incremental ≡ full)."""
    return media_index.incremental_delta(spark, sf_dir, AUDIO_SPEC)


@query(
    "video_neardup_incremental",
    oracle=f"""
    WITH {_video_hash_cte()},
    {_pair_cte()}
    SELECT media_a, media_b, ham_d FROM pairs
    WHERE media_a % 3 = {VIDEO_ARRIVAL_RESIDUE}
       OR media_b % 3 = {VIDEO_ARRIVAL_RESIDUE}
    ORDER BY media_a, media_b
    """,
)
def video_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental VIDEO near-dup maintenance: arrivals (doc_id % 3
    == 2) pay the per-frame PNG codec kernel (VIDEO_FRAMES roundtrips
    per clip — the expensive hash, which is exactly why a production
    video index NEVER re-hashes its existing corpus), the existing
    fingerprint index is read from the published artifact, and the
    probe hits the published bucketed band table. Engine:
    media_index.incremental_delta with VIDEO_SPEC. Oracle: the full
    video rebuild restricted to pairs touching an arrival."""
    return media_index.incremental_delta(spark, sf_dir, VIDEO_SPEC)


@query(
    "stream_audio_neardup_ingest",
    oracle=f"""
    WITH {_audio_hash_cte()},
    {_pair_cte()}
    SELECT media_a, media_b, ham_d FROM pairs
    ORDER BY media_a, media_b
    """,
)
def stream_audio_neardup_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Structured Streaming AUDIO index maintenance — the engine's
    replay harness (media_index.streaming_ingest, the
    stream_image_neardup_ingest protocol) with AUDIO_SPEC: per
    micro-batch, fingerprint the arrivals, append their bands to the
    accumulated bucketed band table, probe it, append the verified
    pair delta. Slices partition the corpus so the accumulated store
    equals the full rebuild exactly — which is the oracle."""
    return media_index.streaming_ingest(spark, sf_dir, AUDIO_SPEC)


# ----------------------------------------- cluster maintenance


def _full_cluster_oracle() -> str:
    # the registered full-rebuild SQL, verbatim (round12_ops
    # registers earlier in _QUERY_MODULES) — incremental ≡ full is
    # the whole contract, so the oracle IS the full rebuild
    from ..registry import ORACLE

    return ORACLE["image_neardup_clusters"]


@query("image_neardup_clusters_incremental", oracle=_full_cluster_oracle())
def image_neardup_clusters_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental CLUSTER maintenance — the lifecycle step after the
    pair delta: the ingest batch merges into the PUBLISHED cluster
    table by star contraction (media_index.incremental_clusters with
    IMAGE_SPEC). The existing corpus is never re-hashed, re-paired,
    or re-clustered: the published cluster table contributes one star
    edge per non-root member, the arrival-proportional pair delta
    contributes the only new connectivity, and component resolution
    runs over that contracted graph. Oracle: the registered
    image_neardup_clusters full-rebuild SQL verbatim — a green hash
    proves merge-into-stars ≡ re-cluster-everything on every fixture
    generation (the incremental ≡ full discipline, now at the
    cluster level: fingerprints, pairs, AND clusters all maintain
    incrementally)."""
    from .round12_ops import IMAGE_SPEC

    return media_index.incremental_clusters(spark, sf_dir, IMAGE_SPEC)


def _full_audio_cluster_oracle() -> str:
    from ..registry import ORACLE

    return ORACLE["audio_neardup_clusters"]


def _full_video_cluster_oracle() -> str:
    from ..registry import ORACLE

    return ORACLE["video_neardup_clusters"]


@query(
    "audio_neardup_clusters_incremental",
    oracle=_full_audio_cluster_oracle(),
)
def audio_neardup_clusters_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental AUDIO cluster maintenance — the engine's
    star-contraction merge (media_index.incremental_clusters) with
    AUDIO_SPEC, completing incremental maintenance at every lifecycle
    level for every modality (r14 VERDICT ask #5: the cluster-merge
    leg existed only for image). The published audio cluster table
    contributes one star edge per non-root member, the
    arrival-proportional pair delta (doc_id % 3 == 0 arrivals)
    contributes the only new connectivity, and component resolution
    runs over that contracted graph — the existing corpus is never
    re-hashed, re-paired, or re-clustered. Oracle: the registered
    audio_neardup_clusters full-rebuild SQL verbatim (incremental ≡
    full at the cluster level)."""
    return media_index.incremental_clusters(spark, sf_dir, AUDIO_SPEC)


@query(
    "video_neardup_clusters_incremental",
    oracle=_full_video_cluster_oracle(),
)
def video_neardup_clusters_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental VIDEO cluster maintenance — the engine's
    star-contraction merge with VIDEO_SPEC (arrivals doc_id % 3 ==
    2): the most expensive modality to re-hash (VIDEO_FRAMES PNG
    roundtrips per clip) is exactly the one where merging into the
    published cluster table instead of re-clustering pays most.
    Oracle: the registered video_neardup_clusters full-rebuild SQL
    verbatim."""
    return media_index.incremental_clusters(spark, sf_dir, VIDEO_SPEC)


# ------------------------------------------------ index read path

# Reverse-image-search depth: the K nearest banded candidates per
# query image.
IMG_TOPK = 3

# The directed band rule — MUST stay textually in sync with the band
# CASE inside round12_ops._pair_cte (one banding rule engine-wide;
# tests/test_round13b.py asserts the fragment is embedded there).
_BAND_CASE_SQL = """CASE b.band
           WHEN 0 THEN dhash_lo % 65536
           WHEN 1 THEN dhash_lo // 65536
           WHEN 2 THEN dhash_hi % 65536
           ELSE dhash_hi // 65536 END"""


def _img_hash_cte_default() -> str:
    from .round12_ops import _img_hash_cte

    return _img_hash_cte()


def _hamming_topk_oracle(hash_cte: str) -> str:
    """The read-path top-K derivation over any modality's `hashes`
    CTE — band the index, candidate self-join, integer Hamming
    rerank, per-query row_number with deterministic ties. ONE SQL
    builder for all modalities so the image/audio/video serving
    contracts cannot drift from each other."""
    return f"""
    WITH {hash_cte},
    bands AS (
      SELECT media_id, b.band,
             {_BAND_CASE_SQL} AS bval
      FROM hashes, (SELECT unnest(generate_series(0, 3)) AS band) b
    ),
    cand AS (
      SELECT DISTINCT a.media_id AS query_id, b.media_id AS neighbor_id
      FROM bands a JOIN bands b ON a.band = b.band AND a.bval = b.bval
      WHERE a.media_id <> b.media_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(bit_count(xor(ha.dhash_lo, hb.dhash_lo))
                + bit_count(xor(ha.dhash_hi, hb.dhash_hi)) AS INTEGER)
               AS ham_d
      FROM cand c
      JOIN hashes ha ON ha.media_id = c.query_id
      JOIN hashes hb ON hb.media_id = c.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, ham_d,
             row_number() OVER (
               PARTITION BY query_id ORDER BY ham_d, neighbor_id
             ) AS rnk
      FROM scored
    )
    SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, ham_d
    FROM ranked WHERE rnk <= {IMG_TOPK}
    ORDER BY query_id, rnk
    """


def _hamming_topk(
    spark: SparkSession, sf_dir: str, spec: media_index.MediaIndexSpec
) -> DataFrame:
    """The spec-parameterized serving read path every modality's
    *_hamming_topk query delegates to: both sides of the candidate
    self-join read the PUBLISHED BUCKETED band table
    (media_index.band_store — bucket-aligned, zero Exchange either
    side), the exact-distance rerank reads the published hash store
    (no kernel recompute), and the per-query top-K is a window over
    the band-bounded candidate set."""
    from pyspark.sql import Window

    h = media_index.hash_store(spark, sf_dir, spec)
    b = media_index.band_store(spark, sf_dir, spec)
    cand = (
        b.alias("a")
        .join(b.alias("b"), ["band", "bval"])
        .filter(F.col("a.media_id") != F.col("b.media_id"))
        .select(
            F.col("a.media_id").alias("query_id"),
            F.col("b.media_id").alias("neighbor_id"),
        )
        .distinct()
    )
    ha = h.select(
        F.col("media_id").alias("query_id"),
        F.col("dhash_lo").alias("lo_a"),
        F.col("dhash_hi").alias("hi_a"),
    )
    hb = h.select(
        F.col("media_id").alias("neighbor_id"),
        F.col("dhash_lo").alias("lo_b"),
        F.col("dhash_hi").alias("hi_b"),
    )
    w = Window.partitionBy("query_id").orderBy("ham_d", "neighbor_id")
    return (
        cand.join(ha, "query_id")
        .join(hb, "neighbor_id")
        .withColumn("ham_d", media_index.ham_distance())
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= IMG_TOPK)
        .select("query_id", "rnk", "neighbor_id", "ham_d")
        .orderBy("query_id", "rnk")
    )


@query("image_hamming_topk", oracle=_hamming_topk_oracle(_img_hash_cte_default()))
def image_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse image search — the READ path the published media index
    serves (the maintenance queries are its write path): for every
    image, the top-K (K = IMG_TOPK) nearest others by 64-bit Hamming
    distance among its banded LSH candidates, deterministic ties by
    neighbor id. This is ann_lsh_topk's shape for the media tier:
    candidates come from the band table (share >= 1 exact 16-bit
    band — never all-pairs), the exact distance reranks them.

    Scale shape: BOTH sides of the candidate self-join read the
    PUBLISHED BUCKETED band table (media_index.band_store), so the
    join is bucket-aligned with ZERO Exchange on either side
    (tests/test_round13b.py::test_topk_band_self_join_plans_without_
    exchange); the hash lookups read the published hash store (no
    kernel recompute); the per-query top-K is a window over the
    band-bounded candidate set. At 100 TB this is exactly a
    reverse-image-search serving job over the published index.

    Oracle: the same derivation from the shared image-hash CTE —
    identical band rule (the fragment is asserted to match
    _pair_cte's), integer Hamming, row_number with the same tie
    order."""
    from .round12_ops import IMAGE_SPEC

    return _hamming_topk(spark, sf_dir, IMAGE_SPEC)


@query("audio_hamming_topk", oracle=_hamming_topk_oracle(_audio_hash_cte()))
def audio_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse AUDIO search — the published audio index's serving
    read path, completing 'one engine, four modalities' for serving
    (not just maintenance): the engine seam (media_index.band_store +
    hash_store) makes this a spec instantiation of the EXACT
    zero-Exchange plan shape the driver-certified image_hamming_topk
    runs — top-K nearest clips by 64-bit Hamming among banded LSH
    candidates, deterministic ties. Oracle: the shared top-K
    derivation over the audio fingerprint CTE (one SQL builder for
    every modality's serving contract)."""
    return _hamming_topk(spark, sf_dir, AUDIO_SPEC)


@query("video_hamming_topk", oracle=_hamming_topk_oracle(_video_hash_cte()))
def video_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse VIDEO search — the published video index's serving
    read path (the newest modality gets the same zero-Exchange
    bucket-aligned candidate join + store-read rerank as image and
    audio; the XOR-fold clip fingerprints make whole-clip similarity
    a 64-bit Hamming query). Oracle: the shared top-K derivation
    over the video fingerprint CTE."""
    return _hamming_topk(spark, sf_dir, VIDEO_SPEC)


@query(
    "stream_video_neardup_ingest",
    oracle=f"""
    WITH {_video_hash_cte()},
    {_pair_cte()}
    SELECT media_a, media_b, ham_d FROM pairs
    ORDER BY media_a, media_b
    """,
)
def stream_video_neardup_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Structured Streaming VIDEO index maintenance — the engine's
    replay harness with VIDEO_SPEC: the newest modality gets the
    full production lifecycle (publish once, probe bucketed, pay
    codec cost per arrival batch only) the image tier certified.
    Oracle: the full video rebuild (per-batch deltas union to it
    exactly)."""
    return media_index.streaming_ingest(spark, sf_dir, VIDEO_SPEC)
