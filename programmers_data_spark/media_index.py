"""The media-index maintenance engine — ONE implementation of the
published-artifact lifecycle every media modality (image, audio,
video) shares, parameterized by a :class:`MediaIndexSpec`.

Each modality's fingerprint table exposes the same (media_id, scene,
dhash_lo, dhash_hi) surface, and the engine publishes four tables per
corpus version, each the one source of its content:

- ``hash_store``    — the full-corpus fingerprint table: the spec's
  Arrow kernel runs once over the corpus and every consumer (the
  per-modality queries, maintenance batches, reports) reads the
  published rows;
- ``band_store``    — its band table as a bucketed layout;
- ``pair_store``    — the verified near-dup pair set;
- ``cluster_store`` — cluster labels over the existing corpus.

Per-modality pieces a spec supplies: the Arrow kernel
(``hash_frame``, over an arbitrary (doc_id, text) frame with a
frozen scene count — the full build runs it over the corpus, a
maintenance batch over its arrivals only) and the naming/env knobs —
store env var, content-address algorithm fingerprint (LIVE
constants, never hand-written literals), catalog prefix and ingest
scratch env, which keep every store path and catalog name stable.

Shared machinery the engine composes (lazily, to keep the dependency
one-way: query modules import the engine, the engine imports the
banding fragments at call time): ``_band_frame`` and ``_pairs_from``
from ``queries.round12_ops`` — the same banding layer every media
query uses, so maintenance probes and full rebuilds can never
disagree on candidate semantics. The Hamming rule (``HAM_T``,
``ham_distance``, ``hamming_verify``) lives here and the query
modules import it.

Reference anchor: the reference (HyeM207/Programmers-DATA) has no
media pipeline; this engine is north-star training-data-pipeline
scope (SURVEY.md §2 "LLM-data-pipeline operators").
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .memo import memoized
from .storeutil import artifact_dir, published, published_bucketed


@dataclass(frozen=True)
class MediaIndexSpec:
    """Everything modality-specific about a published media index."""

    name: str
    # base-dir override env var for the published hash/band artifacts
    store_env: str
    # LIVE algorithm constants baked into the content address (a
    # constant bump re-keys the store instead of serving stale bits)
    algo_fp: str
    # the Arrow kernel over a (doc_id, text) frame with an explicit
    # scene count: (spark, docs, scenes, canon_mod=None) -> at least
    # (media_id, scene, dhash_lo, dhash_hi)
    hash_frame: Callable[..., DataFrame]
    # doc_id % 3 residue of the synthetic "arrival batch"
    arrival_residue: int
    # keeps the image tier's catalog identity ("img") stable
    catalog_prefix: str | None = None
    # streaming-ingest scratch knobs (env var + mkdtemp prefix)
    ingest_env: str | None = None
    ingest_prefix: str | None = None

    @property
    def cat(self) -> str:
        return self.catalog_prefix or self.name

    @property
    def ing_env(self) -> str:
        return self.ingest_env or f"SPARK_GRAFT_{self.name.upper()}_INGEST_STORE"

    @property
    def ing_prefix(self) -> str:
        return self.ingest_prefix or f"{self.name}ingest_"


# Bucket count of every band table the engine writes (published and
# ingest scratch). At test scale 8 keeps files non-trivial; at 100 TB
# size it so a bucket is a few hundred MB (save_bucketed's guidance).
BAND_BUCKETS = 8

# Replay micro-batch count of the streaming ingest (the
# stream_upsert_publish protocol).
INGEST_SLICES = 3


def store_table_dir(
    spec: MediaIndexSpec, sf_dir: str, leaf: str = "hashes"
) -> str:
    """Location of sf_dir's published ``<spec.name>_<leaf>`` artifact
    (hashes, bands, pairs, clusters_r<residue>): keyed by the
    documents fixture plus the live algorithm parameters and an algo
    version (all inside spec.algo_fp)."""
    return artifact_dir(
        spec.store_env, f"spark_graft_{spec.name[:3]}_store", sf_dir,
        "documents.parquet", spec.algo_fp, f"{spec.name}_{leaf}",
    )


def _scenes(spark: SparkSession, sf_dir: str) -> int:
    """The kernels' frozen scene count for sf_dir's corpus — shared by
    the full build and every arrival batch, so both hash alike."""
    from .queries.round12_ops import _doc_count, _scene_count

    return _scene_count(_doc_count(spark, sf_dir))


def hash_store(
    spark: SparkSession, sf_dir: str, spec: MediaIndexSpec
) -> DataFrame:
    """The full-corpus fingerprint table as a published artifact — the
    one source every media consumer reads. A miss runs the spec's
    Arrow kernel once over the corpus and publishes the result
    through the validated swap; every later read returns the
    published rows (the parquet roundtrip of long columns is
    exact)."""
    from .catalog import load_table

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        return spec.hash_frame(spark, docs, _scenes(spark, sf_dir))

    return published(spark, store_table_dir(spec, sf_dir), build)


def band_store(
    spark: SparkSession, sf_dir: str, spec: MediaIndexSpec
) -> DataFrame:
    """The index's BAND table as a published BUCKETED layout — the
    probe side of incremental media dedup: the (band, bval) exploded
    table is written ONCE, hash-bucketed by the join key, and every
    maintenance batch equi-joins arrival bands against it with NO
    Exchange on the index side and no per-run O(index) band
    re-derivation."""
    from .queries.round12_ops import _band_frame

    return published_bucketed(
        spark,
        store_table_dir(spec, sf_dir, "bands"),
        f"{spec.cat}_bands",
        "media_id BIGINT, band INT, bval BIGINT",
        ["band", "bval"],
        BAND_BUCKETS,
        lambda: _band_frame(hash_store(spark, sf_dir, spec)),
    )


def pair_store(
    spark: SparkSession, sf_dir: str, spec: MediaIndexSpec
) -> DataFrame:
    """The verified near-dup PAIR set as a published artifact — the
    text tier's ``dedup_ops.verified_pair_store`` pattern for the
    media index (its fourth published table: hashes, bands, clusters,
    pairs). Computed ONCE per corpus version and read by every
    composer afterwards (the multimodal funnel, dup-rate reports):
    at 100 TB the full-corpus pair graph is an artifact a curation
    run reads, never something each report re-derives.

    The producer itself composes the other published artifacts: the
    candidate self-join reads the BUCKETED band table on both sides
    (bucket-aligned, zero Exchange — the image_hamming_topk plan
    shape), and the Hamming rerank reads the published hash store, so
    even the one-time build never re-runs the Arrow codec kernel.
    Content is exactly ``_pairs_from(hash_store)``; columns
    (media_a, media_b, ham_d), normalized media_a < media_b."""

    def build() -> DataFrame:
        b = band_store(spark, sf_dir, spec)
        cand = (
            b.alias("a")
            .join(b.alias("b"), ["band", "bval"])
            .filter(F.col("a.media_id") < F.col("b.media_id"))
            .select(
                F.col("a.media_id").alias("media_a"),
                F.col("b.media_id").alias("media_b"),
            )
            .distinct()
        )
        return hamming_verify(cand, hash_store(spark, sf_dir, spec))

    return published(spark, store_table_dir(spec, sf_dir, "pairs"), build)


def cluster_store(
    spark: SparkSession, sf_dir: str, spec: MediaIndexSpec
) -> DataFrame:
    """Cluster assignments over the EXISTING corpus (doc_id % 3 !=
    spec.arrival_residue) as a published artifact — the third
    published table of the media index (hashes, bands, clusters),
    and the state incremental cluster maintenance starts from: at
    100 TB the cluster table is computed once per corpus version and
    every ingest batch MERGES into it (incremental_clusters below)
    instead of re-clustering the corpus. Columns: (media_id,
    cluster_id), cluster_id = min member id; singletons map to
    themselves."""
    from .operators import label_clusters
    from .queries.round12_ops import _pairs_from

    def build() -> DataFrame:
        h = hash_store(spark, sf_dir, spec).filter(
            F.col("media_id") % 3 != spec.arrival_residue
        )
        return label_clusters(
            h.select("media_id"), _pairs_from(h), "media_id",
            ("media_a", "media_b"),
        )

    return published(
        spark,
        store_table_dir(spec, sf_dir, f"clusters_r{spec.arrival_residue}"),
        build,
    )


def incremental_clusters(
    spark: SparkSession, sf_dir: str, spec: MediaIndexSpec
) -> DataFrame:
    """Incremental cluster maintenance — the step AFTER the pair
    delta: merge an ingest batch into the PUBLISHED cluster table by
    star contraction, never re-clustering the existing corpus.

    The existing cluster table contracts the whole existing pair
    graph into star edges (member -> cluster root); the batch's pair
    delta (incremental_delta — arrival-proportional by construction)
    is the only new connectivity, so components over
    (stars ∪ delta) equal the FULL rebuild's components exactly:
    contracting a subgraph's components preserves connectivity of
    the union, delta edges reach non-root members through their star
    edge, and labels are vertex ids so the min-id component label
    recovers the true minimum member per merged cluster. The
    registered oracle IS the full rebuild, so any gap in that
    argument breaks the hash.

    Scale shape: reads two published artifacts (clusters, hashes —
    nothing about the existing corpus is re-hashed, re-paired, or
    re-clustered), runs component resolution over |existing stars| +
    |delta| edges, and the delta side is proportional to the arrival
    batch. This is how a production media-dedup index absorbs a
    day's crawl."""
    from .operators import merge_clusters

    return merge_clusters(
        stored=cluster_store(spark, sf_dir, spec),
        delta=incremental_delta(spark, sf_dir, spec),
        ids=hash_store(spark, sf_dir, spec).select("media_id"),
        id_col="media_id",
        pair_cols=("media_a", "media_b"),
    ).orderBy("media_id")


def neardup_clusters(
    spark: SparkSession, sf_dir: str, spec: MediaIndexSpec
) -> DataFrame:
    """Cluster assignment over the full corpus's near-dup graph: the
    hash store's ids labelled by the connected components of the pair
    store's edges (operators.label_clusters — edge-list-bounded).
    Columns (media_id, cluster_id), cluster_id = min member id;
    singletons keep their own id."""
    from .operators import label_clusters

    return label_clusters(
        hash_store(spark, sf_dir, spec).select("media_id"),
        pair_store(spark, sf_dir, spec), "media_id", ("media_a", "media_b"),
    ).orderBy("media_id")


def lsh_recall(
    spark: SparkSession, sf_dir: str, spec: MediaIndexSpec
) -> DataFrame:
    """Recall of the banded LSH per scene: ground truth is every
    within-scene pair at Hamming <= HAM_T (_scene_truth), found is
    the truth intersected with the pair store, reported as exact
    integer percentages. Banding can only MISS, so recall_pct <= 100
    structurally. Columns (scene, n_true, n_found, recall_pct)."""
    truth = _scene_truth(spark, sf_dir, spec, store_table_dir(spec, sf_dir))
    found = (
        truth.join(pair_store(spark, sf_dir, spec), ["media_a", "media_b"])
        .groupBy("scene")
        .agg(F.count("*").alias("n_found"))
    )
    return (
        truth.groupBy("scene")
        .agg(F.count("*").alias("n_true"))
        .join(found, "scene", "left")
        .select(
            "scene",
            F.col("n_true").cast("long"),
            F.coalesce("n_found", F.lit(0)).cast("long").alias("n_found"),
            # integer div on BOTH sides (float-divide-then-cast
            # truncates vs rounds differently across engines)
            F.expr("coalesce(n_found, 0) * 100 div n_true")
            .cast("long")
            .alias("recall_pct"),
        )
        .orderBy("scene")
    )


# Within a scene two images differ in <= 2 pixels -> <= 2 pooled
# cells -> <= 4 dHash bits (each cell feeds 2 comparisons); across
# scenes the expected distance is 32 (sigma 4), so 8 separates the
# populations by ~6 sigma. Measured at sf0.1: within-scene max 4,
# rejected cross-scene candidates min ~20.
HAM_T = 8


def ham_distance():
    """64-bit dHash Hamming distance of (lo_a, hi_a) vs (lo_b, hi_b)."""
    return (
        F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
        + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
    ).cast("int")


def hamming_verify(cand: DataFrame, index: DataFrame) -> DataFrame:
    """Exact re-check of normalized (media_a, media_b) candidates
    against hash table ``index`` (media_id, dhash_lo, dhash_hi): join
    both hash halves, keep Hamming distance <= HAM_T. Columns
    (media_a, media_b, ham_d)."""
    ha = index.select(
        F.col("media_id").alias("media_a"),
        F.col("dhash_lo").alias("lo_a"),
        F.col("dhash_hi").alias("hi_a"),
    )
    hb = index.select(
        F.col("media_id").alias("media_b"),
        F.col("dhash_lo").alias("lo_b"),
        F.col("dhash_hi").alias("hi_b"),
    )
    return (
        cand.join(ha, "media_a")
        .join(hb, "media_b")
        .withColumn("ham_d", ham_distance())
        .filter(F.col("ham_d") <= HAM_T)
        .select("media_a", "media_b", "ham_d")
    )


# The memos below take the RESOLVED store table dir (env var + fixture
# fingerprint) as an argument, so a mid-session SPARK_GRAFT_*_STORE
# change misses the memo instead of serving a result built over the
# previous store.
@memoized
def _scene_truth(
    spark: SparkSession, sf_dir: str, spec: MediaIndexSpec, table_dir: str
) -> DataFrame:
    """Ground truth of lsh_recall: every within-scene pair of the hash
    store at Hamming <= HAM_T (an equi join on the scene key —
    closed-form, never an all-pairs scan). Persisted: the count
    aggregate and the found join both read it."""
    h = hash_store(spark, sf_dir, spec)
    ha = h.select(
        "scene",
        F.col("media_id").alias("media_a"),
        F.col("dhash_lo").alias("lo_a"),
        F.col("dhash_hi").alias("hi_a"),
    )
    hb = h.select(
        F.col("scene").alias("scene_b"),
        F.col("media_id").alias("media_b"),
        F.col("dhash_lo").alias("lo_b"),
        F.col("dhash_hi").alias("hi_b"),
    )
    return (
        ha.join(hb, (F.col("scene") == F.col("scene_b"))
                & (F.col("media_a") < F.col("media_b")))
        .filter(ham_distance() <= HAM_T)
        .select("scene", "media_a", "media_b")
        .persist()
    )


@memoized
def _arrival_index(
    spark: SparkSession, sf_dir: str, spec: MediaIndexSpec, table_dir: str
) -> DataFrame:
    """The published index with this batch's arrivals re-hashed in.
    Persisted: it feeds THREE branches of incremental_delta (the band
    table and both Hamming-lookup sides)."""
    from .catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    existing = hash_store(spark, sf_dir, spec).filter(
        F.col("media_id") % 3 != spec.arrival_residue
    )
    arrivals = spec.hash_frame(
        spark,
        docs.filter(F.col("doc_id") % 3 == spec.arrival_residue),
        _scenes(spark, sf_dir),
    )
    return existing.unionByName(arrivals).persist()


def incremental_delta(
    spark: SparkSession, sf_dir: str, spec: MediaIndexSpec
) -> DataFrame:
    """Incremental near-dup maintenance — the operation a production
    media pipeline runs per ingest batch: NEW arrivals (doc_id % 3 ==
    spec.arrival_residue) are hashed and band-joined against the
    EXISTING index PLUS each other; nothing about the existing corpus
    is re-paired. The output is exactly the pair DELTA the batch
    contributes.

    Correctness: incremental ≡ full — banding and Hamming are
    per-pair local, so the delta has a closed form: the FULL
    rebuild's pairs restricted to those touching an arrival. Each
    modality's registered oracle IS that restriction, so any
    asymmetry in the incremental join breaks the hash.

    Scale shape: the EXISTING index is read from the PUBLISHED
    artifact (hash_store — nothing about the existing corpus is even
    re-hashed), only the arrival batch pays the Arrow codec kernel,
    and the band probe joins arrival bands against the PUBLISHED
    BUCKETED band table — no Exchange and no per-run band
    re-derivation on the index side; cost proportional to the ARRIVAL
    batch and its bucket mates, never the index size."""
    from .operators import band_probe
    from .queries.round12_ops import _band_frame

    h = _arrival_index(spark, sf_dir, spec, store_table_dir(spec, sf_dir))
    arrivals = h.filter(F.col("media_id") % 3 == spec.arrival_residue)
    # index bands come from the PUBLISHED bucketed band table (the
    # full corpus's bands — identical content to _band_frame(h), but
    # pre-bucketed by the join key so the probe plans with no
    # Exchange and no per-run O(index) explode)
    cand = band_probe(
        _band_frame(arrivals), band_store(spark, sf_dir, spec), "media_id",
        ("band", "bval"), ("media_a", "media_b"),
    )
    return hamming_verify(cand, h).orderBy("media_a", "media_b")


def streaming_ingest(
    spark: SparkSession, sf_dir: str, spec: MediaIndexSpec
) -> DataFrame:
    """Structured Streaming composed with incremental index
    maintenance — the capstone media-dedup lifecycle: documents
    ARRIVE as a stream, each micro-batch is hashed (the modality's
    Arrow codec kernel), band-probed against the ACCUMULATED index
    (existing hashes plus the batch itself), and the verified pair
    delta is appended to the pair store; the batch's hashes then join
    the index. Replay protocol per stream_upsert_publish:
    INGEST_SLICES doc_id-contiguous slices dropped between
    processAllAvailable() drains, so batch order is exact.

    Correctness closed form (full hash parity for an end-to-end
    streaming ingest): slices partition the corpus, so every near-dup
    pair is discovered EXACTLY ONCE — in the batch of its later
    member (same-batch pairs via the batch x batch side of the probe,
    cross-batch pairs when the later member probes the stored index).
    The union of the per-batch deltas is therefore EXACTLY the full
    rebuild's pair set, which is each modality's oracle. A dropped
    batch, a double probe, or an index append raced ahead of its
    probe all break the hash.

    Scale shape: per batch one Arrow hash pass over the ARRIVALS, one
    arrival-proportional APPEND of the batch's bands to a bucketed
    band table, and one equi-join of arrival bands against that
    table's bucket layout — no per-batch O(index) band re-derivation.
    Scene count is frozen from the index's initial configuration
    (computed once up front), exactly how a production
    perceptual-hash index pins its parameters at creation. At 100 TB
    the parquet replay source binds to Kafka and the hash/pair stores
    are the published bucketed tables.

    The checkpointed result is location-independent once built, but
    its memo binds the store dir like every memo in this module."""
    return _ingest(spark, sf_dir, spec, store_table_dir(spec, sf_dir))


@memoized
def _ingest(
    spark: SparkSession, sf_dir: str, spec: MediaIndexSpec, table_dir: str
) -> DataFrame:
    from .catalog import load_table
    from .ingest import replay_ingest
    from .queries.round12_ops import _band_frame

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    scenes = _scenes(spark, sf_dir)
    return replay_ingest(
        spark,
        docs,
        slice_col="doc_id",
        state_frame=lambda s, bdf: spec.hash_frame(
            s, bdf.select("doc_id", "text"), scenes
        ),
        index_select=lambda st: st,
        band_frame=_band_frame,
        verify=hamming_verify,
        id_col="media_id",
        pair_cols=("media_a", "media_b"),
        band_cols=("band", "bval"),
        pair_schema="media_a long, media_b long, ham_d int",
        store_env=spec.ing_env,
        scratch_prefix=spec.ing_prefix,
        table_prefix=f"{spec.cat}ingest_bands_",
        n_slices=INGEST_SLICES,
        n_buckets=BAND_BUCKETS,
    )
