"""The EMBEDDING near-dup index — published-artifact lifecycle for the
vector family (r15 VERDICT ask #2), completing the structural symmetry
with the four hash families (text MinHash, image/audio/video dHash):

- ``sig_store``     — the hyperplane-LSH signature table
  ``(vec_id, tbl, bucket)`` as a published BUCKETED layout: the probe
  side of incremental embedding dedup, written once per corpus
  version and equi-joined by every maintenance batch with no Exchange
  on the index side.
- ``pair_store``    — the verified near-dup pair set ``(vec_a,
  vec_b)`` (exact fold-cosine ≥ threshold among banded candidates —
  exactly ``embedding_neardup_lsh``'s registered content) published
  through the K8 validated-swap layer.
- ``cluster_store`` — cluster assignments over the EXISTING corpus
  (``vec_id % 10 != EMB_ARRIVAL_RESIDUE``), the state incremental
  cluster maintenance merges into.

All three are content-addressed to the embeddings fixture bytes plus
the LIVE algorithm constants (plane salt/tables/bits, fixed-point
scale, threshold — never hand-written literals, the pair-store r8
lesson), so a constant bump re-keys the store instead of serving
stale bits.

Scale posture: at 100 TB the signature table is the published ANN
index a day's crawl probes; nothing here is all-pairs (candidates
come from the (tbl, bucket) equi-join) and nothing collects unbounded
data (component resolution goes through
``operators.connected_components``).

Reference anchor: the reference (HyeM207/Programmers-DATA) has no
vector pipeline; this tier is north-star training-data-pipeline scope
(SURVEY.md §2 "LLM-data-pipeline operators").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .storeutil import artifact_dir, published, published_bucketed

# Base-dir override env var for the published signature/pair/cluster
# artifacts (bench pins a fresh dir per run for honest accounting).
EMB_STORE_ENV = "SPARK_GRAFT_EMB_STORE"

# vec_id % 10 residue of the synthetic "arrival batch" — ~10% of the
# corpus, the vector tier's analog of the media tiers' doc_id % 3
# slices and the text tier's doc_id % 10 == 7 batch.
EMB_ARRIVAL_RESIDUE = 4

# streaming-ingest scratch knobs (the replay engine's convention)
EMB_INGEST_ENV = "SPARK_GRAFT_EMB_INGEST_STORE"

_N_SIG_BUCKETS = 8


def _algo_fp() -> str:
    """LIVE algorithm constants baked into the content address."""
    from .queries.similarity_ops import (
        _ND_BITS,
        _ND_SALT,
        _ND_TABLES,
        _SIG_SCALE,
        NEARDUP_THRESHOLD,
    )

    # v2: the pair store carries cos_bp (exact basis points of the
    # fold cosine) so threshold sweeps are pure store reads — the
    # ham_d / jaccard pattern of the other four families' stores
    return (
        f"hplsh|{_ND_SALT}|{_ND_TABLES}x{_ND_BITS}|q{_SIG_SCALE}"
        f"|t{NEARDUP_THRESHOLD}|v2"
    )


def store_table_dir(sf_dir: str, leaf: str) -> str:
    """Location of sf_dir's published embedding artifact ``leaf``:
    keyed by the embeddings fixture plus the live algorithm
    parameters."""
    return artifact_dir(
        EMB_STORE_ENV, "spark_graft_emb_store", sf_dir,
        "embeddings.parquet", _algo_fp(), leaf,
    )


def signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus's hyperplane-LSH signature rows (vec_id, emb,
    tbl, bucket) — the one Arrow GEMM pass, exactly the kernel
    ``embedding_neardup_lsh`` runs (same salt/tables/bits, so the
    maintenance index can never disagree with the batch operator on
    candidate semantics)."""
    from .queries.similarity_ops import (
        _ND_BITS,
        _ND_SALT,
        _ND_TABLES,
        _signature_kernel,
        load_vectors,
    )

    return load_vectors(spark, sf_dir).mapInPandas(
        _signature_kernel(_ND_SALT, _ND_TABLES, _ND_BITS),
        schema="vec_id long, emb array<double>, tbl int, bucket long",
    )


def sig_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signature table as a published BUCKETED layout — the probe
    side of incremental embedding dedup: (vec_id, tbl, bucket) written
    ONCE, hash-bucketed by the join key, and every maintenance batch
    equi-joins arrival signatures against it with NO Exchange on the
    index side and no per-run O(index) GEMM re-derivation."""
    return published_bucketed(
        spark,
        store_table_dir(sf_dir, "emb_sigs"),
        "emb_sigs",
        "vec_id BIGINT, tbl INT, bucket BIGINT",
        ["tbl", "bucket"],
        _N_SIG_BUCKETS,
        lambda: signatures(spark, sf_dir).select("vec_id", "tbl", "bucket"),
    )


def cos_prefilter_kernel():
    """mapInPandas generator over (vec_a, vec_b, ea, eb) rows: one
    vectorized float64 cosine pass per Arrow batch, keeping rows at
    or above NEARDUP_THRESHOLD minus the LSH tier's guard band. The
    GEMM only PREFILTERS (numpy's normalized cosine and the serial
    fold differ by ulps); callers re-check survivors on the fold
    cosine both engines share bitwise — the embedding_neardup_lsh
    discipline applied to the probe-join paths, where the interpreted
    fold over the full banded candidate set (~L·N/2^k rows per
    arrival) costs seconds the GEMM does in milliseconds."""
    import numpy as np

    from .queries.similarity_ops import _ND_GUARD_BAND, NEARDUP_THRESHOLD

    cut = NEARDUP_THRESHOLD - _ND_GUARD_BAND

    def prefilter(batches):
        for pdf in batches:
            if len(pdf) == 0:  # empty Arrow batches are legal
                continue
            a = np.array(list(pdf["ea"]), dtype=np.float64)
            b = np.array(list(pdf["eb"]), dtype=np.float64)
            cos = (a * b).sum(axis=1) / (
                np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
            )
            yield pdf.loc[cos >= cut]

    return prefilter


_PREFILTER_SCHEMA = (
    "vec_a long, vec_b long, ea array<double>, eb array<double>"
)


def verify_pairs(
    cand: DataFrame, emb: DataFrame, include_cos_bp: bool = False
) -> DataFrame:
    """Exact near-dup verification of normalized (vec_a, vec_b)
    candidates against vector table ``emb`` (vec_id, emb): join both
    embeddings, Arrow-GEMM prefilter with the guard band, decisive
    fold-cosine threshold on the survivors. Returns (vec_a, vec_b),
    plus ``cos_bp`` — exact basis points of the fold cosine,
    floor(cos * 1e4 + 0.5) on the bitwise-shared double, so a stored
    value compares exactly against integer grid literals on both
    engines — when ``include_cos_bp`` (the pair-store producer)."""
    from .functions.vectors import cosine
    from .queries.similarity_ops import NEARDUP_THRESHOLD

    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"))
    pre = (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", "ea", "eb")
        .mapInPandas(cos_prefilter_kernel(), schema=_PREFILTER_SCHEMA)
    )
    cos = cosine("ea", "eb")
    out = pre.filter(cos >= F.lit(NEARDUP_THRESHOLD))
    if include_cos_bp:
        return out.select(
            "vec_a",
            "vec_b",
            F.floor(cos * 10000 + F.lit(0.5)).cast("long").alias("cos_bp"),
        )
    return out.select("vec_a", "vec_b")


def pair_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified near-dup PAIR set as a published artifact — the
    text tier's ``verified_pair_store`` pattern for the vector index.
    The producer composes the published signature store on BOTH sides
    of the candidate self-join (bucket-aligned, zero Exchange) and
    reranks on the exact fold cosine both engines share bitwise, so
    content is exactly ``embedding_neardup_lsh``'s registered output
    (the GEMM prefilter that operator adds only discards pairs the
    exact threshold rejects anyway)."""
    from .queries.similarity_ops import load_vectors

    def build() -> DataFrame:
        b = sig_store(spark, sf_dir)
        cand = (
            b.alias("a")
            .join(b.alias("b"), ["tbl", "bucket"])
            .filter(F.col("a.vec_id") < F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
            )
            .distinct()
        )
        return verify_pairs(
            cand, load_vectors(spark, sf_dir), include_cos_bp=True
        )

    return published(spark, store_table_dir(sf_dir, "emb_pairs"), build)


def cluster_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignments over the EXISTING corpus (vec_id % 10 !=
    EMB_ARRIVAL_RESIDUE) as a published artifact — the state
    incremental cluster maintenance starts from. Columns: (vec_id,
    cluster_id), cluster_id = min member id; singletons map to
    themselves."""
    from .operators import label_clusters
    from .queries.similarity_ops import load_vectors

    def build() -> DataFrame:
        is_existing = lambda c: (F.col(c) % 10) != EMB_ARRIVAL_RESIDUE  # noqa: E731
        pairs = pair_store(spark, sf_dir).filter(
            is_existing("vec_a") & is_existing("vec_b")
        )
        ids = (
            load_vectors(spark, sf_dir)
            .select("vec_id")
            .filter(is_existing("vec_id"))
        )
        return label_clusters(ids, pairs, "vec_id", ("vec_a", "vec_b"))

    return published(
        spark,
        store_table_dir(sf_dir, f"emb_clusters_r{EMB_ARRIVAL_RESIDUE}"),
        build,
    )
