"""Round-15 operators: TEXT-tier lifecycle symmetry with the media
engine — the serving read path (r14 VERDICT ask #8), Structured
Streaming index ingest, and incremental cluster maintenance:

- ``text_jaccard_topk`` — top-K most-similar documents by MinHash
  band candidates + exact Jaccard rerank, completing serving parity
  across all five dedup families (media *_hamming_topk, vector
  ann/ivf/pq_topk).
- ``stream_text_neardup_ingest`` — the media engine's replay-harness
  protocol applied to the MinHash index: per micro-batch, sign the
  arrivals (the batch pays the Arrow pass), append their bands to
  the accumulated bucketed band table, probe it, verify Jaccard
  against the accumulated signature store, append the pair delta.
- ``text_neardup_clusters_incremental`` — star-contraction cluster
  merge over the text near-dup graph (the media
  incremental_clusters argument applied to the MinHash pair set),
  completing incremental maintenance at every lifecycle level for
  every family.

Reference anchor: the reference (HyeM207/Programmers-DATA) has no
text-dedup pipeline; this tier is north-star training-data-pipeline
scope (SURVEY.md §2 "LLM-data-pipeline operators"), the read-path
and maintenance faces of the MinHash dedup family dedup_ops.py
implements.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..memo import memoized
from ..registry import ORACLE, query
from .dedup_ops import (
    _AUG_SQL,
    _N_BANDS,
    _SHINGLES_DUCK,
    _TOKS_DUCK,
    _band_cols_duck,
    _band_cols_spark,
    _minhash_sig_duck,
)

# Serving depth: the K most-similar documents per query doc — same
# depth as the media tiers' IMG_TOPK so the serving contracts stay
# comparable across families.
TEXT_TOPK = 3


def _text_topk_oracle() -> str:
    """The read-path top-K derivation over the dedup tier's shared
    SQL fragments (aug corpus, shingles, MinHash signatures, band
    hashes — verbatim the dedup_minhash fragments, so the serving
    contract cannot drift from the maintenance contract): band the
    signatures, candidate self-join per band, exact-Jaccard rerank
    on the rounded value, per-query row_number with deterministic
    ties (jaccard DESC, neighbor id ASC)."""
    pair_union = " UNION ".join(
        f"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.band{i} = b.band{i} AND a.doc_id < b.doc_id"""
        for i in range(_N_BANDS)
    )
    return f"""
    WITH aug AS ({_AUG_SQL}),
    shingled AS (
      SELECT doc_id, {_SHINGLES_DUCK} AS shingles
      FROM (SELECT doc_id, {_TOKS_DUCK} AS toks FROM aug)
    ),
    sigs AS (
      SELECT doc_id, {_minhash_sig_duck()}
      FROM shingled
    ),
    banded AS (
      SELECT doc_id, {_band_cols_duck()}
      FROM sigs
    ),
    pairs AS ({pair_union}),
    cand AS (
      SELECT doc_a AS query_id, doc_b AS neighbor_id FROM pairs
      UNION ALL
      SELECT doc_b AS query_id, doc_a AS neighbor_id FROM pairs
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             floor(CAST(len(list_intersect(sa.shingles, sb.shingles))
                        AS DOUBLE)
                   / len(list_distinct(sa.shingles || sb.shingles))
                   * 10000 + 0.5) / 10000 AS jaccard
      FROM cand c
      JOIN shingled sa ON sa.doc_id = c.query_id
      JOIN shingled sb ON sb.doc_id = c.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, jaccard,
             row_number() OVER (
               PARTITION BY query_id ORDER BY jaccard DESC, neighbor_id
             ) AS rnk
      FROM scored
    )
    SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, jaccard
    FROM ranked WHERE rnk <= {TEXT_TOPK}
    ORDER BY query_id, rnk
    """


@query("text_jaccard_topk", oracle=_text_topk_oracle())
def text_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-similar-documents serving — the READ path of the text
    MinHash index (dedup_minhash is its write path): for every doc
    in the augmented dedup corpus, the top-K (K = TEXT_TOPK) most
    similar others by EXACT shingle Jaccard among its MinHash band
    candidates, deterministic ties by neighbor id. Unlike the
    maintenance path there is no threshold: serving ranks EVERY
    banded candidate, so sub-threshold near-misses are visible —
    exactly what a "find documents like this one" endpoint returns.

    Scale shape: candidates come from the memoized banded signature
    table through the skew-salted bucket join (the ONE code path
    dedup_minhash certifies — never all-pairs; at 100 TB the
    signature table is the published index this query probes), the
    rerank joins candidate ids back to the signature table's shingle
    column, and the per-query top-K is a window over the
    band-bounded candidate set. Ranking uses the ROUNDED Jaccard
    (the dedup tier's floor(x*10000+0.5)/10000 — exact in both
    engines) so tie groups are engine-portable.

    Oracle: the same derivation over the dedup tier's registered SQL
    fragments (one fragment set for maintenance and serving, the
    _hamming_topk_oracle discipline)."""
    from .dedup_ops import (
        minhash_band_pairs,
        minhash_signatures,
        rounded_jaccard,
    )

    sigs = minhash_signatures(spark, sf_dir)
    pairs = minhash_band_pairs(spark, sf_dir)
    cand = pairs.select(
        F.col("doc_a").alias("query_id"),
        F.col("doc_b").alias("neighbor_id"),
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias("query_id"),
            F.col("doc_a").alias("neighbor_id"),
        )
    )
    sa = sigs.select(
        F.col("doc_id").alias("query_id"), F.col("shingles").alias("sh_a")
    )
    sb = sigs.select(
        F.col("doc_id").alias("neighbor_id"), F.col("shingles").alias("sh_b")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("jaccard"), "neighbor_id"
    )
    return (
        cand.join(sa, "query_id")
        .join(sb, "neighbor_id")
        .withColumn("jaccard", rounded_jaccard())
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= TEXT_TOPK)
        .select("query_id", "rnk", "neighbor_id", "jaccard")
        .orderBy("query_id", "rnk")
    )


# --------------------------------------- streaming MinHash ingest

# Scratch-base env var for the replay harness (the media engine's
# ing_env convention); per-run mkdtemp + rmtree in the finally, so
# no cross-run contamination regardless of the base.
TEXT_INGEST_ENV = "SPARK_GRAFT_TEXT_INGEST_STORE"

# Replay micro-batch count (the media engine's n_slices protocol).
N_TEXT_SLICES = 3


@query(
    "stream_text_neardup_ingest",
    oracle=ORACLE["dedup_minhash"],
)
@memoized
def stream_text_neardup_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Structured Streaming TEXT index maintenance — the media
    engine's replay protocol (media_index.streaming_ingest) applied
    to the MinHash index, completing streaming ingest across all
    four dedup families: doc_id range slices of the augmented corpus
    partition it into micro-batches; per batch, ONLY the arrivals
    run the Arrow signature pass (dedup_ops.sig_frame — the exact
    kernel the full table runs), the batch's bands APPEND to an
    accumulated BUCKETED band table which the batch then probes
    (bucket layout, no per-batch band re-derivation), and the
    verified jaccard >= threshold pair delta appends to the pair
    store. Slices partition the corpus, so each pair is found
    exactly once — in its later member's batch — and the union of
    per-batch deltas equals the FULL rebuild exactly. Oracle: the
    registered dedup_minhash SQL verbatim.

    Scale shape: per-batch cost is arrival-proportional (sign the
    batch, probe the bucketed store, verify against the accumulated
    signature store); nothing about earlier batches is re-signed or
    re-banded. At 100 TB this is the text-dedup ingest job: a day's
    crawl streams in, the published index absorbs it."""
    from ..ingest import replay_ingest
    from .dedup_ops import _augmented_docs, jaccard_verify, sig_frame

    return replay_ingest(
        spark,
        _augmented_docs(spark, sf_dir),
        slice_col="doc_id",
        state_frame=lambda s, bdf: sig_frame(bdf.select("doc_id", "text")),
        index_select=lambda st: st.select("doc_id", "shingles"),
        band_frame=lambda st: st.select(
            "doc_id",
            F.posexplode(F.array(*_band_cols_spark())).alias(
                "band_idx", "band"
            ),
        ),
        verify=jaccard_verify,
        id_col="doc_id",
        pair_cols=("doc_a", "doc_b"),
        band_cols=("band_idx", "band"),
        pair_schema="doc_a long, doc_b long, jaccard double",
        store_env=TEXT_INGEST_ENV,
        scratch_prefix="textingest_",
        table_prefix="textingest_bands_",
        n_slices=N_TEXT_SLICES,
    )


# --------------------------------- incremental cluster maintenance


def text_cluster_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignments over the EXISTING text corpus (doc_id % 10
    != _NEW_BATCH_RESIDUE) as a PUBLISHED artifact — the state
    incremental cluster maintenance starts from, completing the text
    tier's store symmetry with media_index.cluster_store and
    embedding_index.cluster_store.

    Columns: (doc_id, cluster_id), cluster_id = min member id;
    singletons map to themselves. Content-addressed UNDER the pair
    store's fingerprint directory (same fixture bytes + live MinHash
    constants), residue in the leaf name — the media-tier layout."""
    from ..operators import label_clusters
    from ..storeutil import published
    from .curation_ops import _NEW_BATCH_RESIDUE
    from .dedup_ops import (
        _augmented_docs,
        pair_store_dir,
        verified_pair_store,
    )

    def build() -> DataFrame:
        is_existing = lambda c: (F.col(c) % 10) != _NEW_BATCH_RESIDUE  # noqa: E731
        pairs = verified_pair_store(spark, sf_dir).filter(
            is_existing("doc_a") & is_existing("doc_b")
        )
        ids = (
            _augmented_docs(spark, sf_dir)
            .select("doc_id")
            .filter(is_existing("doc_id"))
        )
        return label_clusters(ids, pairs, "doc_id", ("doc_a", "doc_b"))

    return published(
        spark,
        pair_store_dir(sf_dir, f"text_clusters_r{_NEW_BATCH_RESIDUE}"),
        build,
    )


def _text_cluster_full_oracle() -> str:
    """Components of the FULL MinHash near-dup graph over every
    augmented doc (the registered dedup_minhash pair SQL verbatim as
    the edge set) — the full-rebuild oracle the incremental merge
    must reproduce exactly."""
    return f"""
    WITH RECURSIVE aug AS ({_AUG_SQL}),
    fp AS ({ORACLE["dedup_minhash"]}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM fp
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM fp
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM aug
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )
    SELECT src AS doc_id, min(dst) AS cluster_id
    FROM reach GROUP BY src ORDER BY doc_id
    """


@query(
    "text_neardup_clusters_incremental",
    oracle=_text_cluster_full_oracle(),
)
def text_neardup_clusters_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental TEXT cluster maintenance — the media engine's
    star-contraction merge argument applied to the MinHash near-dup
    graph, completing incremental maintenance at every lifecycle
    level for every dedup family: the existing corpus's cluster
    table (components over verified pairs whose BOTH endpoints
    predate the arrival batch — doc_id % 10 != 7, the
    neardup_incremental batch definition; augmented twin ids inherit
    the residue) contributes one star edge per non-root member, the
    registered arrival-proportional pair delta (neardup_incremental)
    contributes the only new connectivity, and component resolution
    runs over that contracted graph. Nothing about the existing
    corpus is re-signed, re-banded, or re-clustered.

    Correctness: the full pair set partitions into
    existing-x-existing pairs (contracted into the stars) and pairs
    touching an arrival (the delta — neardup_incremental's oracle
    restriction), so components over (stars ∪ delta) equal the full
    rebuild's components; labels are vertex ids, so the min-id label
    recovers the exact minimum member. Oracle: the full rebuild
    (reachability over the registered dedup_minhash pair SQL); the
    existing corpus's clustering is the PUBLISHED
    ``text_cluster_store``."""
    from ..operators import merge_clusters
    from .curation_ops import neardup_incremental
    from .dedup_ops import _augmented_docs

    return merge_clusters(
        stored=text_cluster_store(spark, sf_dir),
        delta=neardup_incremental(spark, sf_dir),
        ids=_augmented_docs(spark, sf_dir).select("doc_id"),
        id_col="doc_id",
        pair_cols=("doc_a", "doc_b"),
    ).orderBy("doc_id")
