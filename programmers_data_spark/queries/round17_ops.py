"""Round-17 operators: the EMBEDDING family's published-store read
paths that close its serving asymmetry with the hash families (r16
VERDICT asks #4 and the store-read report discipline):

- ``embedding_cos_topk`` — most-similar-vectors serving that PROBES
  the PUBLISHED bucketed signature store for candidates (zero
  signature re-derivation per run — unlike ``ann_lsh_topk``, which
  signs the corpus each execution) and reranks on the exact fold
  cosine. The ``*_hamming_topk`` / ``text_jaccard_topk`` pattern
  instantiated for the vector index.
- ``embedding_cluster_profile`` — cluster-size distribution of the
  vector near-dup graph: components over the PUBLISHED pair store,
  then a histogram of component sizes. The ``neardup_cluster_profile``
  health report for the embedding family.

Both carry full DuckDB oracles composed from the SAME md5-derived
signature fragments ``embedding_neardup_lsh`` registers (one fragment
set for batch build, maintenance, streaming, and now serving — the
discipline that keeps candidate semantics from drifting).

Reference anchor: the reference (HyeM207/Programmers-DATA) has no
vector pipeline; this tier is north-star training-data-pipeline scope
(SURVEY.md §2 "LLM-data-pipeline operators").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from .round16_ops import _emb_pair_sql
from .similarity_ops import (
    _DUCK_COS,
    _DUCK_NONZERO,
    _ND_BITS,
    _ND_SALT,
    _ND_TABLES,
    _duck_sig_ctes,
    N_QUERIES,
    TOPK,
    load_vectors,
)


def _cos_topk_oracle() -> str:
    """The serving top-K derivation over the similarity tier's
    registered SQL fragments (nonzero corpus, md5-derived ND-family
    signatures — verbatim the embedding_neardup_lsh fragments, so the
    serving contract cannot drift from the maintenance contract):
    banded candidate join restricted to the query set, exact-cosine
    rerank, per-query row_number with deterministic ties (cos DESC —
    the fold cosine both engines share bitwise — then neighbor id).
    cos_bp is the store convention's exact basis points."""
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      WHERE {_DUCK_NONZERO}
    ),
    {_duck_sig_ctes(_ND_SALT, _ND_TABLES * _ND_BITS, _ND_BITS)},
    cands AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM sigs q JOIN sigs c
        ON q.tbl = c.tbl AND q.bucket = c.bucket
       AND c.vec_id != q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT cands.query_id, cands.neighbor_id, {_DUCK_COS} AS cos
      FROM cands
      JOIN e a ON a.vec_id = cands.query_id
      JOIN e b ON b.vec_id = cands.neighbor_id
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
           CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_bp
    FROM (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, neighbor_id
             ) AS rank
      FROM scored
    )
    WHERE rank <= {TOPK}
    ORDER BY query_id, rank
    """


@query("embedding_cos_topk", oracle=_cos_topk_oracle())
def embedding_cos_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-similar-vectors serving — the READ path of the published
    embedding index (the round-16 maintenance queries are its write
    path): for each query vector (vec_id < N_QUERIES, the similarity
    tier's query-set convention), the top-K (K = TOPK) most similar
    others by EXACT fold cosine among its hyperplane-LSH bucket
    mates, deterministic ties by neighbor id. Unlike the maintenance
    path there is no threshold: serving ranks EVERY banded candidate,
    so sub-threshold near-misses are visible — exactly what a "find
    vectors like this one" endpoint returns. Output carries cos_bp
    (exact basis points of the fold cosine, the pair store's
    convention), so scores are engine-portable integers.

    Closes the family's serving-read asymmetry (r16 VERDICT ask #4):
    ``ann_lsh_topk`` re-derives signatures per run (it exists to
    certify the signature kernel end-to-end); THIS query probes the
    PUBLISHED bucketed signature store on both sides — query rows
    are a filter on the store, candidates a bucket-aligned self-join
    with no Exchange and no GEMM — and only the rerank touches the
    embedding column. At 100 TB the store is the ANN index a serving
    endpoint probes; per-query cost is its bucket mates
    (~L·N/2^k), never the corpus.

    Oracle: the same derivation over the registered
    embedding_neardup_lsh fragments (one fragment set for
    maintenance and serving, the _hamming_topk_oracle discipline)."""
    from ..embedding_index import sig_store
    from .similarity_ops import fold_cos_pairs

    store = sig_store(spark, sf_dir)
    queries = store.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        "tbl",
        "bucket",
    )
    cand = (
        store.join(queries, ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    emb = load_vectors(spark, sf_dir)
    qe = emb.select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    ne = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("n_emb")
    )
    # fold_cos_pairs (r17): exact Arrow rerank over the store-probe
    # candidates — bit-identical to the interpreted fold cosine
    scored = fold_cos_pairs(
        cand.join(qe, "query_id").join(ne, "neighbor_id"),
        "q_emb",
        "n_emb",
        keep=("query_id", "neighbor_id"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOPK)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            F.floor(F.col("cos") * 10000 + F.lit(0.5))
            .cast("long")
            .alias("cos_bp"),
        )
        .orderBy("query_id", "rank")
    )


def _cluster_profile_oracle() -> str:
    """Component-size histogram over the full vector near-dup graph
    (the registered LSH pair fragments as the edge set — singleton
    vectors never enter the graph, so cluster_size >= 2 by
    construction)."""
    return _emb_pair_sql(
        trailing=""",
    g AS (
      SELECT vec_a AS a, vec_b AS b FROM fp
      UNION
      SELECT vec_b AS a, vec_a AS b FROM fp
    ),
    verts AS (SELECT DISTINCT a AS v FROM g),
    reach(src, dst) AS (
      SELECT v, v FROM verts
      UNION
      SELECT r.src, g.b FROM reach r JOIN g ON r.dst = g.a
    ),
    cc AS (
      SELECT src AS vec_id, min(dst) AS cluster_id FROM reach GROUP BY src
    ),
    sizes AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
      FROM cc GROUP BY cluster_id
    )
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_vectors
    FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """,
    )


@query("embedding_cluster_profile", oracle=_cluster_profile_oracle())
def embedding_cluster_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-size distribution of the vector near-dup graph —
    the ``neardup_cluster_profile`` health report for the embedding
    family: connected components over the PUBLISHED pair store (the
    artifact every vector-dedup composer reads), then a histogram of
    component sizes. A fat tail here means semantic boilerplate
    families, not isolated dups, and predicts how much semantic dedup
    will remove before training.

    Composes ONLY the published pair store — nothing re-signs or
    re-bands. Component resolution is edge-bounded (near-dup pairs,
    not vectors; singletons never enter the graph, so cluster_size
    >= 2 by construction), and everything after lives on
    one-row-per-cluster then one-row-per-size frames. Oracle: the
    full derivation over the registered LSH pair fragments with
    recursive-CTE component resolution."""
    from ..embedding_index import pair_store
    from ..operators import connected_components

    pairs = pair_store(spark, sf_dir).select("vec_a", "vec_b")
    labels = connected_components(pairs, "vec_a", "vec_b")
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_vectors"),
        )
        .orderBy("cluster_size")
    )
