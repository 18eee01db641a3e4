"""Round-16 operators: EMBEDDING-tier lifecycle symmetry with the
hash families (r15 VERDICT ask #2) — the vector family's
arrival-proportional incremental maintenance and Structured-Streaming
ingest, built on the published stores in ``embedding_index``:

- ``embedding_neardup_incremental`` — the pair DELTA an arrival batch
  (vec_id % 10 == EMB_ARRIVAL_RESIDUE) contributes: only the batch
  pays the signature GEMM, candidates come from probing the published
  BUCKETED signature store, and the exact fold-cosine rerank verifies.
- ``embedding_neardup_clusters_incremental`` — star-contraction
  cluster merge over the published cluster table plus the arrival
  delta, completing incremental maintenance at every lifecycle level
  for all FIVE dedup families.
- ``stream_embedding_neardup_ingest`` — the shared replay-ingest
  engine (``ingest.replay_ingest``) instantiated for the vector
  family: per micro-batch, sign the arrivals, append their
  (tbl, bucket) rows to the accumulated bucketed band table, probe
  it, verify cosine against the accumulated vector store, append the
  pair delta.

All three carry full DuckDB oracles composed from the SAME
md5-derived signature fragments ``embedding_neardup_lsh`` registers
(one fragment set for batch build, maintenance, and streaming — the
discipline that keeps candidate semantics from drifting).

Reference anchor: the reference (HyeM207/Programmers-DATA) has no
vector pipeline; this tier is north-star training-data-pipeline scope
(SURVEY.md §2 "LLM-data-pipeline operators").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..embedding_index import EMB_ARRIVAL_RESIDUE
from ..memo import memoized
from ..registry import ORACLE, query
from ._oracle_shared import _DUCK_NONZERO
from .similarity_ops import (
    _DUCK_COS,
    _ND_BITS,
    _ND_SALT,
    _ND_TABLES,
    _duck_sig_ctes,
    _signature_kernel,
    NEARDUP_THRESHOLD,
    load_vectors,
)

_SIG_SCHEMA = "vec_id long, emb array<double>, tbl int, bucket long"


def _emb_pair_sql(restrict: str = "", trailing: str = "") -> str:
    """The embedding LSH pair derivation over the similarity tier's
    registered SQL fragments (nonzero corpus, md5-derived signatures,
    banded candidate self-join, exact-cosine rerank — verbatim the
    embedding_neardup_lsh fragments, so maintenance contracts cannot
    drift from the batch operator), optionally restricted (the
    incremental closed form) or re-wrapped (the cluster rebuild)."""
    return f"""
    WITH {"RECURSIVE " if trailing else ""}e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      WHERE {_DUCK_NONZERO}
    ),
    {_duck_sig_ctes(_ND_SALT, _ND_TABLES * _ND_BITS, _ND_BITS)},
    cand AS (
      SELECT DISTINCT sa.vec_id AS vec_a, sb.vec_id AS vec_b
      FROM sigs sa JOIN sigs sb
        ON sa.tbl = sb.tbl AND sa.bucket = sb.bucket
       AND sa.vec_id < sb.vec_id
    ),
    fp AS (
      SELECT vec_a, vec_b
      FROM cand
      JOIN e a ON a.vec_id = cand.vec_a
      JOIN e b ON b.vec_id = cand.vec_b
      WHERE {_DUCK_COS} >= {NEARDUP_THRESHOLD} {restrict}
    )
    {trailing or "SELECT vec_a, vec_b FROM fp ORDER BY vec_a, vec_b"}
    """


@query(
    "embedding_neardup_incremental",
    oracle=_emb_pair_sql(
        restrict=(
            f"AND (vec_a % 10 = {EMB_ARRIVAL_RESIDUE}"
            f" OR vec_b % 10 = {EMB_ARRIVAL_RESIDUE})"
        )
    ),
)
def embedding_neardup_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental EMBEDDING near-dup maintenance — the operation a
    production vector pipeline runs per ingest batch: NEW arrivals
    (vec_id % 10 == EMB_ARRIVAL_RESIDUE) are signed (only the batch
    pays the Arrow GEMM) and their (tbl, bucket) rows probe the
    PUBLISHED BUCKETED signature store — arrival × (existing +
    arrivals) candidates with no Exchange and no per-run O(index)
    signature re-derivation on the index side; the exact fold-cosine
    rerank verifies. Output: exactly the pair delta the batch
    contributes.

    Correctness: incremental ≡ full — hyperplane signatures are
    per-vector local and the cosine is per-pair local, so the delta
    has a closed form: the FULL rebuild's pairs restricted to those
    touching an arrival. The oracle IS that restriction over the
    registered embedding_neardup_lsh fragments, so any asymmetry in
    the incremental probe breaks the hash.

    Scale shape: cost proportional to the ARRIVAL batch and its
    bucket mates, never the index size — at 100 TB this is the
    vector-dedup ingest job absorbing a day's crawl."""
    from ..embedding_index import sig_store, verify_pairs
    from ..operators import band_probe

    emb = load_vectors(spark, sf_dir)
    arrivals = emb.filter(F.col("vec_id") % 10 == EMB_ARRIVAL_RESIDUE)
    asig = arrivals.mapInPandas(
        _signature_kernel(_ND_SALT, _ND_TABLES, _ND_BITS),
        schema=_SIG_SCHEMA,
    ).select("vec_id", "tbl", "bucket")
    cand = band_probe(
        asig, sig_store(spark, sf_dir), "vec_id", ("tbl", "bucket"),
        ("vec_a", "vec_b"),
    )
    # exact verification: Arrow GEMM prefilter with the guard band,
    # decisive fold-cosine on the survivors (the lsh discipline —
    # the interpreted fold over the full L·N/2^k candidate set would
    # dominate the query's cost)
    return verify_pairs(cand, emb).orderBy("vec_a", "vec_b")


@query(
    "embedding_neardup_clusters_incremental",
    oracle=_emb_pair_sql(
        trailing=""",
    edges AS (
      SELECT vec_a AS a, vec_b AS b FROM fp
      UNION ALL
      SELECT vec_b AS a, vec_a AS b FROM fp
    ),
    reach(src, dst) AS (
      SELECT vec_id, vec_id FROM e
      UNION
      SELECT r.src, g.b FROM reach r JOIN edges g ON r.dst = g.a
    )
    SELECT src AS vec_id, min(dst) AS cluster_id
    FROM reach GROUP BY src ORDER BY vec_id
    """,
    ),
)
def embedding_neardup_clusters_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental EMBEDDING cluster maintenance — the star-contraction
    merge argument applied to the vector near-dup graph, completing
    incremental maintenance at every lifecycle level for all five
    dedup families: the PUBLISHED cluster table (components over
    verified pairs whose BOTH endpoints predate the arrival batch)
    contributes one star edge per non-root member, the registered
    arrival-proportional pair delta contributes the only new
    connectivity, and component resolution runs over that contracted
    graph. Nothing about the existing corpus is re-signed, re-banded,
    or re-clustered.

    Correctness: the full pair set partitions into existing×existing
    pairs (contracted into the stars) and pairs touching an arrival
    (the delta — embedding_neardup_incremental's oracle restriction),
    so components over (stars ∪ delta) equal the full rebuild's;
    labels are vertex ids, so the min-id component label recovers the
    exact minimum member. Oracle: the full rebuild (reachability over
    the registered LSH pair fragments)."""
    from ..embedding_index import cluster_store
    from ..operators import merge_clusters

    return merge_clusters(
        stored=cluster_store(spark, sf_dir),
        delta=embedding_neardup_incremental(spark, sf_dir),
        ids=load_vectors(spark, sf_dir).select("vec_id"),
        id_col="vec_id",
        pair_cols=("vec_a", "vec_b"),
    ).orderBy("vec_id")


# Replay micro-batch count (the engine's n_slices protocol).
N_EMB_SLICES = 3


@query(
    "stream_embedding_neardup_ingest",
    oracle=ORACLE["embedding_neardup_lsh"],
)
@memoized
def stream_embedding_neardup_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Structured Streaming EMBEDDING index maintenance — the shared
    replay-ingest engine instantiated for the vector family,
    completing streaming ingest across all five dedup families:
    vec_id range slices of the nonzero corpus partition it into
    micro-batches; per batch, ONLY the arrivals run the Arrow
    signature GEMM (the exact kernel embedding_neardup_lsh runs), the
    batch's (tbl, bucket) rows APPEND to an accumulated BUCKETED band
    table which the batch then probes, and the fold-cosine-verified
    pair delta appends to the pair store. Slices partition the
    corpus, so each pair is found exactly once — in its later
    member's batch — and the union of per-batch deltas equals the
    FULL rebuild exactly. Oracle: the registered
    embedding_neardup_lsh SQL verbatim.

    Scale shape: per-batch cost is arrival-proportional (sign the
    batch, probe the bucketed store, verify against the accumulated
    vector store); nothing about earlier batches is re-signed or
    re-banded. At 100 TB this is the vector-index ingest job: a day's
    embeddings stream in, the published ANN index absorbs them."""
    from ..embedding_index import EMB_INGEST_ENV, verify_pairs
    from ..ingest import replay_ingest

    kernel = _signature_kernel(_ND_SALT, _ND_TABLES, _ND_BITS)

    return replay_ingest(
        spark,
        load_vectors(spark, sf_dir),
        slice_col="vec_id",
        state_frame=lambda s, bdf: bdf.mapInPandas(
            kernel, schema=_SIG_SCHEMA
        ),
        # the kernel emits one row per (vector, table); tbl == 0
        # deterministically picks one (vec_id, emb) row per vector
        # for the accumulated verify-side store
        index_select=lambda st: st.filter(F.col("tbl") == 0).select(
            "vec_id", "emb"
        ),
        band_frame=lambda st: st.select("vec_id", "tbl", "bucket"),
        verify=verify_pairs,
        id_col="vec_id",
        pair_cols=("vec_a", "vec_b"),
        band_cols=("tbl", "bucket"),
        pair_schema="vec_a long, vec_b long",
        store_env=EMB_INGEST_ENV,
        scratch_prefix="embingest_",
        table_prefix="embingest_bands_",
        n_slices=N_EMB_SLICES,
    )


# ----------------------------------- published-store report reads

# Cosine cut points for the tuning sweep, in exact basis points (the
# store's cos_bp is floor(cos*1e4+0.5) on the fold cosine both
# engines share bitwise, so >= against these integer literals is
# exact). The grid starts at the live verify threshold — the store
# holds every pair with cos >= NEARDUP_THRESHOLD, so the sweep is
# exact BY CONSTRUCTION from that point up; below it the banded
# candidates no longer guarantee recall, which is exactly why lower
# rows are not offered (the dedup_threshold_sweep discipline).
EMB_SWEEP_BPS = (4200, 4400, 4600, 4800, 5000, 5500)


def _emb_store_sql(trailing: str) -> str:
    """The pair-store content (pairs + exact cos basis points) as a
    reusable oracle prefix: the registered LSH fragments re-ranked
    with the same floor(cos*1e4+0.5) the store producer writes."""
    return _emb_pair_sql(
        trailing=f""",
    store AS (
      SELECT fp.vec_a, fp.vec_b,
             CAST(floor(({_DUCK_COS.replace("a.emb", "a2.emb").replace("b.emb", "b2.emb")}) * 10000 + 0.5) AS BIGINT)
               AS cos_bp
      FROM fp
      JOIN e a2 ON a2.vec_id = fp.vec_a
      JOIN e b2 ON b2.vec_id = fp.vec_b
    )
    {trailing}
    """
    )


def _emb_sweep_oracle() -> str:
    grid_rows = " UNION ALL ".join(
        f"SELECT {bp} AS threshold_bps" for bp in EMB_SWEEP_BPS
    )
    return _emb_store_sql(
        f""",
    grid AS ({grid_rows})
    SELECT CAST(g.threshold_bps AS BIGINT) AS threshold_bps,
           CAST(count(s.vec_a) AS BIGINT) AS n_pairs
    FROM grid g LEFT JOIN store s ON s.cos_bp >= g.threshold_bps
    GROUP BY g.threshold_bps
    ORDER BY threshold_bps
    """
    )


@query("embedding_threshold_sweep", oracle=_emb_sweep_oracle())
def embedding_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The vector family's threshold tuning curve — the read an
    operator does before committing a semantic-dedup config: verified
    near-dup pair counts at cosine cut points (exact basis points,
    4200..5500), from the PUBLISHED pair store's cos_bp column. A
    cliff marks the natural dup/distinct separation. The sweep starts
    at the live verify threshold because that is the exact-recall
    region the banded candidates guarantee (the
    dedup_threshold_sweep discipline).

    Scale shape: no join carries the pair data — each stored pair row
    explodes the 6-element literal grid, filters, and feeds one
    map-side-combinable groupBy (linear in the bounded published
    store; no re-signing, no re-banding); the literal grid only
    zero-fills the output through an equi left join."""
    from ..embedding_index import pair_store

    sp = pair_store(spark, sf_dir).select("cos_bp")
    arr = F.array(*[F.lit(int(b)) for b in EMB_SWEEP_BPS])
    counts = (
        sp.select(F.explode(arr).alias("threshold_bps"), "cos_bp")
        .filter(F.col("cos_bp") >= F.col("threshold_bps"))
        .groupBy("threshold_bps")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    grid = spark.range(1).select(
        F.explode(arr).alias("threshold_bps")
    )
    return (
        grid.join(counts, "threshold_bps", "left")
        .select(
            F.col("threshold_bps").cast("long").alias("threshold_bps"),
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
        )
        .orderBy("threshold_bps")
    )


def _emb_dup_rate_oracle() -> str:
    return _emb_store_sql(
        """,
    members AS (
      -- explicit DISTINCT over UNION ALL: under WITH RECURSIVE
      -- (inherited from the shared fragment prefix) DuckDB does NOT
      -- apply set-union dedup to this CTE's plain UNION (measured:
      -- 54 rows from 27 pairs with 51 distinct members)
      SELECT DISTINCT vec_id FROM (
        SELECT vec_a AS vec_id FROM store
        UNION ALL
        SELECT vec_b AS vec_id FROM store
      )
    ),
    base AS (
      SELECT em.label, count(*) AS n_vectors
      FROM e JOIN embeddings em ON em.vec_id = e.vec_id
      GROUP BY em.label
    ),
    dups AS (
      SELECT em.label, count(*) AS n_dup_members
      FROM members m JOIN embeddings em ON em.vec_id = m.vec_id
      GROUP BY em.label
    )
    SELECT b.label,
           CAST(b.n_vectors AS BIGINT) AS n_vectors,
           CAST(coalesce(d.n_dup_members, 0) AS BIGINT) AS n_dup_members,
           CAST(coalesce(d.n_dup_members, 0) * 10000 // b.n_vectors
                AS BIGINT) AS dup_bp
    FROM base b LEFT JOIN dups d ON d.label = b.label
    ORDER BY b.label
    """
    )


@query("embedding_dup_rate_by_label", oracle=_emb_dup_rate_oracle())
def embedding_dup_rate_by_label(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-label semantic duplication report — the vector analog of
    near_dup_rate_by_source: for each label, how many of its
    (nonzero) vectors participate in at least one verified near-dup
    pair, as an exact integer rate in basis points (10000 * members
    div vectors — single integer division, engine-portable). The
    curation read that decides which label buckets need semantic
    dedup before training.

    Composes ONLY the published pair store (nothing re-derives the
    pair set); the label join reads the embeddings table's metadata
    columns. Zero-filled per label via a left join, so labels with no
    dups report 0 — absent rows would read as 'not measured'."""
    from ..catalog import load_table
    from ..embedding_index import pair_store

    sp = pair_store(spark, sf_dir)
    members = (
        sp.select(F.col("vec_a").alias("vec_id"))
        .unionByName(sp.select(F.col("vec_b").alias("vec_id")))
        .distinct()
    )
    labels = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label"
    )
    base = (
        load_vectors(spark, sf_dir)
        .select("vec_id")
        .join(labels, "vec_id")
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    )
    dups = (
        members.join(labels, "vec_id")
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_members"))
    )
    return (
        base.join(dups, "label", "left")
        .select(
            "label",
            "n_vectors",
            F.coalesce("n_dup_members", F.lit(0))
            .cast("long")
            .alias("n_dup_members"),
            F.expr("coalesce(n_dup_members, 0) * 10000 div n_vectors")
            .cast("long")
            .alias("dup_bp"),
        )
        .orderBy("label")
    )
