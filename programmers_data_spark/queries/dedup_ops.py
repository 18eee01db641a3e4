"""Deduplication operators over `documents` (north-star tier).

- dedup_exact:    content-hash groupBy keep-first (the 100 TB
                  workhorse: one shuffle on a 128-bit key).
- dedup_minhash:  shingle → MinHash signature → LSH banding →
                  candidate pairs → n-gram Jaccard verify. Expressed
                  entirely in portable hash/string primitives (md5 +
                  lexicographic min) so DuckDB recomputes it exactly.
- ngram_jaccard:  brute-force pairwise Jaccard on a bounded doc
                  subset — the oracle-checkable ground truth for the
                  LSH path.
- dedup_simhash:  64-bit SimHash near-dup keys from md5-derived token
                  bits — fully hash-parity-checked against a DuckDB
                  bit-vote oracle (hex-slice → UBIGINT → per-bit
                  votes).

The fixtures contain no duplicate texts at the correctness SF, so the
near-dup queries first augment the corpus with deterministic mutated
copies (every 20th doc, first 8 words dropped) — both engines build
the same augmented corpus before deduping it.

Scale posture: MinHash-LSH is the linear-time path — signatures are a
map-only pass; candidate generation is a groupBy on band keys (LSH
bucket join), never an all-pairs product. Brute-force Jaccard exists
only as a bounded-subset oracle. At 100 TB the band-bucket join is
salted on hot buckets and the signature table is written once and
reused per incoming batch.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..memo import memoized
from ..operators import salted_band_pairs
from ..registry import query
from ..storeutil import artifact_dir, published

N_HASHES = 8
BAND_SIZE = 2  # 4 bands × rows of 2 → catches jaccard ≳ 0.5
# Verify-stage Jaccard cutoff. The pair-store content address
# interpolates THIS constant (r8 ADVICE: a hand-written literal there
# would let a future threshold change silently serve stale published
# pairs to every composition query). The registered oracle SQL strings
# embed the value as a literal by necessity — test_round9 asserts they
# stay in sync with the constant.
JACCARD_THRESHOLD = 0.5
# ASCII flag: Java regex / RE2 \s is ASCII-only; Python's default
# would also split on unicode whitespace and diverge from the oracle.
_WS = re.compile(r"\s+", re.ASCII)

# ---------------------------------------------------------------------------
# shared corpus augmentation (identical in Spark and DuckDB)

# coalesce: DuckDB's array_to_string over an EMPTY slice yields NULL
# where Spark's concat_ws yields '' — for a mutated doc with ≤8 tokens
# the two engines would otherwise disagree (found by the adversarial-
# corpus sweep in test_edge_fixtures; current driver fixtures happen to
# have no such doc at a %20 position, i.e. this was latent)
_AUG_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         coalesce(array_to_string(toks[9:len(toks)], ' '), '') AS text
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '') AS toks
    FROM documents
    WHERE doc_id % 20 = 0
  )
"""


def _augmented_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != F.lit(""))
    mutated = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat_ws(
                # length clamped at 0: for docs under 9 tokens a
                # negative slice length is a runtime error in Spark,
                # while DuckDB's toks[9:len(toks)] yields [] — clamp
                # so both engines agree on empty text
                " ", F.slice(toks, 9, F.greatest(F.size(toks) - F.lit(8), F.lit(0)))
            ).alias("text"),
        )
    )
    return docs.unionByName(mutated)


# word-3-gram shingles, as expressions both engines evaluate identically
def _shingles_spark() -> F.Column:
    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != F.lit(""))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 3)),
        )
    )


# coalesce INSIDE the lambda: for a zero-token doc the slice is empty,
# DuckDB's array_to_string returns NULL, and list_distinct silently
# DROPS NULLs — yielding shingle set [] where Spark builds [''] (the
# degenerate whole-text shingle). Coalescing first keeps both engines
# on [''] so empty docs are mutual near-dups (consistent with
# dedup_exact, where identical empty texts hash equal).
_SHINGLES_DUCK = """
  list_distinct(list_transform(
    generate_series(1, greatest(len(toks) - 2, 1)),
    i -> coalesce(array_to_string(toks[i:i+2], ' '), '')
  ))
"""

_TOKS_DUCK = "list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '')"


@query(
    "dedup_exact",
    oracle=f"""
    WITH aug AS ({_AUG_SQL}),
    hashed AS (SELECT doc_id, md5(text) AS content_hash FROM aug)
    SELECT doc_id, content_hash
    FROM (
      SELECT doc_id, content_hash,
             row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
      FROM hashed
    )
    WHERE rn = 1
    ORDER BY doc_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 content hash, keep lowest doc_id per hash.
    One shuffle on the hash; at 100 TB this is a groupBy(min) — no
    window needed — but the window form keeps full-row survivorship."""
    aug = _augmented_docs(spark, sf_dir)
    hashed = aug.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("content_hash")
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "content_hash")
        .orderBy("doc_id")
    )


# MinHash_i = lexicographic min over shingles of hex digits [4i, 4i+4)
# of md5(shingle): the "one hash, split bits" construction — one md5
# per shingle instead of N_HASHES, with 8 disjoint 16-bit slices
# acting as the independent hash family. Portable: md5 hex + substr +
# string min evaluate identically in Spark, Python, and DuckDB.
def _minhash_sig_duck() -> str:
    return ",\n".join(
        f"list_min(list_transform(shingles, s -> substr(md5(s), {1 + 4 * i}, 4)))"
        f" AS mh{i}"
        for i in range(N_HASHES)
    )


def _band_cols_spark() -> list[F.Column]:
    return [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"mh{j}") for j in range(b, b + BAND_SIZE)]
            ).cast("binary")
        ).alias(f"band{b // BAND_SIZE}")
        for b in range(0, N_HASHES, BAND_SIZE)
    ]


def _band_cols_duck() -> str:
    return ",\n".join(
        "md5("
        + " || '|' || ".join(f"mh{j}" for j in range(b, b + BAND_SIZE))
        + f") AS band{b // BAND_SIZE}"
        for b in range(0, N_HASHES, BAND_SIZE)
    )


_N_BANDS = N_HASHES // BAND_SIZE


def sig_frame(docs: DataFrame) -> DataFrame:
    """The Arrow MinHash signature pass over an ARBITRARY
    (doc_id, text) frame — tokenizing, 3-gram shingling, and 8×md5
    MinHash in ONE Arrow-batched pass (hashlib md5 emits the
    identical hex the oracle's md5() does, so parity is untouched).
    Factored out of minhash_signatures so a streaming-ingest batch
    can run the EXACT kernel the full table runs (the media engine's
    hash_frame seam, applied to the text tier)."""

    def _sig_batches(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            out_sh, out_mh = [], [[] for _ in range(N_HASHES)]
            for text in pdf["text"]:
                toks = [t for t in _WS.split(text.strip()) if t]
                n = max(len(toks) - 2, 1)
                sh = list(
                    dict.fromkeys(
                        " ".join(toks[i : i + 3]) for i in range(n)
                    )
                )
                out_sh.append(sh)
                digests = [hashlib.md5(s.encode()).hexdigest() for s in sh]
                for i in range(N_HASHES):
                    lo = 4 * i
                    out_mh[i].append(min(d[lo : lo + 4] for d in digests))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "shingles": out_sh,
                    **{f"mh{i}": out_mh[i] for i in range(N_HASHES)},
                }
            )

    sig_schema = "doc_id long, shingles array<string>, " + ", ".join(
        f"mh{i} string" for i in range(N_HASHES)
    )
    # spread the Python stage across all cores — the parquet source is
    # one file, so without this the Arrow pass runs ~single-partition
    spark = docs.sparkSession
    return docs.repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(_sig_batches, schema=sig_schema)


@memoized
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingles + MinHash signature table over the augmented corpus —
    sig_frame applied to the full corpus. Interpreted Catalyst HOFs
    would cost ~5s/pass at sf0.1 and downstream self-joins replan it
    3-4×, hence the Arrow pass. Persisted because several downstream
    branches (pair-gen a/b sides, Jaccard verify, sketch-accuracy
    estimates) read it; at 100 TB this is the "write the signature
    table once, reuse per batch" pattern. Shared by dedup_minhash and
    minhash_jaccard_estimate (round3_ops) and near_dup_rate_by_source;
    memoized so they share one cached copy (without it a full
    run pinned 3+ identical cached copies)."""
    return sig_frame(_augmented_docs(spark, sf_dir)).persist()


@memoized
def minhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs from the banded signature table, memoized
    like the signature table itself: dedup_minhash and
    minhash_jaccard_estimate build byte-identical banding plans, and
    without sharing, each call re-persists the banding inside
    salted_band_pairs (CacheManager dedupes the storage but warns
    'already cached' — noise we keep out of clean logs).

    Skew-safe bucket join: hot band buckets (boilerplate corpora
    collapse many docs onto one signature) are measured, salted on
    the a-side, and replicated ×8 on the b-side so the quadratic
    bucket work spreads over 8 tasks instead of one straggler; cold
    buckets take the plain path. Identical pair set by construction
    (operators.salted_band_pairs; skew test in test_scale)."""
    sigs = minhash_signatures(spark, sf_dir)
    banded = sigs.select(
        "doc_id",
        F.posexplode(F.array(*_band_cols_spark())).alias("band_idx", "band"),
    )
    return salted_band_pairs(
        banded, band_cols=("band_idx", "band"), id_col="doc_id"
    )


@query(
    "dedup_minhash",
    oracle=f"""
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
    pairs AS (
      {" UNION ".join(
        f'''SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.band{i} = b.band{i} AND a.doc_id < b.doc_id'''
        for i in range(_N_BANDS)
      )}
    ),
    verified AS (
      SELECT p.doc_a, p.doc_b,
             CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / len(list_distinct(sa.shingles || sb.shingles)) AS jaccard
      FROM pairs p
      JOIN shingled sa ON sa.doc_id = p.doc_a
      JOIN shingled sb ON sb.doc_id = p.doc_b
    )
    SELECT doc_a, doc_b,
           floor(jaccard * 10000 + 0.5) / 10000 AS jaccard
    FROM verified
    WHERE jaccard >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
@memoized
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection: shingle → 8 MinHashes → 4 LSH
    bands → bucket-join candidates → exact Jaccard ≥ 0.5 verify.

    The candidate join is per-band equi-join on the band hash (LSH
    bucket join) — linear in docs + bucket collisions, never an
    all-pairs product.

    The verified pair set (dozens of rows) is persisted and memoized:
    five composition queries consume it (near_dup_rate_by_source,
    cross_source_dup_matrix, split_neardup_leakage,
    lsh_neardup_recall, dedup cluster twins), several through
    multi-branch plans that would otherwise re-run the verify join
    per branch.
    """
    sigs = minhash_signatures(spark, sf_dir)
    pairs = minhash_band_pairs(spark, sf_dir)
    return jaccard_verify(pairs, sigs).orderBy("doc_a", "doc_b").persist()


def rounded_jaccard() -> Column:
    """Exact Jaccard of the shingle arrays ``sh_a`` and ``sh_b``,
    rounded half-up to 4 places: floor(|∩|/|∪| · 1e4 + 0.5) / 1e4 —
    one IEEE division of exact integers, so both engines agree
    bitwise. The union of two shingle sets is never empty (an empty
    doc pins to the [''] whole-text shingle), so the division is
    ANSI-safe."""
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return F.floor(jac * 10000 + 0.5) / 10000


def jaccard_verify(cand: DataFrame, sigs: DataFrame) -> DataFrame:
    """Exact re-check of normalized (doc_a, doc_b) candidates against
    signature table ``sigs`` (doc_id, shingles): join both shingle
    sets, keep rounded Jaccard >= JACCARD_THRESHOLD. Columns
    (doc_a, doc_b, jaccard)."""
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", rounded_jaccard())
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# published pair-set seam (r7 verdict ask #5)

# Base directory for the published verified-pair artifact; overridable
# so a bench run can pin a fresh per-run store (bench.py does).
PAIR_STORE_ENV = "SPARK_GRAFT_PAIR_STORE"


def pair_store_dir(sf_dir: str, leaf: str = "minhash_pairs") -> str:
    """Location of sf_dir's published pair set (and, under other
    leaves, of artifacts derived from it): keyed by the documents
    fixture plus the LIVE MinHash constants dedup_minhash uses, never
    hand-written literals (r8 ADVICE: a stale literal would serve the
    old pairs after a constant change)."""
    return artifact_dir(
        PAIR_STORE_ENV, "spark_graft_pair_store", sf_dir,
        "documents.parquet",
        f"minhash|{N_HASHES}|{BAND_SIZE}|j{JACCARD_THRESHOLD}|v1", leaf,
    )


def verified_pair_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified near-dup pair set AS A PUBLISHED ARTIFACT — the
    composition queries' entry point (near_dup_rate_by_source,
    cross_source_dup_matrix, split_neardup_leakage, the curation
    pipeline).

    At 100 TB a curation run computes the MinHash pair table ONCE,
    publishes it, and every downstream consumer reads the published
    parquet — nobody re-runs the signature pass per report. This seam
    makes that the literal code path: on first use the pair set is
    computed (dedup_minhash — the producer operator keeps paying its
    own full cost wherever IT is measured) and published through the
    K8 validated-swap layer (publish_versioned); afterwards consumers
    read the artifact, so isolated per-query accounting charges each
    composer its marginal work, exactly as production would.

    Correctness is unaffected by the seam: the artifact is
    content-addressed to the fixture bytes and the parquet roundtrip
    of (long, long, double) is exact, so consumers see bit-identical
    rows either way (driver-checked via the composers' green rows)."""
    return published(
        spark, pair_store_dir(sf_dir), lambda: dedup_minhash(spark, sf_dir)
    ).orderBy("doc_a", "doc_b")


@query(
    "ngram_jaccard",
    oracle=f"""
    WITH sub AS (
      SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents WHERE doc_id < 60
    ),
    shingled AS (
      SELECT doc_id, {_SHINGLES_DUCK} AS shingles FROM sub
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           floor(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / len(list_distinct(a.shingles || b.shingles)) * 10000 + 0.5)
             / 10000 AS jaccard
    FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.shingles, b.shingles)) > 0
    ORDER BY doc_a, doc_b
    """,
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force pairwise n-gram Jaccard on a bounded subset
    (doc_id < 60): the ground-truth oracle for the LSH path. The
    all-pairs product is intentionally size-capped — at scale this
    shape only ever runs via dedup_minhash's banding."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    shingled = docs.select("doc_id", _shingles_spark().alias("shingles"))
    a = shingled.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = shingled.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.size(F.array_intersect("sh_a", "sh_b")) > 0)
        .select("doc_a", "doc_b", rounded_jaccard().alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


@query(
    "dedup_simhash",
    oracle=f"""
    WITH aug AS ({_AUG_SQL}),
    tok AS (
      SELECT doc_id, unnest({_TOKS_DUCK}) AS tok FROM aug
    ),
    h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS hv
      FROM tok
    ),
    votes AS (
      SELECT doc_id, b,
             SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM h, generate_series(0, 63) AS g(b)
      GROUP BY doc_id, b
    ),
    usig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN vote > 0
                      THEN CAST((CAST(1 AS UBIGINT) << b) AS HUGEINT)
                      ELSE 0 END) AS HUGEINT) AS us
      FROM votes GROUP BY doc_id
    )
    SELECT a.doc_id,
           CAST(CASE WHEN COALESCE(u.us, 0) >= 9223372036854775808
                     THEN COALESCE(u.us, 0) - 18446744073709551616
                     ELSE COALESCE(u.us, 0) END AS BIGINT) AS simhash,
           CAST(COALESCE(u.us, 0) // 281474976710656 AS BIGINT) AS bucket
    FROM aug a LEFT JOIN usig u ON a.doc_id = u.doc_id
    ORDER BY a.doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup keys: per-token 64-bit hash (first 8 bytes of
    md5 — the same "one portable hash, split bits" construction the
    MinHash stage uses), bit vote, sign → 64-bit signature, bucketed
    by the top 16 bits. md5-derived bits make the whole signature
    DuckDB-reproducible (hex-slice → UBIGINT → per-bit votes), so the
    previous rows-only status upgrades to full hash parity.

    SimHash is inherently map-only — each doc's signature depends only
    on its own tokens — so it runs as one Arrow pass with numpy doing
    the 64-bit-vote accumulation. (The previous explode + groupBy(64
    sums) form shuffled every token row to re-group what was never
    ungrouped.) At 100 TB this stays a linear scan; near-dup candidate
    pairs then bucket-join on the 16-bit prefix like MinHash bands.
    """

    def sim_batches(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        shifts = np.arange(64, dtype=np.uint64)
        vocab: dict[str, int] = {}  # token → uint64 hash, amortized per batch

        def _h(tok: str) -> int:
            h = vocab.get(tok)
            if h is None:
                h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
                vocab[tok] = h
            return h

        for pdf in batches:
            sigs = []
            for text in pdf["text"]:
                toks = [t for t in _WS.split(text.strip()) if t]
                if not toks:
                    sigs.append(0)
                    continue
                hs = np.fromiter(
                    (_h(t) for t in toks), dtype=np.uint64, count=len(toks)
                )
                bits = (hs[:, None] >> shifts) & np.uint64(1)  # (T, 64)
                votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
                sig = int(((votes > 0).astype(np.uint64) << shifts).sum())
                sigs.append(sig - (1 << 64) if sig >= (1 << 63) else sig)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": sigs})

    aug = _augmented_docs(spark, sf_dir)
    sigs = aug.repartition(spark.sparkContext.defaultParallelism).mapInPandas(
        sim_batches, schema="doc_id long, simhash long"
    )
    return (
        sigs.withColumn("bucket", F.shiftrightunsigned(F.col("simhash"), 48))
        .orderBy("doc_id")
    )


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE aug AS ({_AUG_SQL}),
    sub AS (
      SELECT doc_id, {_TOKS_DUCK} AS toks FROM aug WHERE doc_id % 1000000 < 120
    ),
    shingled AS (SELECT doc_id, {_SHINGLES_DUCK} AS shingles FROM sub),
    edges AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM shingled a JOIN shingled b ON a.doc_id <> b.doc_id
      WHERE floor(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / len(list_distinct(a.shingles || b.shingles)) * 10000 + 0.5)
              / 10000 >= {JACCARD_THRESHOLD}
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM shingled
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )
    SELECT src AS doc_id, min(dst) AS cluster_id
    FROM reach GROUP BY src ORDER BY doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER ASSIGNMENT — the step after pair generation
    that production dedup pipelines actually need (keep one doc per
    cluster, not one per pair): connected components over the
    jaccard ≥ 0.5 near-dup graph, cluster id = min doc_id reached.

    Pairs here are brute-force on a bounded subset (doc_id % 1e6 <
    120, same contract as ngram_jaccard) so the DuckDB oracle can
    recompute the exact graph and resolve components with a recursive
    CTE. At 100 TB the edge list comes from dedup_minhash's LSH
    banding instead, and the same connected_components operator
    (driver-side union-find, else large-star/small-star) resolves
    clusters — component resolution cost scales with the EDGE list,
    not the corpus.
    """
    return _clusters_table(spark, sf_dir)


# dedup_keep_canonical composes dedup_clusters, and connected
# components materializes EAGERLY (localCheckpoint), so an
# unshared call re-runs the whole iterative resolution and re-persists
# an identical shingle table (CacheManager 'already cached' noise).
# Memoized like the signature table: one cluster table per session
# and dataset, exactly the production shape — resolve components
# once, every downstream keep/filter step reads the same table.
@memoized
def _clusters_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import label_clusters

    sub = _augmented_docs(spark, sf_dir).filter(F.col("doc_id") % 1000000 < 120)
    shingled = sub.select("doc_id", _shingles_spark().alias("shingles")).persist()
    a = shingled.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = shingled.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    edges = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(rounded_jaccard() >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    return label_clusters(
        shingled.select("doc_id"), edges, "doc_id", ("doc_a", "doc_b")
    ).orderBy("doc_id")


@query(
    "dedup_keep_canonical",
    oracle=f"""
    WITH RECURSIVE aug AS ({_AUG_SQL}),
    sub AS (
      SELECT doc_id, {_TOKS_DUCK} AS toks FROM aug WHERE doc_id % 1000000 < 120
    ),
    shingled AS (SELECT doc_id, {_SHINGLES_DUCK} AS shingles FROM sub),
    edges AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM shingled a JOIN shingled b ON a.doc_id <> b.doc_id
      WHERE floor(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / len(list_distinct(a.shingles || b.shingles)) * 10000 + 0.5)
              / 10000 >= {JACCARD_THRESHOLD}
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM shingled
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    clusters AS (
      SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
    )
    SELECT doc_id FROM clusters WHERE doc_id = cluster_id ORDER BY doc_id
    """,
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END of the near-dup pipeline: the deduplicated corpus —
    one canonical document (min doc_id) per connected cluster, i.e.
    what actually ships to training after dedup_clusters resolves the
    graph. Composition of dedup_clusters + a filter; at 100 TB the
    cluster table is (doc_id, cluster_id) pairs, so the keep-step is
    a map-only filter — no extra shuffle over the corpus.
    """
    clusters = dedup_clusters(spark, sf_dir)
    return (
        clusters.filter(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id")
        .orderBy("doc_id")
    )


# Blocked fuzzy matching: candidates must share (lang, n_chars//20) —
# the classic entity-resolution blocking key (near-identical records
# agree on coarse attributes), bounding the pair space to
# within-block products the way LSH bands do for shingle dedup.
_FUZZY_PREFIX_LEN = 40
_FUZZY_MAX_EDITS = 10


@query(
    "fuzzy_match_pairs",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lang, n_chars // 20 AS blk,
             substring(text, 1, {_FUZZY_PREFIX_LEN}) AS pfx
      FROM documents
    )
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
           CAST(levenshtein(a.pfx, c.pfx) AS BIGINT) AS edits
    FROM b a JOIN b c
      ON a.lang = c.lang AND a.blk = c.blk AND a.doc_id < c.doc_id
    WHERE levenshtein(a.pfx, c.pfx) <= {_FUZZY_MAX_EDITS}
    ORDER BY doc_a, doc_b
    """,
)
def fuzzy_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching (entity resolution): document pairs
    whose 40-char prefixes are within {10} edits, candidates bounded
    by a (lang, length-bucket) blocking key — the third dedup family
    next to shingle-LSH (set similarity) and SimHash (bit similarity):
    EDIT similarity, the right notion for typo/OCR-grade variants
    that shingles miss. Levenshtein is an integer DP identical in
    both engines, so parity is exact with no rounding scaffold.

    Scale: the block join is a hash equi-join on the blocking key
    (never all-pairs; skewed blocks split by refining the length
    bucket), and the quadratic edit-distance DP runs only on
    within-block candidates over fixed 40-char prefixes."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr("n_chars div 20").alias("blk"),
        F.substring("text", 1, _FUZZY_PREFIX_LEN).alias("pfx"),
    )
    a = docs.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        "blk",
        F.col("pfx").alias("pfx_a"),
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"),
        "lang",
        "blk",
        F.col("pfx").alias("pfx_b"),
    )
    return (
        a.join(b, ["lang", "blk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        # threshold form runs the BANDED DP (O(len*k) not O(len^2))
        # with early exit, returning -1 past the bound and the exact
        # distance inside it — same values the oracle's unbounded
        # levenshtein produces for every surviving pair
        .withColumn(
            "edits",
            F.levenshtein("pfx_a", "pfx_b", _FUZZY_MAX_EDITS).cast("long"),
        )
        .filter(F.col("edits") >= 0)
        .select("doc_a", "doc_b", "edits")
        .orderBy("doc_a", "doc_b")
    )
