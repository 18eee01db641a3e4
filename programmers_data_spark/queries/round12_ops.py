"""Round-12 operators: the IMAGE near-duplicate tier (r11 VERDICT
ask #5) — perceptual hashing (aHash + dHash) over PNG payloads
decoded by the repo's own pure-stdlib codec, banded LSH pair
generation, connected-component cluster resolution, and a
resize-invariance contract certifying the codec's nearest-neighbor
resize path.

This closes the one modality gap the dedup family had: every TEXT
path (exact, prefix, line, MinHash-LSH, SimHash, semantic,
winnowing, spans, incremental) existed, but no IMAGE near-dup path
despite the repo shipping a real PNG codec (multimodal/png.py).
Reference anchor: extends the dedup tier the same way dedup_ops.py
does; the reference itself has no media pipeline, so this whole
family is north-star (training-data pipeline) scope.

Synthetic corpus (the multimodal_png_roundtrip precedent — the
fixtures carry no real media, so payloads are built deterministically
from the documents table and the ARITHMETIC is what gets certified):
each document renders a 16x16 grayscale image; documents share a
"scene" (doc_id % scene_count) whose base pixels come from an
md5 counter chain keyed by the scene, and each document perturbs ONE
pixel (position/value = first two bytes of md5(text)). Scene count
scales as max(23, n_docs // 20), so scenes stay ~20 documents wide
at every corpus size and the near-dup pair volume grows LINEARLY
with the corpus — the fixture mirrors a real crawl's bounded
duplication factor instead of densifying quadratically.

Certification structure (all ten queries FULL hash parity):
- `image_dhash` — the Arrow kernel builds the pixel buffer, ENCODES
  it as a real PNG (multimodal/png.py writer), DECODES it back with
  the same module's reader, 2x2-average-pools to 8x8, and emits
  64-bit aHash (cell > mean) + dHash (cell > right neighbor, row
  wrap) packed as two non-negative 32-bit halves (lo/hi — BIGINT-safe
  in both engines; a single 64-bit pack would overflow the sign bit).
  The oracle recomputes the PRE-encode buffer's arithmetic in SQL;
  roundtrip identity (certified end-to-end by
  multimodal_png_roundtrip since r8) makes the comparison valid, so
  a green hash proves codec + pooling + threshold arithmetic.
- `image_neardup_pairs` — banded LSH over dHash (4 bands x 16 bits):
  candidates share at least one exact band bucket (an equi join,
  NEVER all-pairs — the dedup_minhash discipline), verified by full
  64-bit Hamming distance <= HAM_T via bit_count(xor) on each half.
- `image_neardup_clusters` — connected components over the near-dup
  graph (operators.connected_components, the dedup_clusters
  machinery), cluster id = min media_id reached; oracle resolves the
  same graph with a recursive CTE.
- `image_lsh_recall` — the banding's accuracy twin: per-scene recall
  of the candidate pipeline against the closed-form truth set, as
  exact integer percentages.
- `image_resize_hash_invariance` — dHash/aHash are invariant under
  the codec's 2x nearest-neighbor upscale (resize_nearest to 32x32,
  then 4x4 pooling: each source pixel is duplicated 2x2, so every
  pooled sum is exactly 4x the original and integer-div-16 returns
  the original cell). The Spark side computes hashes THROUGH the
  resize path (encode -> resize_nearest -> decode -> pool 4x4); the
  oracle is the plain 16x16 derivation — a green hash is an exact
  invariance theorem over the whole corpus and certifies
  resize_nearest's index arithmetic (previously pytest-only).
- `crossmodal_dup_consistency` — text-LSH x image-LSH pair
  adjudication over the shared augmented corpus (both/text_only/
  image_only), oracle composed from the registered dedup_minhash SQL
  and the shared image-hash fragment.
- `image_neardup_incremental` — the per-ingest-batch pair delta,
  certified by the incremental ≡ full closed form.
- `stream_image_neardup_ingest` — the same economics driven by a
  real Structured Streaming replay: per micro-batch hash + probe +
  append, the union of deltas equals the full rebuild exactly.
- `audio_fingerprint` / `audio_neardup_pairs` — the third modality:
  WAV-codec roundtrip + integer energy-delta fingerprint, deduped by
  the SAME banded pair machinery (shared on both engines).

Scale shape: one map-only Arrow pass per modality, paid once by the
published hash store (media_index.hash_store) that every full-corpus
query reads; the pair and cluster queries read the published pair
store. The band join is an equi hash join whose bucket width is
bounded by the duplication factor, component resolution is
edge-list-bounded (operators.connected_components). At 100 TB the
same kernel decodes real payload bytes from a binary column; nothing
in the plan depends on the synthetic generator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import media_index
from ..media_index import HAM_T
from ..catalog import load_table
from ..memo import memoized
from ..registry import query

# Scene sizing: ~SCENE_DOCS documents per scene, floor SCENE_MIN
# scenes so tiny fixtures still collide (23 and 20 are coprime-ish
# with every fixture size; consecutive doc_ids spread evenly).
SCENE_MIN = 23
SCENE_DOCS = 20
IMG_W = IMG_H = 16

# ------------------------------------------------ shared arithmetic


def _scene_count(n_docs: int) -> int:
    return max(SCENE_MIN, n_docs // SCENE_DOCS)


def _pixel_buffer(doc_id: int, text: str, scenes: int) -> bytearray:
    """256-byte 16x16 grayscale buffer: md5 counter chain keyed by
    the scene, one pixel overridden by the document's own md5 (the
    near-dup perturbation)."""
    import hashlib

    scene = doc_id % scenes
    buf = bytearray()
    for blk in range(16):
        buf += hashlib.md5(f"{scene}:{blk}".encode()).digest()
    nh = hashlib.md5((text or "").encode("utf-8")).digest()
    buf[nh[0]] = nh[1]
    return buf


def _perceptual_hashes(cells) -> tuple[int, int, int, int]:
    """(ahash_lo, ahash_hi, dhash_lo, dhash_hi) from an 8x8 int grid.
    aHash: cell > integer mean of the 64 cells. dHash: cell > right
    neighbor with row wrap ((c+1) % 8). Bit k = r*8 + c; packed as
    two 32-bit halves so every value stays a non-negative BIGINT."""
    import numpy as np

    cells = np.asarray(cells, dtype=np.int64).reshape(8, 8)
    m = int(cells.sum()) // 64
    abits = (cells > m).astype(np.int64).ravel()
    dbits = (cells > np.roll(cells, -1, axis=1)).astype(np.int64).ravel()
    w32 = np.int64(1) << np.arange(32, dtype=np.int64)

    def pack(bits) -> tuple[int, int]:
        return int(bits[:32] @ w32), int(bits[32:] @ w32)

    alo, ahi = pack(abits)
    dlo, dhi = pack(dbits)
    return alo, ahi, dlo, dhi


def _pool(px: bytes, width: int, block: int):
    """Average-pool a square grayscale buffer down to 8x8 with
    integer division — exact in both engines."""
    import numpy as np

    grid = np.frombuffer(bytes(px), dtype=np.uint8).astype(np.int64)
    grid = grid.reshape(width, width)
    return (
        grid.reshape(8, block, 8, block).sum(axis=(1, 3)) // (block * block)
    )


# ------------------------------------------------ oracle fragments


def _img_hash_cte(
    doc_rel: str = "documents",
    canon_mod: int | None = None,
    prefix: str = "",
) -> str:
    """The full hash derivation as DuckDB CTEs ending in `hashes`
    (media_id, scene, ahash_lo/hi, dhash_lo/hi), parameterized by the
    source relation and an optional canonical-id modulus (the
    cross-modal query keys scenes by doc_id % 1e6 so a document's
    augmented mutation renders a near-duplicate IMAGE of the
    original). One shared builder so the pair/cluster/invariance/
    cross-modal oracles cannot drift from the per-image oracle.
    ``prefix`` renames every CTE so several modalities' fragments can
    coexist in one composed oracle (the trimodal/funnel queries)."""

    def canon(alias: str) -> str:
        return (
            f"{alias}.doc_id % {canon_mod}" if canon_mod else f"{alias}.doc_id"
        )

    params, px, cells, means, abits, dbits, hashes = (
        f"{prefix}{n}"
        for n in (
            "params", "px", "cells", "means", "abits", "dbits", "hashes",
        )
    )
    return f"""
{params} AS (
  SELECT greatest({SCENE_MIN}, count(*) // {SCENE_DOCS}) AS scenes
  FROM {doc_rel}
),
{px} AS (
  SELECT d.doc_id,
         t.p,
         CASE WHEN t.p = ('0x' || substr(md5(coalesce(d.text,'')), 1, 2))::INT
              THEN ('0x' || substr(md5(coalesce(d.text,'')), 3, 2))::INT
              ELSE ('0x' || substr(
                       md5(CAST(({canon('d')}) % {params}.scenes AS VARCHAR)
                           || ':' || CAST(t.p // 16 AS VARCHAR)),
                       (t.p % 16) * 2 + 1, 2))::INT
         END AS v
  FROM {doc_rel} d, {params}, generate_series(0, 255) AS t(p)
),
{cells} AS (
  SELECT doc_id, ((p // 16) // 2) * 8 + (p % 16) // 2 AS k,
         CAST(sum(v) // 4 AS BIGINT) AS cell
  FROM {px} GROUP BY doc_id, ((p // 16) // 2) * 8 + (p % 16) // 2
),
{means} AS (
  SELECT doc_id, CAST(sum(cell) // 64 AS BIGINT) AS m
  FROM {cells} GROUP BY doc_id
),
{abits} AS (
  SELECT c.doc_id, c.k, CASE WHEN c.cell > m.m THEN 1 ELSE 0 END AS bit
  FROM {cells} c JOIN {means} m USING (doc_id)
),
{dbits} AS (
  SELECT a.doc_id, a.k, CASE WHEN a.cell > b.cell THEN 1 ELSE 0 END AS bit
  FROM {cells} a JOIN {cells} b
    ON a.doc_id = b.doc_id
   AND b.k = (a.k // 8) * 8 + ((a.k % 8) + 1) % 8
),
{hashes} AS (
  SELECT a.doc_id AS media_id,
         CAST(({canon('a')}) % (SELECT scenes FROM {params}) AS BIGINT)
           AS scene,
         CAST(sum(CASE WHEN a.bit = 1 AND a.k < 32
                       THEN (1::BIGINT) << a.k ELSE 0 END) AS BIGINT)
           AS ahash_lo,
         CAST(sum(CASE WHEN a.bit = 1 AND a.k >= 32
                       THEN (1::BIGINT) << (a.k - 32) ELSE 0 END) AS BIGINT)
           AS ahash_hi,
         CAST(sum(CASE WHEN d.bit = 1 AND d.k < 32
                       THEN (1::BIGINT) << d.k ELSE 0 END) AS BIGINT)
           AS dhash_lo,
         CAST(sum(CASE WHEN d.bit = 1 AND d.k >= 32
                       THEN (1::BIGINT) << (d.k - 32) ELSE 0 END) AS BIGINT)
           AS dhash_hi
  FROM {abits} a JOIN {dbits} d ON a.doc_id = d.doc_id AND a.k = d.k
  GROUP BY a.doc_id
)"""


_IMG_HASH_CTE = _img_hash_cte()


def _pair_cte(prefix: str = "") -> str:
    """Band + candidate + verified-pair layer on top of a `hashes`
    CTE — the ONE banding/verify fragment every media modality's
    oracle composes (image r12, audio r12, and the multi-fragment
    round-13 compositions, which prefix the CTE names so two
    modalities can coexist in one query)."""
    h, b, c, p = (f"{prefix}{n}" for n in ("hashes", "bands", "cand", "pairs"))
    return f"""
{b} AS (
  SELECT media_id, b.band,
         CASE b.band
           WHEN 0 THEN dhash_lo % 65536
           WHEN 1 THEN dhash_lo // 65536
           WHEN 2 THEN dhash_hi % 65536
           ELSE dhash_hi // 65536 END AS bval
  FROM {h}, (SELECT unnest(generate_series(0, 3)) AS band) b
),
{c} AS (
  SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b
  FROM {b} a JOIN {b} b ON a.band = b.band AND a.bval = b.bval
  WHERE a.media_id < b.media_id
),
{p} AS (
  SELECT c.media_a, c.media_b,
         CAST(bit_count(xor(ha.dhash_lo, hb.dhash_lo))
            + bit_count(xor(ha.dhash_hi, hb.dhash_hi)) AS INTEGER) AS ham_d
  FROM {c} c
  JOIN {h} ha ON ha.media_id = c.media_a
  JOIN {h} hb ON hb.media_id = c.media_b
  WHERE bit_count(xor(ha.dhash_lo, hb.dhash_lo))
      + bit_count(xor(ha.dhash_hi, hb.dhash_hi)) <= {HAM_T}
)"""


_IMG_PAIR_CTE = _pair_cte()


# ------------------------------------------------ hash table (Arrow)

# One corpus-stats aggregate shared by every media helper (r12 VERDICT
# "what's wrong" #3: the scene-sizing count ran once per helper —
# image, resize-invariance, audio, cross-modal, ingest — five
# redundant count jobs per session).
@memoized
def _doc_stats(spark: SparkSession, sf_dir: str) -> tuple[int, int, int]:
    """(n_docs, n_mod20, max_doc_id) of sf_dir's documents table —
    one bounded 3-value aggregate, memoized. n_mod20 derives the
    augmented-corpus count exactly (dedup_ops._AUG_SQL adds one
    mutated copy per doc_id % 20 == 0, nothing else), so the
    cross-modal scene sizing needs no second scan; max_doc_id guards
    the doc_id + 1e6 augmentation offset (see _xmodal_table)."""
    row = (
        load_table(spark, sf_dir, "documents")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("doc_id") % 20 == 0).alias("n20"),
            F.max("doc_id").alias("mx"),
        )
        .collect()[0]
    )  # bounded 3-value scalar
    stats = (int(row.n), int(row.n20), int(row.mx) if row.mx is not None else -1)
    return stats


def _doc_count(spark: SparkSession, sf_dir: str) -> int:
    return _doc_stats(spark, sf_dir)[0]


def _hash_frame(
    spark: SparkSession,
    docs: DataFrame,
    scenes: int,
    canon_mod: int | None = None,
) -> DataFrame:
    """The Arrow perceptual-hash kernel over a (doc_id, text) frame:
    render -> PNG encode -> PNG decode -> pool -> hash. `canon_mod`
    optionally reduces doc_id before scene keying (the cross-modal
    query maps a mutated copy at doc_id + 1e6 onto its original's
    scene)."""
    from ..multimodal.png import decode as png_decode
    from ..multimodal.png import encode as png_encode

    def hash_batches(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:  # empty Arrow batches are legal
                continue
            out = {
                "media_id": [], "scene": [], "ahash_lo": [], "ahash_hi": [],
                "dhash_lo": [], "dhash_hi": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                canon = int(doc_id) % canon_mod if canon_mod else int(doc_id)
                buf = _pixel_buffer(canon, text, scenes)
                # REAL codec roundtrip: the hash is computed from the
                # DECODED PNG, not the raw buffer (roundtrip identity
                # is what licenses the pre-encode oracle).
                raw = png_encode(IMG_W, IMG_H, bytes(buf), channels=1)
                w, h, ch, px = png_decode(raw)
                assert (w, h, ch) == (IMG_W, IMG_H, 1)
                alo, ahi, dlo, dhi = _perceptual_hashes(_pool(px, 16, 2))
                out["media_id"].append(int(doc_id))
                out["scene"].append(canon % scenes)
                out["ahash_lo"].append(alo)
                out["ahash_hi"].append(ahi)
                out["dhash_lo"].append(dlo)
                out["dhash_hi"].append(dhi)
            yield pd.DataFrame(out)

    return docs.repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(
        hash_batches,
        schema="media_id long, scene long, ahash_lo long, ahash_hi long,"
        " dhash_lo long, dhash_hi long",
    )


# Base-dir override for the published image-hash index (bench pins a
# fresh per-run dir so isolated accounting stays honest, exactly the
# PAIR_STORE_ENV treatment).
IMG_STORE_ENV = "SPARK_GRAFT_IMG_STORE"

# Arrival residue for the incremental-maintenance queries: doc_id % 3
# == 1 is "the new batch", the other residues are "the existing
# corpus" (see media_index.incremental_delta).
IMG_ARRIVAL_RESIDUE = 1

# The image tier's instantiation of the shared media-index engine
# (media_index.py); the audio and video tiers run the same code. The
# knobs keep the image tier's artifact paths, catalog names and
# scratch envs.
IMAGE_SPEC = media_index.MediaIndexSpec(
    name="image",
    store_env=IMG_STORE_ENV,
    # content-address fingerprint: LIVE algorithm constants, never
    # hand-written literals (the pair-store r8 lesson)
    algo_fp=f"imgdhash|{SCENE_MIN}|{SCENE_DOCS}|{IMG_W}x{IMG_H}|v1",
    hash_frame=_hash_frame,
    arrival_residue=IMG_ARRIVAL_RESIDUE,
    catalog_prefix="img",
    ingest_env="SPARK_GRAFT_IMG_INGEST_STORE",
    ingest_prefix="imgingest_",
)



# ------------------------------------------------ queries


@query(
    "image_dhash",
    oracle=f"""
    WITH {_IMG_HASH_CTE}
    SELECT media_id, scene, ahash_lo, ahash_hi, dhash_lo, dhash_hi
    FROM hashes ORDER BY media_id
    """,
)
def image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image perceptual hashes through the real PNG codec path
    (module docstring has the full derivation), read from the
    published hash store (media_index.hash_store), whose build is the
    map-only Arrow pass; the oracle recomputes the pre-encode
    arithmetic, so a green hash certifies encode -> decode -> pool ->
    threshold end to end."""
    return media_index.hash_store(spark, sf_dir, IMAGE_SPEC).orderBy("media_id")


def _band_frame(h: DataFrame, carry_hash: bool = False) -> DataFrame:
    """Explode the dHash into 4 x 16-bit band buckets (non-negative
    halves, so % / shiftright agree with the oracle's // 65536).
    ``carry_hash=True`` additionally keeps the two hash halves on
    every band row, so a band self-join can verify Hamming distance
    inline without joining back to the hash table (r17)."""
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            expr.alias("bval"),
        )
        for b, expr in enumerate([
            F.col("dhash_lo").bitwiseAND(F.lit(65535)),
            F.shiftright("dhash_lo", 16),
            F.col("dhash_hi").bitwiseAND(F.lit(65535)),
            F.shiftright("dhash_hi", 16),
        ])
    ])
    extra = ["dhash_lo", "dhash_hi"] if carry_hash else []
    return h.select(
        "media_id", *extra, F.explode(bands).alias("bb")
    ).select("media_id", *extra, "bb.band", "bb.bval")


def _pairs_from(h: DataFrame) -> DataFrame:
    # Carry the 64-bit hash (two non-negative 32-bit halves) THROUGH
    # the band explode so the band self-join emits fully-verifiable
    # candidate rows: the Hamming rerank is inline bit arithmetic on
    # the collision row, no join back to the hash table (two extra
    # shuffled joins to re-fetch each side's hashes), and the <= HAM_T
    # filter runs BEFORE the distinct, so rejected candidates die
    # map-side instead of crossing the dedup exchange. Cost: the
    # band-join exchange carries 2 extra longs per side; at any scale
    # that is far below two extra shuffles of the hash table + a wider
    # distinct. ham_d is a function of (media_a, media_b), so
    # distinct-on-three-columns keeps one row per pair.
    b = _band_frame(h, carry_hash=True)
    ba = b.select(
        "band", "bval",
        F.col("media_id").alias("media_a"),
        F.col("dhash_lo").alias("lo_a"),
        F.col("dhash_hi").alias("hi_a"),
    )
    bb = b.select(
        "band", "bval",
        F.col("media_id").alias("media_b"),
        F.col("dhash_lo").alias("lo_b"),
        F.col("dhash_hi").alias("hi_b"),
    )
    return (
        ba.join(bb, ["band", "bval"])
        .filter(F.col("media_a") < F.col("media_b"))
        .withColumn("ham_d", media_index.ham_distance())
        .filter(F.col("ham_d") <= HAM_T)
        .select("media_a", "media_b", "ham_d")
        .distinct()
    )


@query(
    "image_neardup_pairs",
    oracle=f"""
    WITH {_IMG_HASH_CTE},
    {_IMG_PAIR_CTE}
    SELECT media_a, media_b, ham_d FROM pairs
    ORDER BY media_a, media_b
    """,
)
def image_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH near-duplicate image pairs: candidates share an
    exact 16-bit dHash band (equi join over the exploded band table —
    never all-pairs), then the full 64-bit Hamming distance verifies
    <= HAM_T. Both engines apply the identical band rule, so the
    candidate set itself is deterministic and the output reaches full
    hash parity. Measured sf0.1: 47.5k within-scene pairs all kept
    (max distance 4), ~3.7k cross-scene candidates all rejected.
    Reads the published pair store (media_index.pair_store)."""
    return media_index.pair_store(spark, sf_dir, IMAGE_SPEC).orderBy(
        "media_a", "media_b"
    )


@query(
    "image_neardup_clusters",
    oracle=f"""
    WITH RECURSIVE {_IMG_HASH_CTE},
    {_IMG_PAIR_CTE},
    edges AS (
      SELECT media_a AS a, media_b AS b FROM pairs
      UNION ALL
      SELECT media_b AS a, media_a AS b FROM pairs
    ),
    reach(src, dst) AS (
      SELECT media_id, media_id FROM hashes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )
    SELECT src AS media_id, min(dst) AS cluster_id
    FROM reach GROUP BY src ORDER BY media_id
    """,
)
def image_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignment over the image near-dup graph — the step a
    real media-dedup pipeline keeps one representative per cluster
    with: connected components (operators.connected_components —
    driver-side union-find, else large-star/small-star; cost bounded
    by the EDGE list), cluster id = min media_id reached; singletons
    keep their own id. Oracle: recursive-CTE reachability over the
    identical pair set (the dedup_clusters precedent)."""
    return media_index.neardup_clusters(spark, sf_dir, IMAGE_SPEC)


@query(
    "image_lsh_recall",
    oracle=f"""
    WITH {_IMG_HASH_CTE},
    {_IMG_PAIR_CTE},
    truth AS (
      SELECT ha.scene, ha.media_id AS media_a, hb.media_id AS media_b
      FROM hashes ha JOIN hashes hb
        ON ha.scene = hb.scene AND ha.media_id < hb.media_id
      WHERE bit_count(xor(ha.dhash_lo, hb.dhash_lo))
          + bit_count(xor(ha.dhash_hi, hb.dhash_hi)) <= {HAM_T}
    ),
    found AS (
      SELECT t.scene, t.media_a, t.media_b
      FROM truth t JOIN pairs p
        ON p.media_a = t.media_a AND p.media_b = t.media_b
    )
    SELECT s.scene,
           CAST(s.n_true AS BIGINT) AS n_true,
           CAST(coalesce(f.n_found, 0) AS BIGINT) AS n_found,
           CAST(coalesce(f.n_found, 0) * 100 // s.n_true AS BIGINT)
             AS recall_pct
    FROM (SELECT scene, count(*) AS n_true FROM truth GROUP BY scene) s
    LEFT JOIN (
      SELECT scene, count(*) AS n_found FROM found GROUP BY scene
    ) f ON f.scene = s.scene
    ORDER BY s.scene
    """,
)
def image_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for the banded image LSH — the accuracy twin
    every other LSH/ANN path in the repo carries (lsh_neardup_recall,
    ann/ivf/pq_recall_at5): ground truth is the set of within-scene
    pairs at Hamming <= HAM_T (an equi join on the scene key — the
    truth set is closed-form here, never an all-pairs scan), found is
    the band-candidate pipeline's verified output intersected with
    the truth, reported per scene as an exact integer percentage.
    Banding can only MISS (a >=5-bit spread across all 4 bands), so
    recall_pct <= 100 structurally; measured 100 at every SF."""
    return media_index.lsh_recall(spark, sf_dir, IMAGE_SPEC)


@query(
    "image_resize_hash_invariance",
    oracle=f"""
    WITH {_IMG_HASH_CTE}
    SELECT media_id, ahash_lo, ahash_hi, dhash_lo, dhash_hi
    FROM hashes ORDER BY media_id
    """,
)
def image_resize_hash_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize-invariance theorem: hashes computed THROUGH the codec's
    2x nearest-neighbor upscale (encode 16x16 -> resize_nearest to
    32x32 -> decode -> 4x4 average pool) equal the plain 16x16
    derivation exactly — each source pixel duplicates 2x2, so every
    4x4 pooled sum is 4x the original 2x2 sum and (4*s) // 16 ==
    s // 4. The oracle is the UNRESIZED derivation; a green hash
    certifies resize_nearest's index arithmetic (multimodal/png.py,
    previously pytest-only) over the whole corpus."""
    from ..multimodal.png import decode as png_decode
    from ..multimodal.png import encode as png_encode
    from ..multimodal.png import resize_nearest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    scenes = _scene_count(_doc_count(spark, sf_dir))

    def resized_batches(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = {
                "media_id": [], "ahash_lo": [], "ahash_hi": [],
                "dhash_lo": [], "dhash_hi": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                buf = _pixel_buffer(int(doc_id), text, scenes)
                raw = png_encode(IMG_W, IMG_H, bytes(buf), channels=1)
                big = resize_nearest(raw, 32, 32)
                w, h, ch, px = png_decode(big)
                assert (w, h, ch) == (32, 32, 1)
                alo, ahi, dlo, dhi = _perceptual_hashes(_pool(px, 32, 4))
                out["media_id"].append(int(doc_id))
                out["ahash_lo"].append(alo)
                out["ahash_hi"].append(ahi)
                out["dhash_lo"].append(dlo)
                out["dhash_hi"].append(dhi)
            yield pd.DataFrame(out)

    return (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(
            resized_batches,
            schema="media_id long, ahash_lo long, ahash_hi long,"
            " dhash_lo long, dhash_hi long",
        )
        .orderBy("media_id")
    )


# ------------------------------------------------ cross-modal tier

@memoized
def _xmodal_table(
    spark: SparkSession,
    sf_dir: str,
    spec: media_index.MediaIndexSpec,
    scene_extra: int,
) -> DataFrame:
    """Fingerprints of spec's kernel over the AUGMENTED corpus
    (dedup_ops._AUG_SQL: every 20th document gains a mutated copy at
    doc_id + 1e6), with scenes keyed by doc_id % 1e6 — a mutation
    therefore renders a near-duplicate clip of its original, so text
    and media near-dup pairs genuinely overlap. ``scene_extra`` is
    added to the scene count so each modality partitions the corpus
    by its own residue system. Persisted: the pair join's branches
    both read it. No store publishes the augmented corpus, so this
    stays a session memo."""
    from .dedup_ops import _augmented_docs

    n, n20, max_doc = _doc_stats(spark, sf_dir)
    # The % 1e6 canonical keying ALIASES an original with an
    # augmented copy if any base doc_id reaches the offset — both
    # engines would still agree (hashes stay green) while the
    # cross-modal semantics silently degrade, so fail loudly instead.
    if max_doc >= 1_000_000:
        raise ValueError(
            f"documents.doc_id reaches {max_doc}: the +1e6 augmentation "
            f"offset (dedup_ops._AUG_SQL) would alias originals with "
            f"copies under % 1e6 scene keying"
        )
    docs = _augmented_docs(spark, sf_dir)
    # augmented count has a closed form (one copy per doc_id%20==0),
    # so no second scan is needed for scene sizing
    scenes = _scene_count(n + n20) + scene_extra
    return spec.hash_frame(spark, docs, scenes, canon_mod=1_000_000).persist()


def _crossmodal_oracle() -> str:
    # imported DIRECTLY here (a test may bypass registry.load_all):
    # dedup_ops registers EARLIER in _QUERY_MODULES, so importing it
    # from this later module never reorders registration.
    from ..registry import ORACLE
    from . import dedup_ops  # noqa: F401
    from .dedup_ops import _AUG_SQL

    return f"""
    WITH aug AS ({_AUG_SQL}),
    {_img_hash_cte("aug", canon_mod=1_000_000)},
    {_IMG_PAIR_CTE},
    tp AS (
      SELECT doc_a, doc_b FROM ({ORACLE["dedup_minhash"]})
    ),
    ip AS (SELECT media_a AS doc_a, media_b AS doc_b FROM pairs)
    SELECT coalesce(t.doc_a, i.doc_a) AS doc_a,
           coalesce(t.doc_b, i.doc_b) AS doc_b,
           CASE WHEN t.doc_a IS NOT NULL AND i.doc_a IS NOT NULL
                THEN 'both'
                WHEN t.doc_a IS NOT NULL THEN 'text_only'
                ELSE 'image_only' END AS dup_class
    FROM tp t FULL OUTER JOIN ip i
      ON t.doc_a = i.doc_a AND t.doc_b = i.doc_b
    ORDER BY doc_a, doc_b
    """


@query("crossmodal_dup_consistency", oracle=_crossmodal_oracle())
def crossmodal_dup_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-MODALITY duplicate adjudication — the decision a
    multimodal curation pipeline makes per candidate pair: a pair
    that is near-duplicate in BOTH text (MinHash-LSH + Jaccard >= 0.5,
    the dedup_minhash path) and image (banded dHash, Hamming <= HAM_T)
    is a true duplicate; text_only flags boilerplate/shared captions
    over distinct media; image_only flags re-captioned or re-posted
    media. Both sides run over the SAME augmented corpus (every 20th
    doc's mutated copy), with image scenes keyed by doc_id % 1e6 so a
    mutation is a near-dup in both modalities — the 'both' class is
    structurally populated and each single-modality class keeps its
    own members (unrelated same-scene images; any text pair banding
    misses on the image side).

    Full hash parity by COMPOSITION: the oracle recomposes the
    already-registered dedup_minhash SQL and the shared image-hash
    fragment over the same augmented relation, full-outer-joined on
    the pair key — drift in either tier, the augmentation, or the
    join semantics breaks the hash.

    Scale shape: both pair generators are banded equi joins (never
    all-pairs); adjudication is ONE shuffle — the two pair sets union
    with one-hot flags and a single groupBy(doc_a, doc_b) max
    recovers the full-outer semantics exactly (each generator emits a
    pair at most once — the r17 optimization rewrite; the previous
    FullOuter sort-merge join shuffled and sorted both sides; the
    oracle's full-outer composition is unchanged and the driver hash
    proves equivalence)."""
    from .dedup_ops import dedup_minhash

    t, f = F.lit(True), F.lit(False)
    ip = _pairs_from(_xmodal_table(spark, sf_dir, IMAGE_SPEC, 0)).select(
        F.col("media_a").alias("doc_a"),
        F.col("media_b").alias("doc_b"),
        f.alias("txt"),
        t.alias("img"),
    )
    tp = dedup_minhash(spark, sf_dir).select(
        "doc_a", "doc_b", t.alias("txt"), f.alias("img")
    )
    return (
        tp.unionByName(ip)
        .groupBy("doc_a", "doc_b")
        .agg(F.max("txt").alias("txt"), F.max("img").alias("img"))
        .select(
            "doc_a",
            "doc_b",
            F.when(F.col("txt") & F.col("img"), F.lit("both"))
            .when(F.col("txt"), F.lit("text_only"))
            .otherwise(F.lit("image_only"))
            .alias("dup_class"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------- incremental index maintenance

# Residue split for the incremental contract (the scd2/PIT residue
# trick): arrivals are doc_id % 3 == IMG_ARRIVAL_RESIDUE (defined
# with IMAGE_SPEC near the hash table above), the existing index is
# the rest. A pure function of the id, so both engines agree on the
# split for free and the full rebuild is a split-independent oracle.


@query(
    "image_neardup_incremental",
    oracle=f"""
    WITH {_img_hash_cte()},
    {_IMG_PAIR_CTE}
    SELECT media_a, media_b, ham_d FROM pairs
    WHERE media_a % 3 = {IMG_ARRIVAL_RESIDUE}
       OR media_b % 3 = {IMG_ARRIVAL_RESIDUE}
    ORDER BY media_a, media_b
    """,
)
def image_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental image near-dup maintenance — the operation a
    production media pipeline runs per ingest batch: NEW arrivals
    (doc_id % 3 == 1) are hashed and band-joined against the EXISTING
    index PLUS each other; nothing about the existing corpus is
    re-paired. The output is exactly the pair DELTA the batch
    contributes.

    Correctness: incremental ≡ full (the neardup_incremental /
    incr_mau_refresh precedent) — because banding and Hamming are
    per-pair local, the delta has a closed form: the FULL rebuild's
    pairs restricted to those touching an arrival. The oracle IS that
    full rebuild restricted, so any asymmetry in the incremental join
    (missed arrival-arrival pairs, double-counted existing pairs,
    wrong normalization) breaks the hash.

    Scale shape: the EXISTING index is read from the PUBLISHED
    artifact (media_index.hash_store — nothing about the existing
    corpus is even re-hashed), only the arrival batch pays the Arrow
    codec kernel, and the band probe joins arrival bands against the
    PUBLISHED BUCKETED band table (media_index.band_store,
    hash-bucketed by the (band, bval) join key) —
    no Exchange and no per-run band re-derivation on the index side
    (tests/test_round12.py::test_incremental_probe_index_side_plans_
    without_exchange), cost proportional to the ARRIVAL batch and
    its bucket mates, never the index size.

    The body is the shared engine (media_index.incremental_delta)
    instantiated with IMAGE_SPEC — the same code path the audio and
    video tiers run, so this driver row certifies the engine
    itself."""
    return media_index.incremental_delta(spark, sf_dir, IMAGE_SPEC)


# ------------------------------------- streaming index maintenance


@query(
    "stream_image_neardup_ingest",
    oracle=f"""
    WITH {_img_hash_cte()},
    {_IMG_PAIR_CTE}
    SELECT media_a, media_b, ham_d FROM pairs
    ORDER BY media_a, media_b
    """,
)
def stream_image_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming composed with the image tier's incremental
    maintenance — the capstone lifecycle: documents ARRIVE as a
    stream, each micro-batch is hashed (the Arrow codec kernel),
    band-probed against the ACCUMULATED index (existing hashes plus
    the batch itself), and the verified pair delta is appended to the
    pair store; the batch's hashes then join the index. Replay
    protocol per stream_upsert_publish: media_index.INGEST_SLICES
    doc_id-contiguous slices dropped between processAllAvailable()
    drains, so batch order is exact.

    Correctness closed form (full hash parity for an end-to-end
    streaming ingest): slices partition the corpus, so every near-dup
    pair is discovered EXACTLY ONCE — in the batch of its later
    member. The union of the per-batch deltas is therefore EXACTLY
    the full rebuild's pair set, which is the oracle (the
    image_neardup_pairs derivation verbatim). A dropped batch, a
    double probe, or an index append raced ahead of its probe all
    break the hash.

    The body is the shared engine (media_index.streaming_ingest)
    instantiated with IMAGE_SPEC — scale shape, replay protocol, and
    scratch lifecycle documented there; the audio and video tiers run
    the SAME harness, so this driver row certifies the engine's
    streaming path itself."""
    return media_index.streaming_ingest(spark, sf_dir, IMAGE_SPEC)


# ------------------------------------------------ audio tier

# Audio clips: 512 samples of 8-bit mono PCM (32 md5 blocks, 'a'
# prefix decorrelates from the image buffers), one sample perturbed
# per document (position = first two md5 bytes little-endian mod 512,
# value = the third byte). The fingerprint is the dHash idea on the
# 1-D energy envelope: 64 frames x 8 samples, integer frame energy
# sum(v^2), bit k = energy[k] > energy[(k+1) % 64] — a delta-hash,
# so one perturbed sample flips <= 2 bits and the shared HAM_T / band
# machinery applies unchanged.
AUDIO_SAMPLES = 512
AUDIO_FRAMES = 64


def _pcm_buffer(doc_id: int, text: str, scenes: int) -> bytearray:
    import hashlib

    scene = doc_id % scenes
    buf = bytearray()
    for blk in range(AUDIO_SAMPLES // 16):
        buf += hashlib.md5(f"a{scene}:{blk}".encode()).digest()
    nh = hashlib.md5((text or "").encode("utf-8")).digest()
    buf[(nh[0] | (nh[1] << 8)) % AUDIO_SAMPLES] = nh[2]
    return buf


def _audio_fingerprint(pcm: bytes) -> tuple[int, int]:
    """(fp_lo, fp_hi) 32-bit halves of the 64-bit energy-delta
    fingerprint of an 8-bit mono PCM buffer."""
    import numpy as np

    v = np.frombuffer(bytes(pcm), dtype=np.uint8).astype(np.int64)
    energy = (v * v).reshape(AUDIO_FRAMES, -1).sum(axis=1)
    bits = (energy > np.roll(energy, -1)).astype(np.int64)
    w32 = np.int64(1) << np.arange(32, dtype=np.int64)
    return int(bits[:32] @ w32), int(bits[32:] @ w32)


# DuckDB CTEs ending in `hashes` (media_id, scene, dhash_lo/hi — the
# generic column names the shared pair fragment consumes).


def _audio_hash_cte(
    doc_rel: str = "documents",
    canon_mod: int | None = None,
    prefix: str = "",
    scene_extra: int = 0,
) -> str:
    """The audio fingerprint derivation as DuckDB CTEs ending in
    `hashes` — the _img_hash_cte discipline for the audio modality:
    parameterized source relation, optional canonical-id modulus (the
    trimodal query keys an augmented copy onto its original's clip),
    CTE-name prefix for multi-fragment composition, and an optional
    ``scene_extra`` added to the scene count so the audio partition
    of the corpus is genuinely DIFFERENT from the image partition
    (same modulus would make the two modalities' pair sets identical
    by construction and the adjudication vacuous)."""

    def canon(expr: str) -> str:
        return f"({expr} % {canon_mod})" if canon_mod else expr

    scenes_sql = f"greatest({SCENE_MIN}, count(*) // {SCENE_DOCS})"
    if scene_extra:
        scenes_sql = f"{scenes_sql} + {scene_extra}"
    params, noise, smp, energy, fbits, hashes = (
        f"{prefix}{n}"
        for n in ("params", "noise", "smp", "energy", "fbits", "hashes")
    )
    return f"""
{params} AS (
  SELECT {scenes_sql} AS scenes
  FROM {doc_rel}
),
{noise} AS (
  SELECT doc_id,
         (('0x' || substr(md5(coalesce(text,'')), 1, 2))::INT
          | (('0x' || substr(md5(coalesce(text,'')), 3, 2))::INT << 8))
           % {AUDIO_SAMPLES} AS pos,
         ('0x' || substr(md5(coalesce(text,'')), 5, 2))::INT AS val
  FROM {doc_rel}
),
{smp} AS (
  SELECT d.doc_id, t.i,
         CASE WHEN t.i = n.pos THEN n.val
              ELSE ('0x' || substr(
                       md5('a' || CAST({canon('d.doc_id')} % {params}.scenes
                                       AS VARCHAR)
                           || ':' || CAST(t.i // 16 AS VARCHAR)),
                       (t.i % 16) * 2 + 1, 2))::INT
         END AS v
  FROM {doc_rel} d
  JOIN {noise} n USING (doc_id), {params},
       generate_series(0, {AUDIO_SAMPLES - 1}) AS t(i)
),
{energy} AS (
  SELECT doc_id, i // 8 AS f, CAST(sum(v * v) AS BIGINT) AS e
  FROM {smp} GROUP BY doc_id, i // 8
),
{fbits} AS (
  SELECT a.doc_id, a.f AS k, CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
  FROM {energy} a JOIN {energy} b
    ON a.doc_id = b.doc_id AND b.f = (a.f + 1) % {AUDIO_FRAMES}
),
{hashes} AS (
  SELECT doc_id AS media_id,
         CAST({canon('doc_id')} % (SELECT scenes FROM {params}) AS BIGINT)
           AS scene,
         CAST(sum(CASE WHEN bit = 1 AND k < 32
                       THEN (1::BIGINT) << k ELSE 0 END) AS BIGINT)
           AS dhash_lo,
         CAST(sum(CASE WHEN bit = 1 AND k >= 32
                       THEN (1::BIGINT) << (k - 32) ELSE 0 END) AS BIGINT)
           AS dhash_hi
  FROM {fbits} GROUP BY doc_id
)"""


_AUDIO_HASH_CTE = _audio_hash_cte()


def _audio_frame(
    spark: SparkSession,
    docs: DataFrame,
    scenes: int,
    canon_mod: int | None = None,
) -> DataFrame:
    """The Arrow audio-fingerprint kernel over a (doc_id, text) frame
    — the _hash_frame discipline for the audio modality: PCM buffer
    -> multimodal/wav.py encode -> read_header validate + read_pcm
    decode -> fingerprint the DECODED samples (roundtrip identity
    licenses the pre-encode oracle). ``canon_mod`` optionally reduces
    doc_id before clip keying (the trimodal query maps a mutated copy
    at doc_id + 1e6 onto its original's clip)."""
    from ..multimodal.wav import encode as wav_encode
    from ..multimodal.wav import read_header, read_pcm

    def fp_batches(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = {"media_id": [], "scene": [], "dhash_lo": [], "dhash_hi": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                canon = int(doc_id) % canon_mod if canon_mod else int(doc_id)
                buf = _pcm_buffer(canon, text, scenes)
                raw = wav_encode(8000, 1, 8, bytes(buf))
                rate, ch, depth, n_frames = read_header(raw)
                assert (rate, ch, depth, n_frames) == (8000, 1, 8, len(buf))
                pcm = read_pcm(raw)
                lo, hi = _audio_fingerprint(pcm)
                out["media_id"].append(int(doc_id))
                out["scene"].append(canon % scenes)
                out["dhash_lo"].append(lo)
                out["dhash_hi"].append(hi)
            yield pd.DataFrame(out)

    return docs.repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(
        fp_batches,
        schema="media_id long, scene long, dhash_lo long, dhash_hi long",
    )


# Arrival residue (doc_id % 3) of the audio tier's maintenance
# queries: distinct from the image tier's 1 so each modality proves a
# different batch/existing split of the corpus.
AUDIO_ARRIVAL_RESIDUE = 0

AUDIO_SPEC = media_index.MediaIndexSpec(
    name="audio",
    store_env="SPARK_GRAFT_AUDIO_STORE",
    # content-address fingerprint: LIVE algorithm constants
    algo_fp=f"audiofp|{SCENE_MIN}|{SCENE_DOCS}|{AUDIO_SAMPLES}|{AUDIO_FRAMES}|v1",
    hash_frame=_audio_frame,
    arrival_residue=AUDIO_ARRIVAL_RESIDUE,
)


@query(
    "audio_fingerprint",
    oracle=f"""
    WITH {_AUDIO_HASH_CTE}
    SELECT media_id, scene,
           dhash_lo AS fp_lo, dhash_hi AS fp_hi
    FROM hashes ORDER BY media_id
    """,
)
def audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip audio fingerprint through the real WAV codec path —
    the third modality's dedup key next to text shingles and image
    dHash. The energy-delta fingerprint is pure integer arithmetic
    (frame energy sum(v^2), strict > between circular neighbors), so
    the full derivation hash-matches the pre-encode SQL oracle. Reads
    the published hash store (media_index.hash_store)."""
    h = media_index.hash_store(spark, sf_dir, AUDIO_SPEC)
    return h.select(
        "media_id", "scene",
        F.col("dhash_lo").alias("fp_lo"),
        F.col("dhash_hi").alias("fp_hi"),
    ).orderBy("media_id")


@query(
    "audio_neardup_pairs",
    oracle=f"""
    WITH {_AUDIO_HASH_CTE},
    {_IMG_PAIR_CTE}
    SELECT media_a, media_b, ham_d FROM pairs
    ORDER BY media_a, media_b
    """,
)
def audio_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded near-duplicate audio pairs — the SAME banded-LSH pair
    machinery the image tier certified (the published pair store on
    the Spark side, the shared band/candidate/verify SQL fragment on
    the oracle side), applied to the audio fingerprint table: one code path per
    engine serving two modalities, which is exactly how a production
    media-dedup layer is built (hash kernels per modality, one
    banding/verify/cluster engine)."""
    return media_index.pair_store(spark, sf_dir, AUDIO_SPEC).orderBy(
        "media_a", "media_b"
    )

