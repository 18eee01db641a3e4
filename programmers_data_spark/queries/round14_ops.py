"""Round-14 operators: the multimodal curation REPORT layer — the
roll-ups a 100 TB multimodal crawl operator actually reads (r13
VERDICT ask #8), composed entirely from the PUBLISHED dedup
artifacts (text verified_pair_store + the three media pair stores),
never re-deriving a pair set:

- ``media_curation_report`` — modality x provenance duplication grid
- ``split_media_leakage`` — the train/val near-dup leakage gate per
  modality (split_neardup_leakage generalized to all four tiers)
- ``eval_contamination_audit`` — benchmark-decontamination report:
  training docs near-dup (any modality) with a held-out eval set,
  rolled up per source

Reference anchor: the reference (HyeM207/Programmers-DATA) has no
media pipeline; this tier is north-star training-data-pipeline scope
(SURVEY.md §2 "LLM-data-pipeline operators"), the reporting face of
the dedup family dedup_ops.py / media_index.py implement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import ORACLE, query
from .round12_ops import _audio_hash_cte, _img_hash_cte, _pair_cte
from .round13_ops import _video_hash_cte

# The four dedup modalities the report rolls up, in output order.
# Every per-query modality grid below derives from this tuple (r14
# ADVICE #4: a re-spelled literal could silently drift from it).
REPORT_MODALITIES = ("audio", "image", "text", "video")
MEDIA_MODALITIES = tuple(m for m in REPORT_MODALITIES if m != "text")


def _modality_grid_sql(mods: tuple[str, ...] = REPORT_MODALITIES) -> str:
    """DuckDB unnest fragment producing the modality grid."""
    vals = ", ".join(f"'{m}'" for m in mods)
    return f"(SELECT unnest([{vals}]) AS modality)"


def _modality_array(mods: tuple[str, ...] = REPORT_MODALITIES):
    """Spark literal array of the modality grid."""
    return F.array(*[F.lit(m) for m in mods])


def _media_report_oracle() -> str:
    """Recompose every modality's REGISTERED pair semantics (the
    dedup_minhash SQL verbatim; the shared prefix-parameterized
    image/audio/video hash + pair fragments over the BASE documents
    — exactly what the published pair stores hold), then roll dup
    membership up to (modality, source) cells over the full grid."""
    return f"""
    WITH {_img_hash_cte(prefix="i_")},
    {_pair_cte("i_")},
    {_audio_hash_cte(prefix="a_")},
    {_pair_cte("a_")},
    {_video_hash_cte(prefix="v_")},
    {_pair_cte("v_")},
    tpairs AS ({ORACLE["dedup_minhash"]}),
    members AS (
      SELECT DISTINCT modality, doc_id FROM (
        SELECT 'text' AS modality, doc_a % 1000000 AS doc_id FROM tpairs
        UNION ALL SELECT 'text', doc_b % 1000000 FROM tpairs
        UNION ALL SELECT 'image', media_a FROM i_pairs
        UNION ALL SELECT 'image', media_b FROM i_pairs
        UNION ALL SELECT 'audio', media_a FROM a_pairs
        UNION ALL SELECT 'audio', media_b FROM a_pairs
        UNION ALL SELECT 'video', media_a FROM v_pairs
        UNION ALL SELECT 'video', media_b FROM v_pairs
      )
    ),
    counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    grid AS (
      SELECT m.modality, c.source, c.n_docs
      FROM counts c,
           {_modality_grid_sql()} m
    ),
    cells AS (
      SELECT m.modality, d.source,
             CAST(count(DISTINCT m.doc_id) AS BIGINT) AS n_dup_docs
      FROM members m JOIN documents d ON d.doc_id = m.doc_id
      GROUP BY m.modality, d.source
    )
    SELECT g.modality, g.source, g.n_docs,
           CAST(coalesce(c.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
           CAST(coalesce(c.n_dup_docs, 0) * 100 // g.n_docs AS BIGINT)
             AS dup_pct
    FROM grid g
    LEFT JOIN cells c ON c.modality = g.modality AND c.source = g.source
    ORDER BY g.modality, g.source
    """


@query("media_curation_report", oracle=_media_report_oracle())
def media_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(modality, source) duplication report — the
    cross_source_dup_matrix pattern generalized from source x source
    to modality x provenance: for every dedup modality (text MinHash,
    image/audio/video banded perceptual hashes), the count and exact
    integer percentage of each source's documents that participate in
    at least one verified near-dup pair. The full modality x source
    grid is emitted (zero cells included), so a crawl operator reads
    one table to see WHICH provenance floods WHICH modality with
    duplicates — the report that decides what to re-scrape, what to
    down-weight, and which dedup tier to tighten.

    Composes ONLY published artifacts: the text tier's
    verified_pair_store and the engine's three media pair stores
    (media_index.pair_store — the index's fourth published table).
    Nothing re-hashes, re-bands, or re-verifies; at 100 TB this is
    four bounded parquet reads + two joins against the doc->source
    dimension.

    Scale shape: dup members are a distinct over the pair stores
    (bounded by verified near-dups); the source join is an equi-join
    AQE can broadcast; the grid is |sources| x 4 rows built by
    exploding a 4-literal array over the per-source counts (no
    cartesian); integer `div` percentages keep both engines exact.

    Oracle: every modality's registered pair SQL recomposed verbatim
    (dedup_minhash + the shared prefix-parameterized media
    fragments), so drift in ANY tier's pair semantics, the
    membership scoping, or the grid/zero-fill rule breaks the hash.
    """
    from .. import media_index
    from .dedup_ops import verified_pair_store
    from .media_lifecycle_ops import AUDIO_SPEC, VIDEO_SPEC
    from .round12_ops import IMAGE_SPEC

    text_pairs = verified_pair_store(spark, sf_dir)
    parts = [
        text_pairs.select(
            F.lit("text").alias("modality"),
            (F.col("doc_a") % 1000000).alias("doc_id"),
        ),
        text_pairs.select(
            F.lit("text").alias("modality"),
            (F.col("doc_b") % 1000000).alias("doc_id"),
        ),
    ]
    for mod, spec in (
        ("image", IMAGE_SPEC), ("audio", AUDIO_SPEC), ("video", VIDEO_SPEC)
    ):
        store = media_index.pair_store(spark, sf_dir, spec)
        parts.append(
            store.select(
                F.lit(mod).alias("modality"),
                F.col("media_a").alias("doc_id"),
            )
        )
        parts.append(
            store.select(
                F.lit(mod).alias("modality"),
                F.col("media_b").alias("doc_id"),
            )
        )
    members = parts[0]
    for p in parts[1:]:
        members = members.unionByName(p)
    members = members.distinct()

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    grid = counts.withColumn("modality", F.explode(_modality_array()))
    cells = (
        members.join(docs, "doc_id")
        .groupBy("modality", "source")
        .agg(F.count_distinct("doc_id").cast("long").alias("n_dup_docs"))
    )
    return (
        grid.join(cells, ["modality", "source"], "left")
        .select(
            "modality",
            "source",
            "n_docs",
            F.coalesce("n_dup_docs", F.lit(0)).cast("long").alias("n_dup_docs"),
            F.expr("coalesce(n_dup_docs, 0) * 100 div n_docs")
            .cast("long")
            .alias("dup_pct"),
        )
        .orderBy("modality", "source")
    )


# Augmented mutation twins (dedup-tier scaffolding, ids >= 1e6)
# carry no split assignment — the split_neardup_leakage exclusion.
_AUG_ID_BASE = 1_000_000

# The synthetic held-out eval set for the contamination audit: every
# doc whose id is ≡ 0 mod this. 97 is coprime to every residue system
# the fixtures use (doc_id % 3 arrival batches, scene moduli), so the
# eval set cuts across sources, scenes, and splits.
EVAL_SET_MOD = 97


def _split_leakage_oracle() -> str:
    """All four modalities' registered pair semantics x the registered
    content-hash split, rolled to per-modality leak counts over the
    full 4-row grid."""
    return f"""
    WITH {_img_hash_cte(prefix="i_")},
    {_pair_cte("i_")},
    {_audio_hash_cte(prefix="a_")},
    {_pair_cte("a_")},
    {_video_hash_cte(prefix="v_")},
    {_pair_cte("v_")},
    tp AS ({ORACLE["dedup_minhash"]}),
    sp AS ({ORACLE["train_val_split"]}),
    pairs AS (
      SELECT 'text' AS modality, doc_a, doc_b FROM tp
      WHERE doc_a < {_AUG_ID_BASE} AND doc_b < {_AUG_ID_BASE}
      UNION ALL SELECT 'image', media_a, media_b FROM i_pairs
      UNION ALL SELECT 'audio', media_a, media_b FROM a_pairs
      UNION ALL SELECT 'video', media_a, media_b FROM v_pairs
    ),
    j AS (
      SELECT p.modality, sa.split != sb.split AS leaks
      FROM pairs p
      JOIN sp sa ON sa.doc_id = p.doc_a
      JOIN sp sb ON sb.doc_id = p.doc_b
    ),
    m AS (
      SELECT modality, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN leaks THEN 1 ELSE 0 END) AS BIGINT)
               AS n_leaks
      FROM j GROUP BY modality
    )
    SELECT g.modality,
           CAST(coalesce(m.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(m.n_leaks, 0) AS BIGINT) AS n_leaks,
           CAST(CASE WHEN coalesce(m.n_pairs, 0) = 0 THEN 0
                ELSE m.n_leaks * 100 // m.n_pairs END AS BIGINT)
             AS leak_pct
    FROM {_modality_grid_sql()} g
    LEFT JOIN m ON m.modality = g.modality
    ORDER BY g.modality
    """


@query("split_media_leakage", oracle=_split_leakage_oracle())
def split_media_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The train/val near-dup leakage gate for ALL FOUR dedup
    modalities — split_neardup_leakage (text, pair-level) generalized
    to the roll-up a pretraining pipeline actually gates on: per
    modality, how many verified near-dup pairs exist and how many
    cross the train/val boundary (a val document that near-dups a
    train document leaks eval signal even when no byte-identical copy
    crossed the split — and a re-encoded image/audio/video copy is
    exactly such a leak in its modality). Full 4-row grid with exact
    integer percentages; a nonzero leak_pct is the signal to re-split
    by near-dup CLUSTER instead of by document.

    Composes only published artifacts (the four pair stores) plus the
    map-only registered split projection; two doc_id equi-joins AQE
    can broadcast; the roll-up is a 4-row aggregate. Text pairs keep
    the documented augmented-twin exclusion (ids >= 1e6 carry no
    split assignment); media pairs are base-corpus by construction.

    Oracle: every modality's registered pair SQL + the registered
    train_val_split SQL recomposed verbatim — drift in any pair
    tier, the split rule, or the zero-fill breaks the hash."""
    from .. import media_index
    from .dedup_ops import verified_pair_store
    from .media_lifecycle_ops import AUDIO_SPEC, VIDEO_SPEC
    from .round12_ops import IMAGE_SPEC
    from .sampling_ops import train_val_split

    tp = verified_pair_store(spark, sf_dir).filter(
        (F.col("doc_a") < _AUG_ID_BASE) & (F.col("doc_b") < _AUG_ID_BASE)
    )
    pairs = tp.select(
        F.lit("text").alias("modality"), "doc_a", "doc_b"
    )
    for mod, spec in (
        ("image", IMAGE_SPEC), ("audio", AUDIO_SPEC), ("video", VIDEO_SPEC)
    ):
        pairs = pairs.unionByName(
            media_index.pair_store(spark, sf_dir, spec).select(
                F.lit(mod).alias("modality"),
                F.col("media_a").alias("doc_a"),
                F.col("media_b").alias("doc_b"),
            )
        )
    sp = train_val_split(spark, sf_dir)
    j = (
        pairs.join(
            sp.select(F.col("doc_id").alias("doc_a"),
                      F.col("split").alias("split_a")), "doc_a"
        )
        .join(
            sp.select(F.col("doc_id").alias("doc_b"),
                      F.col("split").alias("split_b")), "doc_b"
        )
        .select(
            "modality",
            (F.col("split_a") != F.col("split_b")).alias("leaks"),
        )
    )
    m = j.groupBy("modality").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("leaks"), 1).otherwise(0))
        .cast("long")
        .alias("n_leaks"),
    )
    grid = spark.range(1).select(
        F.explode(_modality_array()).alias("modality")
    )
    return (
        grid.join(m, "modality", "left")
        .select(
            "modality",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_leaks", F.lit(0)).cast("long").alias("n_leaks"),
            F.when(F.coalesce("n_pairs", F.lit(0)) == 0, F.lit(0))
            .otherwise(F.expr("n_leaks * 100 div n_pairs"))
            .cast("long")
            .alias("leak_pct"),
        )
        .orderBy("modality")
    )


def _contamination_oracle() -> str:
    """Contaminated = a non-eval doc near-dup (ANY modality) with an
    eval doc; rolled per source over the non-eval corpus."""
    return f"""
    WITH {_img_hash_cte(prefix="i_")},
    {_pair_cte("i_")},
    {_audio_hash_cte(prefix="a_")},
    {_pair_cte("a_")},
    {_video_hash_cte(prefix="v_")},
    {_pair_cte("v_")},
    tp AS ({ORACLE["dedup_minhash"]}),
    pairs AS (
      SELECT doc_a % {_AUG_ID_BASE} AS doc_a,
             doc_b % {_AUG_ID_BASE} AS doc_b FROM tp
      UNION ALL SELECT media_a, media_b FROM i_pairs
      UNION ALL SELECT media_a, media_b FROM a_pairs
      UNION ALL SELECT media_a, media_b FROM v_pairs
    ),
    contaminated AS (
      SELECT DISTINCT t AS doc_id FROM (
        SELECT doc_a AS t, doc_b AS e FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
      )
      WHERE t % {EVAL_SET_MOD} != 0 AND e % {EVAL_SET_MOD} = 0
    ),
    train AS (
      SELECT doc_id, source FROM documents
      WHERE doc_id % {EVAL_SET_MOD} != 0
    ),
    counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_train_docs
      FROM train GROUP BY source
    ),
    cells AS (
      SELECT t.source, CAST(count(*) AS BIGINT) AS n_contaminated
      FROM train t JOIN contaminated c ON c.doc_id = t.doc_id
      GROUP BY t.source
    )
    SELECT k.source, k.n_train_docs,
           CAST(coalesce(c.n_contaminated, 0) AS BIGINT)
             AS n_contaminated,
           CAST(coalesce(c.n_contaminated, 0) * 100 // k.n_train_docs
             AS BIGINT) AS contam_pct
    FROM counts k LEFT JOIN cells c ON c.source = k.source
    ORDER BY k.source
    """


@query("eval_contamination_audit", oracle=_contamination_oracle())
def eval_contamination_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the audit every serious pretraining
    pipeline runs before training: which TRAINING documents are
    near-duplicates (in ANY modality) of a held-out EVAL document, so
    reported benchmark numbers measure generalization rather than
    memorization. The eval set here is the synthetic held-out slice
    doc_id ≡ 0 mod EVAL_SET_MOD (97); contaminated = a non-eval doc
    sharing a verified near-dup pair with an eval doc, rolled up per
    source as a count and an exact integer percentage of that
    source's training docs (the table that decides which scrape gets
    scrubbed). At 100 TB the eval slice is the real benchmark suite
    and the pair sets are the same published stores.

    Composes only published artifacts (text verified_pair_store with
    augmented ids canonicalized % 1e6, plus the three media pair
    stores); membership is a distinct over bounded pair sets; the
    source roll-up joins the doc->source dimension once.

    Oracle: all four registered pair fragments recomposed verbatim
    over the same eval-residue rule."""
    from .. import media_index
    from .dedup_ops import verified_pair_store
    from .media_lifecycle_ops import AUDIO_SPEC, VIDEO_SPEC
    from .round12_ops import IMAGE_SPEC

    tp = verified_pair_store(spark, sf_dir).select(
        (F.col("doc_a") % _AUG_ID_BASE).alias("doc_a"),
        (F.col("doc_b") % _AUG_ID_BASE).alias("doc_b"),
    )
    pairs = tp
    for spec in (IMAGE_SPEC, AUDIO_SPEC, VIDEO_SPEC):
        pairs = pairs.unionByName(
            media_index.pair_store(spark, sf_dir, spec).select(
                F.col("media_a").alias("doc_a"),
                F.col("media_b").alias("doc_b"),
            )
        )
    directed = pairs.select(
        F.col("doc_a").alias("t"), F.col("doc_b").alias("e")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("t"), F.col("doc_a").alias("e"))
    )
    contaminated = (
        directed.filter(
            (F.col("t") % EVAL_SET_MOD != 0) & (F.col("e") % EVAL_SET_MOD == 0)
        )
        .select(F.col("t").alias("doc_id"))
        .distinct()
    )
    train = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % EVAL_SET_MOD != 0)
        .select("doc_id", "source")
    )
    counts = train.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_train_docs")
    )
    cells = (
        train.join(contaminated, "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_contaminated"))
    )
    return (
        counts.join(cells, "source", "left")
        .select(
            "source",
            "n_train_docs",
            F.coalesce("n_contaminated", F.lit(0))
            .cast("long")
            .alias("n_contaminated"),
            F.expr("coalesce(n_contaminated, 0) * 100 div n_train_docs")
            .cast("long")
            .alias("contam_pct"),
        )
        .orderBy("source")
    )


# Threshold grids for the tuning sweeps: Jaccard cut points in exact
# basis points (the store's jaccard is floor(j*1e4+0.5)/1e4, so a
# >= comparison against these literals is float-exact on both
# engines), and Hamming radii up to the live verify threshold (the
# published pair stores hold every pair with ham_d <= HAM_T, so the
# sweep is exact BY CONSTRUCTION up to that radius — beyond it the
# banded candidate generation no longer guarantees recall, which is
# exactly why the sweep stops there).
TEXT_SWEEP_BPS = (5000, 6000, 7000, 8000, 9000)
HAM_SWEEP = (0, 2, 4, 6, 8)


def _dedup_threshold_oracle() -> str:
    from ..media_index import HAM_T

    assert max(HAM_SWEEP) <= HAM_T  # sweep stays inside the verify radius
    text_rows = " UNION ALL ".join(
        f"SELECT {bp} AS threshold_bps" for bp in TEXT_SWEEP_BPS
    )
    ham_rows = " UNION ALL ".join(
        f"SELECT {t} AS max_ham" for t in HAM_SWEEP
    )
    return f"""
    WITH {_img_hash_cte(prefix="i_")},
    {_pair_cte("i_")},
    {_audio_hash_cte(prefix="a_")},
    {_pair_cte("a_")},
    {_video_hash_cte(prefix="v_")},
    {_pair_cte("v_")},
    tp AS ({ORACLE["dedup_minhash"]}),
    tgrid AS ({text_rows}),
    hgrid AS ({ham_rows}),
    t_cells AS (
      SELECT 'text' AS modality, g.threshold_bps AS threshold,
             CAST(count(p.doc_a) AS BIGINT) AS n_pairs
      FROM tgrid g LEFT JOIN tp p
        ON p.jaccard >= g.threshold_bps / 10000.0
      GROUP BY g.threshold_bps
    ),
    m_pairs AS (
      SELECT 'audio' AS modality, ham_d FROM a_pairs
      UNION ALL SELECT 'image', ham_d FROM i_pairs
      UNION ALL SELECT 'video', ham_d FROM v_pairs
    ),
    m_cells AS (
      SELECT m.modality, g.max_ham AS threshold,
             CAST(count(p.ham_d) AS BIGINT) AS n_pairs
      FROM {_modality_grid_sql(MEDIA_MODALITIES)} m
      CROSS JOIN hgrid g
      LEFT JOIN m_pairs p
        ON p.modality = m.modality AND p.ham_d <= g.max_ham
      GROUP BY m.modality, g.max_ham
    )
    SELECT modality, CAST(threshold AS BIGINT) AS threshold, n_pairs
    FROM (SELECT * FROM t_cells UNION ALL SELECT * FROM m_cells)
    ORDER BY modality, threshold
    """


@query("dedup_threshold_sweep", oracle=_dedup_threshold_oracle())
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-tier analogue of ivf_probe_sweep: the threshold
    tuning curve an operator reads before committing a dedup config —
    for text, verified near-dup pair counts at Jaccard cut points
    (basis points 5000..9000, float-exact on the store's rounded
    jaccard); for each media modality, pair counts at Hamming radii
    0..HAM_T. A cliff in the curve marks the natural dup/distinct
    separation; a flat curve says the threshold is not doing the
    work. The sweep stops at the live verify radius because that is
    the exact-recall region the banded candidates guarantee — sweep
    rows beyond it would silently undercount, so they are not
    offered.

    Composes ONLY the published pair stores (the stores carry
    jaccard / ham_d per pair, so every sweep row is a filter + count
    over bounded published parquet — no re-hashing, no re-banding).
    No join carries the pair data: each pair row explodes the <= 5
    literal thresholds it is tested against and feeds one groupBy
    (linear in the store, map-side combinable); the literal grids
    only zero-fill the output through an equi left join — nothing
    corpus-sized is ever built or broadcast.

    Oracle: the four registered pair fragments recomposed verbatim
    against the same literal grids."""
    from .. import media_index
    from ..media_index import HAM_T
    from .dedup_ops import verified_pair_store
    from .media_lifecycle_ops import AUDIO_SPEC, VIDEO_SPEC
    from .round12_ops import IMAGE_SPEC

    assert max(HAM_SWEEP) <= HAM_T
    tp = verified_pair_store(spark, sf_dir).select("jaccard")
    # Scale posture: NO join carries the pair data — each pair row
    # explodes the <= 5-element literal threshold array, filters, and
    # feeds one groupBy (linear in the bounded pair store, no
    # broadcast of data). The literal grids live in single-partition
    # frames (spark.range(1) + explode — a createDataFrame literal
    # spreads over defaultParallelism partitions and an early version
    # scheduled ~1024 tasks for the 15-cell grid) and only zero-fill
    # the output via an equi left join.
    t_arr = F.array(*[F.lit(int(b)) for b in TEXT_SWEEP_BPS])
    t_counts = (
        tp.select(F.explode(t_arr).alias("threshold"), "jaccard")
        .filter(F.col("jaccard") >= F.col("threshold") / F.lit(10000.0))
        .groupBy("threshold")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tgrid = spark.range(1).select(F.explode(t_arr).alias("threshold"))
    t_cells = tgrid.join(t_counts, "threshold", "left").select(
        F.lit("text").alias("modality"),
        F.col("threshold").cast("long"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n_pairs"),
    )
    m_pairs = None
    for mod, spec in (
        ("audio", AUDIO_SPEC), ("image", IMAGE_SPEC), ("video", VIDEO_SPEC)
    ):
        part = media_index.pair_store(spark, sf_dir, spec).select(
            F.lit(mod).alias("modality"), "ham_d"
        )
        m_pairs = part if m_pairs is None else m_pairs.unionByName(part)
    h_arr = F.array(*[F.lit(int(t)) for t in HAM_SWEEP])
    m_counts = (
        m_pairs.select("modality", F.explode(h_arr).alias("threshold"), "ham_d")
        .filter(F.col("ham_d") <= F.col("threshold"))
        .groupBy("modality", "threshold")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    mgrid = spark.range(1).select(
        F.explode(_modality_array(MEDIA_MODALITIES)).alias("modality")
    ).select("modality", F.explode(h_arr).alias("threshold"))
    m_cells = mgrid.join(m_counts, ["modality", "threshold"], "left").select(
        "modality",
        F.col("threshold").cast("long"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n_pairs"),
    )
    return t_cells.unionByName(m_cells).orderBy("modality", "threshold")
