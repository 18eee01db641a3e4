"""Dataset-assembly operators (round 5): deterministic train/val
splitting and token-budget sampling — the two cuts every pretraining
run makes after curation and before packing.

Both are pure functions of (content/salt), so re-running the pipeline
on a re-ingested corpus reproduces the same split and the same sample
— the property that makes eval sets stable across data refreshes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions import textfn
from ..memo import memoized
from ..operators import bounded_global_window
from ..registry import ORACLE, query
from ._oracle_shared import _DUCK_TOKS
from .dedup_ops import verified_pair_store
from .round3_ops import SHUFFLE_SALT

# train/val boundary on the first hex byte of the content hash:
# lexicographic compare of the md5 prefix is identical in both engines
# and needs no hex→int conversion. 'f3' = 243/256 ≈ 94.9% train.
_SPLIT_HEX_BOUND = "f3"

# token budget for the greedy prefix sample, sized well under the
# ~27k-token sf0.01 corpus so the correctness SF always selects a
# strict, non-empty subset — the interesting case on every fixture
# generation
TOKEN_BUDGET = 10_000

@memoized
def _token_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token_budget_sample's tokenized projection (doc_id, n_tokens,
    k, bucket) — no text column, tiny at any SF. Persisted: BOTH of
    its branches (the per-bucket window and the bucket-totals
    aggregate) consume it, and without the persist each re-ran the
    scan + tokenize — the dominant cost of the query (r5 bench: 6.4s,
    almost all of it split()+size() arithmetic paid twice). Memoized
    so repeated calls in one session reuse ONE persisted DataFrame
    instead of stacking a new persist per call (r6 advice)."""
    k = F.md5(
        F.concat(F.lit(f"{SHUFFLE_SALT}|"), F.col("doc_id").cast("string"))
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            textfn.token_count("text").cast("long").alias("n_tokens"),
            k.alias("k"),
        )
        .withColumn("bucket", F.substring("k", 1, 2))
        .persist()
    )


@query(
    "train_val_split",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN substring(md5('{SHUFFLE_SALT}|' || text), 1, 2)
                     < '{_SPLIT_HEX_BOUND}'
                THEN 'train' ELSE 'val' END AS split
    FROM documents
    ORDER BY doc_id
    """,
)
def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe deterministic train/val split: the assignment
    hashes the salted CONTENT (not the doc_id), so byte-identical
    documents land on the same side even across re-ingestions that
    renumber ids — the standard guard against eval contamination by
    exact duplicates. ~95% train via a lexicographic bound on the
    md5 hex prefix (portable: no hex→int conversion to disagree on).

    Scale shape: map-only — one projection, no shuffle, no state; at
    100 TB this is a free column on the curation output."""
    h = F.md5(F.concat(F.lit(f"{SHUFFLE_SALT}|"), F.col("text")))
    return (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.when(
                F.substring(h, 1, 2) < F.lit(_SPLIT_HEX_BOUND), "train"
            )
            .otherwise("val")
            .alias("split"),
        )
        .orderBy("doc_id")
    )


@query(
    "token_budget_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id,
             CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens,
             md5('{SHUFFLE_SALT}|' || CAST(doc_id AS VARCHAR)) AS k
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS cum_before
      FROM ranked
    )
    SELECT doc_id, n_tokens, cum_before
    FROM c
    WHERE cum_before < {TOKEN_BUDGET}
    ORDER BY doc_id
    """,
)
def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sampling: walk the corpus in the deterministic
    shuffle order (same salted-hash rank as `corpus_shuffle`) and keep
    the greedy prefix of documents whose cumulative token count stays
    under TOKEN_BUDGET — how a pilot run or an ablation takes "the
    first N tokens" of a corpus reproducibly.

    The oracle is a single global window cumsum; the Spark form is the
    same two-level distributed prefix sum `sequence_packing` uses, at
    hash-bucket grain: per-bucket cumsum (partitioned by the 2-hex-char
    key prefix, parallel) plus broadcast bucket token totals prefixed
    in a 256-row bounded window. Bucket order is a prefix of the full
    (k, doc_id) order, so local + offset equals the global cumsum at
    any scale — no single-partition pass over the corpus."""
    docs = _token_docs(spark, sf_dir)
    w_local = (
        Window.partitionBy("bucket")
        .orderBy("k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = docs.withColumn(
        "local_before", F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    )
    totals = docs.groupBy("bucket").agg(
        F.sum("n_tokens").alias("bucket_tokens")
    )
    # bounded: exactly 256 hex-prefix bucket rows
    w_b = bounded_global_window("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "bucket",
        F.coalesce(F.sum("bucket_tokens").over(w_b), F.lit(0)).alias("off"),
    )
    return (
        local.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("off") + F.col("local_before")).alias("cum_before"),
        )
        .filter(F.col("cum_before") < TOKEN_BUDGET)
        .orderBy("doc_id")
    )


# mixture_resample draws the same doc budget from every source — the
# "equalize provenance" cut corpus_mixture_weights' upweights point
# at, applied. 40% of the corpus keeps the quota strictly smaller
# than most sources (a real cut) while surviving skewed fixtures.
MIXTURE_BUDGET_FRACTION = 0.4


@query(
    "mixture_resample",
    oracle=f"""
    WITH quota AS (
      SELECT CAST(floor(count(*) * {MIXTURE_BUDGET_FRACTION}
                        / count(DISTINCT source)) AS BIGINT) AS q
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('{SHUFFLE_SALT}|' || text), doc_id
             ) AS rk
      FROM documents
    )
    SELECT r.doc_id, r.source
    FROM ranked r, quota
    WHERE r.rk <= quota.q
    ORDER BY r.doc_id
    """,
)
def mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply an equalized source mixture: draw the SAME deterministic
    doc quota from every source (hash-ordered, salted-content rank —
    the same stable ordering the corpus shuffle and splits use), so
    no provenance dominates the training cut. This is the
    applied counterpart of `corpus_mixture_weights`, which only
    REPORTS the shares and equalizing upweights; here the corpus is
    actually resampled to the uniform mixture.

    Scale: one window per source partition (hash-partitioned). The
    quota is resolved to a LITERAL at plan-build time (one tiny
    count aggregate — the same driver-side-metadata move the IVF
    quantizer makes): a runtime-joined quota would block Spark's
    WindowGroupLimit rewrite, whereas the literal lets the rank
    filter prune map-side so only ~quota rows per source reach the
    window sort. Deterministic across re-ingestions because the rank
    keys on salted content, not ids."""
    docs = load_table(spark, sf_dir, "documents")
    q = int(
        docs.agg(
            F.floor(
                F.count(F.lit(1)) * MIXTURE_BUDGET_FRACTION
                / F.countDistinct("source")
            )
            .cast("long")
            .alias("q")
        ).collect()[0].q
    )
    h = F.md5(F.concat(F.lit(f"{SHUFFLE_SALT}|"), F.col("text")))
    w = Window.partitionBy("source").orderBy(h, "doc_id")
    ranked = docs.select(
        "doc_id", "source", F.row_number().over(w).alias("rk")
    )
    return (
        ranked.filter(F.col("rk") <= F.lit(q))
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


@query(
    "split_leakage_check",
    oracle=f"""
    WITH assigned AS (
      SELECT md5('{SHUFFLE_SALT}|' || text) AS h,
             CASE WHEN substring(md5('{SHUFFLE_SALT}|' || text), 1, 2)
                       < '{_SPLIT_HEX_BOUND}'
                  THEN 'train' ELSE 'val' END AS split
      FROM documents
    )
    SELECT h AS content_hash
    FROM assigned
    GROUP BY h
    HAVING count(DISTINCT split) > 1
    ORDER BY 1
    """,
)
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val leakage contract: content hashes assigned to BOTH
    splits — expected EMPTY, and empty by construction because the
    split keys on the content hash itself (byte-identical documents
    cannot straddle the boundary). Registered as a query so the
    invariant is driver-hash-checked every round: if the split
    implementation ever drifts to keying on doc_id or an unsalted
    hash, Spark emits violation rows while the oracle recomputes the
    content-keyed truth, and the row-count/hash mismatch turns the
    driver row red — eval-contamination protection as a standing
    contract, not a code comment.

    Scale: one groupBy on the content hash (the same key exact dedup
    shuffles on) emitting only violators — output is empty in a
    healthy pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit(f"{SHUFFLE_SALT}|"), F.col("text")))
    assigned = docs.select(
        h.alias("content_hash"),
        F.when(
            F.substring(h, 1, 2) < F.lit(_SPLIT_HEX_BOUND), "train"
        )
        .otherwise("val")
        .alias("split"),
    )
    return (
        assigned.groupBy("content_hash")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .select("content_hash")
        .orderBy("content_hash")
    )


# temperature exponent for source-mixture smoothing; 0.5 == sqrt,
# which is correctly-rounded IEEE on both engines (a general pow()
# would not be parity-safe)
TEMP_ALPHA = 0.5


@query(
    "source_temperature_weights",
    oracle="""
    WITH c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    z AS (
      SELECT list_reduce(
               list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY source),
               (a, x) -> a + x) AS z
      FROM c
    )
    SELECT source, n_docs,
           sqrt(CAST(n_docs AS DOUBLE)) / z.z AS weight
    FROM c, z
    ORDER BY source
    """,
)
def source_temperature_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-scaled source mixture: sampling weight
    n_s^alpha / sum_t n_t^alpha with alpha=0.5 — the standard
    up-weighting of small sources / down-weighting of dominant ones a
    multilingual or multi-source pretraining mix applies (the
    mBERT/XLM exponent-smoothing recipe, public).

    Scale shape: one shuffle to the per-source counts (thousands of
    rows at any corpus size), then a bounded single-row fold over the
    sorted source list for the normalizer — pinned fold order keeps
    the double sum bitwise identical to the oracle's ordered
    list_reduce. The corpus itself is touched once, map-side."""
    counts = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    folded = counts.agg(
        F.sort_array(F.collect_list(F.struct("source", "n_docs"))).alias(
            "arr"
        )
    )
    z = F.aggregate(
        F.col("arr"),
        F.lit(0.0),
        lambda a, x: a + F.sqrt(x["n_docs"].cast("double")),
    )
    return (
        folded.select(F.explode("arr").alias("s"), z.alias("z"))
        .select(
            F.col("s.source").alias("source"),
            F.col("s.n_docs").alias("n_docs"),
            (F.sqrt(F.col("s.n_docs").cast("double")) / F.col("z")).alias(
                "weight"
            ),
        )
        .orderBy("source")
    )


# total token budget to allocate across sources via the temperature
# weights; prime-ish so fractional parts are non-trivial on any
# fixture generation
ALLOCATION_BUDGET = 99_991


# memoized: the bounded per-source frame persists for its two
# consumers (shortfall aggregate + rank window), so the corpus-count
# scan runs once per session instead of twice per call.
# the oracle composes source_temperature_weights' registered oracle
# as a CTE (the r4 rule: composition queries pull sub-oracles from
# registry.ORACLE so hand-rolled copies can't drift)
@query(
    "token_budget_allocation",
    oracle=f"""
    WITH w AS (
      {{temperature_weights}}
    ),
    fl AS (
      SELECT source, n_docs, weight,
             CAST(floor(weight * {ALLOCATION_BUDGET}) AS BIGINT) AS base,
             weight * {ALLOCATION_BUDGET}
               - floor(weight * {ALLOCATION_BUDGET}) AS frac
      FROM w
    ),
    short AS (
      SELECT CAST({ALLOCATION_BUDGET} - sum(base) AS BIGINT) AS k FROM fl
    )
    SELECT source, n_docs,
           base + CASE WHEN rk <= short.k THEN 1 ELSE 0 END AS alloc
    FROM (
      SELECT source, n_docs, base,
             row_number() OVER (ORDER BY frac DESC, source) AS rk
      FROM fl
    ), short
    ORDER BY source
    """.format(temperature_weights=ORACLE["source_temperature_weights"]),
)
@memoized
def token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn the temperature mixture into an actual integer budget:
    allocate ALLOCATION_BUDGET tokens across sources by the
    largest-remainder method (floor each weight*B, then hand the
    leftover k tokens to the k largest fractional parts, ties by
    source) — the step that converts sampling weights into the exact
    per-source quotas a mixture builder executes. sum(alloc) == B by
    construction.

    Float parity is inherited: the weights hash-match the oracle
    bitwise (see source_temperature_weights), weight*B is one IEEE
    multiply, and floor/fraction comparisons then agree exactly.

    Scale shape: everything after the per-source counts is a bounded
    few-thousand-row frame (one source row each), so the global
    window and the 1-row shortfall aggregate are bounded by the
    source-catalog size, not the corpus."""
    w = source_temperature_weights(spark, sf_dir)
    wb = F.col("weight") * F.lit(float(ALLOCATION_BUDGET))
    # persist: BOTH the shortfall aggregate and the rank window read
    # fl, and without it each branch re-runs the corpus count scan
    # (exchange reuse doesn't cross the agg/window constraint split).
    # The frame is one row per source — trivially cacheable.
    fl = w.select(
        "source",
        "n_docs",
        F.floor(wb).cast("long").alias("base"),
        (wb - F.floor(wb)).alias("frac"),
    ).persist()
    short = fl.agg(
        (F.lit(ALLOCATION_BUDGET) - F.sum("base")).cast("long").alias("k")
    )
    rk = bounded_global_window(F.desc("frac"), "source")
    result = (
        fl.withColumn("rk", F.row_number().over(rk))
        .crossJoin(F.broadcast(short))
        .select(
            "source",
            "n_docs",
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("k"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("alloc"),
        )
        .orderBy("source")
    )
    return result


# split_neardup_leakage composes two registered oracles as CTEs (the
# r4 composition rule): MinHash near-dup pairs x the content-hash
# split. Augmented twin ids (>= _AUG_ID_BASE) are test scaffolding in
# the dedup tier and carry no split assignment — excluded, documented.
_AUG_ID_BASE = 1_000_000


@query(
    "split_neardup_leakage",
    oracle="""
    WITH pairs AS (
      {dedup_minhash}
    ),
    sp AS (
      {train_val_split}
    )
    SELECT p.doc_a, p.doc_b,
           sa.split AS split_a, sb.split AS split_b,
           sa.split != sb.split AS leaks
    FROM pairs p
    JOIN sp sa ON sa.doc_id = p.doc_a
    JOIN sp sb ON sb.doc_id = p.doc_b
    WHERE p.doc_a < {aug_base} AND p.doc_b < {aug_base}
    ORDER BY p.doc_a, p.doc_b
    """.format(
        dedup_minhash=ORACLE["dedup_minhash"],
        train_val_split=ORACLE["train_val_split"],
        aug_base=_AUG_ID_BASE,
    ),
)
def split_neardup_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate contamination across the train/val boundary —
    the leakage exact-hash checks miss: a val document that is a
    MinHash near-dup (Jaccard >= 0.5) of a train document leaks eval
    signal even though no byte-identical copy crossed the split.
    split_leakage_check (exact content hash) and this query together
    are the split-hygiene gate a pretraining pipeline runs before
    committing a mixture.

    Emits EVERY original-corpus near-dup pair with both split
    assignments and a `leaks` flag (rather than only offenders), so
    the result is non-vacuous on any fixture generation and the
    leak-rate is one filter away.

    Scale shape: reuses the memoized near-dup pair table (banded LSH,
    never all-pairs) and the map-only split projection; two
    broadcast-sized joins keyed by doc_id. The augmented mutation
    twins the dedup tier injects (ids >= 1,000,000) have no split
    assignment and are excluded."""
    pairs = verified_pair_store(spark, sf_dir).filter(
        (F.col("doc_a") < _AUG_ID_BASE) & (F.col("doc_b") < _AUG_ID_BASE)
    )
    sp = train_val_split(spark, sf_dir)
    sa = sp.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = sp.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "split_a",
            "split_b",
            (F.col("split_a") != F.col("split_b")).alias("leaks"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------------------------- curriculum phases

# number of curriculum phases (length quartiles) and the token-count
# band width for the distributed rank: band order is monotone in
# n_tokens, so per-band row_number + band offsets compose to the
# exact global (n_tokens, doc_id) rank. Band count is bounded by the
# LONGEST DOCUMENT / band width — a per-doc property independent of
# corpus size — so the offsets window input stays tiny at any SF.
CURRICULUM_PHASES = 4
CURRICULUM_BAND_W = 64


@query(
    "curriculum_phases",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    r AS (
      SELECT doc_id, n_tokens,
             CAST(row_number() OVER (ORDER BY n_tokens, doc_id)
                  AS BIGINT) - 1 AS r
      FROM t
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t)
    SELECT CAST((r.r * {CURRICULUM_PHASES}) // n.n AS INT) AS phase,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM r, n
    GROUP BY phase
    ORDER BY phase
    """,
)
def curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum phase assignment: rank the corpus by
    (token count, doc_id) and cut it into CURRICULUM_PHASES equal
    rank quartiles — the short-to-long ordering a curriculum-learning
    schedule feeds to training, with per-phase doc/token totals as
    the manifest.

    The oracle is a global row_number; the Spark form is the
    distributed two-level rank (`corpus_shuffle`'s trick on a VALUE
    axis instead of a hash axis): band = n_tokens div
    CURRICULUM_BAND_W is monotone in the sort key, so per-band
    row_number (partitioned, parallel) + broadcast band-count offsets
    equals the global rank with no single-partition sort of the
    corpus. phase = (rank * PHASES) div n is exact integer division
    on both engines. The corpus count folds in as a 1-row broadcast
    (allowlisted bounded cartesian).
    """
    from ..operators import distributed_rank

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        textfn.token_count("text").cast("long").alias("n_tokens"),
    )
    n_row = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranked = (
        distributed_rank(
            docs,
            ["n_tokens", "doc_id"],
            F.expr(f"n_tokens div {CURRICULUM_BAND_W}"),
            "__r",
        )
        .crossJoin(F.broadcast(n_row))
        .select(
            "n_tokens",
            F.expr(
                f"CAST((__r * {CURRICULUM_PHASES}) div n AS INT)"
            ).alias("phase"),
        )
    )
    return (
        ranked.groupBy("phase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
        )
        .orderBy("phase")
    )


# --------------------------------------------------- training manifest


def _manifest_oracle() -> str:
    return f"""
    WITH sp AS ({ORACLE["train_val_split"]}),
    pk AS ({ORACLE["sequence_packing"]})
    SELECT d.doc_id, d.source, sp.split,
           pk.n_tokens, pk.bin_id, pk.bin_offset
    FROM documents d
    JOIN sp ON sp.doc_id = d.doc_id
    JOIN pk ON pk.doc_id = d.doc_id
    ORDER BY d.doc_id
    """


@query("training_manifest", oracle=_manifest_oracle())
def training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end product of the assembly pipeline: one row per document
    with everything a training data-loader reads — provenance, split
    assignment, token count, and packed-bin coordinates. Composes the
    registered `train_val_split` and `sequence_packing` (oracle wraps
    the same registered SQL, so the manifest can never drift from its
    parts).

    Scale shape: split is a map-only column; packing arrives from the
    distributed prefix sum; the three-way join keys on doc_id — at
    100 TB bucket the corpus by doc_id once and every stage including
    this join is co-partitioned. The manifest is the table
    `pipelines.curate_corpus` persists for the loader.
    """
    from .round3_ops import sequence_packing

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sp = train_val_split(spark, sf_dir)
    pk = sequence_packing(spark, sf_dir)
    return (
        docs.join(sp, "doc_id")
        .join(pk, "doc_id")
        .select(
            "doc_id", "source", "split", "n_tokens", "bin_id", "bin_offset"
        )
        .orderBy("doc_id")
    )


# DSIR hashed-feature space: unigrams hashed into this many buckets.
# 1024 keeps the weight table broadcast-trivial while leaving bucket
# collisions rare on the fixture vocab (the method is defined ON a
# hashed space — collisions are part of the estimator, not a bug).
DSIR_BUCKETS = 1024
# fixed-point scale for the per-bucket probability-difference weights:
# |p_t - p_r| <= 1, so scaled weights are exact ±2^20-bounded longs
DSIR_FP_SCALE = 1 << 20


# memoized: the persisted (doc, bucket) count table feeds the
# distribution and scoring branches; a repeat call must reuse it
@query(
    "dsir_importance_proxy",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, unnest({_DUCK_TOKS}) AS tok FROM documents
    ),
    b AS (
      SELECT doc_id, source,
             CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT)
                  % {DSIR_BUCKETS} AS BIGINT) AS bucket
      FROM tok
    ),
    doc_b AS (
      SELECT doc_id, source, bucket, CAST(count(*) AS BIGINT) AS c
      FROM b GROUP BY doc_id, source, bucket
    ),
    t AS (SELECT min(source) AS t_src FROM documents),
    dist AS (
      SELECT bucket,
             CAST(SUM(CASE WHEN source = (SELECT t_src FROM t)
                           THEN c ELSE 0 END) AS BIGINT) AS ct,
             CAST(SUM(CASE WHEN source != (SELECT t_src FROM t)
                           THEN c ELSE 0 END) AS BIGINT) AS cr
      FROM doc_b GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(SUM(ct) AS BIGINT) AS tt,
             CAST(SUM(cr) AS BIGINT) AS tr
      FROM dist
    ),
    w AS (
      SELECT bucket,
             CASE WHEN tt = 0 OR tr = 0 THEN 0
                  ELSE CAST(floor((CAST(ct AS DOUBLE) / tt
                                   - CAST(cr AS DOUBLE) / tr)
                                  * {DSIR_FP_SCALE} + 0.5) AS BIGINT)
             END AS w
      FROM dist, tot
    ),
    scores AS (
      SELECT doc_id,
             CAST(SUM(w.w * doc_b.c) AS BIGINT) AS dsir_score,
             CAST(SUM(doc_b.c) AS BIGINT) AS n_tokens
      FROM doc_b JOIN w USING (bucket)
      GROUP BY doc_id
    )
    SELECT d.doc_id, d.source,
           CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(s.dsir_score, 0) AS BIGINT) AS dsir_score
    FROM documents d LEFT JOIN scores s ON d.doc_id = s.doc_id
    ORDER BY d.doc_id
    """,
)
@memoized
def dsir_importance_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling, linearized: score
    every document by how much its hashed-unigram profile leans toward
    a TARGET domain versus the raw corpus — the selection signal DSIR
    (Xie et al., "Data Selection for Language Models via Importance
    Resampling", NeurIPS 2023 — public method) computes with hashed
    n-gram bag likelihood ratios. The target domain here is the
    lexicographically first source (a deterministic stand-in for "the
    domain you want more of"); features are md5-hashed unigram buckets
    (the method is DEFINED on a hashed feature space).

    Linearization for engine parity: the canonical score is
    Σ_f c_f · log(p_t(f)/p_r(f)), but libm log differs by ulps across
    engines (verify-skill learning), so the weight is the fixed-point
    FIRST-ORDER signal w_f = floor((p_t(f) − p_r(f)) · 2^20 + 0.5) —
    each p a single IEEE division of exact integers, the difference
    one exact-operand subtraction, the scaling a power of two — and
    the doc score Σ_f w_f · c_f is an exact, order-independent
    integer sum. Same ranking intent (over-represented-in-target
    features pull positive), bitwise-portable arithmetic.

    Scale shape: one shuffle to (doc, bucket) counts with map-side
    combine; the bucket distribution is a DSIR_BUCKETS-row broadcast
    (built from the same counts — no second corpus pass; its totals
    fold in one 1-row broadcast, allowlisted); scoring is a broadcast
    join + a per-doc aggregate. Linear in corpus tokens at 100 TB,
    and the weight table is reusable across incoming batches the way
    production DSIR reuses its trained importance estimator."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(textfn.tokenize("text")).alias("tok")
    )
    doc_b = (
        tok.select(
            "doc_id",
            "source",
            (
                F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
                % DSIR_BUCKETS
            ).alias("bucket"),
        )
        .groupBy("doc_id", "source", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()
    )
    t_src = docs.agg(F.min("source").alias("t_src"))
    tagged = doc_b.crossJoin(F.broadcast(t_src))
    dist = tagged.groupBy("bucket").agg(
        F.sum(F.when(F.col("source") == F.col("t_src"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("ct"),
        F.sum(F.when(F.col("source") != F.col("t_src"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("cr"),
    )
    tot = dist.agg(
        F.sum("ct").cast("long").alias("tt"),
        F.sum("cr").cast("long").alias("tr"),
    )
    w = dist.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.when((F.col("tt") == 0) | (F.col("tr") == 0), F.lit(0).cast("long"))
        .otherwise(
            F.floor(
                (
                    F.col("ct").cast("double") / F.col("tt")
                    - F.col("cr").cast("double") / F.col("tr")
                )
                * F.lit(float(DSIR_FP_SCALE))
                + F.lit(0.5)
            ).cast("long")
        )
        .alias("w"),
    )
    scores = (
        doc_b.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("w") * F.col("c")).cast("long").alias("dsir_score"),
            F.sum("c").cast("long").alias("n_tokens"),
        )
    )
    result = (
        docs.select("doc_id", "source")
        .join(scores, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("dsir_score", F.lit(0))
            .cast("long")
            .alias("dsir_score"),
        )
        .orderBy("doc_id")
    )
    return result


# span-corruption planning (T5/UL2 denoising objective prep): corrupt
# ~SPAN_CORRUPT_RATE of tokens in spans of SPAN_CORRUPT_LEN
SPAN_CORRUPT_RATE_PCT = 15  # percent, kept integer for exact parity
SPAN_CORRUPT_LEN = 3


@query(
    "span_corruption_plan",
    oracle=f"""
    WITH n AS (
      SELECT doc_id, CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    spans AS (
      SELECT doc_id, n_tokens,
             CAST(n_tokens * {SPAN_CORRUPT_RATE_PCT} // 100
                  // {SPAN_CORRUPT_LEN} AS BIGINT) AS num_spans
      FROM n
    ),
    idx AS (
      SELECT doc_id, n_tokens, num_spans,
             unnest(range(0, num_spans)) AS span_idx
      FROM spans WHERE num_spans > 0
    ),
    seg AS (
      SELECT doc_id, n_tokens, span_idx,
             n_tokens * span_idx // num_spans AS seg_start,
             n_tokens * (span_idx + 1) // num_spans AS seg_end
      FROM idx
    )
    SELECT doc_id, CAST(span_idx AS INTEGER) AS span_idx,
           CAST(seg_start
                + CAST(CAST(('0x' || substr(
                      md5(concat('span_', doc_id, '_', span_idx)), 1, 8
                    )) AS UBIGINT)
                  % (seg_end - seg_start - {SPAN_CORRUPT_LEN} + 1)
                  AS BIGINT) AS BIGINT) AS start_tok,
           CAST({SPAN_CORRUPT_LEN} AS INTEGER) AS span_len,
           n_tokens
    FROM seg
    WHERE seg_end - seg_start >= {SPAN_CORRUPT_LEN}
    ORDER BY doc_id, span_idx
    """,
)
def span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denoising-objective prep (T5/UL2 span corruption — public
    recipe): plan which token spans of each document get masked,
    corrupting ~15% of tokens in length-3 spans. Real trainers sample
    spans with an RNG; for a REPRODUCIBLE data pipeline (and a
    hash-checkable oracle) the plan derives from md5(doc_id,
    span_idx): the document is cut into num_spans equal segments
    (non-overlap by construction — no rejection sampling loop to
    replicate) and each span's start is the md5 residue inside its
    segment. All integer arithmetic — floor divisions and a hex-slice
    residue — so both engines emit the identical plan.

    Scale shape: map-only (token count → per-doc span list via one
    generator expression); no shuffle before the presentation sort.
    The plan table joins `sequence_packing`'s bins by doc_id for the
    actual masking pass, which stays co-partitioned if the corpus is
    bucketed by doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.select(
        "doc_id", textfn.token_count("text").cast("long").alias("n_tokens")
    )
    # INTEGER division throughout (SQL `div`), mirroring the oracle's
    # `//`: float-divide-then-cast truncates in Spark but rounds in
    # DuckDB, and a double quotient can cross an integer boundary a
    # true rational quotient sits below (verify-skill learning)
    spans = n.withColumn(
        "num_spans",
        F.expr(
            f"(n_tokens * {SPAN_CORRUPT_RATE_PCT}) div 100"
            f" div {SPAN_CORRUPT_LEN}"
        ),
    )
    idx = (
        spans.filter(F.col("num_spans") > 0)
        .select(
            "doc_id",
            "n_tokens",
            "num_spans",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("num_spans") - 1)
            ).alias("span_idx"),
        )
    )
    seg_start = F.expr("(n_tokens * span_idx) div num_spans")
    seg_end = F.expr("(n_tokens * (span_idx + 1)) div num_spans")
    residue = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("span_"),
                    F.col("doc_id").cast("string"),
                    F.lit("_"),
                    F.col("span_idx").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (
        idx.select(
            "doc_id",
            F.col("span_idx").cast("int").alias("span_idx"),
            seg_start.alias("seg_start"),
            seg_end.alias("seg_end"),
            residue.alias("h"),
            "n_tokens",
        )
        .filter(F.col("seg_end") - F.col("seg_start") >= SPAN_CORRUPT_LEN)
        .select(
            "doc_id",
            "span_idx",
            (
                F.col("seg_start")
                + F.col("h")
                % (F.col("seg_end") - F.col("seg_start") - SPAN_CORRUPT_LEN + 1)
            )
            .cast("long")
            .alias("start_tok"),
            F.lit(SPAN_CORRUPT_LEN).cast("int").alias("span_len"),
            "n_tokens",
        )
        .orderBy("doc_id", "span_idx")
    )
