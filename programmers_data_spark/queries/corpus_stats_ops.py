"""Corpus-statistics operators (round 9, second batch).

Three public corpus-profiling steps a tokenizer/curation team runs
before committing to a vocabulary and a data mixture:

- ``collocation_lift`` — phrase mining by association strength: the
  word2vec phrase-detection score (Mikolov et al. 2013, "Distributed
  Representations of Words and Phrases", §4 — public method)
  ``score(a,b) = (c_ab - delta) * N / (c_a * c_b)``, ranking bigrams
  by LIFT over independence rather than raw frequency (the signal
  ``bigram_stats`` deliberately does not provide: "of the" is
  frequent but not associated; a true collocation is both).
- ``vocab_growth_curve`` — Heaps'-law profile (Heaps 1978, public):
  cumulative distinct unigram AND bigram types as the corpus grows
  along its ingestion order, at fixed doc-id checkpoints. The curve
  a team extrapolates to predict vocabulary size and OOV exposure at
  100 TB from a prefix.
- ``source_bigram_overlap`` — pairwise source-vocabulary Jaccard
  over bigram types: the redundancy/contamination matrix BETWEEN
  sources at vocabulary granularity (``cross_source_dup_matrix``
  answers the same question at whole-document granularity; two
  sources can share zero documents yet near-identical vocabularies,
  which is what this view exposes before mixture weighting).

Reference-semantics lineage: the reference pipeline's corpus-level
profiling is plain GROUP-BY summary SQL (reference
airflow/dags/config/nps_summary.py:4-11 and the equivalent inline
form in airflow/dags/Build_Summary.py:71-77 — conditional-count
ratio aggregates); these are that shape generalized to token
statistics, per the brief's LLM-pipeline tier.

Engine-parity rules (the standing fixed-point discipline): every
score is exact-integer arithmetic — lift and Jaccard are emitted in
scaled-integer form via integer division of exact counts (`div` in
Spark, `//` in DuckDB — identical on the non-negative operands used
here), never a float ratio, so hashes match bitwise. The lift
numerator ``(c_ab - delta) * SCALE * N`` exceeds int64 on a true
100 TB corpus (c_ab and N are token-occurrence counts, ~1e14 each;
the product reaches ~1e31) and so does the divisor ``c_a * c_b``
(~1e28 — the overflow-regime test caught this second product the
docstring plan had missed), so BOTH engines widen BOTH products
before dividing — DECIMAL(38,0) in Spark, HUGEINT in DuckDB (the
``LIFT_EXPR_*`` expressions below; cross-engine overflow-regime
test in tests/test_round10.py) — and the quotient is cast to BIGINT,
where it always fits: ``c_ab <= min(c_a, c_b)`` forces the quotient
``<= SCALE * N / max(c_a, c_b) <= SCALE * N`` ~ 1e17 < 2^63.

Scale shape (100 TB): every query derives from map-side token/bigram
construction (slice + arrays_zip — codegen'd builtins, the
quality_lm_ops shape; no shuffle of the raw token stream) followed
by partially-aggregated groupBys at VOCABULARY cardinality, which
grows sublinearly in corpus size (Heaps' law — measured by the very
curve this module ships). collocation_lift joins the bigram count
table to the unigram count table twice, keyed on a token — both
sides vocabulary-sized, hash-join, no broadcast assumed.
vocab_growth_curve's running sums ride a bounded_global_window over
N_CHECKPOINTS rows. source_bigram_overlap self-joins the DISTINCT
(source, bigram) table on bigram: fan-out per bigram is bounded by
n_sources², and n_sources is a dimension (20 here; thousands at
most in production) — the pair table is dimension-sized, never
corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import textfn
from ..memo import memoized
from ..operators import bounded_global_window
from ..registry import query
from ._oracle_shared import _DUCK_TOKS

# word2vec phrase-score discount: bigrams must beat this count to
# rank at all (kills one-off co-occurrences). Interpolated into BOTH
# engines.
DISCOUNT = 5
# fixed-point scale for the lift ratio (milli-lifts).
LIFT_SCALE = 1000
TOP_COLLOCATIONS = 50

# doc-id checkpoints for the growth curve.
N_CHECKPOINTS = 10

# fixed-point scale for the vocabulary Jaccard (milli-Jaccard).
JACCARD_SCALE = 1000

# The one product that outgrows int64 at 100 TB (module docstring),
# widened identically on both engines and shared with the
# overflow-regime test so the test exercises the production
# expression, not a copy. Inputs are all BIGINT columns named
# c_ab / c_a / c_b / n_occ; output is BIGINT.
LIFT_EXPR_SPARK = (
    f"CAST((CAST(c_ab AS DECIMAL(38,0)) - {DISCOUNT}) * {LIFT_SCALE}"
    f" * n_occ div (CAST(c_a AS DECIMAL(38,0)) * c_b) AS BIGINT)"
)
LIFT_EXPR_DUCK = (
    f"CAST(((CAST(c_ab AS HUGEINT) - {DISCOUNT}) * {LIFT_SCALE} * n_occ)"
    f" // (CAST(c_a AS HUGEINT) * c_b) AS BIGINT)"
)

# Shared DuckDB CTE prefix: tokenized docs, map-side bigrams.
_DUCK_D = f"d AS (SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents)"
_DUCK_BIGRAMS = """
    bg AS (
      SELECT doc_id, source,
             unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> array_to_string(toks[i:i+1], ' ')
             )) AS bigram
      FROM d WHERE len(toks) >= 2
    )
"""


# persisted + memoized: THREE plan branches of collocation_lift
# consume the unigram table (the N anchor and both join sides) —
# unpersisted, each branch re-ran the tokenize→explode→groupBy
# pipeline (4 documents scans in the physical plan, r17 opt; the
# table is vocabulary-sized, never corpus-sized)
@memoized
def _unigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(textfn.tokenize("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cu"))
        .persist()
    )


def _bigrams(toked: DataFrame, *keep: str) -> DataFrame:
    """Map-side bigram stream from a (…, toks) frame — slice the
    token array against its own 1-shift and zip (codegen'd builtins,
    zero shuffles; the lead-window build would shuffle the raw token
    stream on doc_id first)."""
    return (
        toked.filter(F.size("toks") >= 2)
        .select(
            *keep,
            F.explode(
                F.arrays_zip(
                    F.slice("toks", 1, F.size("toks") - 1).alias("a"),
                    F.slice("toks", 2, F.size("toks") - 1).alias("b"),
                )
            ).alias("p"),
        )
        .select(*keep, F.concat_ws(" ", "p.a", "p.b").alias("bigram"))
    )


# ------------------------------------------------------ collocation lift


@query(
    "collocation_lift",
    oracle=f"""
    WITH {_DUCK_D},
    uc AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS cu
      FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY tok
    ),
    n AS (SELECT CAST(SUM(cu) AS BIGINT) AS n_occ FROM uc),
    {_DUCK_BIGRAMS},
    bc AS (
      SELECT bigram, CAST(count(*) AS BIGINT) AS c_ab
      FROM bg GROUP BY bigram HAVING count(*) > {DISCOUNT}
    ),
    j AS (
      SELECT bigram, c_ab, a.cu AS c_a, b.cu AS c_b, n_occ
      FROM bc
      JOIN uc a ON split_part(bigram, ' ', 1) = a.tok
      JOIN uc b ON split_part(bigram, ' ', 2) = b.tok
      CROSS JOIN n
    )
    SELECT bigram, c_ab, c_a, c_b,
           {LIFT_EXPR_DUCK} AS lift_milli
    FROM j
    ORDER BY lift_milli DESC, c_ab DESC, bigram
    LIMIT {TOP_COLLOCATIONS}
    """,
)
def collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_COLLOCATIONS} collocations by the word2vec phrase
    score: lift_milli = (c_ab - {DISCOUNT}) * {LIFT_SCALE} * N div
    (c_a * c_b) — association strength over independence, exact
    integers end to end with the numerator product widened to
    DECIMAL(38,0)/HUGEINT (LIFT_EXPR_* above; module docstring has
    the 100 TB overflow arithmetic). Candidates must exceed the
    discount, so the numerator is strictly positive and `div`
    (truncate) ≡ `//` (floor).

    Scale shape: two map-side passes over the pruned text column
    (unigram explode, bigram zip) — re-scanning one projected column
    beats shuffling the token stream to share a scan; each pass
    partially aggregates into a vocabulary-sized count table. The
    lift join keys the DISCOUNT-filtered bigram table against the
    unigram table twice on a token column — vocabulary × vocabulary,
    hash join, never corpus-sized. N folds from the PERSISTED
    unigram table (its three consumers — the N anchor and both join
    sides — read one evaluation; unpersisted, each re-ran the
    unigram pipeline) and rides a 1-row broadcast cross join. Top-k
    is TakeOrdered, not a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", textfn.tokenize("text").alias("toks"))
    uni = _unigram_counts(spark, sf_dir)
    n_occ = uni.agg(F.sum("cu").cast("long").alias("n_occ"))
    cand = (
        _bigrams(toked)
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .filter(F.col("c_ab") > DISCOUNT)
        .withColumn("a", F.substring_index("bigram", " ", 1))
        .withColumn("b", F.substring_index("bigram", " ", -1))
    )
    joined = (
        cand.join(uni.select(F.col("tok").alias("a"), F.col("cu").alias("c_a")), "a")
        .join(uni.select(F.col("tok").alias("b"), F.col("cu").alias("c_b")), "b")
        .crossJoin(F.broadcast(n_occ))
    )
    return (
        joined.select(
            "bigram",
            "c_ab",
            "c_a",
            "c_b",
            F.expr(LIFT_EXPR_SPARK).alias("lift_milli"),
        )
        .orderBy(F.desc("lift_milli"), F.desc("c_ab"), "bigram")
        .limit(TOP_COLLOCATIONS)
    )


# ------------------------------------------------------ vocab growth


@query(
    "vocab_growth_curve",
    oracle=f"""
    WITH {_DUCK_D},
    bounds AS (
      SELECT CAST(min(doc_id) AS BIGINT) AS mn,
             CAST(max(doc_id) AS BIGINT) AS mx
      FROM d
    ),
    db AS (
      SELECT doc_id, toks,
             CAST((doc_id - mn) * {N_CHECKPOINTS} // (mx - mn + 1)
                  AS BIGINT) AS bucket
      FROM d CROSS JOIN bounds
    ),
    per_bucket AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
      FROM db GROUP BY bucket
    ),
    uni_first AS (
      SELECT tok, min(bucket) AS fb
      FROM (SELECT bucket, unnest(toks) AS tok FROM db) GROUP BY tok
    ),
    uni_new AS (
      SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS new_uni
      FROM uni_first GROUP BY fb
    ),
    bg AS (
      SELECT bucket,
             unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> array_to_string(toks[i:i+1], ' ')
             )) AS bigram
      FROM db WHERE len(toks) >= 2
    ),
    bi_first AS (
      SELECT bigram, min(bucket) AS fb FROM bg GROUP BY bigram
    ),
    bi_new AS (
      SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS new_bi
      FROM bi_first GROUP BY fb
    )
    SELECT p.bucket,
           CAST(SUM(p.n_docs) OVER w AS BIGINT) AS cum_docs,
           CAST(SUM(p.n_tokens) OVER w AS BIGINT) AS cum_tokens,
           CAST(SUM(coalesce(u.new_uni, 0)) OVER w AS BIGINT)
             AS cum_unigram_types,
           CAST(SUM(coalesce(b.new_bi, 0)) OVER w AS BIGINT)
             AS cum_bigram_types
    FROM per_bucket p
    LEFT JOIN uni_new u ON p.bucket = u.bucket
    LEFT JOIN bi_new b ON p.bucket = b.bucket
    WINDOW w AS (ORDER BY p.bucket)
    ORDER BY p.bucket
    """,
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: cumulative docs, token
    occurrences, distinct unigram types, and distinct bigram types at
    {N_CHECKPOINTS} doc-id checkpoints along the corpus's ingestion
    order. A type is charged to the FIRST checkpoint bucket it
    appears in (min over an integer bucket id — order-independent),
    so cumulative counts are exact distinct-type counts per prefix
    without any per-prefix re-count.

    Bucketing is pure integer arithmetic on doc_id against broadcast
    min/max scalars — `(doc_id - mn) * {N_CHECKPOINTS} div span` —
    identical in both engines (operands non-negative); no global
    rank/sort anywhere. Scale shape: the tokenized corpus reads the
    PUBLISHED token store (r18; this plan references the tokenized
    frame four times — bounds, per-bucket totals, unigram and bigram
    first-appearance streams — and each reference previously re-ran
    the trim+regex tokenize over raw text: 6 documents scans in the
    r17 sweep); first-appearance folds are vocabulary-cardinality
    groupBys with map-side partial min; everything after lives on
    ≤{N_CHECKPOINTS} rows, where the running sums ride a
    bounded_global_window (input provably tiny: one row per
    checkpoint bucket)."""
    from ..derived_store import token_store

    toked = token_store(spark, sf_dir).select("doc_id", "toks")
    bounds = toked.agg(
        F.min("doc_id").cast("long").alias("mn"),
        F.max("doc_id").cast("long").alias("mx"),
    )
    db = toked.crossJoin(F.broadcast(bounds)).withColumn(
        "bucket",
        F.expr(f"(doc_id - mn) * {N_CHECKPOINTS} div (mx - mn + 1)").cast(
            "long"
        ),
    )
    per_bucket = db.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("toks")).cast("long").alias("n_tokens"),
    )
    uni_new = (
        db.select("bucket", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("new_uni"))
    )
    bi_new = (
        _bigrams(db, "bucket")
        .groupBy("bigram")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("new_bi"))
    )
    w = bounded_global_window("bucket")
    return (
        per_bucket.join(uni_new, "bucket", "left")
        .join(bi_new, "bucket", "left")
        .select(
            "bucket",
            F.sum("n_docs").over(w).cast("long").alias("cum_docs"),
            F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
            F.sum(F.coalesce("new_uni", F.lit(0)))
            .over(w)
            .cast("long")
            .alias("cum_unigram_types"),
            F.sum(F.coalesce("new_bi", F.lit(0)))
            .over(w)
            .cast("long")
            .alias("cum_bigram_types"),
        )
        .orderBy("bucket")
    )


# ------------------------------------------------------ source overlap


@query(
    "source_bigram_overlap",
    oracle=f"""
    WITH {_DUCK_D},
    {_DUCK_BIGRAMS},
    sv AS (SELECT DISTINCT source, bigram FROM bg),
    sizes AS (
      SELECT source, CAST(count(*) AS BIGINT) AS v FROM sv GROUP BY source
    ),
    shared AS (
      SELECT x.source AS source_a, y.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM sv x JOIN sv y
        ON x.bigram = y.bigram AND x.source < y.source
      GROUP BY x.source, y.source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           a.v AS v_a, b.v AS v_b,
           coalesce(s.n_shared, 0) AS n_shared,
           CAST((coalesce(s.n_shared, 0) * {JACCARD_SCALE})
                // (a.v + b.v - coalesce(s.n_shared, 0))
                AS BIGINT) AS jaccard_milli
    FROM sizes a JOIN sizes b ON a.source < b.source
    LEFT JOIN shared s
      ON s.source_a = a.source AND s.source_b = b.source
    ORDER BY source_a, source_b
    """,
)
def source_bigram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard over bigram types — the
    between-source redundancy matrix a mixture-weighting pass reads
    next to cross_source_dup_matrix's document-level view (module
    docstring). jaccard_milli = shared * {JACCARD_SCALE} div
    (v_a + v_b - shared), exact integers (union never zero: a pair
    only exists when both sources have ≥1 bigram type).

    Scale shape: the DISTINCT (source, bigram) vocabulary reads the
    PUBLISHED source_bigram_store (r18; the pair-store pattern — this
    plan references sv three times, and each reference previously
    re-ran the tokenize+bigram+distinct corpus pass AND its shuffle:
    4 documents scans in the r17 plan; the r17 in-query persist was
    measured at +35-50% and reverted — the store read is the form
    that wins at both scales). The self-join keys on bigram with
    per-key fan-out bounded by n_sources² — the output pair table
    is dimension-sized. Every pair of sources is emitted (generated
    from the tiny sizes table, shared counts left-joined, zero
    filled) so the matrix is hash-stable even if a fixture
    regeneration produces disjoint vocabularies."""
    from ..derived_store import source_bigram_store

    sv = source_bigram_store(spark, sf_dir)
    sizes = sv.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    shared = (
        sv.alias("x")
        .join(
            sv.alias("y"),
            (F.col("x.bigram") == F.col("y.bigram"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("source_a"),
            F.col("y.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    pairs = (
        sizes.alias("a")
        .join(
            sizes.alias("b"),
            F.col("a.source") < F.col("b.source"),
        )
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.col("a.v").alias("v_a"),
            F.col("b.v").alias("v_b"),
        )
    )
    return (
        pairs.join(shared, ["source_a", "source_b"], "left")
        .withColumn("n_shared", F.coalesce("n_shared", F.lit(0)))
        .select(
            "source_a",
            "source_b",
            "v_a",
            "v_b",
            "n_shared",
            F.expr(
                f"n_shared * {JACCARD_SCALE} div (v_a + v_b - n_shared)"
            )
            .cast("long")
            .alias("jaccard_milli"),
        )
        .orderBy("source_a", "source_b")
    )
