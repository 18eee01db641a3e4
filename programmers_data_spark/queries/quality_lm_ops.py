"""Bigram-LM perplexity-proxy quality scoring (round 9).

The one major public quality-filtering family the engine lacked:
CCNet (Wenzek et al. 2020, "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data" — public method) scores
every document with a language-model perplexity and splits the
corpus into head/middle/tail perplexity tertiles; the same
LM-score-then-threshold shape drives the quality filters in Gopher,
LLaMA, and the perplexity-based data-pruning literature (Marion et
al. 2023, "When Less is More" — public). Reference-semantics lineage
for the engine mapping: the reference pipeline's quality gating is
plain SQL threshold buckets (reference
airflow/dags/config/nps_summary.py:4-11 CASE WHEN banding, run by
airflow/dags/Build_Summary.py:71-77); this tier is the
corpus-statistics generalization of that banding.

Engine parity problem: real perplexity is exp of a mean of logs, and
libm log/exp differ by ulps across engines (the standing verify-skill
learning that produced DSIR's fixed-point first-order weights). The
portable surrogate used here: per-bigram SURPRISAL IN WHOLE BITS from
integer floor-log2,

    surprisal(prev, cur) = flog2(c(prev, *)) - flog2(c(prev, cur)),
    flog2(n) = length(bin(n)) - 1          (minimal binary string)

— both engines produce minimal-length binary strings for positive
BIGINTs, so the weight is an exact integer everywhere, the per-doc
total is an order-independent integer sum, and the per-token mean is
one integer division (scaled millibits). flog2(cc) >= flog2(cb)
because cc >= cb by construction, so scores are non-negative. This
keeps the monotone ranking signal perplexity filtering actually uses
(rare transitions => high surprisal) with bitwise-portable
arithmetic; the quantization to whole bits is the documented,
hash-checkable contract, not a fudge.

Scale shape (100 TB): bigram construction is MAP-SIDE (slice+
arrays_zip on the token array — codegen'd builtins, no lambda HOFs,
and unlike the lead()-window build no shuffle of the raw token
stream; measured 1.0s faster at sf0.1), one partially-aggregated
shuffle to (doc, bigram) counts — partial agg absorbs hot bigrams,
the skew-safe shape a count-window over occurrences would not be —
then corpus bigram counts and context totals derive from THAT table
(no second corpus pass; context totals via a sum-window over
DISTINCT-bigram rows, whose per-context partition is bounded by the
vocabulary's continuation fan-out, not by occurrence counts), and a
shuffle equi-join of doc counts against the O(|distinct bigrams|)
weight table — the weight table grows sublinearly in corpus size and
is NOT broadcast. The final per-doc score frame is persisted: it is
O(n_docs) skinny rows, and the band query references it three times
(rank window, band counts, total count). Banding adds a
distributed_rank (per-band row_number + <=65-row offset fold)
instead of a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions import textfn
from ..memo import memoized
from ..operators import distributed_rank
from ..registry import query
from ._oracle_shared import _DUCK_TOKS

_BAND_LABELS = ("head", "middle", "tail")

# Shared per-doc score pipeline as a DuckDB CTE chain (no trailing
# ORDER BY so the band oracle can compose it).
_DUCK_SCORES = f"""
    d AS (
      SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents
    ),
    occ AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> array_to_string(toks[i:i+1], ' ')
             )) AS bg
      FROM d WHERE len(toks) >= 2
    ),
    doc_occ AS (
      SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS c
      FROM occ GROUP BY doc_id, bg
    ),
    bigc AS (
      -- ctx re-derived from the bigram key: the context itself has
      -- no whitespace, so the first space delimits it exactly
      SELECT bg, split_part(bg, ' ', 1) AS ctx,
             CAST(SUM(c) AS BIGINT) AS cb
      FROM doc_occ GROUP BY bg
    ),
    ctxc AS (
      SELECT ctx, CAST(SUM(cb) AS BIGINT) AS cc
      FROM bigc GROUP BY ctx
    ),
    w AS (
      SELECT bg,
             CAST(length(bin(cc)) - length(bin(cb)) AS BIGINT) AS wbits
      FROM bigc JOIN ctxc USING (ctx)
    ),
    sc AS (
      SELECT doc_id,
             CAST(SUM(c * wbits) AS BIGINT) AS surprisal_bits,
             CAST(SUM(c) AS BIGINT) AS n_bigrams
      FROM doc_occ JOIN w USING (bg)
      GROUP BY doc_id
    ),
    scores AS (
      SELECT dd.doc_id, dd.source,
             CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
             CAST(coalesce(sc.surprisal_bits, 0) AS BIGINT)
               AS surprisal_bits,
             CAST(CASE WHEN coalesce(sc.n_bigrams, 0) > 0
                       THEN (sc.surprisal_bits * 1000) // sc.n_bigrams
                       ELSE 0 END AS BIGINT) AS mean_millibits
      FROM documents dd LEFT JOIN sc ON dd.doc_id = sc.doc_id
    )
"""


@memoized
def _doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered per-doc (doc_id, source, n_bigrams, surprisal_bits,
    mean_millibits) frame — the LM-scoring pipeline both registered
    queries share."""
    docs = load_table(spark, sf_dir, "documents")
    # map-side bigram build: slice the token array against its own
    # 1-shift and zip — pure codegen'd builtins, zero shuffles before
    # the (doc, bigram) aggregation (module docstring: vs lead-window)
    toked = docs.select(
        "doc_id", textfn.tokenize("text").alias("toks")
    ).filter(F.size("toks") >= 2)
    big = toked.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("toks", 1, F.size("toks") - 1).alias("a"),
                F.slice("toks", 2, F.size("toks") - 1).alias("b"),
            )
        ).alias("p"),
    ).select("doc_id", F.concat_ws(" ", "p.a", "p.b").alias("bg"))
    # (doc, bigram) occurrence counts: the ONE corpus-derived table
    # everything else folds from (bigram LM counts AND per-doc
    # scoring reuse it — no second pass over the token stream)
    doc_occ = (
        big.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()
    )
    # ctx re-derived from the key at bigram cardinality (the context
    # has no whitespace, so the first space delimits it exactly);
    # context totals as a sum-window over distinct-bigram rows — one
    # exchange on ctx instead of a groupBy + equi-join pair, and the
    # per-context window partition is bounded by continuation
    # fan-out (vocabulary), not occurrence counts
    bigc = (
        doc_occ.groupBy("bg")
        .agg(F.sum("c").cast("long").alias("cb"))
        .withColumn("ctx", F.substring_index("bg", " ", 1))
    )
    wtab = bigc.withColumn(
        "cc", F.sum("cb").over(Window.partitionBy("ctx")).cast("long")
    ).select(
        "bg",
        (F.length(F.bin("cc")) - F.length(F.bin("cb")))
        .cast("long")
        .alias("wbits"),
    )
    sc = (
        doc_occ.join(wtab, "bg")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("wbits"))
            .cast("long")
            .alias("surprisal_bits"),
            F.sum("c").cast("long").alias("n_bigrams"),
        )
    )
    result = (
        docs.select("doc_id", "source")
        .join(sc, "doc_id", "left")
        .withColumn(
            "n_bigrams", F.coalesce("n_bigrams", F.lit(0)).cast("long")
        )
        .withColumn(
            "surprisal_bits",
            F.coalesce("surprisal_bits", F.lit(0)).cast("long"),
        )
        .withColumn(
            "mean_millibits",
            F.when(
                F.col("n_bigrams") > 0,
                F.expr("(surprisal_bits * 1000) div n_bigrams"),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .select(
            "doc_id", "source", "n_bigrams", "surprisal_bits",
            "mean_millibits",
        )
        # O(n_docs) skinny rows; the band query references this frame
        # three times (rank window, band counts, total count)
        .persist()
    )
    return result


@query(
    "lm_surprisal_bits",
    oracle=f"""
    WITH {_DUCK_SCORES}
    SELECT doc_id, source, n_bigrams, surprisal_bits, mean_millibits
    FROM scores
    ORDER BY doc_id
    """,
)
def lm_surprisal_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM surprisal: total and mean (millibits
    per bigram) integer-log2 surprisal of every token transition
    under the corpus's own bigram counts — the perplexity-proxy score
    CCNet-style filtering ranks on (module docstring: method lineage,
    the whole-bit portability contract, and the linear 100 TB shape).
    Docs with <2 tokens carry zero bigrams and zero score on both
    engines (explode emits nothing / the oracle guards len >= 2)."""
    return _doc_scores(spark, sf_dir).orderBy("doc_id")


@query(
    "ccnet_perplexity_bands",
    oracle=f"""
    WITH {_DUCK_SCORES},
    ranked AS (
      SELECT source, mean_millibits,
             CAST(row_number() OVER (ORDER BY mean_millibits, doc_id) - 1
                  AS BIGINT) AS r,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM scores
    ),
    banded AS (
      SELECT source, mean_millibits, (r * 3) // n AS band FROM ranked
    )
    SELECT CAST(band AS INTEGER) AS band,
           CASE band WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                ELSE 'tail' END AS band_label,
           source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(mean_millibits) AS BIGINT) AS min_millibits,
           CAST(max(mean_millibits) AS BIGINT) AS max_millibits
    FROM banded
    GROUP BY band, source
    ORDER BY band, source
    """,
)
def ccnet_perplexity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity tertiles, crossed with
    source: rank every document by (mean_millibits, doc_id) and band
    at rank*3//n — the same closed-form both engines evaluate on
    exact integers, so the split is deterministic and hash-checkable
    (NTILE's remainder-distribution quirk is sidestepped by defining
    the band arithmetic explicitly).

    No global sort: the exact global rank comes from distributed_rank
    with the band floor(mean_millibits/1000) — monotone in the
    leading order column, and its cardinality is bounded by the
    64-bit width of a count (max surprisal ~64 bits => <=65 bands)
    independent of corpus size. The doc-count total folds in one
    1-row broadcast (allowlisted in plan_audit)."""
    scores = _doc_scores(spark, sf_dir).select(
        "doc_id", "source", "mean_millibits"
    )
    ranked = distributed_rank(
        scores,
        order_cols=["mean_millibits", "doc_id"],
        band=F.expr("mean_millibits div 1000"),
        rank_name="r",
    )
    n = scores.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    banded = ranked.crossJoin(F.broadcast(n)).withColumn(
        "band", F.expr("(r * 3) div n_total").cast("int")
    )
    return (
        banded.groupBy("band", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("mean_millibits").cast("long").alias("min_millibits"),
            F.max("mean_millibits").cast("long").alias("max_millibits"),
        )
        .select(
            "band",
            F.element_at(
                F.array(*[F.lit(x) for x in _BAND_LABELS]),
                F.col("band") + 1,
            ).alias("band_label"),
            "source",
            "n_docs",
            "min_millibits",
            "max_millibits",
        )
        .orderBy("band", "source")
    )


# --------------------------------------------- phrase-blocklist filter

# Stand-in blocklist over the synthetic fixture vocabulary. The REAL
# artifact here is the operator seam: C4 (Raffel et al. 2020 — public
# method) drops every document containing a term from a ~400-entry
# word/phrase blocklist (the public "LDNOOBW" list); production swaps
# these tuples for that list with no shape change. Unigram terms
# match the token stream; PHRASES match the bigram stream — substring
# matching would false-positive inside larger tokens, token/bigram
# equality is the exact semantics both engines share.
BLOCK_UNIGRAMS = ("dup", "slow")
BLOCK_PHRASES = ("batch batch", "slow slow")


def _sql_list(terms: tuple[str, ...]) -> str:
    return ", ".join(f"'{t}'" for t in terms)


@query(
    "blocklist_doc_flags",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents
    ),
    uni AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS u
      FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
      WHERE tok IN ({_sql_list(BLOCK_UNIGRAMS)})
      GROUP BY doc_id
    ),
    ph AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS p
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, len(toks) - 1),
                 i -> array_to_string(toks[i:i+1], ' ')
               )) AS bg
        FROM d WHERE len(toks) >= 2
      )
      WHERE bg IN ({_sql_list(BLOCK_PHRASES)})
      GROUP BY doc_id
    )
    SELECT d.doc_id, d.source,
           CAST(coalesce(uni.u, 0) AS BIGINT) AS unigram_hits,
           CAST(coalesce(ph.p, 0) AS BIGINT) AS phrase_hits,
           (coalesce(uni.u, 0) + coalesce(ph.p, 0)) > 0 AS flagged
    FROM d LEFT JOIN uni ON d.doc_id = uni.doc_id
           LEFT JOIN ph ON d.doc_id = ph.doc_id
    ORDER BY d.doc_id
    """,
)
def blocklist_doc_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist document filter: per document, the count of
    token occurrences matching the unigram blocklist, the count of
    bigram occurrences matching the phrase blocklist, and the
    resulting drop flag (C4 removes the whole document on any hit).

    Scale shape: the blocklist is a broadcast literal frame joined
    against the exploded token / map-side bigram streams — ONE pass
    over the corpus regardless of blocklist size (a per-term
    array_remove/size expression chain would re-scan every token
    array once per blocklist entry; fine at 4 stand-in terms, wrong
    at the real list's ~400), and the per-doc groupBy partially
    aggregates before its shuffle. Matching is token/bigram EQUALITY,
    not substring containment, so 'dup' never flags inside
    'dedup'-like tokens — and the oracle shares the exact semantics
    via IN-list predicates interpolated from the same constants."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", textfn.tokenize("text").alias("toks"))
    uni_terms = F.broadcast(
        spark.createDataFrame(
            [(t,) for t in BLOCK_UNIGRAMS], schema="tok string"
        )
    )
    phrases = F.broadcast(
        spark.createDataFrame(
            [(p,) for p in BLOCK_PHRASES], schema="bg string"
        )
    )
    uni = (
        toked.select("doc_id", F.explode("toks").alias("tok"))
        .join(uni_terms, "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("unigram_hits"))
    )
    ph = (
        toked.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("toks", 1, F.size("toks") - 1).alias("a"),
                    F.slice("toks", 2, F.size("toks") - 1).alias("b"),
                )
            ).alias("p"),
        )
        .select("doc_id", F.concat_ws(" ", "p.a", "p.b").alias("bg"))
        .join(phrases, "bg")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("phrase_hits"))
    )
    return (
        docs.select("doc_id", "source")
        .join(uni, "doc_id", "left")
        .join(ph, "doc_id", "left")
        .withColumn(
            "unigram_hits",
            F.coalesce("unigram_hits", F.lit(0)).cast("long"),
        )
        .withColumn(
            "phrase_hits",
            F.coalesce("phrase_hits", F.lit(0)).cast("long"),
        )
        .withColumn(
            "flagged",
            (F.col("unigram_hits") + F.col("phrase_hits")) > 0,
        )
        .orderBy("doc_id")
    )
