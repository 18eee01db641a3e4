"""Published derived-table stores — the pair-store pattern
(``dedup_ops.verified_pair_store``) generalized to the
repeated-map-pass query class (r17 VERDICT ask #1).

Several queries re-run full corpus map passes (tokenize, shingle+md5,
bigram distinct, activity-month distinct) once per plan REFERENCE
because Catalyst re-evaluates an unmaterialized subtree per consumer
branch. In-query persists were measured and REVERTED in round 17
(a materialization barrier costs more than 2-3 cheap re-evaluations
at bench scale, and competes for executor memory at 100 TB). The form
that wins at BOTH scales is the one production uses: materialize the
derivative ONCE per corpus version as a published artifact and let
every consumer read parquet — at 100 TB each removed re-evaluation is
a full corpus read (guide §6), and at bench scale a narrow parquet
scan beats re-tokenizing raw text.

Addressing, build-on-miss and memoization are storeutil's (SCALE.md
"Published artifacts"); ``$SPARK_GRAFT_DERIV_STORE`` pins the base.

Correctness is unaffected by the seam: each builder is the EXACT
expression subtree consumers previously evaluated inline (tokenize,
zip-slice shingles + md5, bigram concat + distinct, month-truncate +
distinct), and the parquet roundtrip of (long, string, array<string>,
date) columns is exact — consumers see bit-identical rows either way
(oracle-hash-proven per consumer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .functions import textfn
from .storeutil import artifact_dir, published

DERIV_STORE_ENV = "SPARK_GRAFT_DERIV_STORE"


def _table(sf_dir: str, fixture: str, leaf: str, params: str) -> str:
    """Location of one derivative of one fixture table, keyed by the
    derivation name and its live parameters."""
    return artifact_dir(
        DERIV_STORE_ENV, "spark_graft_deriv_store", sf_dir, fixture,
        f"{leaf}|{params}|v1", leaf,
    )


# ------------------------------------------------------- raw corpus


def token_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, toks) — the whitespace-tokenized corpus, the
    base derivative every lexical pass starts from. Consumers read
    pre-split token arrays instead of re-running trim+regex-split
    over raw text per plan reference."""

    def build() -> DataFrame:
        return load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", textfn.tokenize("text").alias("toks")
        )

    return published(
        spark,
        _table(sf_dir, "documents.parquet", "tokens", "ws-tok"),
        build,
    )


def postings_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term, tf) — the term-frequency postings table
    (bm25_topk's inverted-index grain). The (term, doc) aggregation
    shuffle is paid once per corpus version at build; consumers'
    plan references become parquet scans."""

    def build() -> DataFrame:
        toks = token_store(spark, sf_dir).select(
            "doc_id", F.explode("toks").alias("term")
        )
        return toks.groupBy("term", "doc_id").agg(
            F.count(F.lit(1)).alias("tf")
        )

    return published(
        spark,
        _table(sf_dir, "documents.parquet", "postings", "ws-tok|tf"),
        build,
    )


def source_bigram_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, bigram) DISTINCT — the per-source bigram-type
    vocabulary (source_bigram_overlap's sv table; its in-query
    persist was measured and reverted in r17 — the store read is the
    form that wins at both scales). The distinct shuffle is paid once
    per corpus version."""

    def build() -> DataFrame:
        from .queries.corpus_stats_ops import _bigrams

        toked = token_store(spark, sf_dir).select("source", "toks")
        return _bigrams(toked, "source").distinct()

    return published(
        spark,
        _table(
            sf_dir, "documents.parquet", "src_bigrams", "ws-tok|bg2"
        ),
        build,
    )


# ------------------------------------------------- augmented corpus


def aug_token_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, toks) over the AUGMENTED corpus (dedup_ops'
    documents ∪ mutated twins) — the token grain the exact-substring
    dedup family (dup_span_mine/scrub) consumes. One row per
    augmented doc, empty-token docs included (totals/left-join
    semantics depend on them)."""

    def build() -> DataFrame:
        from .queries.dedup_ops import _augmented_docs

        return _augmented_docs(spark, sf_dir).select(
            "doc_id", textfn.tokenize("text").alias("toks")
        )

    return published(
        spark,
        _table(
            sf_dir, "documents.parquet", "aug_tokens", "ws-tok|aug"
        ),
        build,
    )


def kgram_shingles_from_tokens(toked: DataFrame, K: int) -> DataFrame:
    """(doc_id, start_tok, key) rows of md5-keyed K-token shingles
    from a (doc_id, toks) frame — K shifted slices of the token array
    arrays_zip'ped and posexploded (all codegen'd builtins; no lambda
    HOFs, no lead() window). Docs under K tokens emit nothing; every
    slice has length size-K+1, so the zip is rectangular and
    start_tok = pos+1 matches the oracle's 1-based range. This is the
    r17 ``_kgram_shingles`` body minus the tokenize (the store holds
    the token arrays)."""
    toked = toked.filter(F.size("toks") >= K)
    zipped = F.arrays_zip(*[
        F.slice("toks", i + 1, F.size("toks") - (K - 1)).alias(f"t{i}")
        for i in range(K)
    ])
    return toked.select(
        "doc_id", F.posexplode(zipped).alias("pos", "p")
    ).select(
        "doc_id",
        (F.col("pos") + 1).cast("long").alias("start_tok"),
        F.md5(
            F.concat_ws(" ", *[F.col(f"p.t{i}") for i in range(K)])
        ).alias("key"),
    )


def aug_shingle_store(
    spark: SparkSession, sf_dir: str, k: int
) -> DataFrame:
    """(doc_id, start_tok, key) — md5-keyed K-token shingles over the
    augmented corpus, the dedup index grain dup_span_mine/scrub
    probe. The md5 per token position (the dominant map-side cost of
    the shingle pass) is paid once per corpus version; each consumer
    reference becomes a parquet scan of (long, long, 32-hex) rows."""

    def build() -> DataFrame:
        return kgram_shingles_from_tokens(
            aug_token_store(spark, sf_dir), k
        )

    return published(
        spark,
        _table(
            sf_dir,
            "documents.parquet",
            "aug_shingles",
            f"ws-tok|aug|k{k}",
        ),
        build,
    )


# ------------------------------------------------------ events grain


def activity_month_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, am) DISTINCT — per-user activity months
    (cohort_retention's membership table; its in-query persist was
    measured and reverted in r17). The distinct shuffle over raw
    events is paid once per fixture version; retention reads the
    month-grain membership."""

    def build() -> DataFrame:
        return (
            load_table(spark, sf_dir, "events")
            .select(
                "user_id",
                F.date_trunc("month", "ts").cast("date").alias("am"),
            )
            .distinct()
        )

    return published(
        spark,
        _table(sf_dir, "events.parquet", "activity_months", "m"),
        build,
    )
