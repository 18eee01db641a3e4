"""Corpus-quality / sampling operators over `documents` (north-star
tier, round 2): Gopher-style repetition and quality signals, crude
prefix dedup, deterministic stratified sampling, cross-document
shingle novelty. All pure built-in expressions with DuckDB oracles
(integer counts + single-division ratios — doubles agree bitwise).

Registered AFTER the streaming tier: the driver's CORRECTNESS window
covers the first 50 registered queries, and the never-driver-checked
round-1 tier must stay inside it (see registry._QUERY_MODULES).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import textfn
from ..memo import memoized
from ..registry import query
from ._oracle_shared import _DUCK_TOKS, _DUCK_VDIV, VDIV_VOCAB_K


@query(
    "repetition_profile",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ),
    bg AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(len(toks) - 1, 1)),
                            i -> array_to_string(toks[i:i+1], ' ')) AS bigrams
      FROM t
    ),
    tok_counts AS (
      SELECT doc_id, tok, count(*) AS cnt
      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
      GROUP BY doc_id, tok
    ),
    dominance AS (
      SELECT doc_id,
             CAST(max(cnt) AS BIGINT) AS top_tok_cnt,
             CAST(sum(cnt) AS BIGINT) AS n_tokens
      FROM tok_counts GROUP BY doc_id
    )
    SELECT d.doc_id,
           n_tokens,
           CAST(top_tok_cnt AS DOUBLE) / n_tokens AS top_tok_frac,
           CAST(len(bigrams) - len(list_distinct(bigrams)) AS DOUBLE)
             / len(bigrams) AS dup_bigram_frac
    FROM dominance d JOIN bg USING (doc_id)
    ORDER BY doc_id
    """,
)
def repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: most-frequent-
    token dominance and duplicate-bigram fraction — the two cheapest
    detectors of degenerate/boilerplate text (Rae et al. 2021 §A1.1).

    Scale shape: dominance is a two-level aggregate — shuffle on
    (doc_id, token) then on doc_id, both partial-aggregable; the
    bigram metrics are computed per-row from array expressions
    (map-only) and joined back on doc_id, the same partitioning the
    second aggregate just produced. No Python anywhere.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", textfn.tokenize("text").alias("toks")
    )
    tok_counts = (
        docs.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dominance = tok_counts.groupBy("doc_id").agg(
        F.max("cnt").alias("top_tok_cnt"),
        F.sum("cnt").alias("n_tokens"),
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("toks") - 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice("toks", i, 2)),
    )
    bg = docs.select("doc_id", bigrams.alias("bigrams"))
    return (
        dominance.join(bg, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("top_tok_cnt").cast("double") / F.col("n_tokens")).alias(
                "top_tok_frac"
            ),
            (
                (F.size("bigrams") - F.size(F.array_distinct("bigrams"))).cast(
                    "double"
                )
                / F.size("bigrams")
            ).alias("dup_bigram_frac"),
        )
        .orderBy("doc_id")
    )


@query(
    "gopher_quality_flags",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             CAST(length(coalesce(array_to_string(toks, ''), '')) AS DOUBLE)
               / greatest(len(toks), 1) AS mean_word_len,
             CAST(len(list_filter(toks, w -> regexp_full_match(w, '[a-z]+')))
                  AS DOUBLE) / greatest(len(toks), 1) AS alpha_frac
      FROM t
    )
    SELECT doc_id, n_tokens, mean_word_len, alpha_frac,
           (n_tokens BETWEEN 50 AND 100000)
             AND (mean_word_len BETWEEN 3 AND 10)
             AND (alpha_frac >= 0.8) AS keep
    FROM m
    ORDER BY doc_id
    """,
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rules quality filter (Rae et al. 2021 §A1.1 subset):
    token-count band, mean-word-length band, alphabetic-word
    fraction — each doc gets its metrics plus the composite keep
    flag. Map-only built-in expressions; every ratio is one IEEE
    division of exact integers so both engines agree bitwise.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", textfn.tokenize("text").alias("toks")
    )
    n_tokens = F.size("toks")
    denom = F.greatest(n_tokens, F.lit(1))
    mean_word_len = F.length(F.array_join("toks", "")).cast("double") / denom
    alpha_cnt = F.size(F.filter(F.col("toks"), lambda w: w.rlike("^[a-z]+$")))
    alpha_frac = alpha_cnt.cast("double") / denom
    m = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        mean_word_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
    )
    return m.select(
        "*",
        (
            F.col("n_tokens").between(50, 100000)
            & F.col("mean_word_len").between(3, 10)
            & (F.col("alpha_frac") >= 0.8)
        ).alias("keep"),
    ).orderBy("doc_id")


@query(
    "dedup_prefix",
    oracle="""
    SELECT md5(substr(text, 1, 64)) AS prefix_key,
           min(doc_id) AS doc_id
    FROM documents
    GROUP BY 1
    ORDER BY doc_id
    """,
)
def dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crude exact-prefix dedup: md5 of the first 64 chars as the
    content key, min doc_id survives per key — the cheap first pass
    web pipelines run before shingle-level dedup (catches mirrored
    pages with differing tails).

    Scale shape: a single partial-aggregable groupBy on the hash key
    — deliberately min-agg, not a ROW_NUMBER window (same survivors,
    no per-key sort, map-side combine)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.md5(F.substring("text", 1, 64).cast("binary")).alias("prefix_key"),
            "doc_id",
        )
        .groupBy("prefix_key")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("prefix_key", "doc_id")
        .orderBy("doc_id")
    )


@query(
    "stratified_sample",
    oracle="""
    SELECT doc_id, source
    FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    WHERE rn <= 10
    ORDER BY source, doc_id
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: 10 docs per source stratum,
    selected by md5(doc_id) order — reproducible across engines and
    runs (no RNG), the standard way to pull balanced eval/inspection
    samples from a skewed corpus.

    Scale shape: one shuffle on the stratum key + per-stratum top-k;
    with many strata the rank window parallelizes per stratum. (For
    a FRACTION per stratum instead of a count, the same hash ordered
    as a threshold — hash < p·2^128 — is map-only.)"""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "source")
        .orderBy("source", "doc_id")
    )


@query(
    "shingle_novelty",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 1)),
               i -> array_to_string(toks[i:i+2], ' ')))) AS sh
      FROM t
    ),
    first_seen AS (
      SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY sh
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc < s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_seen_before,
           CAST(sum(CASE WHEN f.first_doc < s.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS seen_frac
    FROM sh s JOIN first_seen f USING (sh)
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
)
def shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document novelty: for each doc, the fraction of its
    distinct word-3-gram shingles already present in an EARLIER doc
    (by doc_id) — the contamination/near-copy signal used to rank
    documents for dedup priority and to measure benchmark leakage.

    Shingles are built with posexplode + two window LEADs instead of
    the array-HOF transform/slice chain: higher-order functions run
    interpreted (outside whole-stage codegen) and re-evaluate per
    plan branch — at sf0.1 the HOF form cost 15 s, this one < 2 s
    for identical output. First-occurrence is a min-over-partition
    window on the shingle (one shuffle, no join back), then the
    per-doc aggregate. Everything stays in codegen; cost is linear
    in corpus token count, no N² anywhere."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", textfn.tokenize("text").alias("toks")
    )
    tok = docs.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    wl = Window.partitionBy("doc_id").orderBy("pos")
    # degenerate docs (<3 tokens) contribute their whole text as one
    # shingle — mirroring word_ngrams' greatest(size-2, 1) clamp
    sh = (
        tok.withColumn("t2", F.lead("tok", 1).over(wl))
        .withColumn("t3", F.lead("tok", 2).over(wl))
        .withColumn(
            "sh",
            F.when(
                F.col("t3").isNotNull(), F.concat_ws(" ", "tok", "t2", "t3")
            )
            .when(
                (F.col("pos") == 0) & F.col("t2").isNull(), F.col("tok")
            )
            .when(
                (F.col("pos") == 0) & F.col("t3").isNull(),
                F.concat_ws(" ", "tok", "t2"),
            ),
        )
        .filter(F.col("sh").isNotNull())
        .select("doc_id", "sh")
        .distinct()
    )
    seen = F.sum(
        F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
    )
    return (
        sh.withColumn(
            "first_doc", F.min("doc_id").over(Window.partitionBy("sh"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            seen.alias("n_seen_before"),
            (seen.cast("double") / F.count(F.lit(1))).alias("seen_frac"),
        )
        .orderBy("doc_id")
    )


@query(
    "corpus_mixture_weights",
    oracle=f"""
    WITH per_source AS (
      SELECT source,
             count(*) AS n_docs,
             CAST(sum(len({_DUCK_TOKS})) AS BIGINT) AS n_tokens
      FROM documents
      GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM per_source)
    SELECT source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / total_tokens AS token_share,
           CASE WHEN n_tokens = 0 THEN NULL
                ELSE CAST(total_tokens AS DOUBLE) / (
                  (SELECT count(*) FROM per_source) * n_tokens
                ) END AS uniform_upweight
    FROM per_source, tot
    ORDER BY source
    """,
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing pass: per-source token counts, corpus share, and
    the per-doc upweight that would equalize source contributions
    (share_target / share_actual with a uniform target) — the numbers
    a pretraining data recipe starts from. A source with ZERO tokens
    has no defined upweight: both engines emit NULL there explicitly
    (ANSI Spark would otherwise raise DIVIDE_BY_ZERO — caught by the
    zero-token source in the adversarial edge fixture).

    Scale shape: one partial-aggregable groupBy on source; the totals
    join is a 1-row broadcast. The upweight keeps integer operands
    until a single double division on each side, so engines agree
    bitwise."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(textfn.token_count("text")).alias("n_tokens"),
    )
    tot = per_source.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return (
        per_source.join(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("total_tokens")).alias(
                "token_share"
            ),
            F.when(F.col("n_tokens") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.col("total_tokens").cast("double")
                / (F.col("n_sources") * F.col("n_tokens"))
            )
            .alias("uniform_upweight"),
        )
        .orderBy("source")
    )


# code-vs-prose gate: symbol density above this fraction of
# characters flags a document as code-like. The exact value matters
# less than the rule being cheap, deterministic, and tunable — the
# same shape real mixes use before routing code to a separate
# pipeline (symbol-density heuristics are the standard first cut).
CODE_SYMBOL_THRESHOLD = 0.05
_CODE_SYMBOLS = "[^;{}=()<>\\[\\]]"


@query(
    "code_fraction_by_source",
    oracle=f"""
    WITH d AS (
      SELECT source,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(regexp_replace(text, '{_CODE_SYMBOLS}', '', 'g'))
                  AS BIGINT) AS n_sym
      FROM documents
    ),
    flagged AS (
      SELECT source,
             CASE WHEN n_chars > 0
                  AND CAST(n_sym AS DOUBLE) / n_chars
                      > {CODE_SYMBOL_THRESHOLD}
                  THEN 1 ELSE 0 END AS is_code
      FROM d
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(is_code) AS BIGINT) AS n_code,
           CAST(sum(is_code) AS DOUBLE) / count(*) AS code_rate
    FROM flagged
    GROUP BY source
    ORDER BY source
    """,
)
def code_fraction_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose mixture profile: flag documents whose
    code-symbol density (;{{}}=()<>[] per character) exceeds
    CODE_SYMBOL_THRESHOLD, then report per-source counts and rate —
    the first cut a pretraining mix makes before routing code to its
    own dedup/quality pipeline.

    Parity: symbol and char counts are exact integers on both
    engines (same regex class, 'g'-flag replace); the per-doc density
    and the per-source rate are each ONE IEEE division of exact
    integers, so the > comparison and the output double agree
    bitwise. Scale shape: map-only flagging, one shuffle to the
    per-source aggregate."""
    n_sym = F.length(
        F.regexp_replace(F.col("text"), _CODE_SYMBOLS, "")
    ).cast("long")
    n_chars = F.length("text").cast("long")
    flagged = load_table(spark, sf_dir, "documents").select(
        "source",
        F.when(
            (n_chars > 0)
            & (
                n_sym.cast("double") / n_chars
                > F.lit(CODE_SYMBOL_THRESHOLD)
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_code"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("is_code").cast("long").alias("n_code"),
            (
                F.sum("is_code").cast("double") / F.count(F.lit(1))
            ).alias("code_rate"),
        )
        .orderBy("source")
    )


# memoized: the persisted (source, tok) count table feeds two
# branches, and a repeat call must reuse it, not stack a new persist
@query(
    "source_vocab_divergence",
    oracle=_DUCK_VDIV.format(k=VDIV_VOCAB_K),
)
@memoized
def source_vocab_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift profile: each source's total-variation
    distance from the corpus-wide unigram distribution, both
    restricted to the global top-VDIV_VOCAB_K vocabulary — the
    mixture-health check a pretraining pipeline runs to spot a
    provenance whose token distribution has drifted (a scraper
    regression, a boilerplate flood) before it poisons the blend.
    TV = 0.5 * sum over vocab terms |p_source(t) - p_corpus(t)|,
    probabilities conditioned on vocab membership.

    Hash parity: counts and totals are exact integers, each
    probability a single IEEE division, and the per-source sum is
    folded IN TERM ORDER on both engines (F.aggregate over
    sort_array here, list_reduce over list(... ORDER BY tok) in the
    oracle) — the same pinned-fold discipline as tfidf/bm25.

    Scale shape: one shuffle to (source, token) counts; the global
    vocab is a capped top-K (broadcast); the comparison grid is
    |sources| x K rows built by a bounded crossJoin (allowlisted in
    plan_audit.BOUNDED_CARTESIAN) — never vocabulary-sized. The
    corpus-total and per-source-total joins are 1-row / |sources|-row
    broadcasts. Nothing here grows with document count except the
    first token-count aggregate, which is partial-aggregable.
    """
    st = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.explode(textfn.tokenize("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    vocab = (
        st.groupBy("tok")
        .agg(F.sum("c").cast("long").alias("ct"))
        .orderBy(F.col("ct").desc(), "tok")
        .limit(VDIV_VOCAB_K)
    )
    corpus_n = vocab.agg(F.sum("ct").cast("long").alias("n"))
    src_n = (
        st.join(F.broadcast(vocab.select("tok")), "tok")
        .groupBy("source")
        .agg(F.sum("c").cast("long").alias("ns"))
    )
    sources = (
        load_table(spark, sf_dir, "documents").select("source").distinct()
    )
    grid = (
        sources.crossJoin(F.broadcast(vocab))
        .join(st.withColumnRenamed("c", "cs"), ["source", "tok"], "left")
        .join(F.broadcast(src_n), "source", "left")
        .crossJoin(F.broadcast(corpus_n))
    )
    ns, cs = F.col("ns"), F.coalesce(F.col("cs"), F.lit(0))
    diff = F.abs(
        F.when(F.coalesce(ns, F.lit(0)) == 0, F.lit(0.0)).otherwise(
            cs.cast("double") / ns.cast("double")
        )
        - F.col("ct").cast("double") / F.col("n").cast("double")
    )
    result = (
        grid.select("source", "tok", F.col("ns"), diff.alias("d"))
        .groupBy("source")
        .agg(
            F.coalesce(F.first("ns"), F.lit(0)).cast("long").alias(
                "n_vocab_tokens"
            ),
            (
                F.lit(0.5)
                * F.aggregate(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("tok"), F.col("d")))
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x["d"],
                )
            ).alias("tv_divergence"),
        )
        .orderBy("source")
    )
    return result
