"""Corpus-curation operators over `documents` (north-star tier,
round 2, second batch): benchmark-decontamination overlap, document
commonness scoring against the corpus unigram table, and the staged
filter funnel a pretraining data recipe reports.

All pure built-in expressions with DuckDB oracles. Outputs are exact
integers plus at most one IEEE division of exact integers per column,
so both engines agree bitwise (the same rule the rest of the text
tier follows).

Registered after text_quality_ops — outside the driver's 50-query
CORRECTNESS window, so these lean on tests/test_oracle_parity.py
until a later round rotates them in (see registry._QUERY_MODULES).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import textfn
from ..memo import memoized
from ..registry import query
from ._oracle_shared import _DUCK_TOKS

# word-3-gram shingles per doc, DuckDB side (same clamp as
# functions/textfn.word_ngrams: degenerate docs yield one shingle)
_DUCK_SHINGLES = f"""
      SELECT doc_id, source, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 1)),
               i -> array_to_string(toks[i:i+2], ' ')))) AS sh
      FROM (SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents)
"""


@query(
    "decontam_overlap",
    oracle=f"""
    WITH sh AS ({_DUCK_SHINGLES}),
    bench AS (SELECT DISTINCT sh FROM sh WHERE source = 'src0')
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bench_hits,
           sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) * 10
             >= count(*) AS contaminated
    FROM sh s LEFT JOIN bench b USING (sh)
    WHERE s.source <> 'src0'
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
)
def decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: treating one source (`src0`) as the
    held-out eval set, count each remaining document's distinct
    word-3-gram shingles that also appear in the benchmark, and flag
    docs with ≥10% shingle overlap — the n-gram contamination check
    run before pretraining (GPT-3 appendix C / PaLM §7 style).

    Scale shape: both sides shuffle once on the shingle for the left
    join; the benchmark side is a real eval set in production (fixed
    size, thousands of docs), so AQE broadcast-converts it — but no
    hint forces that, so an SF-growing stand-in like this one still
    plans as a sound shuffle join. The contamination flag is an
    integer cross-multiply (hits·10 ≥ total), no division at all.

    Shingles come from posexplode + two window LEADs, not the
    transform/slice HOF chain — HOFs run interpreted and re-evaluate
    per plan branch (this query has two: bench and probe), which cost
    8.9 s at sf0.1; this form is codegen end-to-end and the shingle
    set is persisted so the window chain runs once, not per branch
    (memoized like the MinHash signature table, so repeated
    invocations share one cached copy instead of re-registering an
    identical plan).
    """
    sh = _decontam_shingles(spark, sf_dir)
    bench = sh.filter(F.col("source") == "src0").select("sh").distinct()
    hits = F.sum(F.when(F.col("bench_sh").isNotNull(), 1).otherwise(0))
    return (
        sh.filter(F.col("source") != "src0")
        .join(bench.withColumnRenamed("sh", "bench_sh"),
              F.col("sh") == F.col("bench_sh"), "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            hits.alias("n_bench_hits"),
            (hits * 10 >= F.count(F.lit(1))).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


@memoized
def _decontam_shingles(spark: SparkSession, sf_dir: str):
    """Distinct (doc_id, source, shingle) table for decontam_overlap
    — the persisted branch-shared input."""
    from pyspark.sql.window import Window

    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.posexplode(textfn.tokenize("text")).alias("pos", "tok")
    )
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
            .when((F.col("pos") == 0) & F.col("t2").isNull(), F.col("tok"))
            .when(
                (F.col("pos") == 0) & F.col("t3").isNull(),
                F.concat_ws(" ", "tok", "t2"),
            ),
        )
        .filter(F.col("sh").isNotNull())
        .select("doc_id", "source", "sh")
        .distinct()
        .persist()
    )
    return sh


@query(
    "doc_commonness",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct({_DUCK_TOKS})) AS tok
      FROM documents
    ),
    df AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_distinct_toks,
           CAST(sum(df.df) AS BIGINT) AS sum_df,
           CAST(sum(df.df) AS DOUBLE) / count(*) AS mean_df
    FROM toks t JOIN df USING (tok)
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
)
def doc_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-model commonness score: for each document, the mean
    document frequency of its distinct tokens — a cheap integer-exact
    stand-in for unigram perplexity (low mean_df = rare vocabulary =
    candidate junk or candidate gold, either way worth a look) used
    to rank docs for quality-filter thresholds.

    Scale shape: the classic two-phase text statistic — one shuffle
    on the token to build the DF table (partial-aggregable), one
    shuffle join back on the token, one aggregate on doc_id. Token
    vocabulary grows sublinearly with the corpus (Heaps' law), so the
    DF side stays small relative to the exploded probe and AQE may
    broadcast it; no hint forces that. mean_df is the single IEEE
    division of two exact integers, bitwise-stable across engines.
    """
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.array_distinct(textfn.tokenize("text"))).alias("tok"),
        )
    )
    df = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return (
        toks.join(df, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_toks"),
            F.sum("df").alias("sum_df"),
            (F.sum("df").cast("double") / F.count(F.lit(1))).alias("mean_df"),
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_incremental",
    oracle="""
    WITH corpus AS (
      SELECT DISTINCT md5(substr(text, 1, 64)) AS h
      FROM documents WHERE doc_id < 400
    ),
    batch AS (
      SELECT md5(substr(text, 1, 64)) AS h, min(doc_id) AS doc_id
      FROM documents WHERE doc_id >= 400 GROUP BY 1
    )
    SELECT doc_id FROM batch
    WHERE h NOT IN (SELECT h FROM corpus)
    ORDER BY doc_id
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental dedup: a new ingest batch (doc_id ≥ 400
    stands in for "this run's crawl") keeps only documents whose
    content key (the same 64-char-prefix hash dedup_prefix uses, so
    the fixture actually exercises both removal paths) is absent
    from the already-published corpus (doc_id < 400) AND not
    duplicated within the batch itself — the
    two-level check every recurring ingest needs (K5's union+DISTINCT
    generalized to content identity against a persisted store).

    Scale shape: in-batch dedup is one min-agg groupBy on the hash;
    the corpus probe is a left-anti join on the same key, so both
    steps share one hash partitioning. The corpus side at 100 TB is a
    stored fingerprint table (hash only, not text) — a fraction of
    corpus bytes; the anti join shuffles it once, and nothing is
    broadcast by hint.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.substring("text", 1, 64).cast("binary")).alias("h")
    )
    corpus = docs.filter(F.col("doc_id") < 400).select("h").distinct()
    batch = (
        docs.filter(F.col("doc_id") >= 400)
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return (
        batch.join(corpus, "h", "left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    )


@query(
    "table_profile",
    oracle="""
    SELECT col, n_nulls, n_distinct, min_str, max_str FROM (
      SELECT 0 AS ord, 'o_custkey' AS col,
             CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
             CAST(min(o_custkey) AS VARCHAR) AS min_str,
             CAST(max(o_custkey) AS VARCHAR) AS max_str
      FROM orders
      UNION ALL
      SELECT 1, 'o_orderstatus',
             CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(DISTINCT o_orderstatus) AS BIGINT),
             CAST(min(o_orderstatus) AS VARCHAR),
             CAST(max(o_orderstatus) AS VARCHAR)
      FROM orders
      UNION ALL
      SELECT 2, 'o_orderpriority',
             CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(DISTINCT o_orderpriority) AS BIGINT),
             CAST(min(o_orderpriority) AS VARCHAR),
             CAST(max(o_orderpriority) AS VARCHAR)
      FROM orders
    ) ORDER BY ord
    """,
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling pass (the ANALYZE TABLE / data-quality report
    analogue): per-column null count, exact distinct count, and
    stringified min/max for a set of columns, one output row per
    column — the health check a load pipeline runs before publish
    (A3's count gate, widened to column grain).

    Scale shape: ONE aggregate pass over the table computes every
    column's null/min/max plus exact distincts — Spark plans multiple
    count(DISTINCT) via a single expand + two-level aggregate, not
    one scan per column — then a constant-width stack pivots scalars
    to rows. At 100 TB the same query runs with
    approx_count_distinct to drop the expand; exact is kept here so
    the DuckDB oracle can hash-match.
    """
    cols = ["o_custkey", "o_orderstatus", "o_orderpriority"]
    orders = load_table(spark, sf_dir, "orders")
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"n_{c}"),
            F.countDistinct(c).alias(f"d_{c}"),
            F.min(c).cast("string").alias(f"mn_{c}"),
            F.max(c).cast("string").alias(f"mx_{c}"),
        ]
    one = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n_{c}, d_{c}, mn_{c}, mx_{c}" for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(col, n_nulls, n_distinct, min_str, max_str)"
    )


@query(
    "curation_funnel",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, lang,
             len(toks) AS n_tokens,
             len(list_filter(toks, w -> regexp_full_match(w, '[a-z]+')))
               AS alpha_cnt,
             list_max(list_transform(list_distinct(toks),
               t -> len(list_filter(toks, w -> w = t)))) AS top_cnt
      FROM (SELECT doc_id, lang, {_DUCK_TOKS} AS toks FROM documents)
    ),
    f AS (
      SELECT *,
             (lang = 'en') AS p1,
             (lang = 'en') AND n_tokens BETWEEN 30 AND 100000 AS p2,
             (lang = 'en') AND n_tokens BETWEEN 30 AND 100000
               AND top_cnt * 5 <= n_tokens AS p3,
             (lang = 'en') AND n_tokens BETWEEN 30 AND 100000
               AND top_cnt * 5 <= n_tokens
               AND alpha_cnt * 4 >= n_tokens * 3 AS p4
      FROM m
    )
    SELECT stage, docs_surviving, tokens_surviving FROM (
      SELECT 0 AS ord, 'total' AS stage,
             CAST(count(*) AS BIGINT) AS docs_surviving,
             CAST(sum(n_tokens) AS BIGINT) AS tokens_surviving FROM f
      UNION ALL
      SELECT 1, 'lang_en', CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN p1 THEN n_tokens ELSE 0 END) AS BIGINT) FROM f
      UNION ALL
      SELECT 2, 'length_band', CAST(sum(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN p2 THEN n_tokens ELSE 0 END) AS BIGINT) FROM f
      UNION ALL
      SELECT 3, 'low_repetition', CAST(sum(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN p3 THEN n_tokens ELSE 0 END) AS BIGINT) FROM f
      UNION ALL
      SELECT 4, 'alpha_frac', CAST(sum(CASE WHEN p4 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN p4 THEN n_tokens ELSE 0 END) AS BIGINT) FROM f
    ) ORDER BY ord
    """,
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter funnel report: how many documents (and tokens) survive
    each successive curation stage — language keep, length band,
    repetition cap, alphabetic fraction — the table every corpus
    paper prints (e.g. RefinedWeb Table 2, FineWeb ablations).

    Scale shape: per-doc metrics come from the canonical two-level
    aggregate — explode tokens, count per (doc, token), then per-doc
    max/sums (both shuffles partial-aggregable; a nested-HOF form of
    the top-token count would be O(vocab·len) interpreted per row).
    The funnel itself is ONE single-pass aggregate producing all five
    stages as conditional sums — not five scans — and a 5-row
    stack/unpivot of that single row. Cumulative AND-chaining makes
    each stage's predicate reuse the previous one, mirroring real
    pipeline order. Everything integer; no division anywhere.
    """
    tok_counts = (
        load_table(spark, sf_dir, "documents")
        # explode_outer + null masking below: an empty doc must still
        # count in the 'total' stage with n_tokens = 0
        .select(
            "doc_id",
            "lang",
            F.explode_outer(textfn.tokenize("text")).alias("tok"),
        )
        .groupBy("doc_id", "lang", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    real = F.when(F.col("tok").isNotNull(), F.col("cnt")).otherwise(0)
    m = tok_counts.groupBy("doc_id", "lang").agg(
        F.sum(real).alias("n_tokens"),
        F.sum(
            F.when(F.col("tok").rlike("^[a-z]+$"), F.col("cnt")).otherwise(0)
        ).alias("alpha_cnt"),
        F.max(F.when(F.col("tok").isNotNull(), F.col("cnt"))).alias("top_cnt"),
    )
    p1 = F.col("lang") == "en"
    p2 = p1 & F.col("n_tokens").between(30, 100000)
    p3 = p2 & (F.col("top_cnt") * 5 <= F.col("n_tokens"))
    p4 = p3 & (F.col("alpha_cnt") * 4 >= F.col("n_tokens") * 3)
    preds = [
        ("total", F.lit(True)),
        ("lang_en", p1),
        ("length_band", p2),
        ("low_repetition", p3),
        ("alpha_frac", p4),
    ]
    aggs = []
    for name, p in preds:
        aggs.append(
            F.sum(F.when(p, 1).otherwise(0)).alias(f"d_{name}")
        )
        aggs.append(
            F.sum(F.when(p, F.col("n_tokens")).otherwise(0)).alias(
                f"t_{name}"
            )
        )
    one = m.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', d_{name}, t_{name}" for name, _ in preds
    )
    return one.selectExpr(
        f"stack({len(preds)}, {stack_args}) AS "
        "(stage, docs_surviving, tokens_surviving)"
    )


# ------------------------------------------- incremental near-dup index

# deterministic "today's batch": base doc_id % 10 == 7. Augmented
# twin ids (base + 1_000_000) inherit the same residue, so a new doc
# and its test-scaffolding twin land on the same side of the split.
_NEW_BATCH_RESIDUE = 7


def _neardup_incremental_oracle() -> str:
    from ..registry import ORACLE

    return f"""
    WITH full_pairs AS ({ORACLE["dedup_minhash"]})
    SELECT doc_a, doc_b, jaccard
    FROM full_pairs
    WHERE doc_a % 10 = {_NEW_BATCH_RESIDUE}
       OR doc_b % 10 = {_NEW_BATCH_RESIDUE}
    ORDER BY doc_a, doc_b
    """


@query("neardup_incremental", oracle=_neardup_incremental_oracle())
def neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the near-dup index — the MinHash
    dual of `dedup_incremental`'s exact-hash check: when a new batch
    arrives, only NEW x ALL band buckets are joined (the store's
    signatures are already persisted from previous runs — here the
    memoized signature table stands in for that store), so each
    ingest pays candidates proportional to the batch, not the corpus.
    Emits the verified near-dup pairs touching the new batch.

    The oracle is the FULL rebuild filtered to pairs touching the
    batch — the incremental ≡ full invariant (`incr_mau_refresh`'s
    pattern): the hash match proves restricting the candidate join
    loses nothing, on every fixture generation.

    Scale shape: one band equi-join with the new side filtered BEFORE
    the shuffle (batch-sized build side — AQE broadcasts it when
    small); verification joins the signature store on the pair ids.
    The plain bucket join is used (no skew salting) because the new
    side of every bucket is batch-bounded.
    """
    from ..operators import band_probe
    from .dedup_ops import _band_cols_spark, jaccard_verify, minhash_signatures

    is_new = (F.col("doc_id") % 10) == _NEW_BATCH_RESIDUE
    sigs = minhash_signatures(spark, sf_dir)
    banded = sigs.select(
        "doc_id",
        F.posexplode(F.array(*_band_cols_spark())).alias("band_idx", "band"),
    )
    pairs = band_probe(
        banded.filter(is_new), banded, "doc_id", ("band_idx", "band"),
        ("doc_a", "doc_b"),
    )
    return jaccard_verify(pairs, sigs).orderBy("doc_a", "doc_b")


@query(
    "doc_line_dedup",
    oracle="""
    WITH l AS (
      SELECT doc_id,
             unnest(string_split(text, chr(10))) AS line,
             unnest(range(0, len(string_split(text, chr(10))))) AS pos
      FROM documents
    ),
    firsts AS (
      SELECT doc_id, line, CAST(min(pos) AS BIGINT) AS pos
      FROM l GROUP BY doc_id, line
    ),
    rebuilt AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_kept,
             md5(coalesce(
               array_to_string(list(line ORDER BY pos), chr(10)), ''
             )) AS cleaned_md5
      FROM firsts GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines,
           r.n_kept,
           r.cleaned_md5
    FROM documents d JOIN rebuilt r ON d.doc_id = r.doc_id
    ORDER BY d.doc_id
    """,
)
def doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repeated-line removal — the C4/CCNet curation
    step whole-document dedup never touches (boilerplate navigation,
    repeated headers, cookie banners repeat INSIDE a page): keep each
    distinct line's FIRST occurrence in original order, drop the
    rest. Emits per doc the original and surviving line counts plus
    the md5 of the cleaned text, so the transform itself (not just
    the counts) is hash-verified — both engines must rebuild the
    identical cleaned document.

    Order-preserving dedup without a window: explode with positions,
    min(pos) per (doc, line), re-assemble sorted by kept position
    (array_sort over (pos, line) structs here, list(... ORDER BY pos)
    in the oracle — same sequence by construction since kept
    positions are distinct).

    Scale shape: one shuffle keyed (doc_id, line) with map-side
    combine, one per-doc re-aggregate — both partial-aggregable; the
    n_lines join is doc_id-keyed (co-partitioned under corpus
    bucketing). Linear in corpus lines at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    )
    firsts = lines.groupBy("doc_id", "line").agg(
        F.min("pos").cast("long").alias("pos")
    )
    rebuilt = firsts.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.md5(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("line")))
                    ),
                    lambda x: x["line"],
                ),
            )
        ).alias("cleaned_md5"),
    )
    return (
        docs.select(
            "doc_id",
            F.size(F.split(F.col("text"), "\n")).cast("long").alias("n_lines"),
        )
        .join(rebuilt, "doc_id")
        .select("doc_id", "n_lines", "n_kept", "cleaned_md5")
        .orderBy("doc_id")
    )


# --------------------------------------------- exact-substring span dedup

# Shingle length in TOKENS for dup_span_mine. Lee et al. 2022
# ("Deduplicating Training Data Makes Language Models Better") uses
# 50-token substrings on web-scale corpora; the synthetic fixture's
# documents are dozens of tokens long, so the operator ships with a
# proportionally shorter minimum span — the algorithm is identical and
# the constant is interpolated into BOTH engines' code paths.
DUP_SPAN_K = 8


# The shared shingle expression (K shifted zip-slices + md5) lives in
# derived_store.kgram_shingles_from_tokens since r18; dup_span_mine
# and dup_span_scrub consume the PUBLISHED aug_shingle_store /
# aug_token_store artifacts instead of re-deriving the shingle table
# per plan reference (each reference was a full corpus pass).


def _dup_span_oracle() -> str:
    from .dedup_ops import _AUG_SQL

    K = DUP_SPAN_K
    return f"""
    WITH aug AS ({_AUG_SQL}),
    toklists AS (
      SELECT doc_id, {_DUCK_TOKS} AS tl FROM aug
    ),
    shingled AS (
      SELECT doc_id,
             unnest(range(1, len(tl) - {K} + 2)) AS start_tok,
             unnest(list_transform(
               range(1, len(tl) - {K} + 2),
               i -> md5(array_to_string(tl[i:i+{K - 1}], ' '))
             )) AS key
      FROM toklists
    ),
    dup AS (
      SELECT key, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
      FROM shingled GROUP BY key HAVING count(DISTINCT doc_id) >= 2
    ),
    hits AS (
      SELECT s.doc_id, s.start_tok, d.nd
      FROM shingled s JOIN dup d USING (key)
    ),
    marked AS (
      SELECT doc_id, start_tok, nd,
             CASE WHEN start_tok - lag(start_tok) OVER (
                    PARTITION BY doc_id ORDER BY start_tok) = 1
                  THEN 0 ELSE 1 END AS brk
      FROM hits
    ),
    grp AS (
      SELECT doc_id, start_tok, nd,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY start_tok)
               AS span_id
      FROM marked
    )
    SELECT doc_id,
           CAST(min(start_tok) AS BIGINT) AS start_tok,
           CAST(max(start_tok) + {K} - 1 AS BIGINT) AS end_tok,
           CAST(max(start_tok) - min(start_tok) + {K} AS BIGINT)
             AS span_tokens,
           CAST(max(nd) AS BIGINT) AS max_dup_docs
    FROM grp GROUP BY doc_id, span_id
    ORDER BY doc_id, start_tok
    """


@query("dup_span_mine", oracle=_dup_span_oracle())
def dup_span_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-document exact-substring duplicate spans — the dedup
    family Lee et al. 2022 showed whole-document MinHash misses:
    repeated >= K-token PASSAGES shared across otherwise-distinct
    documents (licence boilerplate, quoted articles, templated
    intros). Whole-doc dedup (dedup_exact/dedup_minhash) scores the
    document; winnowing samples fingerprints; doc_line_dedup is
    within-doc — this operator emits the exact maximal token ranges
    duplicated ACROSS documents, the input a span-removal rewrite
    step consumes.

    Spark-native approximation of the paper's suffix array: every
    K-token shingle is keyed by md5; a shingle is duplicated when it
    appears in >= 2 DISTINCT documents; per document, runs of
    consecutive duplicated shingle starts merge into maximal spans
    via the lag-window gap-and-island pattern (a span of S
    consecutive duplicated K-shingles is an S+K-1-token duplicated
    substring). Emits (doc_id, start_tok, end_tok, span_tokens,
    max_dup_docs) over the same augmented corpus the MinHash tier
    uses, with max_dup_docs = the widest sharing of any shingle in
    the span.

    Scale shape, all linear in corpus tokens: the md5-keyed shingle
    table is read from the PUBLISHED aug_shingle_store (r18; the
    pair-store pattern — the zip-slice+md5 pass is paid once per
    corpus version at store build, and each of this plan's two
    references to the shingle table was previously a full corpus
    re-derivation); one groupBy on the md5 key (partial-aggregable
    count-distinct over a 128-bit key space — no hot keys); one
    key-equi-join back; one per-doc window for the island merge over
    HIT rows only. Nothing all-pairs: two documents sharing a passage
    meet only through the shingle KEY's group, exactly like a
    suffix-array bucket. At 100 TB the dup-key side is a small
    fraction of shingles and AQE broadcast-joins it back.
    """
    from pyspark.sql.window import Window

    from ..derived_store import aug_shingle_store

    K = DUP_SPAN_K
    shingled = aug_shingle_store(spark, sf_dir, K)
    dup = (
        shingled.groupBy("key")
        .agg(F.countDistinct("doc_id").cast("long").alias("nd"))
        .where(F.col("nd") >= 2)
    )
    hits = shingled.join(dup, "key").select("doc_id", "start_tok", "nd")
    w2 = Window.partitionBy("doc_id").orderBy("start_tok")
    marked = hits.withColumn(
        "brk",
        F.when(
            F.col("start_tok") - F.lag("start_tok").over(w2) == 1, F.lit(0)
        ).otherwise(F.lit(1)),
    )
    grp = marked.withColumn("span_id", F.sum("brk").over(w2))
    return (
        grp.groupBy("doc_id", "span_id")
        .agg(
            F.min("start_tok").cast("long").alias("start_tok"),
            (F.max("start_tok") + K - 1).cast("long").alias("end_tok"),
            (F.max("start_tok") - F.min("start_tok") + K)
            .cast("long")
            .alias("span_tokens"),
            F.max("nd").cast("long").alias("max_dup_docs"),
        )
        .select(
            "doc_id", "start_tok", "end_tok", "span_tokens", "max_dup_docs"
        )
        .orderBy("doc_id", "start_tok")
    )


# --------------------------------------------- exact-substring scrub


def _dup_span_scrub_oracle() -> str:
    from .dedup_ops import _AUG_SQL

    K = DUP_SPAN_K
    return f"""
    WITH aug AS ({_AUG_SQL}),
    toklists AS (
      SELECT doc_id, {_DUCK_TOKS} AS tl FROM aug
    ),
    shingled AS (
      SELECT doc_id,
             unnest(range(1, len(tl) - {K} + 2)) AS start_tok,
             unnest(list_transform(
               range(1, len(tl) - {K} + 2),
               i -> md5(array_to_string(tl[i:i+{K - 1}], ' '))
             )) AS key
      FROM toklists
    ),
    dup AS (
      SELECT key, CAST(min(doc_id) AS BIGINT) AS canon
      FROM shingled GROUP BY key
      HAVING count(DISTINCT doc_id) >= 2
    ),
    removed AS (
      SELECT DISTINCT s.doc_id,
             unnest(range(s.start_tok, s.start_tok + {K})) AS pos
      FROM shingled s JOIN dup d USING (key)
      WHERE s.doc_id <> d.canon
    ),
    toks AS (
      SELECT doc_id, unnest(tl) AS tok,
             generate_subscripts(tl, 1) AS pos
      FROM toklists
    ),
    kept AS (
      SELECT t.doc_id, t.tok, t.pos
      FROM toks t LEFT JOIN removed r
        ON t.doc_id = r.doc_id AND t.pos = r.pos
      WHERE r.pos IS NULL
    ),
    rebuilt AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_kept,
             md5(coalesce(
               array_to_string(list(tok ORDER BY pos), ' '), ''
             )) AS cleaned_md5
      FROM kept GROUP BY doc_id
    )
    SELECT tl.doc_id,
           CAST(len(tl.tl) AS BIGINT) AS n_tokens,
           CAST(len(tl.tl) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
           coalesce(r.cleaned_md5, md5('')) AS cleaned_md5
    FROM toklists tl LEFT JOIN rebuilt r ON tl.doc_id = r.doc_id
    ORDER BY tl.doc_id
    """


@query("dup_span_scrub", oracle=_dup_span_scrub_oracle())
def dup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL rewrite that consumes dup_span_mine's signal —
    Lee et al. 2022's ExactSubstr dedup as a transform: every token
    covered by a cross-document duplicated K-shingle is cut from
    every document EXCEPT the shingle's canonical keeper (the
    minimum doc_id containing it), so exactly one copy of each
    duplicated passage survives the corpus. Emits per document the
    original token count, tokens removed, and the md5 of the
    rebuilt cleaned text — the transform itself is hash-verified
    (the doc_line_dedup pattern), not just the counts.

    Keeper rule: min doc_id per duplicated shingle key — total,
    deterministic, and local to the shingle group (no global
    coordination beyond the groupBy both engines share). A token is
    cut iff ANY non-canonical duplicated shingle occurrence covers
    it; overlapping spans union naturally through the DISTINCT
    (doc, pos) removed set.

    Scale shape, linear in corpus tokens: the shingle table and the
    token stream are read from the PUBLISHED aug_shingle_store /
    aug_token_store artifacts (r18; this plan references the shingle
    table twice and the token grain twice — each reference was
    previously a full corpus re-derivation, 8 documents scans in the
    r17 plan); the duplicate-key groupBy is dup_span_mine's; the
    position explode (sequence(start, start+K-1)) fans out ONLY
    non-canonical duplicated occurrences — bounded by duplicated
    text volume, not corpus size; the removed set anti-joins the
    token stream on (doc, pos) — co-partitioned with the rebuild's
    own (doc) shuffle; the per-doc rebuild is doc_line_dedup's
    sort-struct aggregate, memory bounded by document length."""
    from ..derived_store import aug_shingle_store, aug_token_store

    K = DUP_SPAN_K
    toked = aug_token_store(spark, sf_dir)
    tok_rows = toked.select(
        "doc_id", F.posexplode("toks").alias("pos0", "tok")
    ).select(
        "doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "tok"
    )
    shingled = aug_shingle_store(spark, sf_dir, K)
    dup = (
        shingled.groupBy("key")
        .agg(
            F.countDistinct("doc_id").alias("nd"),
            F.min("doc_id").cast("long").alias("canon"),
        )
        .where(F.col("nd") >= 2)
        .select("key", "canon")
    )
    removed = (
        shingled.join(dup, "key")
        .where(F.col("doc_id") != F.col("canon"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.col("start_tok"), F.col("start_tok") + F.lit(K - 1)
                )
            ).alias("pos"),
        )
        .distinct()
    )
    kept = tok_rows.join(removed, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("tok")))
                    ),
                    lambda x: x["tok"],
                ),
            )
        ).alias("cleaned_md5"),
    )
    totals = toked.select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(
                "cleaned_md5", F.lit(F.md5(F.lit("")))
            ).alias("cleaned_md5"),
        )
        .orderBy("doc_id")
    )


# ----------------------------------------- dup-rate threshold sweep

# Jaccard thresholds swept, in milli-units (exact integers in both
# engines; each engine divides by 1000.0 once — the identical IEEE
# division — before comparing against the stored 1e-4-grid jaccard).
# 500 is dedup_minhash's own operating point, so the sweep's first
# row reconciles exactly with the published pair set.
SWEEP_THRESHOLDS_MILLI = (500, 600, 700, 800, 900)


def _dup_sweep_oracle() -> str:
    from ..registry import ORACLE

    th = ", ".join(str(t) for t in SWEEP_THRESHOLDS_MILLI)
    return f"""
    WITH mh AS ({ORACLE["dedup_minhash"]}),
    th AS (SELECT CAST(unnest([{th}]) AS BIGINT) AS threshold_milli),
    j AS (
      SELECT t.threshold_milli, m.doc_a, m.doc_b
      FROM mh m CROSS JOIN th t
      WHERE m.jaccard >= t.threshold_milli / 1000.0
    ),
    p AS (
      SELECT threshold_milli, CAST(count(*) AS BIGINT) AS n_pairs
      FROM j GROUP BY threshold_milli
    ),
    d AS (
      SELECT threshold_milli,
             CAST(count(DISTINCT doc) AS BIGINT) AS n_docs_flagged
      FROM (
        SELECT threshold_milli, doc_a AS doc FROM j
        UNION ALL
        SELECT threshold_milli, doc_b AS doc FROM j
      ) GROUP BY threshold_milli
    )
    SELECT t.threshold_milli,
           CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(d.n_docs_flagged, 0) AS BIGINT) AS n_docs_flagged
    FROM th t
    LEFT JOIN p USING (threshold_milli)
    LEFT JOIN d USING (threshold_milli)
    ORDER BY threshold_milli
    """


@query("dup_rate_threshold_sweep", oracle=_dup_sweep_oracle())
def dup_rate_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation-tuning curve behind choosing a near-dup threshold:
    for each candidate Jaccard cut, how many verified pairs survive
    and how many documents would be flagged. Teams read exactly this
    sweep before committing a threshold (too low → over-removal, too
    high → residual duplication) — the operational complement to
    lsh_neardup_recall's accuracy contract.

    Composes the published pair store (threshold sweeps ABOVE the
    store's own 0.5 operating point are fully derivable from the
    stored exact-jaccard column, so the expensive signature pass is
    never re-run per candidate threshold — the artifact-reuse pattern
    the seam exists for). Thresholds ride a broadcast 5-row literal
    frame; every count partial-aggregates. All comparisons are
    against the 1e-4-grid jaccard both engines round identically, and
    each emitted row is exact integers.

    The sweep is complete (zero-filled) for every candidate even on
    degenerate fixtures with no pairs at all."""
    from .dedup_ops import verified_pair_store

    pairs = verified_pair_store(spark, sf_dir)
    th = spark.createDataFrame(
        [(t,) for t in SWEEP_THRESHOLDS_MILLI], "threshold_milli long"
    )
    j = pairs.crossJoin(F.broadcast(th)).filter(
        F.col("jaccard") >= F.col("threshold_milli") / F.lit(1000.0)
    )
    p = j.groupBy("threshold_milli").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    d = (
        j.select(
            "threshold_milli",
            F.explode(F.array("doc_a", "doc_b")).alias("doc"),
        )
        .groupBy("threshold_milli")
        .agg(F.countDistinct("doc").cast("long").alias("n_docs_flagged"))
    )
    return (
        th.join(p, "threshold_milli", "left")
        .join(d, "threshold_milli", "left")
        .select(
            "threshold_milli",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs_flagged", F.lit(0))
            .cast("long")
            .alias("n_docs_flagged"),
        )
        .orderBy("threshold_milli")
    )
