"""Tokenizer-training tier: byte-pair-encoding merges learned from
the corpus, and the corpus re-encoded with them.

This is the missing LLM-pipeline stage between text statistics
(`bpe_token_count`'s regex ESTIMATE of a tokenizer's output) and
training-data packing (`sequence_packing` consumes token counts): an
actual learned subword vocabulary. The work splits exactly the way
production tokenizer trainers (SentencePiece, HF tokenizers) split
it at scale:

1. DISTRIBUTED: one pass over the corpus reduces it to a
   (word, count) table — the only corpus-sized step, a plain
   map-side-combined groupBy. By Heaps' law the distinct-word table
   grows ~O(N^0.5); a frequency-ranked cap (VOCAB_CAP) bounds it
   regardless, and the dropped tail provably cannot change early
   merges (each dropped word's total pair mass is below the cap
   boundary's count).
2. BOUNDED: BPE merge learning iterates over the word-count TABLE,
   not the corpus — pair counts are weighted by word frequency, so
   the 100 TB corpus and its 50k-row word table learn identical
   merges. This runs driver-side on the collected table, the same
   "metadata-sized state, broadcast back" posture as the IVF/PQ
   codebooks.
3. DISTRIBUTED: re-encoding applies the learned merge ranks per word
   via a broadcast dict inside one mapInPandas — map-only, no
   shuffle beyond the final per-doc count.

Determinism: ties in pair frequency break by lexicographically
smallest pair, so the merge list is a pure function of the word-count
table; the rows-only driver check re-derives it identically, and
tests pin a hand-computed example plus the monotone-compression
invariant.

Reference anchor: SURVEY §2.8's text-analysis family; this is the
§2.5-style scale extension that makes `bpe_token_count`'s estimate
replaceable by a real learned vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import textfn
from ..memo import memoized
from ..registry import query
from ._oracle_shared import _DUCK_TOKS

# Merge budget: enough to learn real structure in the fixture corpus
# (shared prefixes/suffixes across the synthetic vocabulary) while
# keeping the driver-side loop trivially cheap. Production vocabs run
# 30k-100k merges over a word table that is still only ~10^5-10^6
# rows — the loop cost is O(merges * table), independent of corpus
# size.
BPE_N_MERGES = 40
# Frequency-ranked cap on the word table (tie-break: word asc) — the
# boundedness guarantee for step 2's collect.
VOCAB_CAP = 50_000


def _word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(textfn.tokenize("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def learn_bpe_merges(
    word_counts: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Classic BPE over a (word, count) table: repeatedly merge the
    most frequent adjacent symbol pair (count-weighted across words;
    ties -> lexicographically smallest pair). Pure function — the
    driver check and the property tests re-run it bit-identically."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, c in word_counts:
        key = tuple(w)
        vocab[key] = vocab.get(key, 0) + c
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        new_vocab: dict[tuple[str, ...], int] = {}
        for sym, c in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best:
                    out.append(sym[i] + sym[i + 1])
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Encode one word with learned merges, applying the
    lowest-ranked applicable merge first (standard BPE inference)."""
    sym = list(word)
    while len(sym) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


# three queries (bpe_merges, bpe_encoded_counts, bpe_contract) share
# one word-count collect + merge loop
@memoized
def _learn_from_corpus(
    spark: SparkSession, sf_dir: str
) -> list[tuple[str, str]]:
    wc = (
        _word_counts(spark, sf_dir)
        .orderBy(F.desc("c"), "word")
        .limit(VOCAB_CAP)
        .collect()
    )
    merges = learn_bpe_merges([(r.word, r.c) for r in wc], BPE_N_MERGES)
    return merges


@query("bpe_merges")  # rows-only: data-dependent iteration isn't ANSI SQL
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table: (rank, left, right, merged) — the
    artifact a tokenizer ships. Deterministic given the corpus (see
    module docstring), so the rows-only driver check re-derives the
    identical table each run."""
    merges = _learn_from_corpus(spark, sf_dir)
    return spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string, merged string",
    )


@query("bpe_encoded_counts")  # rows-only: encoding applies the learned merges
def bpe_encoded_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document subword token count under the LEARNED vocabulary
    (contrast: `bpe_token_count` is a fixed-regex estimate). The
    merge ranks broadcast (~n_merges entries); encoding is one
    map-only mapInPandas with a per-batch word cache — repeated words
    (Zipf: most of the corpus) encode once per batch.

    Emitted alongside: `n_chars_alpha`, the 0-merge baseline (= one
    token per character), so compression is visible in the row and
    the invariant n_tokens <= n_chars_alpha is data-checkable."""
    import pandas as pd

    merges = _learn_from_corpus(spark, sf_dir)
    ranks = {pair: i for i, pair in enumerate(merges)}
    bc = spark.sparkContext.broadcast(ranks)

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", textfn.tokenize("text").alias("words")
    )

    def enc(batches):
        r = bc.value
        for pdf in batches:
            cache: dict[str, int] = {}
            n_tokens = []
            n_chars = []
            for words in pdf["words"]:
                t = 0
                chars = 0
                for w in words:
                    if w not in cache:
                        cache[w] = len(encode_word(w, r))
                    t += cache[w]
                    chars += len(w)
                n_tokens.append(t)
                n_chars.append(chars)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": n_tokens,
                    "n_chars_alpha": n_chars,
                }
            )

    return docs.mapInPandas(
        enc, schema="doc_id long, n_tokens long, n_chars_alpha long"
    ).orderBy("doc_id")


@query(
    "bpe_contract",
    oracle=f"""
    WITH t AS (
      SELECT {_DUCK_TOKS} AS toks FROM documents
    ),
    cnt AS (
      SELECT word, count(*) AS c
      FROM (SELECT unnest(toks) AS word FROM t) GROUP BY word
    ),
    capped AS (
      SELECT word, c FROM cnt ORDER BY c DESC, word LIMIT {VOCAB_CAP}
    ),
    pairs AS (
      SELECT substr(word, i, 1) AS l,
             substr(word, i + 1, 1) AS r,
             sum(c) AS pc
      FROM (
        SELECT word, c,
               CAST(unnest(range(1, length(word))) AS INT) AS i
        FROM capped
      )
      GROUP BY 1, 2
    ),
    best AS (SELECT l, r FROM pairs ORDER BY pc DESC, l, r LIMIT 1),
    totals AS (
      SELECT CAST(sum(length(word)) AS BIGINT) AS total_chars,
             CAST(count(*) AS BIGINT) AS total_words
      FROM (SELECT unnest(toks) AS word FROM t)
    )
    SELECT best.l AS first_left,
           best.r AS first_right,
           CAST({BPE_N_MERGES} AS INT) AS n_merges,
           totals.total_chars,
           totals.total_words,
           TRUE AS compressed,
           TRUE AS tokens_ge_words
    FROM best, totals
    """,
)
def bpe_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable contract for the BPE trainer (the accuracy-twin
    pattern the ANN tier uses): the FIRST learned merge is exactly
    SQL-expressible — the count-weighted most frequent adjacent
    character pair over the capped word table, ties to the
    lexicographically smallest (left, right) — so the oracle
    re-derives it independently and the driver hash certifies the
    trainer's pair counting, frequency weighting, and tie-break.
    Exact corpus totals (chars, words) anchor the rest of the row;
    booleans assert the learned vocabulary actually compresses
    (sum tokens < sum chars — merges were applied, not just learned)
    and never splits below word granularity (sum tokens >= words).

    Scale shape: reuses the memoized merge table and the map-only
    encode pass; everything else is 1-row aggregates.
    """
    merges = _learn_from_corpus(spark, sf_dir)
    # The oracle pins n_merges = BPE_N_MERGES; the trainer returns
    # fewer only on a degenerate corpus (pair space exhausted before
    # BPE_N_MERGES iterations — e.g. all-single-char words). Fail
    # with a clear signal rather than a spurious hash-mismatch row
    # or an IndexError on merges[0] (r6 driver advice).
    if len(merges) != BPE_N_MERGES:
        raise ValueError(
            f"bpe_contract: trainer learned {len(merges)} merges but "
            f"the oracle pins {BPE_N_MERGES} — corpus too degenerate "
            "(adjacent-pair space exhausted) for the contract"
        )
    first = merges[0]
    enc_totals = bpe_encoded_counts(spark, sf_dir).agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars_alpha").alias("total_chars"),
    )
    word_totals = (
        load_table(spark, sf_dir, "documents")
        .select(textfn.token_count("text").alias("n"))
        .agg(F.sum("n").cast("long").alias("total_words"))
    )
    return (
        enc_totals.crossJoin(word_totals)
        .select(
            F.lit(first[0]).alias("first_left"),
            F.lit(first[1]).alias("first_right"),
            F.lit(len(merges)).cast("int").alias("n_merges"),
            F.col("total_chars").cast("long").alias("total_chars"),
            "total_words",
            (F.col("total_tokens") < F.col("total_chars")).alias("compressed"),
            (F.col("total_tokens") >= F.col("total_words")).alias(
                "tokens_ge_words"
            ),
        )
    )


@query(
    "tokenizer_fertility_by_source",
    oracle=f"""
    WITH d AS (
      SELECT source,
             CAST(len({_DUCK_TOKS}) AS BIGINT) AS ws,
             CAST(len(regexp_extract_all(
               text, '[A-Za-z0-9]+|[^A-Za-z0-9 \t\n\r]'
             )) AS BIGINT) AS bpe
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
           CASE WHEN SUM(ws) = 0 THEN NULL
                ELSE CAST(SUM(bpe) AS DOUBLE) / SUM(ws) END AS fertility
    FROM d
    GROUP BY source
    ORDER BY source
    """,
)
def tokenizer_fertility_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer-health profile: per source, subword-proxy tokens per
    whitespace word (FERTILITY — the standard metric for how hard a
    tokenizer fragments a domain; code and non-Latin text run hot,
    and a source whose fertility jumps between crawls signals a
    scraper or encoding regression). Uses the same portable
    RE2/Java-compatible BPE-proxy regex as `bpe_token_count`; a
    source with ZERO whitespace tokens has undefined fertility and
    emits NULL on both engines (the zero-token-source edge the
    adversarial fixture pins).

    Scale shape: map-only token counting into one partial-aggregable
    groupBy(source); the ratio is a single IEEE division of exact
    integer sums — bitwise parity, any scale."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        textfn.token_count("text").cast("long").alias("ws"),
        F.size(
            F.regexp_extract_all(
                F.col("text"),
                F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9 \t\n\r]"),
                F.lit(0),
            )
        )
        .cast("long")
        .alias("bpe"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ws").cast("long").alias("ws_tokens"),
            F.sum("bpe").cast("long").alias("bpe_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "ws_tokens",
            "bpe_tokens",
            F.when(F.col("ws_tokens") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.col("bpe_tokens").cast("double") / F.col("ws_tokens")
            )
            .alias("fertility"),
        )
        .orderBy("source")
    )
