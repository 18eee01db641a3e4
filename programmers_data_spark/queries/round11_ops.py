"""Round-11 operators: the unigram-LM tokenizer family (Kudo 2018,
SentencePiece's second training algorithm, next to the BPE family in
tokenizer_ops) and incremental IVF index maintenance.

Unigram-LM splits the same way the BPE trainer does (SURVEY §2.8's
scale discipline; reference anchor: the tokenizer tier extends the
text-analysis family the same way tokenizer_ops does):

1. DISTRIBUTED: one corpus pass reduces text to the (word, count)
   table — the only corpus-sized step (map-side-combined groupBy,
   frequency-ranked VOCAB_CAP bound, Heaps'-law-sized).
2. BOUNDED: seed-vocabulary selection and EM run over the capped
   word TABLE driver-side (metadata-sized state, the
   `learn_bpe_merges` / IVF-codebook posture); expected counts come
   from the standard lattice forward-backward DP.
3. DISTRIBUTED: Viterbi re-encoding applies the learned piece
   probabilities per word via a broadcast dict inside one map-only
   Arrow pass (`unigram_encoded_counts`).

Correctness structure (the accuracy-twin pattern):
- `unigram_seed_vocab` — full hash parity: count-weighted substring
  frequency ranking is plain SQL.
- `unigram_em_contract` — full hash parity for the E-STEP MACHINERY:
  on the FULL sub-word lattice (every piece of length <= L present,
  uniform weights) the forward/backward segmentation counts have a
  closed form — alpha[j] = T(j) and beta[i] = T(n-i) where T is the
  L-generalized Fibonacci sequence (T(0)=1, T(i)=sum of the previous
  L values; L=4 -> tetranacci) — so per-occurrence expected
  occupancy alpha[j]*beta[i]/alpha[n] is re-derivable in SQL from a
  literal T table. The Spark side runs the trainer's ACTUAL DP
  (`_forward`/`_backward`, the same code the EM loop uses); the hash
  match proves the DP against the closed form — an off-by-one in
  either recurrence breaks it. All arithmetic is exact: integer
  lattice counts, one fixed-point floor-division per occurrence
  (HUGEINT on the DuckDB side — the collocation_lift widening
  lesson applied at design time).
- `unigram_lm_probs` (rows-only) — the real EM: float posteriors
  are summation-order-defined, not portable SQL (the k-means/BPE
  precedent); determinism within an engine is still exact (fixed
  iteration order), property-tested serially.
- `unigram_encoded_counts` (rows-only) — Viterbi under the learned
  model; invariants (token count between ceil(chars/L) and chars)
  are property-tested.

`ivf_incremental_assign` closes the ANN tier's last operational gap
at 100 TB: every index op so far rebuilds; real pipelines assign NEW
arrivals to the EXISTING trained coarse quantizer (no retrain). The
contract audits the same `similarity_ops.ivf_index` the serving
queries share, via the incremental ≡ full invariant
(`incr_mau_refresh` / `neardup_incremental` precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import textfn
from ..memo import memoized
from ..registry import ORACLE, query
from ._oracle_shared import _DUCK_NONZERO, _DUCK_TOKS
from .tokenizer_ops import VOCAB_CAP, _word_counts

# Piece length bound L: the lattice fans out by at most L edges per
# position, seeds enumerate O(n*L) substrings per word. 4 is the
# SentencePiece-ish default regime for a toy vocab; production runs
# 8-16 with the same shapes.
UNI_MAX_PIECE_LEN = 4
# Seed vocabulary cap (multi-char pieces, frequency-ranked,
# ties -> lexicographically smallest piece).
UNI_SEED_CAP = 512
# The EM contract covers words of length <= this bound: the oracle's
# closed-form T table is a literal VALUES list, so its domain must be
# pinned at authoring time (fixture words top out at 8 chars; the
# filter is applied identically on BOTH engines, so a regenerated
# fixture with longer words narrows the contract, never breaks it).
UNI_CONTRACT_MAXLEN = 16
# Fixed-point scale for expected-occupancy mass: one floor-division
# per occurrence on both engines (integer div is exact and
# order-independent where float division would not be portable).
UNI_SCALE = 1_000_000
# EM refinement rounds for the rows-only probability table.
UNI_EM_ITERS = 2


def _tetranacci(n_max: int, span: int = UNI_MAX_PIECE_LEN) -> list[int]:
    """T(0)=1; T(i) = sum of the previous ``span`` values — the
    number of compositions of i into parts of size <= span, i.e. the
    number of segmentations of an i-char word when EVERY piece of
    length <= span is available."""
    t = [1]
    for i in range(1, n_max + 1):
        t.append(sum(t[max(0, i - span) : i]))
    return t


def _forward(word: str, max_len: int, weight) -> list:
    """Lattice forward pass: alpha[i] = total weight of segmentations
    of word[:i]; ``weight(piece)`` returns the piece's weight (falsy
    excludes it). With weight ≡ 1 this counts segmentations — the
    quantity the EM contract pins against the closed form."""
    n = len(word)
    a = [0] * (n + 1)
    a[0] = 1
    for i in range(1, n + 1):
        s = 0
        for k in range(1, min(i, max_len) + 1):
            w = weight(word[i - k : i])
            if w:
                s += a[i - k] * w
        a[i] = s
    return a


def _backward(word: str, max_len: int, weight) -> list:
    """Lattice backward pass: beta[i] = total weight of segmentations
    of word[i:]."""
    n = len(word)
    b = [0] * (n + 1)
    b[n] = 1
    for i in range(n - 1, -1, -1):
        s = 0
        for k in range(1, min(n - i, max_len) + 1):
            w = weight(word[i : i + k])
            if w:
                s += b[i + k] * w
        b[i] = s
    return b


# capped word-count table, collected once and shared by the whole
# unigram family
@memoized
def _capped_word_counts(
    spark: SparkSession, sf_dir: str
) -> list[tuple[str, int]]:
    rows = (
        _word_counts(spark, sf_dir)
        .orderBy(F.desc("c"), "word")
        .limit(VOCAB_CAP)
        .collect()
    )
    out = [(r.word, r.c) for r in rows]
    return out


def _seed_pieces(
    word_counts: list[tuple[str, int]],
    cap: int = UNI_SEED_CAP,
    max_len: int = UNI_MAX_PIECE_LEN,
) -> list[tuple[str, int]]:
    """Count-weighted substring-occurrence frequencies (every
    occurrence position counts, matching the SQL position
    enumeration), top ``cap`` with ties to the lexicographically
    smallest piece. Pure function — the driver check and the
    distributed query must agree with it exactly."""
    freq: dict[str, int] = {}
    for w, c in word_counts:
        for k in range(2, max_len + 1):
            for j in range(len(w) - k + 1):
                p = w[j : j + k]
                freq[p] = freq.get(p, 0) + c
    ranked = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:cap]


@query(
    "unigram_seed_vocab",
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
    occ AS (
      SELECT substr(word, start, plen) AS piece, c
      FROM (
        SELECT word, c, plen,
               CAST(unnest(range(1, length(word) - plen + 2)) AS INT)
                 AS start
        FROM (
          SELECT word, c,
                 CAST(unnest([{", ".join(str(k) for k in range(2, UNI_MAX_PIECE_LEN + 1))}]) AS INT)
                   AS plen
          FROM capped
        )
        WHERE length(word) >= plen
      )
    )
    SELECT piece, CAST(sum(c) AS BIGINT) AS freq
    FROM occ GROUP BY piece
    ORDER BY freq DESC, piece LIMIT {UNI_SEED_CAP}
    """,
)
def unigram_seed_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM seed vocabulary (Kudo 2018 §3's seeding step,
    substring-frequency flavor): the top {UNI_SEED_CAP} substrings of
    length 2..{UNI_MAX_PIECE_LEN} by count-weighted occurrence
    frequency over the capped word table; ties break to the
    lexicographically smallest piece, so the ranking is a pure
    function of the word counts.

    Scale shape: the corpus collapses to the word table first (the
    only corpus-sized step); substring enumeration explodes the
    CAPPED table only — O(VOCAB_CAP * maxlen * L) rows, bounded
    metadata regardless of corpus size — and the top-{UNI_SEED_CAP}
    is a TakeOrdered, not a global sort."""
    capped = (
        _word_counts(spark, sf_dir)
        .orderBy(F.desc("c"), "word")
        .limit(VOCAB_CAP)
    )
    occ = (
        capped.select(
            "word",
            "c",
            F.explode(
                F.sequence(F.lit(2), F.lit(UNI_MAX_PIECE_LEN))
            ).alias("plen"),
        )
        .filter(F.length("word") >= F.col("plen"))
        .select(
            "c",
            "word",
            "plen",
            F.explode(
                F.sequence(
                    F.lit(1), F.length("word") - F.col("plen") + F.lit(1)
                )
            ).alias("start"),
        )
        .select(F.expr("substr(word, start, plen)").alias("piece"), "c")
    )
    return (
        occ.groupBy("piece")
        .agg(F.sum("c").cast("long").alias("freq"))
        .orderBy(F.desc("freq"), "piece")
        .limit(UNI_SEED_CAP)
        .orderBy(F.desc("freq"), "piece")
    )


def _unigram_contract_oracle() -> str:
    t = _tetranacci(UNI_CONTRACT_MAXLEN)
    fib_vals = ", ".join(f"({i}, {v})" for i, v in enumerate(t))
    plens = ", ".join(str(k) for k in range(2, UNI_MAX_PIECE_LEN + 1))
    return f"""
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
    short AS (
      SELECT word, c FROM capped
      WHERE length(word) <= {UNI_CONTRACT_MAXLEN}
    ),
    occ AS (
      SELECT substr(word, start, plen) AS piece, c,
             start - 1 AS j, start - 1 + plen AS i,
             length(word) AS n
      FROM (
        SELECT word, c, plen,
               CAST(unnest(range(1, length(word) - plen + 2)) AS INT)
                 AS start
        FROM (
          SELECT word, c, CAST(unnest([{plens}]) AS INT) AS plen
          FROM short
        )
        WHERE length(word) >= plen
      )
    ),
    fib(fn, tn) AS (VALUES {fib_vals}),
    seed AS (
      SELECT piece, CAST(sum(c) AS BIGINT) AS freq
      FROM occ GROUP BY piece
      ORDER BY freq DESC, piece LIMIT {UNI_SEED_CAP}
    ),
    mass AS (
      SELECT occ.piece,
             CAST(sum(
               (CAST(occ.c AS HUGEINT) * fj.tn * fi.tn * {UNI_SCALE})
                 // fw.tn
             ) AS BIGINT) AS occ_mass
      FROM occ
      JOIN fib fj ON fj.fn = occ.j
      JOIN fib fi ON fi.fn = occ.n - occ.i
      JOIN fib fw ON fw.fn = occ.n
      GROUP BY occ.piece
    )
    SELECT seed.piece, seed.freq,
           CAST(coalesce(mass.occ_mass, 0) AS BIGINT) AS occ_mass
    FROM seed LEFT JOIN mass ON seed.piece = mass.piece
    ORDER BY seed.piece
    """


@query("unigram_em_contract", oracle=_unigram_contract_oracle())
def unigram_em_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable contract for the unigram-LM E-step machinery
    (the `bpe_contract` pattern): on the FULL lattice — every piece
    of length <= {UNI_MAX_PIECE_LEN} available at uniform weight —
    the forward/backward DP the EM loop runs must reproduce the
    closed form alpha[j] = T(j), beta[i] = T(n-i), alpha[n] = T(n)
    with T the {UNI_MAX_PIECE_LEN}-generalized Fibonacci sequence.
    Per seed piece the contract reports its expected-occupancy MASS:
    sum over occurrences (word w, start j, end i) of
    floor(c_w * alpha[j] * beta[i] * {UNI_SCALE} / alpha[n]) — the
    uniform-model E-step's per-occurrence posterior, fixed-point so
    every term is an exact integer on both engines. The Spark side
    computes alpha/beta with the trainer's ACTUAL `_forward` /
    `_backward` code; the oracle re-derives them from a literal T
    table — an off-by-one in either recurrence, a wrong lattice
    bound, or a weighting bug flips the hash.

    Covers words of length <= {UNI_CONTRACT_MAXLEN} (both engines
    filter identically; see UNI_CONTRACT_MAXLEN). Scale shape: one
    distributed word-count pass (the shared `_capped_word_counts`
    collect), then bounded driver DP over the capped table — the
    BPE-trainer posture."""
    wc = [
        (w, c)
        for w, c in _capped_word_counts(spark, sf_dir)
        if len(w) <= UNI_CONTRACT_MAXLEN
    ]
    seed = _seed_pieces(wc)
    mass = {p: 0 for p, _ in seed}
    one = lambda piece: 1  # noqa: E731 — uniform full-lattice weight
    for w, c in wc:
        n = len(w)
        a = _forward(w, UNI_MAX_PIECE_LEN, one)
        b = _backward(w, UNI_MAX_PIECE_LEN, one)
        total = a[n]
        for k in range(2, UNI_MAX_PIECE_LEN + 1):
            for j in range(n - k + 1):
                p = w[j : j + k]
                if p in mass:
                    mass[p] += (c * a[j] * b[j + k] * UNI_SCALE) // total
    rows = [(p, f, mass[p]) for p, f in seed]
    return spark.createDataFrame(
        sorted(rows), "piece string, freq long, occ_mass long"
    ).orderBy("piece")


# shared by the probs query and the Viterbi encoder
@memoized
def train_unigram_lm(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """EM for the unigram LM (Kudo 2018 §3.2, fixed vocabulary — no
    pruning rounds, the fixture vocab is already tiny): vocab = all
    single characters of the capped word table (guarantees every word
    segments) + the seed pieces; initialize theta proportional to
    count-weighted occurrence frequency; then UNI_EM_ITERS rounds of
    lattice forward-backward E-step + renormalizing M-step. Floats
    are summation-order-defined, hence rows-only downstream — but the
    iteration order here is fully deterministic (word table sorted by
    (-count, word); vocab in insertion order), so repeated runs are
    bit-identical within an engine."""
    wc = _capped_word_counts(spark, sf_dir)
    char_freq: dict[str, int] = {}
    for w, c in wc:
        for ch in w:
            char_freq[ch] = char_freq.get(ch, 0) + c
    vocab: dict[str, float] = dict(
        sorted(char_freq.items())
    )  # chars first, sorted — deterministic insertion order
    for p, f in _seed_pieces(wc):
        vocab[p] = float(f)
    total = sum(vocab.values())
    theta = {p: f / total for p, f in vocab.items()}
    for _ in range(UNI_EM_ITERS):
        e = {p: 0.0 for p in theta}
        for w, c in wc:
            n = len(w)
            a = _forward(w, UNI_MAX_PIECE_LEN, theta.get)
            b = _backward(w, UNI_MAX_PIECE_LEN, theta.get)
            norm = a[n]
            if not norm:  # unreachable: chars cover every word
                continue
            for k in range(1, UNI_MAX_PIECE_LEN + 1):
                for j in range(n - k + 1):
                    p = w[j : j + k]
                    th = theta.get(p)
                    if th:
                        e[p] += c * (a[j] * th * b[j + k]) / norm
        etot = sum(e.values())
        theta = {p: v / etot for p, v in e.items()}
    return theta


@query("unigram_lm_probs")  # rows-only: float EM posteriors aren't ANSI SQL
def unigram_lm_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained unigram-LM probability table: (piece, piece_len,
    prob) after {UNI_EM_ITERS} EM rounds — the artifact a unigram
    tokenizer ships (SentencePiece's .model piece scores). Rows-only
    by design (float posteriors; the k-means/BPE precedent); the
    E-step MACHINERY is hash-certified by `unigram_em_contract`, and
    tests pin a serial reference plus the EM likelihood-monotonicity
    property."""
    theta = train_unigram_lm(spark, sf_dir)
    rows = [(p, len(p), v) for p, v in sorted(theta.items())]
    return spark.createDataFrame(
        rows, "piece string, piece_len int, prob double"
    ).orderBy("piece")


@query("unigram_encoded_counts")  # rows-only: applies the float EM model
def unigram_encoded_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the LEARNED unigram LM —
    Viterbi (most-probable) segmentation per word, the inference side
    of SentencePiece's unigram algorithm and the third tokenizer
    this engine can report fertility for (whitespace, BPE, unigram).
    The piece log-probabilities broadcast (metadata-sized); encoding
    is one map-only Arrow pass with a per-batch word cache — Zipf
    repetition makes most lookups cache hits (the
    `bpe_encoded_counts` shape exactly).

    Viterbi ties break toward the shortest last piece (k ascending,
    strict improvement) — deterministic, so the rows-only check is
    stable across runs."""
    import math

    import pandas as pd

    theta = train_unigram_lm(spark, sf_dir)
    logp = {p: math.log(v) for p, v in theta.items() if v > 0}
    bc = spark.sparkContext.broadcast(logp)

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", textfn.tokenize("text").alias("words")
    )

    def enc(batches):
        lp = bc.value
        max_len = UNI_MAX_PIECE_LEN
        neg_inf = float("-inf")

        def viterbi_tokens(word: str) -> int:
            n = len(word)
            best = [(neg_inf, 0)] * (n + 1)
            best[0] = (0.0, 0)
            for i in range(1, n + 1):
                acc = neg_inf
                toks = 0
                for k in range(1, min(i, max_len) + 1):
                    s = lp.get(word[i - k : i])
                    if s is not None and best[i - k][0] != neg_inf:
                        cand = best[i - k][0] + s
                        if cand > acc:
                            acc, toks = cand, best[i - k][1] + 1
                best[i] = (acc, toks)
            # chars outside the trained vocab (possible only if the
            # word table was capped below the corpus vocabulary):
            # honest fallback = one token per character
            return best[n][1] if best[n][0] != neg_inf else n

        for pdf in batches:
            cache: dict[str, int] = {}
            n_tokens = []
            n_words = []
            for words in pdf["words"]:
                t = 0
                for w in words:
                    if w not in cache:
                        cache[w] = viterbi_tokens(w)
                    t += cache[w]
                n_tokens.append(t)
                n_words.append(len(words))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_words": n_words,
                    "n_tokens": n_tokens,
                }
            )

    return docs.mapInPandas(
        enc, schema="doc_id long, n_words long, n_tokens long"
    ).orderBy("doc_id")


# ------------------------------------------ incremental IVF assign

# Deterministic "today's batch": vec_id % 10 == 7 — the same residue
# convention as curation_ops._NEW_BATCH_RESIDUE, so the embedding
# batch aligns with the document batch in an end-to-end incremental
# ingest story.
IVF_BATCH_RESIDUE = 7


def ivf_assign_batch(batch: DataFrame, bc) -> DataFrame:
    """The OPERATIONAL incremental path: assign a batch of vectors to
    the existing trained IVF cells (broadcast centroids, one map-only
    Arrow GEMM over the batch — no corpus rescan, no retrain). Kept
    as a standalone helper so the plan test can prove the batch-only
    scan shape independent of the audit query below."""
    import numpy as np

    def assign(batches):
        import pandas as pd

        cents = bc.value
        for pdf in batches:
            if len(pdf) == 0:  # empty Arrow batches are legal
                continue
            x = np.array(list(pdf["emb"]), dtype=np.float64)
            x /= np.linalg.norm(x, axis=1, keepdims=True)
            cell = np.argmax(x @ cents.T, axis=1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "cell": cell})

    return batch.mapInPandas(assign, schema="vec_id long, cell int")


@query(
    "ivf_incremental_assign",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_batch,
           CAST(count(*) AS BIGINT) AS n_assigned,
           CAST(0 AS BIGINT) AS n_cell_mismatch,
           TRUE AS cells_valid
    FROM embeddings
    WHERE vec_id % 10 = {IVF_BATCH_RESIDUE} AND {_DUCK_NONZERO}
    """,
)
def ivf_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance — the IVF analogue of
    `neardup_incremental`: NEW-batch vectors (vec_id % 10 ==
    {IVF_BATCH_RESIDUE}) are assigned to the EXISTING trained cells
    of the same `similarity_ops.ivf_index` every serving query reads,
    with no retrain and no corpus rescan on the operational path
    (`ivf_assign_batch`). The contract audits the incremental ≡ full
    invariant (`incr_mau_refresh` precedent): the batch-only
    assignment must agree vector-for-vector with the full index
    build's assignment restricted to the batch, every vector must
    receive exactly one cell, and every cell id must be a trained
    cell. The oracle pins the batch cardinality from SQL and the
    three theorem-level verdicts (mismatches = 0, assigned = batch,
    cells valid); cell IDs themselves stay Spark-side (seeded k-means
    isn't ANSI-recomputable — the ivf_recall_at5 precedent).

    Scale shape: the operational leg scans ONLY the batch (filter
    pushed onto the embeddings scan) against broadcast centroids —
    cost proportional to arrivals, not index size; the full-leg
    rescan exists only inside this audit, exactly like
    neardup_incremental's full-rebuild oracle."""
    from .similarity_ops import ivf_index, load_vectors

    corpus, bc, n_cells = ivf_index(spark, sf_dir)
    batch = load_vectors(spark, sf_dir).filter(
        F.col("vec_id") % 10 == IVF_BATCH_RESIDUE
    )
    inc = ivf_assign_batch(batch, bc)
    full_b = corpus.filter(
        F.col("vec_id") % 10 == IVF_BATCH_RESIDUE
    ).select("vec_id", F.col("cell").alias("cell_full"))
    joined = inc.join(full_b, "vec_id", "full")
    return joined.agg(
        F.count("cell_full").cast("long").alias("n_batch"),
        F.count("cell").cast("long").alias("n_assigned"),
        F.sum(
            F.when(
                F.col("cell").isNull()
                | F.col("cell_full").isNull()
                | (F.col("cell") != F.col("cell_full")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_cell_mismatch"),
        F.coalesce(
            (F.min("cell") >= 0) & (F.max("cell") < F.lit(n_cells)),
            F.lit(True),
        ).alias("cells_valid"),
    )


# --------------------------------------- streaming upsert publish

# Number of replay micro-batches: the event-time range splits into
# this many CONTIGUOUS epoch slices (cutoffs at min + k*(max-min)//N
# micros), so batch order == event-time order on ANY fixture — a
# calendar-day rule would break contiguity the moment a regenerated
# fixture spans months — and the upserted store's final state has a
# closed form (global keep-latest).
UPSERT_PUB_N_SLICES = 3


@query(
    "stream_upsert_publish",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS ts_us
      FROM events
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC
             ) AS rn
      FROM e
    )
    SELECT user_id, event_id AS last_event_id, value AS last_value,
           ts_us AS last_ts_us
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
)
@memoized
def stream_upsert_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming -> publish-layer composition: a streaming
    source applied to the store via foreachBatch + the K7 keyed
    upsert (publish.incremental_upsert — the same MERGE-shaped
    strategy the reference's MySQL_to_Redshift_v2.py:51-63 load uses,
    here driven by a stream instead of a dated batch). This is the
    missing lifecycle piece between the streaming tier (stateful
    aggregation queries) and the load-strategy tier (batch K1-K8):
    continuous ingestion into a keyed serving table.

    Replay protocol (the stream_late_data_audit conventions): events
    split into {UPSERT_PUB_N_SLICES} TIME-CONTIGUOUS micro-batches
    (epoch-range slices — contiguous on any fixture span), each
    dropped between processAllAvailable() drains so batch order is
    exact; foreachBatch reduces its batch to one row per key (latest
    by (ts, event_id) — the within-batch half of the K6 rule) and
    upserts into the parquet store. Because slices partition event
    time, upsert-wins-latest composes across batches into a closed
    form: the final store is EXACTLY the global keep-latest
    snapshot, which the oracle computes in one window — full hash
    parity for an end-to-end streaming ingest. Equal-timestamp rows
    always share a slice (slicing is a pure function of ts), so the
    within-batch (ts, event_id) order is total where it matters.

    Scale shape: each micro-batch pays one per-key window over the
    BATCH (not the store) plus the anti-join merge (broadcast delta
    vs bucketed store — MERGE INTO economics on a transactional
    format); store size is key cardinality, not event volume. At
    100 TB the same foreachBatch binds to a Kafka source with the
    slices replaced by real trigger intervals."""
    import os
    import shutil
    import tempfile

    from pyspark.sql.window import Window

    from ..publish import incremental_upsert
    from ..storeutil import store_base

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value", "ts"
    )
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).collect()[0]  # bounded 2-value scalar
    lo, hi = bounds.lo, bounds.hi
    # empty feed: empty snapshot, no replay needed (memoized like any
    # other result — per session and sf_dir it is a constant)
    if lo is None:
        return spark.createDataFrame(
            [],
            "user_id long, last_event_id long, last_value double,"
            " last_ts_us long",
        )
    base = store_base("SPARK_GRAFT_UPSERT_PUB_STORE", "spark_graft_upub")
    os.makedirs(base, exist_ok=True)
    root = tempfile.mkdtemp(prefix="upub_", dir=base)
    src = os.path.join(root, "src")
    store = os.path.join(root, "store")
    n = UPSERT_PUB_N_SLICES
    cuts = [lo + k * (hi - lo) // n for k in range(1, n)]
    t = F.unix_micros("ts")
    slices = [ev.filter(t < cuts[0])]
    for a, b in zip(cuts, cuts[1:]):
        slices.append(ev.filter((t >= a) & (t < b)))
    slices.append(ev.filter(t >= cuts[-1]))

    latest_w = Window.partitionBy("user_id").orderBy(
        F.desc(F.unix_micros("ts")), F.desc("event_id")
    )

    def apply_batch(bdf: DataFrame, _batch_id: int) -> None:
        if bdf.isEmpty():
            return
        delta = (
            bdf.withColumn("rn", F.row_number().over(latest_w))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                F.col("event_id").alias("last_event_id"),
                F.col("value").alias("last_value"),
                F.unix_micros("ts").alias("last_ts_us"),
            )
        )
        incremental_upsert(bdf.sparkSession, store, delta, ["user_id"])

    try:
        slices[0].coalesce(1).write.parquet(f"{src}/b0.parquet")
        stream = spark.readStream.schema(ev.schema).parquet(f"{src}/*")
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()  # slice 0 establishes the store
            for i, sl in enumerate(slices[1:], start=1):
                sl.coalesce(1).write.parquet(f"{src}/b{i}.parquet")
                q.processAllAvailable()  # one upsert per arrival slice
        finally:
            q.stop()

        # localCheckpoint (NOT persist): materializes eagerly AND
        # severs lineage from the temp parquet store, so the replay
        # scratch tree can be removed immediately — r11 VERDICT #7:
        # the per-invocation mkdtemp trees accumulated across bench
        # _reset sweeps (persist kept the files load-bearing because
        # cache eviction would have re-read them).
        result = (
            spark.read.parquet(store)
            .orderBy("user_id")
            .localCheckpoint(eager=True)
        )
        return result
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ===================================================================
# Round-11 second wave: point-in-time interval lookup, layout-pruning
# certification, market-basket pair mining, and random-projection
# dimensionality reduction with its JL accuracy contract.
# ===================================================================

# --------------------------------------- SCD2 point-in-time lookup

# Residue split: versions (the SCD2 dimension stream) vs probes (the
# fact stream doing as-of lookups). Disjoint so no probe trivially
# matches itself.
PIT_VERSION_RESIDUE = 0
PIT_PROBE_RESIDUE = 1
# Bucket width for the binned range join: one week of epoch-micros.
# Per-user version intervals are event gaps (<< a week on any
# realistic feed), so interval explode inflation stays ~2x; only the
# capped open-ended current rows span more buckets.
PIT_BUCKET_US = 7 * 86_400 * 1_000_000


@query(
    "scd2_point_in_time",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
      FROM events
    ),
    probes AS (
      SELECT event_id AS probe_id, user_id, ts_us AS probe_ts_us
      FROM ev WHERE event_id % 3 = 1
    ),
    vers AS (
      SELECT user_id, event_id AS version_id, event_type AS state_type,
             value AS state_value, ts_us AS valid_from_us,
             lead(ts_us) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
             ) AS valid_to_us
      FROM ev WHERE event_id % 3 = 0
    ),
    cap AS (SELECT max(probe_ts_us) + 1 AS cap_us FROM probes)
    SELECT p.probe_id, p.user_id, p.probe_ts_us,
           v.version_id, v.state_type, v.state_value
    FROM probes p
    JOIN (
      SELECT vers.*, coalesce(valid_to_us, cap_us) AS valid_end_us
      FROM vers, cap
    ) v
      ON p.user_id = v.user_id
     AND p.probe_ts_us >= v.valid_from_us
     AND p.probe_ts_us <  v.valid_end_us
    ORDER BY p.probe_id
    """,
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) lookup against an SCD2 dimension — the
    CONSUMING half of the `scd2_intervals` history build (loads.py):
    each probe event joins the version of its user's state whose
    [valid_from, valid_to) interval contains the probe timestamp.
    This is the standard warehouse pattern the reference's keep-latest
    load (UpdateSymbol_v3.py:77-83) cannot answer — "what was the
    state WHEN the fact happened", not "what is it now".

    Physical strategy: `operators.range_join` — a pure inequality
    join would plan BroadcastNestedLoopJoin (O(|probes|x|versions|),
    a non-starter at 100 TB); the binned rewrite quantizes the time
    axis into week buckets, explodes each version interval into the
    buckets it overlaps, hash-joins on (bucket, user_id), and
    re-checks the exact containment as a residual filter — ONE keyed
    shuffle, Databricks-range-join-hint economics. Open-ended current
    versions are capped at max(probe ts)+1 (a 1-row broadcast, the
    ingest_freshness pattern) so their bucket fan-out is bounded by
    the fixture span, and the cap can never exclude a probe.

    Tie semantics are total on both engines: versions sharing a
    (user, ts) get zero-length intervals except the last by event_id
    (lead over (ts, event_id)), and a zero-length interval matches
    nothing; a probe AT a version's timestamp matches that version
    (>= from, < to). Differs from `as_of_join` (merge-scan, latest
    payload only) by producing the full interval-containment
    relation from the HISTORY table the warehouse already publishes.
    """
    from pyspark.sql.window import Window

    from ..operators import range_join
    from .loads import _events_us

    ev = _events_us(spark, sf_dir)
    probes = ev.filter(F.col("event_id") % 3 == PIT_PROBE_RESIDUE).select(
        F.col("event_id").alias("probe_id"),
        "user_id",
        F.col("ts_us").alias("probe_ts_us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    vers = ev.filter(F.col("event_id") % 3 == PIT_VERSION_RESIDUE).select(
        "user_id",
        F.col("event_id").alias("version_id"),
        F.col("event_type").alias("state_type"),
        F.col("value").alias("state_value"),
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(w).alias("valid_to_us"),
    )
    cap = probes.agg((F.max("probe_ts_us") + 1).alias("cap_us"))
    vers = (
        vers.crossJoin(F.broadcast(cap))
        .withColumn("valid_end_us", F.coalesce("valid_to_us", "cap_us"))
        .drop("valid_to_us", "cap_us")
    )
    return (
        range_join(
            probes,
            vers,
            left_point="probe_ts_us",
            right_start="valid_from_us",
            right_end="valid_end_us",
            bucket_width=PIT_BUCKET_US,
            equi=["user_id"],
        )
        .select(
            "probe_id",
            "user_id",
            "probe_ts_us",
            "version_id",
            "state_type",
            "state_value",
        )
        .orderBy("probe_id")
    )


# ------------------------------------ z-order pruning certification

ZP_BITS = 8  # 8 levels per axis -> 16-bit Morton key
# 256 cells per layout. The cell count is where the z-layout's edge
# lives: the top 8 interleaved bits carry 4 bits of EACH axis, while
# 256 linear cells spend all 8 bits on one axis and leave the other
# entirely unpruned — so for the 2-D band below, linear must scan
# ~1/4 of the rows (the sc band) where z-order scans ~1/16 (the
# sc x sp rectangle). At equal SMALL cell counts (e.g. 16) the two
# layouts tie on this predicate (top-2+2 interleaved bits prune
# exactly as much as top-4 single-axis bits) — measured before
# pinning these constants.
ZP_Z_SHIFT = 8  # z >> 8: top 8 interleaved bits -> 256 z-cells
ZP_LIN_SHIFT = 0  # scaled sc itself -> 256 linear cells
# Rectangle predicate in scaled units: the central quarter of each
# axis (1/16 of the plane).
ZP_SEL_LO, ZP_SEL_HI = 96, 159


def _zp_duck_oracle() -> str:
    """Mirror of sinks.zorder_value's scale+interleave arithmetic:
    identical IEEE-double normalization order ((x - mn) / span *
    levels, floor, cast, least) and the same bit b of column ci ->
    interleaved position b*ncols + ci convention."""
    levels = (1 << ZP_BITS) - 1
    z_terms = " + ".join(
        f"(((sc >> {b}) & 1) << {2 * b}) + (((sp >> {b}) & 1) << {2 * b + 1})"
        for b in range(ZP_BITS)
    )
    return f"""
    WITH b AS (
      SELECT CAST(min(o_custkey) AS DOUBLE) AS mnc,
             CAST(max(o_custkey) AS DOUBLE) AS mxc,
             min(o_totalprice) AS mnp, max(o_totalprice) AS mxp
      FROM orders
    ),
    s AS (
      SELECT least({levels}, CAST(floor(
               (CAST(o_custkey AS DOUBLE) - mnc)
               / (CASE WHEN mxc = mnc THEN 1.0 ELSE mxc - mnc END)
               * {levels}) AS BIGINT)) AS sc,
             least({levels}, CAST(floor(
               (o_totalprice - mnp)
               / (CASE WHEN mxp = mnp THEN 1.0 ELSE mxp - mnp END)
               * {levels}) AS BIGINT)) AS sp
      FROM orders, b
    ),
    z AS (
      SELECT sc, sp, {z_terms} AS zval,
             CASE WHEN sc BETWEEN {ZP_SEL_LO} AND {ZP_SEL_HI}
                   AND sp BETWEEN {ZP_SEL_LO} AND {ZP_SEL_HI}
                  THEN 1 ELSE 0 END AS sel
      FROM s
    ),
    cells AS (
      SELECT layout, file_id,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(sel) AS BIGINT) AS sel_cnt,
             min(sc) AS mn_sc, max(sc) AS mx_sc,
             min(sp) AS mn_sp, max(sp) AS mx_sp
      FROM (
        SELECT 'zorder' AS layout, zval >> {ZP_Z_SHIFT} AS file_id,
               sc, sp, sel
        FROM z
        UNION ALL
        SELECT 'linear' AS layout, sc >> {ZP_LIN_SHIFT} AS file_id,
               sc, sp, sel
        FROM z
      )
      GROUP BY layout, file_id
    ),
    flagged AS (
      SELECT *,
             mn_sc <= {ZP_SEL_HI} AND mx_sc >= {ZP_SEL_LO}
             AND mn_sp <= {ZP_SEL_HI} AND mx_sp >= {ZP_SEL_LO} AS scanned
      FROM cells
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT)
             AS files_scanned,
           CAST(sum(CASE WHEN scanned THEN cnt ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(sum(sel_cnt) AS BIGINT) AS rows_selected,
           CAST(sum(CASE WHEN NOT scanned THEN sel_cnt ELSE 0 END)
             AS BIGINT) AS missed_selected,
           sum(CASE WHEN NOT scanned THEN sel_cnt ELSE 0 END) = 0
             AS prune_sound
    FROM flagged
    GROUP BY layout
    ORDER BY layout
    """


@query("zorder_prune_contract", oracle=_zp_duck_oracle())
def zorder_prune_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout pruning certification: drives the SAME Morton
    (Z-order) key expression `sinks.write_zorder` lays files out with
    (via `sinks.zorder_value` — one source of truth) and certifies,
    with full hash parity, what the layout buys at scan time. Rows
    are assigned to 256 fixed z-cells (top 8 interleaved bits — the
    deterministic stand-in for write_zorder's sampled
    repartitionByRange file boundaries) and, as the baseline, to 256
    linear cells (the full 8-bit first sort axis — a plain
    lexicographic sort layout). For a central rectangle predicate on
    (o_custkey, o_totalprice), each layout reports how many
    file-granularity min/max ranges a reader must scan and how many
    rows that is — the parquet/Delta/Iceberg file-skipping arithmetic
    made oracle-checkable.

    Two theorem-level verdicts ride in the row: `missed_selected`
    must be 0 (min/max pruning soundness — no selected row may live
    in a skipped file, per layout) and `rows_selected` must agree
    across layouts (layout never changes query results). The
    files_scanned/rows_scanned columns are the measured tuning curve
    — on 2-D predicates the z-layout scans a fraction of the linear
    layout's rows, which is the entire case for OPTIMIZE ZORDER.

    Scale shape: one 2-scalar-per-column bounds aggregate (collected
    into literals, exactly like write_zorder), then a single map-only
    projection (pure shift/and/or codegen — the z-key never leaves
    the JVM), one explode to tag the two layouts, and two tiny keyed
    aggregates (<=512 cell rows, then 2 layout rows). No Python, no
    BNLJ, no single-partition funnel."""
    from ..sinks import zorder_value

    levels = (1 << ZP_BITS) - 1
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    z, bounds = zorder_value(orders, ["o_custkey", "o_totalprice"], bits=ZP_BITS)

    def scaled(col: str) -> F.Column:
        mn = float(bounds[col][0])
        mx = float(bounds[col][1])
        span = (mx - mn) or 1.0
        return F.least(
            F.lit(levels),
            F.floor(
                (F.col(col).cast("double") - F.lit(mn))
                / F.lit(span)
                * levels
            ).cast("long"),
        )

    sel = (
        F.col("sc").between(ZP_SEL_LO, ZP_SEL_HI)
        & F.col("sp").between(ZP_SEL_LO, ZP_SEL_HI)
    ).cast("int")
    tagged = (
        orders.select(
            z.alias("zval"),
            scaled("o_custkey").alias("sc"),
            scaled("o_totalprice").alias("sp"),
        )
        .withColumn("sel", sel)
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("zorder").alias("layout"),
                        F.shiftright("zval", ZP_Z_SHIFT).alias("file_id"),
                    ),
                    F.struct(
                        F.lit("linear").alias("layout"),
                        F.shiftright("sc", ZP_LIN_SHIFT).alias("file_id"),
                    ),
                )
            ).alias("t"),
            "sc",
            "sp",
            "sel",
        )
        .select("t.layout", "t.file_id", "sc", "sp", "sel")
    )
    cells = tagged.groupBy("layout", "file_id").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("sel").cast("long").alias("sel_cnt"),
        F.min("sc").alias("mn_sc"),
        F.max("sc").alias("mx_sc"),
        F.min("sp").alias("mn_sp"),
        F.max("sp").alias("mx_sp"),
    )
    scanned = (
        (F.col("mn_sc") <= ZP_SEL_HI)
        & (F.col("mx_sc") >= ZP_SEL_LO)
        & (F.col("mn_sp") <= ZP_SEL_HI)
        & (F.col("mx_sp") >= ZP_SEL_LO)
    )
    return (
        cells.withColumn("scanned", scanned)
        .groupBy("layout")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum(F.when(F.col("scanned"), 1).otherwise(0))
            .cast("long")
            .alias("files_scanned"),
            F.sum(F.when(F.col("scanned"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("rows_scanned"),
            F.sum("sel_cnt").cast("long").alias("rows_selected"),
            F.sum(
                F.when(~F.col("scanned"), F.col("sel_cnt")).otherwise(0)
            )
            .cast("long")
            .alias("missed_selected"),
            (
                F.sum(
                    F.when(~F.col("scanned"), F.col("sel_cnt")).otherwise(
                        0
                    )
                )
                == 0
            ).alias("prune_sound"),
        )
        .orderBy("layout")
    )


# ------------------------------------------- market-basket pairs

CP_MIN_PART_ORDERS = 5  # per-part support floor (anti-monotone prune)
CP_MIN_PAIR_ORDERS = 2  # pair support floor
CP_TOPK = 100


# memoized: the mined pair table feeds copurchase_pairs AND every
# branch of triangle_counts' wedge join; without persist+memo each
# consumer branch replays the whole distinct+support+self-join
# pipeline (the unpersisted triangle plan measured 68 parquet scans)
@memoized
def _frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part_a, part_b, pair_orders, orders_a, orders_b) with
    part_a < part_b, both support floors applied — persisted, since
    every consumer reads it from multiple plan branches.

    Mining shape (r17 opt): the per-part support count rides as a
    WINDOW over the distinct (order, part) rows — count(*) over
    (partition by part) IS the distinct-order count because the rows
    are distinct by construction (the winnow_collision_pairs trick) —
    and the supported table persists BEFORE the pair self-join. The
    previous groupBy+join-back form evaluated the whole
    scan→distinct→support pipeline once per self-join SIDE: 4 fact
    scans and 2 support aggregates per materialization (plan-string
    verified); now the fact table is scanned ONCE, the support pass
    runs once, and both join sides read the persisted supported rows.
    Row-identical: same distinct rows, same count per part, same
    filter."""
    from pyspark.sql.window import Window

    # isNotNull pins the r17 window rewrite row-identical to the old
    # join-based form (r17 ADVICE #1): the support inner join on
    # l_partkey dropped null-keyed rows, a window would keep them as
    # a group — fixtures carry no nulls, so this is a no-op today
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_partkey").isNotNull())
        .distinct()
    )
    lif = (
        li.withColumn(
            "part_orders",
            F.count(F.lit(1))
            .over(Window.partitionBy("l_partkey"))
            .cast("long"),
        )
        .filter(F.col("part_orders") >= CP_MIN_PART_ORDERS)
        .persist()
    )
    a = lif.select(
        "l_orderkey",
        F.col("l_partkey").alias("part_a"),
        F.col("part_orders").alias("orders_a"),
    )
    b = lif.select(
        "l_orderkey",
        F.col("l_partkey").alias("part_b"),
        F.col("part_orders").alias("orders_b"),
    )
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b", "orders_a", "orders_b")
        .agg(F.count("*").cast("long").alias("pair_orders"))
        .filter(F.col("pair_orders") >= CP_MIN_PAIR_ORDERS)
        .select("part_a", "part_b", "pair_orders", "orders_a", "orders_b")
        .persist()
    )
    return pairs


@query(
    "copurchase_pairs",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    sup AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS part_orders
      FROM li GROUP BY 1
      HAVING count(*) >= {CP_MIN_PART_ORDERS}
    ),
    lif AS (
      SELECT li.l_orderkey, li.l_partkey, sup.part_orders
      FROM li JOIN sup USING (l_partkey)
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(count(*) AS BIGINT) AS pair_orders,
           a.part_orders AS orders_a, b.part_orders AS orders_b
    FROM lif a
    JOIN lif b ON a.l_orderkey = b.l_orderkey
              AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2, 4, 5
    HAVING count(*) >= {CP_MIN_PAIR_ORDERS}
    ORDER BY pair_orders DESC, part_a, part_b
    LIMIT {CP_TOPK}
    """,
)
def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining (frequent itemsets of size 2 — the
    distributed A-Priori first level): parts that co-occur in the
    same order, support-pruned on BOTH levels. The per-part floor is
    applied FIRST because support is anti-monotone (a pair can never
    out-support its rarest member), so the self-join runs on the
    frequent-part projection only — at 100 TB this is the difference
    between joining the full fact table against itself and joining
    its (vastly smaller) frequent subset. Per-order pair fan-out is
    C(order size, 2), bounded by the schema's lines-per-order; a feed
    with pathological mega-baskets would cap or salt l_orderkey
    first (the dedup_minhash salting pattern).

    Plan shape: one distinct projection, one support aggregate, one
    hash self-join on l_orderkey, one pair aggregate, TakeOrdered
    top-{CP_TOPK} (per-partition heaps, no global sort). Ordering is
    total ((pair_orders DESC, part_a, part_b) is unique), so the
    limit is deterministic cross-engine. The mined pair table is
    persisted and shared with triangle_counts (`_frequent_pairs`)."""
    return (
        _frequent_pairs(spark, sf_dir)
        .orderBy(F.desc("pair_orders"), "part_a", "part_b")
        .limit(CP_TOPK)
        .select("part_a", "part_b", "pair_orders", "orders_a", "orders_b")
    )


# ------------------------- random projection + its JL contract

RP_OUT_DIM = 16  # projected dimensionality (64 -> 16, 4x reduction)
RP_SCALE = 1024  # power-of-two fixed-point scale: x*1024 and floor
#                  are exact in float64 for float32-mantissa inputs
RP_SALT = "rp"
RP_N_PROBE = 20  # JL contract pair set: vectors with vec_id < 20
#                  (the similarity tier's N_QUERIES convention)

# Distortion bands for the JL contract, in percent of the expected
# ratio  d2_proj / (RP_OUT_DIM * d2_orig) = 1. Band k collects pairs
# whose ratio lies in [edge_k, edge_{k+1}); comparisons are integer
# cross-multiplies (100*d2_proj >= pct*RP_OUT_DIM*d2_orig), so the
# banding is exact on both engines. Band -1 holds identical-vector
# pairs (zero original distance — ratio undefined).
RP_BAND_PCTS = (50, 75, 100, 125, 150)


def _rp_sign(j: int, d: int) -> int:
    """+1/-1 sign of projection row j, input dim d — md5-derived so
    DuckDB re-derives the identical matrix (the LSH plane-weight
    idiom, similarity_ops._md5_plane_weights)."""
    import hashlib

    h = hashlib.md5(f"{RP_SALT}_{j}_{d}".encode()).hexdigest()
    return 1 if int(h[:1], 16) < 8 else -1


def _rp_comp(vecs: DataFrame) -> DataFrame:
    """(vec_id, d, qx): fixed-point integer components."""
    return vecs.select(
        "vec_id",
        F.posexplode(
            F.transform("emb", lambda x: F.floor(x * RP_SCALE).cast("long"))
        ).alias("d", "qx"),
    )


def _rp_projected(spark: SparkSession, vecs: DataFrame) -> DataFrame:
    """(vec_id, j, y): the projected vectors, y_j = sum_d sign(j,d)*q_d
    — a relational GEMM: explode components, broadcast-join the
    1024-row sign matrix, partial-aggregate back per (vec_id, j).
    Map-side combine keeps the shuffle at |corpus| x RP_OUT_DIM rows
    (never the x1024 fan-out); at extreme scale the same contract is
    served by an Arrow GEMM kernel (the _signature_kernel shape) —
    the relational form is kept here because it is pure JVM codegen
    end to end."""
    signs = spark.createDataFrame(
        [
            (j, d, _rp_sign(j, d))
            for j in range(RP_OUT_DIM)
            for d in range(64)
        ],
        "j int, d int, w long",
    )
    return (
        _rp_comp(vecs)
        .join(F.broadcast(signs), "d")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("qx") * F.col("w")).cast("long").alias("y"))
    )


_RP_DUCK_CTES = f"""
    e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      WHERE {_DUCK_NONZERO}
    ),
    comp AS (
      SELECT vec_id,
             unnest(list_transform(
               emb, x -> CAST(floor(x * {RP_SCALE}.0) AS BIGINT)
             )) AS qx,
             unnest(range(0, len(emb))) AS d
      FROM e
    ),
    signs AS (
      SELECT j.j AS j, d.d AS d,
             CASE WHEN CAST(('0x' || substr(
               md5(concat('{RP_SALT}_', j.j, '_', d.d)), 1, 1
             )) AS UBIGINT) < 8 THEN 1 ELSE -1 END AS w
      FROM range({RP_OUT_DIM}) j(j), range(64) d(d)
    ),
    proj AS (
      SELECT c.vec_id, s.j, CAST(SUM(c.qx * s.w) AS BIGINT) AS y
      FROM comp c JOIN signs s ON c.d = s.d
      GROUP BY c.vec_id, s.j
    )"""


@query(
    "rp_project",
    oracle=f"""
    WITH {_RP_DUCK_CTES}
    SELECT vec_id, j, y FROM proj ORDER BY vec_id, j
    """,
)
def rp_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection dimensionality reduction (the
    Johnson-Lindenstrauss / Achlioptas +-1 construction — the public
    sketching method behind embedding compression before ANN
    indexing): project the 64-dim corpus to {RP_OUT_DIM} dims with an
    md5-derived +-1 sign matrix. Exact integer arithmetic end to end
    (power-of-two fixed-point components x integer signs — the r8
    parity technique), so the PRODUCTION output, not a summary of
    it, hash-matches DuckDB.

    Complements the similarity tier: LSH keeps only the SIGN of each
    projection (1 bit, for bucketing); this keeps the projected
    VALUES — the representation you hand to a downstream exact or
    IVF search in the reduced space, at 1/4 the storage and GEMM
    cost. `rp_distance_contract` prices what the compression does to
    pairwise distances.

    Plan: posexplode (codegen) -> 1024-row broadcast sign join ->
    partial-aggregated GEMM back to (vec_id, j) — one keyed shuffle
    of |corpus| x {RP_OUT_DIM} rows, no Python, no cartesian."""
    from .similarity_ops import load_vectors

    return (
        _rp_projected(spark, load_vectors(spark, sf_dir))
        .orderBy("vec_id", "j")
    )


def _rp_band_expr(d2o: str, d2p: str) -> str:
    """SQL band index: -1 for zero original distance, else the count
    of band edges at or below the ratio (integer cross-multiply)."""
    hits = " + ".join(
        f"(CASE WHEN 100 * {d2p} >= {pct} * {RP_OUT_DIM} * {d2o}"
        " THEN 1 ELSE 0 END)"
        for pct in RP_BAND_PCTS
    )
    return f"CASE WHEN {d2o} = 0 THEN -1 ELSE {hits} END"


@query(
    "rp_distance_contract",
    oracle=f"""
    WITH {_RP_DUCK_CTES},
    pc AS (SELECT * FROM comp WHERE vec_id < {RP_N_PROBE}),
    pp AS (SELECT * FROM proj WHERE vec_id < {RP_N_PROBE}),
    d_orig AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb,
             CAST(SUM((a.qx - b.qx) * (a.qx - b.qx)) AS BIGINT) AS d2o
      FROM pc a JOIN pc b ON a.d = b.d AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    d_proj AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb,
             CAST(SUM((a.y - b.y) * (a.y - b.y)) AS BIGINT) AS d2p
      FROM pp a JOIN pp b ON a.j = b.j AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    )
    SELECT band, CAST(count(*) AS BIGINT) AS n_pairs
    FROM (
      SELECT {_rp_band_expr('o.d2o', 'p.d2p')} AS band
      FROM d_orig o
      JOIN d_proj p ON o.ida = p.ida AND o.idb = p.idb
    )
    GROUP BY band ORDER BY band
    """,
)
def rp_distance_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JL distance-preservation contract for `rp_project`: over
    all pairs of the first {RP_N_PROBE} corpus vectors, band the
    distortion ratio ||P(u-v)||^2 / ({RP_OUT_DIM} * ||u-v||^2) —
    whose expectation is exactly 1 for a +-1 projection — into fixed
    buckets. Every quantity is an exact integer (squared distances of
    integer vectors; band edges decided by integer cross-multiply),
    so the contract has full hash parity — the measured histogram IS
    the certified object, the same posture as sq8_topk_recall /
    mrl_truncation_recall for the other two compression axes
    (quantization, truncation). Identical-vector pairs (zero original
    distance, ratio undefined) land in band -1 by construction.

    Bounded by construction: the pair set is C({RP_N_PROBE},2) rows;
    both distance passes are hash joins on the dimension index (d /
    j), never a cartesian — the contract costs two keyed joins over
    {RP_N_PROBE}x64 and {RP_N_PROBE}x{RP_OUT_DIM} component rows."""
    from .similarity_ops import load_vectors

    probe = load_vectors(spark, sf_dir).filter(
        F.col("vec_id") < RP_N_PROBE
    )
    comp = _rp_comp(probe)
    proj = _rp_projected(spark, probe)

    def pair_d2(df: DataFrame, axis: str, val: str, out: str) -> DataFrame:
        a = df.select(
            F.col("vec_id").alias("ida"), F.col(axis), F.col(val).alias("va")
        )
        b = df.select(
            F.col("vec_id").alias("idb"), F.col(axis), F.col(val).alias("vb")
        )
        return (
            a.join(b, axis)
            .filter(F.col("ida") < F.col("idb"))
            .groupBy("ida", "idb")
            .agg(
                F.sum(
                    (F.col("va") - F.col("vb")) * (F.col("va") - F.col("vb"))
                )
                .cast("long")
                .alias(out)
            )
        )

    d_orig = pair_d2(comp, "d", "qx", "d2o")
    d_proj = pair_d2(proj, "j", "y", "d2p")
    joined = d_orig.join(d_proj, ["ida", "idb"])
    hits = None
    for pct in RP_BAND_PCTS:
        h = F.when(
            100 * F.col("d2p") >= pct * RP_OUT_DIM * F.col("d2o"), 1
        ).otherwise(0)
        hits = h if hits is None else hits + h
    band = F.when(F.col("d2o") == 0, F.lit(-1)).otherwise(hits)
    return (
        joined.select(band.alias("band"))
        .groupBy("band")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .orderBy("band")
    )


# ---------------------------------------- triangle counting

# Edge set: the FULL frequent co-purchase pair graph (the
# copurchase_pairs mining without the top-k presentation cap),
# read from the shared persisted `_frequent_pairs` frame.
TRI_MIN_PART_ORDERS = CP_MIN_PART_ORDERS
TRI_MIN_PAIR_ORDERS = CP_MIN_PAIR_ORDERS

_TRI_DUCK_EDGES = f"""
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    sup AS (
      SELECT l_partkey FROM li GROUP BY 1
      HAVING count(*) >= {TRI_MIN_PART_ORDERS}
    ),
    lif AS (SELECT li.* FROM li JOIN sup USING (l_partkey)),
    edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lif a JOIN lif b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= {TRI_MIN_PAIR_ORDERS}
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM edges
            UNION ALL SELECT v FROM edges)
      GROUP BY node
    ),
    oriented AS (
      SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                  THEN e.u ELSE e.v END AS s,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                  THEN e.v ELSE e.u END AS t
      FROM edges e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    ),
    tri AS (
      SELECT e1.s AS x, e1.t AS y, e2.t AS z
      FROM oriented e1
      JOIN oriented e2 ON e1.t = e2.s
      JOIN oriented e3 ON e3.s = e1.s AND e3.t = e2.t
    )"""


def _pair_degrees(spark: SparkSession, sf_dir: str):
    """(edges u<v, per-node degree) of the frequent co-purchase graph."""
    edges = _frequent_pairs(spark, sf_dir).select(
        F.col("part_a").alias("u"), F.col("part_b").alias("v")
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("d"))
    )
    return edges, deg


@memoized
def _oriented_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each edge directed from its lower-(degree, id) endpoint,
    persisted: the wedge join consumes it from three plan branches
    (e1/e2/e3)."""
    edges, deg = _pair_degrees(spark, sf_dir)
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .persist()
    )


@query(
    "triangle_counts",
    oracle=f"""
    WITH {_TRI_DUCK_EDGES},
    pernode AS (
      SELECT node, CAST(count(*) AS BIGINT) AS triangles
      FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      )
      GROUP BY node
    )
    SELECT p.node, p.triangles, d.d AS degree
    FROM pernode p JOIN deg d ON d.node = p.node
    ORDER BY p.triangles DESC, p.node
    """,
)
def triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting over the frequent co-purchase
    graph (`copurchase_pairs`' edge set without the presentation
    cap) — the clustering-coefficient numerator, the standard graph
    statistic next to the rank (`nation_pagerank`) and components
    (`dedup_clusters`) the engine already serves.

    Physical strategy is the degree-ORIENTED wedge join (the
    MapReduce-era standard for making triangle enumeration skew-safe):
    each undirected edge is directed from its lower-(degree, id)
    endpoint to its higher one, which (a) enumerates every triangle
    exactly once as x->y, x->z, y->z and (b) bounds every vertex's
    out-degree by O(sqrt(m)) — so the wedge self-join on the middle
    vertex, THE step that explodes on a hub vertex under naive id
    orientation, stays balanced no matter how skewed the raw degree
    distribution gets at 100 TB. Both engines run the identical
    orientation, so the whole pipeline keeps full hash parity.

    Plan: the pair mining comes from the PERSISTED `_frequent_pairs`
    frame shared with copurchase_pairs; one degree aggregate, two
    hash joins to orient (the oriented edge list persisted too — the
    wedge join reads it from three plan branches, and without the
    persist every branch replays the whole mining pipeline: the
    unpersisted plan measured 68 parquet scans / 189 exchanges at
    sf0.1), one wedge self-join on the middle vertex, one closing
    semi-shaped join on (x, z), explode + count per node. All equi
    joins, no Python, no cartesian."""
    _, deg = _pair_degrees(spark, sf_dir)
    oriented = _oriented_edges(spark, sf_dir)
    e1 = oriented.select(F.col("s").alias("x"), F.col("t").alias("y"))
    e2 = oriented.select(F.col("s").alias("y"), F.col("t").alias("z"))
    e3 = oriented.select(F.col("s").alias("x"), F.col("t").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    pernode = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    return (
        pernode.join(deg.select("node", F.col("d").alias("degree")), "node")
        .select("node", "triangles", "degree")
        .orderBy(F.desc("triangles"), "node")
    )


# --------------------------------- time-weighted value (TWAP)

# Fixed-point value grain: whole cents (floor(value*100) — the same
# double on both engines, so the floor is deterministic even though
# 100 is not a power of two; exactness is not required, only
# identical results).
TWV_CENTS = 100
# Duration grain: whole seconds via integer division (µs div 1e6 —
# exact and identical on both engines; float division would not be).
TWV_US_PER_S = 1_000_000


@query(
    "time_weighted_value",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, user_id, value, epoch_us(ts) AS ts_us FROM events
    ),
    iv AS (
      SELECT user_id,
             CAST(floor(value * {TWV_CENTS}) AS BIGINT) AS cents,
             (lead(ts_us) OVER (
                PARTITION BY user_id ORDER BY ts_us, event_id
              ) - ts_us) // {TWV_US_PER_S} AS dur_s
      FROM ev
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_obs,
           CAST(sum(CASE WHEN dur_s IS NULL THEN 0 ELSE dur_s END)
             AS BIGINT) AS total_s,
           CAST(sum(CASE WHEN dur_s IS NULL THEN 0 ELSE cents * dur_s END)
             AS BIGINT) AS weighted_cents_s,
           CASE WHEN sum(CASE WHEN dur_s IS NULL THEN 0 ELSE dur_s END) > 0
                THEN CAST(sum(CASE WHEN dur_s IS NULL THEN 0
                                   ELSE cents * dur_s END)
                     // sum(CASE WHEN dur_s IS NULL THEN 0 ELSE dur_s END)
                     AS BIGINT)
                ELSE NULL END AS twap_cents
    FROM iv
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP — the
    irregular-sampling aggregate KDB's wavg and TimescaleDB's
    time_weight serve natively; Spark has no operator for it): each
    event sets the user's level until their next event, and the
    average weights each level by how long it HELD, not by how often
    it was sampled — the correct read on feeds where active periods
    oversample (a plain AVG overweights bursts). The last observation
    per user has no successor and contributes zero held time — the
    contract averages over each user's OBSERVED span, so the whole
    query is one lead() window per user partition plus one keyed
    aggregate: no global state, no broadcast, TWAP at 100 TB costs
    exactly one shuffle on user_id.

    Parity discipline: levels quantized to whole cents
    (floor(value*{TWV_CENTS}) — deterministic cross-engine on
    identical doubles), durations to whole seconds by integer
    division (µs div 1e6 — the float-divide-then-cast trap from the
    round-5 lessons avoided on both sides), and the final TWAP is one
    integer floor-division guarded by an explicit zero-span branch
    (single-observation users; ANSI mode would throw where DuckDB
    yields NULL). Sums stay far inside int64: max cents x max span
    ~ 5e4 x 3e6 s ~ 1.5e11."""
    from pyspark.sql.window import Window

    from .loads import _events_us

    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    iv = (
        _events_us(spark, sf_dir)
        .select(
            "user_id",
            "ts_us",
            F.floor(F.col("value") * TWV_CENTS).cast("long").alias("cents"),
            F.lead("ts_us").over(w).alias("next_us"),
        )
        .select(
            "user_id",
            "cents",
            F.expr(f"(next_us - ts_us) div {TWV_US_PER_S}").alias("dur_s"),
        )
    )
    dur = F.coalesce(F.col("dur_s"), F.lit(0))
    agg = iv.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_obs"),
        F.sum(dur).cast("long").alias("total_s"),
        F.sum(F.col("cents") * dur).cast("long").alias("weighted_cents_s"),
    )
    return agg.select(
        "user_id",
        "n_obs",
        "total_s",
        "weighted_cents_s",
        F.when(
            F.col("total_s") > 0,
            F.expr("weighted_cents_s div total_s"),
        )
        .cast("long")
        .alias("twap_cents"),
    ).orderBy("user_id")


# --------------------------------- WordPiece greedy encoder

# WordPiece (Schuster & Nakajima 2012; BERT's tokenizer): encode by
# GREEDY LONGEST-MATCH-FIRST against a fixed piece vocabulary. The
# vocabulary here is the unigram seed table (top UNI_SEED_CAP
# multi-char substrings) plus every single character of the capped
# word table, so coverage gaps are possible only for characters the
# capped table never saw — those advance one character and count as
# UNK (both engines implement the identical rule).
#
# Greedy longest-match is a CLOSED-FORM walk (unlike BPE's merge
# ranks or unigram's float Viterbi): best-piece-length at every
# (word, position) is one relational max, and the walk is a pure
# next[] chase — so this THIRD tokenizer family's encoder gets full
# hash parity via a recursive-CTE oracle where the other two needed
# rows-only twins.


def _wordpiece_vocab(spark: SparkSession, sf_dir: str) -> set[str]:
    wc = _capped_word_counts(spark, sf_dir)
    vocab = {p for p, _ in _seed_pieces(wc)}
    for w, _ in wc:
        vocab.update(w)
    return vocab


@query(
    "wordpiece_encoded_counts",
    oracle=f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ),
    occ AS (SELECT doc_id, unnest(toks) AS word FROM t),
    -- single chars of the capped word table (duplicates the capped
    -- CTE of the seed oracle; the dual-scale parity sweeps pin the
    -- two copies together)
    cnt AS (
      SELECT word, count(*) AS c
      FROM (SELECT unnest(toks) AS word FROM t) GROUP BY word
    ),
    capped AS (
      SELECT word, c FROM cnt ORDER BY c DESC, word LIMIT {VOCAB_CAP}
    ),
    chars AS (
      SELECT DISTINCT substr(word, i, 1) AS piece
      FROM capped, range(1, 4096) r(i)
      WHERE i <= length(word)
    ),
    seed AS (
      SELECT piece FROM ({ORACLE["unigram_seed_vocab"]}) s
    ),
    vocab AS (SELECT piece FROM seed UNION SELECT piece FROM chars),
    words AS (SELECT DISTINCT word FROM occ),
    -- hashable equi-join form: pre-slice every candidate substring
    -- (a k=4 slice near the word end yields a shorter string whose
    -- vocab match is a legitimate shorter match; max(length(piece))
    -- is unaffected by the duplicate)
    grid AS (
      SELECT w.word, CAST(p.pos AS INT) AS pos,
             substr(w.word, CAST(p.pos AS INT) + 1, CAST(k.k AS INT))
               AS sub
      FROM words w,
           range(0, 4096) p(pos),
           range(1, {UNI_MAX_PIECE_LEN} + 1) k(k)
      WHERE p.pos < length(w.word)
    ),
    cand AS (
      SELECT g.word, g.pos,
             CAST(max(length(v.piece)) AS INT) AS bestlen
      FROM grid g JOIN vocab v ON g.sub = v.piece
      GROUP BY g.word, g.pos
    ),
    walk(word, pos, n_tok, n_unk) AS (
      SELECT word, CAST(0 AS INT), 0, 0 FROM words
      UNION ALL
      SELECT w.word,
             w.pos + CAST(coalesce(c.bestlen, 1) AS INT),
             w.n_tok + 1,
             w.n_unk + CASE WHEN c.bestlen IS NULL THEN 1 ELSE 0 END
      FROM walk w LEFT JOIN cand c ON c.word = w.word AND c.pos = w.pos
      WHERE w.pos < length(w.word)
    ),
    done AS (
      SELECT word, n_tok, n_unk FROM walk WHERE pos >= length(word)
    ),
    perdoc AS (
      SELECT o.doc_id,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(d.n_tok) AS BIGINT) AS n_tokens,
             CAST(sum(d.n_unk) AS BIGINT) AS n_unk
      FROM occ o JOIN done d ON d.word = o.word
      GROUP BY o.doc_id
    )
    SELECT doc.doc_id,
           coalesce(p.n_words, 0) AS n_words,
           coalesce(p.n_tokens, 0) AS n_tokens,
           coalesce(p.n_unk, 0) AS n_unk
    FROM documents doc LEFT JOIN perdoc p ON p.doc_id = doc.doc_id
    ORDER BY doc.doc_id
    """,
)
def wordpiece_encoded_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under a greedy WordPiece encoder —
    the third tokenizer family (whitespace/BPE/unigram/WordPiece all
    reportable now), and the only subword encoder here whose FULL
    output is hash-checked: greedy longest-match-first is a
    deterministic next[]-chase, so the oracle re-derives every
    word's segmentation with one relational best-piece-length max
    plus a recursive-CTE walk — no rows-only concession.

    A character with no vocabulary entry (possible only when the
    capped word table undersamples the corpus alphabet) advances one
    position and counts as UNK — the same totalizing rule on both
    engines, so degenerate fixtures narrow the vocabulary without
    breaking parity.

    Scale shape: the vocabulary is metadata (seed pieces + alphabet,
    broadcast); encoding is one map-only Arrow pass over the
    pre-tokenized docs with a per-batch word cache (Zipf: mostly
    hits) — the bpe_encoded_counts / unigram_encoded_counts shape
    exactly; no shuffle beyond the final orderBy."""
    import pandas as pd

    vocab = _wordpiece_vocab(spark, sf_dir)
    bc = spark.sparkContext.broadcast(vocab)

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", textfn.tokenize("text").alias("words")
    )

    def enc(batches):
        vs = bc.value
        max_len = UNI_MAX_PIECE_LEN

        def greedy(word: str) -> tuple[int, int]:
            pos, ntok, nunk = 0, 0, 0
            n = len(word)
            while pos < n:
                for k in range(min(max_len, n - pos), 0, -1):
                    if word[pos : pos + k] in vs:
                        pos += k
                        ntok += 1
                        break
                else:
                    pos += 1
                    ntok += 1
                    nunk += 1
            return ntok, nunk

        for pdf in batches:
            cache: dict[str, tuple[int, int]] = {}
            n_words, n_tokens, n_unk = [], [], []
            for words in pdf["words"]:
                t = u = 0
                for w in words:
                    if w not in cache:
                        cache[w] = greedy(w)
                    tw, uw = cache[w]
                    t += tw
                    u += uw
                n_words.append(len(words))
                n_tokens.append(t)
                n_unk.append(u)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_words": n_words,
                    "n_tokens": n_tokens,
                    "n_unk": n_unk,
                }
            )

    return docs.mapInPandas(
        enc, schema="doc_id long, n_words long, n_tokens long, n_unk long"
    ).orderBy("doc_id")


# --------------------------- two-sample KS drift per source

# Bucketing: n_chars div 4, capped at 255 — the distributed_rank /
# banding discipline: the KS max must be evaluated on every CDF jump
# of EITHER sample, and bucketing bounds that evaluation grid at 256
# rows regardless of corpus size (a per-pair global sort of raw
# values would put one source pair's worth of data in one partition
# at 100 TB). The statistic is then the exact KS of the BUCKETED
# distributions — a defined contract, like the rank-space
# approx_percentile bounds.
KS_BUCKET_W = 4
KS_N_BUCKETS = 256
# CDF fractions in parts-per-million via integer division: keeps
# every quantity int64 at any corpus size (cum * 1e6 <= 9e18 up to
# ~9e12 docs; widen to DECIMAL(38,0) beyond — the collocation_lift
# playbook), at the cost of a <=1 ppm floor artifact on each side.
KS_PPM = 1_000_000
# Drift verdict threshold: D >= 0.10.
KS_FLAG_PPM = 100_000


@query(
    "ks_drift_by_source",
    oracle=f"""
    WITH d AS (
      SELECT source,
             least({KS_N_BUCKETS - 1}, n_chars // {KS_BUCKET_W}) AS b
      FROM documents
    ),
    sb AS (
      SELECT source, b, CAST(count(*) AS BIGINT) AS c
      FROM d GROUP BY source, b
    ),
    gb AS (
      SELECT b, CAST(sum(c) AS BIGINT) AS gc FROM sb GROUP BY b
    ),
    gcum AS (
      SELECT b, gc,
             CAST(sum(gc) OVER (ORDER BY b) AS BIGINT) AS gcd
      FROM gb
    ),
    srcs AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM sb
      GROUP BY source
    ),
    tot AS (SELECT CAST(sum(gc) AS BIGINT) AS n FROM gb),
    grid AS (
      SELECT s.source, s.n_s, g.b, g.gcd, t.n
      FROM srcs s, gcum g, tot t
    ),
    scum AS (
      SELECT gr.source, gr.n_s, gr.b, gr.gcd, gr.n,
             CAST(sum(coalesce(sb.c, 0)) OVER (
               PARTITION BY gr.source ORDER BY gr.b
             ) AS BIGINT) AS scd
      FROM grid gr
      LEFT JOIN sb ON sb.source = gr.source AND sb.b = gr.b
    ),
    ks AS (
      SELECT source, n_s,
             max(abs(
               (scd * {KS_PPM}) // n_s
               - ((gcd - scd) * {KS_PPM}) // (n - n_s)
             )) AS ks_ppm
      FROM scum
      WHERE n_s > 0 AND n - n_s > 0
      GROUP BY source, n_s
    )
    SELECT s.source, s.n_s AS n_docs,
           CAST(k.ks_ppm AS BIGINT) AS ks_ppm,
           k.ks_ppm >= {KS_FLAG_PPM} AS drift_flag
    FROM srcs s LEFT JOIN ks k ON k.source = s.source
    ORDER BY s.source
    """,
)
def ks_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution-drift gate: the two-sample
    Kolmogorov-Smirnov statistic of each source's document-length
    distribution against the REST of the corpus — the standard
    continuous-feature drift test next to the token-level divergence
    the engine already serves (`source_vocab_divergence` is
    total-variation over vocabulary; this is max-CDF-gap over a
    numeric feature, the one that catches a source whose documents
    silently shrink). A source with ks_ppm >= {KS_FLAG_PPM} (D >=
    0.10) raises drift_flag — the route-to-quarantine verdict a
    production intake pipeline keys on.

    Exactness: lengths bucket to a fixed {KS_N_BUCKETS}-cell grid
    (div {KS_BUCKET_W}, capped), the rest-CDF is derived as
    global-minus-source (one pass — no per-pair data duplication),
    and both CDFs are integer ppm fractions, so the reported
    statistic is the exact KS of the bucketed distributions and
    hash-matches cross-engine. Single-source corpora define the
    statistic out (NULL, flag NULL) on both engines.

    Scale shape: one (source, bucket) count aggregate, a <=
    {KS_N_BUCKETS}-row global CDF fold, a sources x buckets grid
    (dimension x 256 — the source_vocab_divergence allowlist shape)
    carrying per-source windows of {KS_N_BUCKETS} rows each, one
    final per-source max. The raw corpus is read once; nothing
    per-pair, nothing sorted globally."""
    from pyspark.sql.window import Window

    from ..operators import bounded_global_window

    d = load_table(spark, sf_dir, "documents").select(
        "source",
        F.least(
            F.lit(KS_N_BUCKETS - 1),
            F.expr(f"n_chars div {KS_BUCKET_W}"),
        ).alias("b"),
    )
    sb = d.groupBy("source", "b").agg(
        F.count("*").cast("long").alias("c")
    )
    gb = sb.groupBy("b").agg(F.sum("c").cast("long").alias("gc"))
    # <= 256 rows by construction: the bucket grid
    gcum = gb.select(
        "b",
        F.sum("gc").over(bounded_global_window("b")).cast("long").alias("gcd"),
    )
    srcs = sb.groupBy("source").agg(F.sum("c").cast("long").alias("n_s"))
    tot = gb.agg(F.sum("gc").cast("long").alias("n"))
    grid = srcs.crossJoin(F.broadcast(gcum)).crossJoin(F.broadcast(tot))
    w = Window.partitionBy("source").orderBy("b")
    scum = (
        grid.join(sb, ["source", "b"], "left")
        .withColumn(
            "scd",
            F.sum(F.coalesce(F.col("c"), F.lit(0))).over(w).cast("long"),
        )
    )
    gap = F.abs(
        F.expr(f"(scd * {KS_PPM}) div n_s")
        - F.expr(f"((gcd - scd) * {KS_PPM}) div (n - n_s)")
    )
    ks = (
        scum.filter((F.col("n_s") > 0) & (F.col("n") - F.col("n_s") > 0))
        .groupBy("source", "n_s")
        .agg(F.max(gap).cast("long").alias("ks_ppm"))
    )
    return (
        srcs.join(ks.select("source", "ks_ppm"), "source", "left")
        .select(
            "source",
            F.col("n_s").alias("n_docs"),
            "ks_ppm",
            (F.col("ks_ppm") >= KS_FLAG_PPM).alias("drift_flag"),
        )
        .orderBy("source")
    )


# ----------------------------- end-to-end pipeline funnel contract

# The full curate_corpus funnel, hash-certified: stage counts for the
# exact chain pipelines.curation_stage_frames builds (the PIPELINE'S
# code path, not a query-side re-implementation — the two share one
# definition, so this driver row certifies the production pipeline
# end to end). Strategy pinned to best_quality, the richest path
# (components + classifier keeper); greedy/canonical variants are
# pytest-certified in tests/test_pipelines.py.


def _pipeline_funnel_oracle() -> str:
    # populate ORACLE for the composed fragments when this module is
    # imported DIRECTLY (a test bypassing registry.load_all) — all
    # three register EARLIER in _QUERY_MODULES, so importing them
    # here never reorders registration (the r9 lesson)
    from . import dedup_ops, sampling_ops, text_quality_ops  # noqa: F401
    from .round10_ops import _QL_W_DUCK

    return f"""
    WITH RECURSIVE
    gq AS ({ORACLE["gopher_quality_flags"]}),
    gated AS (
      SELECT d.doc_id, d.text FROM documents d
      JOIN gq ON gq.doc_id = d.doc_id AND gq.keep
    ),
    canon AS (
      SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)
    ),
    exact_s AS (
      SELECT g.doc_id, g.text FROM gated g
      JOIN canon c ON c.doc_id = g.doc_id
    ),
    pairs0 AS ({ORACLE["dedup_minhash"]}),
    pe AS (
      SELECT doc_a, doc_b FROM pairs0
      WHERE doc_a IN (SELECT doc_id FROM exact_s)
        AND doc_b IN (SELECT doc_id FROM exact_s)
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pe
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pe
    ),
    verts AS (SELECT DISTINCT a AS v FROM edges),
    reach(src, dst) AS (
      SELECT v, v FROM verts
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (
      SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
    ),
    st AS (SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM exact_s),
    scores AS (
      SELECT doc_id, CAST(sum({_QL_W_DUCK}) AS BIGINT) AS logit
      FROM st GROUP BY doc_id
    ),
    m AS (
      SELECT c.doc_id, c.cluster_id, coalesce(s.logit, 0) AS logit
      FROM comp c LEFT JOIN scores s USING (doc_id)
    ),
    losers AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (
                 PARTITION BY cluster_id ORDER BY logit DESC, doc_id
               ) AS rn
        FROM m
      ) WHERE rn > 1
    ),
    surv AS (
      SELECT doc_id FROM exact_s
      WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    ),
    split AS ({ORACLE["train_val_split"]}),
    curated AS (
      SELECT s.doc_id, sp.split FROM surv s JOIN split sp USING (doc_id)
    )
    SELECT ord, stage, n_docs FROM (
      SELECT 0 AS ord, 'raw' AS stage,
             CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs
      UNION ALL SELECT 1, 'quality_gated',
             CAST((SELECT count(*) FROM gated) AS BIGINT)
      UNION ALL SELECT 2, 'exact_deduped',
             CAST((SELECT count(*) FROM exact_s) AS BIGINT)
      UNION ALL SELECT 3, 'near_deduped',
             CAST((SELECT count(*) FROM surv) AS BIGINT)
      UNION ALL SELECT 4, 'split_train',
             CAST((SELECT count(*) FROM curated WHERE split = 'train')
               AS BIGINT)
      UNION ALL SELECT 5, 'split_val',
             CAST((SELECT count(*) FROM curated WHERE split = 'val')
               AS BIGINT)
    ) ORDER BY ord
    """


@query("pipeline_funnel_contract", oracle=_pipeline_funnel_oracle())
def pipeline_funnel_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `pipelines.curate_corpus` funnel as a driver-certified
    contract: stage survival counts (raw -> Gopher gate -> exact
    content dedup -> quality-aware near-dup keeper -> train/val
    split) computed from the SAME `curation_stage_frames` the
    production pipeline publishes from — one definition per stage,
    so this row certifies the end-to-end pipeline, not a lookalike.
    The oracle recomposes every stage from the already-certified
    fragments (gopher_quality_flags, md5 content canon,
    dedup_minhash's banded pairs scoped to the alive set, the
    recursive-CTE component resolution with the hashed-linear keeper
    rule, train_val_split) — so a drift in ANY stage's semantics,
    or in how the pipeline chains them, breaks the hash.

    Scale shape: every stage is the composed operators' own plan
    (map-side gates, banded LSH join, edge-list-bounded component
    resolution with per-round localCheckpoint, map-side classifier
    pass); the funnel adds six 1-row aggregates. Stage frames are
    memoized per (session, sf_dir, strategy), so the pipeline and this contract never re-run the eager
    component loop twice in one session."""
    from functools import reduce

    from ..pipelines import curation_stage_frames

    frames = curation_stage_frames(spark, sf_dir, near_dup="best_quality")
    stages = [
        (0, "raw", frames["raw"]),
        (1, "quality_gated", frames["quality_gated"]),
        (2, "exact_deduped", frames["exact_deduped"]),
        (3, "near_deduped", frames["near_deduped"]),
        (4, "split_train", frames["curated"].filter(F.col("split") == "train")),
        (5, "split_val", frames["curated"].filter(F.col("split") == "val")),
    ]
    parts = [
        df.agg(F.count(F.lit(1)).cast("long").alias("n_docs")).select(
            F.lit(o).alias("ord"), F.lit(s).alias("stage"), "n_docs"
        )
        for o, s, df in stages
    ]
    return reduce(lambda a, b: a.unionByName(b), parts).orderBy("ord")
