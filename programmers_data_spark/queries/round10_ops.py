"""Round-10 operators: corpus spectrum, skip-gram mining, hashed
linear quality classifier, batch sessionization.

Four additions a large-scale training-data pipeline runs between the
existing round-9 corpus-statistics tier and the curation tier:

- ``token_freq_spectrum`` — the frequency-of-frequencies (Zipf)
  spectrum: how many vocabulary TYPES sit in each power-of-two
  occurrence band. The diagnostic a tokenizer team reads next to
  ``vocab_growth_curve`` (how fast the vocabulary grows) to decide
  where the vocabulary's long tail starts (Baayen 2001, "Word
  Frequency Distributions" — public method; the floor-log2 binning
  reuses quality_lm_ops' ``length(bin(n)) - 1`` identity).
- ``skipgram_cooccurrence`` — the word2vec/GloVe training-pair
  extraction (Mikolov et al. 2013; Pennington et al. 2014 — public
  methods): within-±{WINDOW} token windows, (center, context) pair
  counts with 1/distance weighting, top pairs by weighted count.
  Distance weights are exact scaled integers (SCALE div d with d a
  per-branch LITERAL, so both engines interpolate the same python
  quotient — no runtime division at all).
- ``quality_linear_score`` — model-BASED quality filtering: a hashed
  bag-of-words linear classifier (the fasttext/CCNet "looks like
  reference text" filter family — Joulin et al. 2016, Wenzek et al.
  2020 — public methods), the third standard quality family next to
  the heuristic ``quality_score``/``gopher_quality_flags`` and the
  LM-based ``ccnet_perplexity_bands``. Weights are md5-derived
  integers (the similarity tier's standing trick) so the logit is an
  exact integer sum — order-independent, hash-stable — and the
  accept decision is an integer cross-multiply, never a division.
- ``session_stats`` — batch sessionization of the events stream:
  gap-rule session assignment (new session when the within-user gap
  exceeds {SESSION_GAP_MINUTES} minutes) + per-user session
  statistics, the batch twin of stream_session_window's streaming
  state machine. All duration arithmetic in exact epoch micros.

Reference-semantics lineage: the reference's event rollups are
GROUP-BY summaries over a raw event table
(airflow/dags/config/mau_summary.py:4-9, run by
airflow/dags/Build_Summary.py:71-77); session_stats is that shape
with the window-function session-id assignment the reference's
warehouse SQL would use, and the three text operators extend the
LLM-pipeline tier per the brief.

Scale shape (100 TB): token_freq_spectrum and skipgram_cooccurrence
are map-side stream builds (slice + arrays_zip, zero raw-token
shuffles) into vocabulary-cardinality partial aggregates — the
spectrum's second groupBy runs on ~64 rows (one per log2 bin), and
the skip-gram top-k is TakeOrdered, not a global sort.
quality_linear_score is one explode + one corpus-partitioned groupBy
on doc_id (partial sums map-side); the weight lookup is a pure md5
expression, no weight table to join or broadcast. session_stats
windows partition on user_id — the natural key the events table
would be bucketed by — and never sees a global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import textfn
from ..memo import memoized
from ..registry import ORACLE, query
# dedup_ops registers EARLIER in registry._QUERY_MODULES, so both the
# ORACLE["dedup_minhash"] composition and this import are safe (the
# round-7 ordering rule: only earlier-module lookups allowed)
from .dedup_ops import _AUG_SQL
from ._oracle_shared import _DUCK_TOKS

_DUCK_D = f"d AS (SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents)"

# ---------------------------------------------------- freq spectrum

# Spark bin() and DuckDB bin() both render the minimal binary string
# of a positive integer, so floor(log2(n)) = length(bin(n)) - 1 in
# both engines (the quality_lm_ops identity).


@query(
    "token_freq_spectrum",
    oracle=f"""
    WITH {_DUCK_D},
    uc AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY tok
    )
    SELECT CAST(length(bin(c)) - 1 AS BIGINT) AS freq_bin_log2,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(c) AS BIGINT) AS n_occurrences
    FROM uc
    GROUP BY freq_bin_log2
    ORDER BY freq_bin_log2
    """,
)
def token_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf frequency-of-frequencies: vocabulary types and total
    occurrences per power-of-two occurrence band (band = floor-log2
    of the type's corpus count, exact via the bin()-length identity).

    Scale shape: one map-side token pass into a vocabulary-sized
    count table (map-side partial counts), then a ~64-row groupBy —
    the spectrum itself is log2(max_count) rows, a driver-readable
    diagnostic no matter the corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    uc = (
        docs.select(F.explode(textfn.tokenize("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return (
        uc.select(
            (F.length(F.bin("c")) - 1).cast("long").alias("freq_bin_log2"),
            "c",
        )
        .groupBy("freq_bin_log2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum("c").cast("long").alias("n_occurrences"),
        )
        .orderBy("freq_bin_log2")
    )


# ----------------------------------------------- skip-gram mining

WINDOW = 3  # ± context window in tokens (word2vec default band)
SKIPGRAM_SCALE = 1000  # fixed-point scale for the 1/d weights
TOP_SKIPGRAMS = 100


@query(
    "skipgram_cooccurrence",
    oracle=f"""
    WITH {_DUCK_D},
    pairs AS (
      {" UNION ALL ".join(
        f'''SELECT unnest(list_transform(
              generate_series(1, len(toks) - {d}),
              i -> toks[i] || ' ' || toks[i + {d}]
            )) AS pair, {SKIPGRAM_SCALE // d} AS w
            FROM d WHERE len(toks) > {d}'''
        for d in range(1, WINDOW + 1)
      )}
    )
    SELECT split_part(pair, ' ', 1) AS tok_a,
           split_part(pair, ' ', 2) AS tok_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(w) AS BIGINT) AS weight_milli
    FROM pairs
    GROUP BY pair
    ORDER BY weight_milli DESC, n_pairs DESC, tok_a, tok_b
    LIMIT {TOP_SKIPGRAMS}
    """,
)
def skipgram_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram training-pair extraction: directional (center,
    context-at-distance-d) pairs for d = 1..{WINDOW}, weighted
    1/d in exact milli-units (`SCALE div d` — Spark's integral `div`
    on exact integers equals the oracle's plan-time-folded python
    `//`; both operands are non-negative, so the two never diverge).
    Top {TOP_SKIPGRAMS} pairs by weighted count — the corpus's
    strongest co-occurrence structure, the input statistic GloVe
    factorizes.

    Scale shape: ONE map-side pass over the projected text column —
    per document, an array of the {WINDOW} per-distance
    (slice + arrays_zip) pair arrays, unpacked by posexplode (the
    distance index recovers the weight) + explode, all codegen'd
    builtins (rewritten r18: the previous form ran one full corpus
    scan PER distance — {WINDOW} scans unioned; at 100 TB each
    extra branch was a full corpus read for the same emitted rows).
    The single pass feeds ONE vocabulary²-bounded partial aggregate
    keyed on the pair; top-k is TakeOrdered. No token-stream
    shuffle, no window functions, no self-joins, no lambda HOFs
    (which run interpreted)."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(textfn.tokenize("text").alias("toks"))
    # per-distance zipped pair arrays, one array entry per d; docs
    # shorter than d+1 tokens contribute an EMPTY zip at that slot
    # (slice length clamped at 0), exactly like the old per-branch
    # size>d filter
    per_d = F.array(
        *[
            F.arrays_zip(
                F.slice(
                    "toks", 1, F.greatest(F.size("toks") - d, F.lit(0))
                ).alias("a"),
                F.slice(
                    "toks", d + 1, F.greatest(F.size("toks") - d, F.lit(0))
                ).alias("b"),
            )
            for d in range(1, WINDOW + 1)
        ]
    )
    pairs = (
        toked.filter(F.size("toks") > 1)
        .select(F.posexplode(per_d).alias("d0", "zs"))
        .select("d0", F.explode("zs").alias("p"))
        .select(
            F.col("p.a").alias("a"),
            F.col("p.b").alias("b"),
            # SCALE div d: integral division of exact non-negative
            # integers — identical to the python-// literals the
            # oracle folds per branch
            F.expr(
                f"{SKIPGRAM_SCALE} div (cast(d0 as bigint) + 1)"
            ).alias("w"),
        )
    )
    return (
        pairs.groupBy(F.col("a").alias("tok_a"), F.col("b").alias("tok_b"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("w").cast("long").alias("weight_milli"),
        )
        .orderBy(
            F.desc("weight_milli"), F.desc("n_pairs"), "tok_a", "tok_b"
        )
        .limit(TOP_SKIPGRAMS)
    )


# ------------------------------------- hashed linear quality score

# md5-derived per-token weight in [-1000, 1000]: feature hashing into
# the 16-bit md5-prefix space with a random-but-fixed weight vector —
# the fasttext-style linear scorer reduced to exact integers. The
# salt pins the weight vector; both engines recompute it from md5.
QL_SALT = "qlw1"
QL_WEIGHT_MOD = 2001
QL_WEIGHT_SHIFT = 1000
# accept iff logit * SCALE >= THRESH_MILLI * n_tokens (cross-multiply
# — no division, exact on negative logits where div/// would differ)
QL_SCALE = 1000
QL_THRESH_MILLI = 50

_QL_W_DUCK = (
    f"CAST(CAST(('0x' || substr(md5('{QL_SALT}|' || tok), 1, 4))"
    f" AS UBIGINT) AS BIGINT) % {QL_WEIGHT_MOD} - {QL_WEIGHT_SHIFT}"
)
_QL_W_SPARK = (
    f"CAST(conv(substring(md5(concat('{QL_SALT}|', tok)), 1, 4), 16, 10)"
    f" AS BIGINT) % {QL_WEIGHT_MOD} - {QL_WEIGHT_SHIFT}"
)


def quality_logits(docs: DataFrame) -> DataFrame:
    """Hashed-linear quality logit per doc over an arbitrary
    (doc_id, text) frame — the classifier pass shared by
    quality_linear_score, dedup_keep_best_quality, and
    pipelines.curate_corpus's quality-aware keeper stage (r10 VERDICT
    ask #7: the pipeline must compose the SAME scoring code the
    registered queries certify). Docs whose text tokenizes to nothing
    are absent from the result; consumers left-join and zero-fill."""
    return (
        docs.select(
            "doc_id", F.explode(textfn.tokenize("text")).alias("tok")
        )
        .groupBy("doc_id")
        .agg(F.sum(F.expr(_QL_W_SPARK)).cast("long").alias("logit"))
    )


@query(
    "quality_linear_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
    ),
    s AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum({_QL_W_DUCK}) AS BIGINT) AS logit
      FROM t GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(s.n_tokens, 0) AS n_tokens,
           coalesce(s.logit, 0) AS logit,
           coalesce(s.logit, 0) * {QL_SCALE}
             >= {QL_THRESH_MILLI} * coalesce(s.n_tokens, 0) AS accepted
    FROM documents d LEFT JOIN s USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def quality_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-based quality filtering: per-document logit of a
    hashed bag-of-words linear model (weights = md5-derived integers
    in [-{QL_WEIGHT_SHIFT}, {QL_WEIGHT_SHIFT}], module constants),
    accept iff the length-normalized score clears
    {QL_THRESH_MILLI} milli-units — decided by integer
    cross-multiply so negative logits never meet a div/floor
    divergence. Empty documents score (0, 0, accepted) on both
    engines via the LEFT JOIN zero-fill.

    In production the weight vector comes from a trained classifier
    (fasttext / logistic head); the md5 derivation stands in for the
    trained weights with the same execution shape — per-token weight
    is a pure expression evaluated inside the explode pass, NOT a
    weight-table join, so scoring is one map-side pass + one
    doc-keyed partial-sum groupBy regardless of vocabulary size."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(textfn.tokenize("text")).alias("tok")
    )
    scored = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.expr(_QL_W_SPARK)).cast("long").alias("logit"),
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("logit", F.lit(0)).cast("long").alias("logit"),
            (
                F.coalesce("logit", F.lit(0)) * QL_SCALE
                >= F.lit(QL_THRESH_MILLI) * F.coalesce("n_tokens", F.lit(0))
            ).alias("accepted"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------- sessionization

SESSION_GAP_MINUTES = 30
_GAP_US = SESSION_GAP_MINUTES * 60_000_000


@query(
    "session_stats",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS t_us FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, t_us,
             CASE WHEN t_us - lag(t_us) OVER w > {_GAP_US}
                  OR lag(t_us) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
    ),
    sess AS (
      SELECT user_id, t_us,
             SUM(is_new) OVER (PARTITION BY user_id
                               ORDER BY t_us, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, session_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(max(t_us) - min(t_us) AS BIGINT) AS duration_us
      FROM sess GROUP BY user_id, session_id
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(sum(duration_us) AS BIGINT) AS total_session_us,
           CAST(max(n_events) AS BIGINT) AS max_session_events
    FROM per_session
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-rule sessionization: a new session starts when the
    within-user gap exceeds {SESSION_GAP_MINUTES} minutes; per user,
    session count, event count, summed session duration (exact epoch
    micros), and the largest session. The batch twin of
    stream_session_window — identical session boundaries, computed
    by lag + running-sum windows instead of timeout state.

    Tie-safety: equal timestamps within a user give gap 0 under ANY
    tie order, so the lag-based flags are deterministic — and the
    window ORDER BY carries event_id as a secondary key in BOTH
    engines, making the sort total so the running-sum pass assigns
    tie rows to the same session cross-engine (r10 ADVICE: flags
    alone don't pin session membership when a tie group straddles a
    boundary). Scale shape: both windows and both
    groupBys partition on user_id — one shuffle layout end to end,
    the key the events table would be bucketed by; no global
    window, no skew (user activity is the natural partition grain)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("t_us")
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    flagged = ev.select(
        "user_id",
        "event_id",
        "t_us",
        F.when(
            (F.col("t_us") - F.lag("t_us").over(w) > _GAP_US)
            | F.lag("t_us").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sess = flagged.select(
        "user_id",
        "t_us",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.max("t_us") - F.min("t_us")).cast("long").alias("duration_us"),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("duration_us").cast("long").alias("total_session_us"),
            F.max("n_events").cast("long").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


# ------------------------------------------------ CDC tombstones


@query(
    "cdc_apply_tombstones",
    oracle="""
    WITH feed AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_delete
      FROM events
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC
             ) AS seq,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
               AS n_ops,
             CAST(sum(is_delete) OVER (PARTITION BY user_id) AS BIGINT)
               AS n_deletes
      FROM feed
    )
    SELECT user_id, value AS last_value, ts_us AS last_ts_us,
           n_ops, n_deletes
    FROM ranked
    WHERE seq = 1 AND is_delete = 0
    ORDER BY user_id
    """,
)
def cdc_apply_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-feed application WITH DELETES — the load-strategy
    flavor the keep-latest family (K6/W1, reference
    airflow/dags/UpdateSymbol_v3.py:77-83 semantics) does not cover:
    a key whose most recent change is a tombstone must be ABSENT from
    the applied snapshot, not carry its stale last value. The events
    table plays the ordered feed (key = user_id, change order =
    (ts, event_id), 'error' rows = tombstones); output is the applied
    snapshot plus per-key op/delete counts for reconciliation.

    Scale shape: one window pass partitioned on the CDC key (the
    shuffle a real MERGE pays anyway) computing rank and audit counts
    together — no second aggregate pass, no join; the tombstone
    filter is a map-side predicate on the rank-1 row. Late-arriving
    changes reorder within a key only, so incremental application
    per partition-of-keys composes the same way upsert_keyed does."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        F.unix_micros("ts").alias("ts_us"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias(
            "is_delete"
        ),
    )
    key_w = Window.partitionBy("user_id")
    order_w = key_w.orderBy(F.desc("ts_us"), F.desc("event_id"))
    ranked = ev.select(
        "user_id",
        "value",
        "ts_us",
        "is_delete",
        F.row_number().over(order_w).alias("seq"),
        F.count(F.lit(1)).over(key_w).cast("long").alias("n_ops"),
        F.sum("is_delete").over(key_w).cast("long").alias("n_deletes"),
    )
    return (
        ranked.filter((F.col("seq") == 1) & (F.col("is_delete") == 0))
        .select(
            "user_id",
            F.col("value").alias("last_value"),
            F.col("ts_us").alias("last_ts_us"),
            "n_ops",
            "n_deletes",
        )
        .orderBy("user_id")
    )


# -------------------------------------------- dup-cluster profile

# Resolved component labels over the published verified pair set:
# component resolution localCheckpoints eagerly, so its two
# consumers (neardup_cluster_profile, dedup_keep_best_quality) must
# share one resolution.
@memoized
def _pair_store_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import connected_components
    from .dedup_ops import verified_pair_store

    pairs = verified_pair_store(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs, "doc_a", "doc_b")
    return labels


# shared oracle fragment: recursive-CTE component resolution over the
# composed dedup_minhash pair SQL, ending in comp(doc_id, cluster_id)
_COMPONENTS_DUCK = f"""
    pairs AS ({ORACLE["dedup_minhash"]}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    verts AS (SELECT DISTINCT a AS v FROM edges),
    reach(src, dst) AS (
      SELECT v, v FROM verts
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (
      SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
    )
"""


@query(
    "neardup_cluster_profile",
    oracle=f"""
    WITH RECURSIVE {_COMPONENTS_DUCK},
    sizes AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY cluster_id
    )
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """,
)
def neardup_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size distribution of the LSH near-dup graph: connected
    components over the PUBLISHED verified pair set (the artifact
    every dedup composer reads — dedup_ops.verified_pair_store), then
    a histogram of component sizes. The curation-run health report:
    a fat tail here means boilerplate families, not isolated dups,
    and predicts how much dedup_keep_canonical will remove.

    Differs from dedup_clusters by operating on the REAL production
    pair source — the banded MinHash pipeline output at corpus scale
    — rather than that query's capped brute-force ground-truth
    subset; the oracle recomputes the full MinHash pair set (the
    composed dedup_minhash SQL, already hash-certified) and resolves
    components with a recursive CTE.

    Scale shape: component resolution runs on the EDGE list
    (corpus-independent — near-dup pairs, not docs;
    operators.connected_components resolves it driver-side, else by
    large-star/small-star rounds),
    and everything after lives on one-row-per-cluster then
    one-row-per-size frames. Singleton docs never enter the graph —
    cluster_size ≥ 2 by construction — keeping the vertex set
    pair-bounded too."""
    labels = _pair_store_labels(spark, sf_dir)
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


# --------------------------------------- quality-aware canonical


@query(
    "dedup_keep_best_quality",
    oracle=f"""
    WITH RECURSIVE {{components}},
    aug AS ({{aug}}),
    t AS (
      SELECT doc_id, unnest({{toks}}) AS tok FROM aug
    ),
    scores AS (
      SELECT doc_id, CAST(sum({{w}}) AS BIGINT) AS logit
      FROM t GROUP BY doc_id
    ),
    m AS (
      SELECT c.doc_id, c.cluster_id, coalesce(s.logit, 0) AS logit
      FROM comp c LEFT JOIN scores s USING (doc_id)
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY cluster_id ORDER BY logit DESC, doc_id
             ) AS rn,
             CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS n_members
      FROM m
    )
    SELECT cluster_id, doc_id AS keeper_doc_id,
           logit AS keeper_logit, n_members
    FROM ranked WHERE rn = 1
    ORDER BY cluster_id
    """.format(
        components=_COMPONENTS_DUCK,
        aug=_AUG_SQL,
        toks=_DUCK_TOKS,
        w=_QL_W_DUCK,
    ),
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection — what production dedup
    actually keeps: per near-dup cluster, the member with the BEST
    quality score (hashed-linear logit, quality_linear_score's
    weights), not the arbitrary min-id copy dedup_keep_canonical
    uses. The standard refinement once a quality model exists: among
    N copies of a passage, keep the one embedded in the
    highest-quality document. Ties break to the smaller doc_id, so
    a cluster of identical copies still keeps exactly one,
    deterministically.

    Scores are computed over the AUGMENTED corpus (the corpus the
    pair graph lives on — synthetic near-dup suffixes included), so
    every cluster member has its true logit; members whose text
    tokenizes to nothing score 0 via the left-join zero-fill on both
    engines.

    Scale shape: the component labels are memoized and shared with
    neardup_cluster_profile (one resolution per session); scoring is the classifier's one map-side pass; keeper
    selection is one window over the PAIR-BOUNDED member table
    (vertices of the dup graph, never the corpus)."""
    from . import dedup_ops

    labels = _pair_store_labels(spark, sf_dir).select(
        F.col("vertex").alias("doc_id"),
        F.col("component").alias("cluster_id"),
    )
    aug = dedup_ops._augmented_docs(spark, sf_dir)
    scores = quality_logits(aug)
    m = labels.join(scores, "doc_id", "left").select(
        "doc_id",
        "cluster_id",
        F.coalesce("logit", F.lit(0)).cast("long").alias("logit"),
    )
    cw = Window.partitionBy("cluster_id")
    ranked = m.select(
        "doc_id",
        "cluster_id",
        "logit",
        F.row_number()
        .over(cw.orderBy(F.desc("logit"), "doc_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(cw).cast("long").alias("n_members"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keeper_doc_id"),
            F.col("logit").alias("keeper_logit"),
            "n_members",
        )
        .orderBy("cluster_id")
    )


# ------------------------------------------------ IVF probe sweep

# nprobe grid for the tuning curve; the top value equals the cell
# count, where probing everything must reproduce exact search.
PROBE_GRID = (1, 2, 4, 8, 16)


def _ivf_sweep_oracle() -> str:
    from ._oracle_shared import _DUCK_NONZERO
    from .similarity_ops import N_QUERIES

    values = ", ".join(f"({p})" for p in PROBE_GRID)
    return f"""
    WITH g(nprobe) AS (VALUES {values}),
    q AS (
      SELECT CAST(count(*) AS BIGINT) AS n_queries FROM embeddings
      WHERE vec_id < {N_QUERIES} AND {_DUCK_NONZERO}
    )
    SELECT CAST(nprobe AS BIGINT) AS nprobe, n_queries,
           TRUE AS overlap_nondecreasing,
           TRUE AS full_probe_exact
    FROM g CROSS JOIN q ORDER BY nprobe
    """


@query("ivf_probe_sweep", oracle=_ivf_sweep_oracle())
def ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF nprobe tuning curve as a CONTRACT (the
    dup_rate_threshold_sweep pattern applied to ANN): for each nprobe
    in {PROBE_GRID}, recall overlap against the exact top-k, with two
    theorem-level verdicts the oracle pins. (1) overlap is
    NONDECREASING in nprobe: probe lists are rank-nested per query,
    and an exact-top-k member present in any candidate set always
    survives into the candidate top-k (at most k-1 items outrank it
    globally under the total (cos, vec_id) order), so supersets never
    lose hits. (2) probing ALL cells reproduces exact search — the
    sweep's endpoint must equal embedding_topk on the nonzero corpus.
    A broken quantizer, dead probe-join, or rank-order bug flips a
    verdict and the hash. The recall magnitudes themselves stay
    Spark-side (seeded k-means isn't ANSI-recomputable — the
    ivf_recall_at5 precedent); the sweep audits the SAME index
    ivf_topk serves from (similarity_ops.ivf_index).

    Scale shape: one probe-ALL pass over the bounded query set (the
    audit's cost is the full-probe endpoint — N_QUERIES × corpus,
    exactly embedding_topk's bounded-broadcast contract scan); the
    5-row grid fans candidates out by a probe_rank ≤ nprobe BNLJ
    (bounded side = the literal grid); per-(nprobe, query) top-k is
    a window on the candidate table; verdict folds live on 5 rows."""
    import numpy as np

    from ..operators import bounded_global_window
    from .similarity_ops import (
        N_QUERIES,
        TOPK,
        embedding_topk,
        fold_cos_pairs,
        ivf_index,
        load_vectors,
    )

    corpus, bc, n_cells = ivf_index(spark, sf_dir)
    emb = load_vectors(spark, sf_dir)

    def probe_all(batches):
        import pandas as pd

        cents = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(list(pdf["emb"]), dtype=np.float64)
            x /= np.linalg.norm(x, axis=1, keepdims=True)
            order = np.argsort(-(x @ cents.T), axis=1)
            out = []
            for j in range(cents.shape[0]):
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": pdf["vec_id"],
                            "q_emb": pdf["emb"],
                            "cell": order[:, j],
                            "probe_rank": j + 1,
                        }
                    )
                )
            yield pd.concat(out)

    probes = emb.filter(F.col("vec_id") < N_QUERIES).mapInPandas(
        probe_all,
        schema="query_id long, q_emb array<double>, cell int,"
        " probe_rank int",
    )
    cands = corpus.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    # fold_cos_pairs (r17): score each candidate pair ONCE, exactly
    # (bit-identical Arrow fold), BEFORE the nprobe grid fans the
    # candidate table out ~|grid|× — the old form evaluated the
    # interpreted fold per fanned row inside the window sort
    scored = fold_cos_pairs(
        cands, "q_emb", "emb", keep=("query_id", "vec_id", "probe_rank")
    )
    grid = spark.createDataFrame(
        [(p,) for p in PROBE_GRID], "nprobe long"
    )
    fanned = scored.join(
        F.broadcast(grid), F.col("probe_rank") <= F.col("nprobe")
    )
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("cos"), "vec_id"
    )
    top = (
        fanned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("nprobe", "query_id", F.col("vec_id").alias("neighbor_id"))
    )
    exact = embedding_topk(spark, sf_dir).select(
        F.col("query_id").alias("e_query_id"),
        F.col("neighbor_id").alias("e_neighbor_id"),
    )
    overlap = (
        top.join(
            exact,
            (F.col("query_id") == F.col("e_query_id"))
            & (F.col("neighbor_id") == F.col("e_neighbor_id")),
        )
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    nq = emb.filter(F.col("vec_id") < N_QUERIES).agg(
        F.count(F.lit(1)).cast("long").alias("n_queries")
    )
    n_exact = exact.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact_rows")
    )
    gw = bounded_global_window("nprobe")
    summary = (
        grid.join(overlap, "nprobe", "left")
        .withColumn("n_overlap", F.coalesce("n_overlap", F.lit(0)))
        .crossJoin(F.broadcast(nq))
        .crossJoin(F.broadcast(n_exact))
        .select(
            "nprobe",
            "n_queries",
            (
                F.lag("n_overlap").over(gw).isNull()
                | (F.col("n_overlap") >= F.lag("n_overlap").over(gw))
            ).alias("overlap_nondecreasing"),
            (
                (F.col("nprobe") < F.lit(n_cells))
                | (F.col("n_overlap") == F.col("n_exact_rows"))
            ).alias("full_probe_exact"),
        )
        .orderBy("nprobe")
    )
    return summary


# --------------------------------------------- lang-ID confidence

# A prediction is "confident" when the best profile leads the runner-
# up by at least this many stopword hits (absolute-margin rule — the
# standard abstention criterion for a shallow classifier).
LANG_MARGIN_MIN = 2


def _lang_margin_oracle() -> str:
    from ..functions.textfn import LANG_PROFILES

    hits = {
        lang: (
            "len(list_filter(lt, t -> t IN ("
            + ", ".join(f"'{w}'" for w in words)
            + ")))"
        )
        for lang, words in LANG_PROFILES.items()
    }
    structs = ", ".join(
        f"struct_pack(score := CAST({h} AS BIGINT), lang := '{lang}')"
        for lang, h in hits.items()
    )
    return f"""
    WITH lt AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         t -> t != '') AS lt
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, list_sort([{structs}]) AS s FROM lt
    )
    SELECT doc_id,
           CASE WHEN s[-1].score > 0 THEN s[-1].lang ELSE 'und' END
             AS pred_lang,
           s[-1].score AS top_hits,
           CAST(s[-1].score - s[-2].score AS BIGINT) AS margin,
           s[-1].score > 0
             AND s[-1].score - s[-2].score >= {LANG_MARGIN_MIN}
             AS confident
    FROM ranked
    ORDER BY doc_id
    """


@query("lang_confidence_margin", oracle=_lang_margin_oracle())
def lang_confidence_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID with an ABSTENTION signal — the margin between the
    best and runner-up stopword profiles, the confidence rule a
    production lang filter routes on (confident → keep/route,
    marginal → send to the expensive model or drop). Pure integer hit
    counts, so the whole decision has hash parity; ties inside the
    profile ranking break on the struct's (score, lang) lexicographic
    order, identical in Spark's array_max/array_sort and DuckDB's
    struct list_sort (the standing argmax-tie idiom).

    Extends lang_id_heuristic/doc_lang_mix (argmax only) with the
    runner-up distance. Scale shape: one map-side pass — tokenize
    ONCE, then one bounded array filter per profile. Measured at
    sf0.1: this form 0.68s vs 1.40s for the lookaround regexp_count
    alternative (lang_id's idiom) — lang_id pays the regex because
    inlining tokenization would re-split per profile, but with a
    single shared token array the interpreted filters beat five
    full-text regex passes. Then sort a 5-element struct array; no
    joins, no shuffle except the output sort."""
    from ..functions.textfn import LANG_PROFILES

    docs = load_table(spark, sf_dir, "documents")
    toks = textfn.tokenize(F.lower(F.col("text")))

    def _hits(words: tuple[str, ...]) -> F.Column:
        arr = F.array(*[F.lit(x) for x in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    structs = F.array(
        *[
            F.struct(
                _hits(words).cast("long").alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in LANG_PROFILES.items()
        ]
    )
    ranked = docs.select(
        "doc_id", F.reverse(F.array_sort(structs)).alias("s")
    )
    top = F.col("s")[0]
    second = F.col("s")[1]
    return ranked.select(
        "doc_id",
        F.when(top["score"] > 0, top["lang"])
        .otherwise(F.lit("und"))
        .alias("pred_lang"),
        top["score"].alias("top_hits"),
        (top["score"] - second["score"]).cast("long").alias("margin"),
        (
            (top["score"] > 0)
            & (top["score"] - second["score"] >= LANG_MARGIN_MIN)
        ).alias("confident"),
    ).orderBy("doc_id")
