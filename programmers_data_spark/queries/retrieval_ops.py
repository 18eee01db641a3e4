"""Retrieval & corpus-hygiene tier: inverted index, BM25 ranking,
Bloom-filter decontamination, and SemDeDup-style semantic dedup.

Rounds out the LLM-pipeline surface with the retrieval-side
operators a training-data stack needs next to dedup and curation:

- inverted_postings:    term -> (df, cf, capped posting list) — the
                        index build behind retrieval and decontam.
- bm25_topk:            BM25 ranked retrieval for a data-derived
                        query, linear (log-free) idf for bitwise
                        cross-engine parity.
- bloom_decontam:       benchmark-overlap decontamination via a
                        portable md5 Bloom filter (distributed as a
                        broadcast bit-position join — the same shape
                        Spark's runtime row-group bloom pruning uses,
                        but reproducible in ANSI SQL).
- bloom_decontam_misses: the Bloom no-false-negatives contract —
                        benchmark members the filter failed to flag
                        (provably empty; both engines compute it).
- dedup_semantic:       SemDeDup-style embedding dedup — k-means
                        cells scope the candidate pairs, exact cosine
                        confirms (rows-only: cell assignment is not
                        ANSI SQL).
- semantic_dedup_recall: hash-checkable accuracy contract for the
                        semantic path vs the exact all-pairs twin.
- embedding_sq8:        uint8 scalar quantization of the embedding
                        column with the reconstruction-error contract
                        inline (4x storage compression for vector
                        columns at scale).

Reference anchor: the reference's dedup/reporting tier stops at exact
SQL (SURVEY §2 A4/K6); this module is the §2.5 scale extension in the
same spirit as dedup_ops/similarity_ops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions import textfn
from ..memo import memoized
from ..operators import bounded_global_window, top_k
from ..functions.vectors import as_double_array
from ..registry import query
from ._oracle_shared import _DUCK_NONZERO, _DUCK_TOKS
from .similarity_ops import (
    NEARDUP_THRESHOLD,
    embedding_neardup,
    load_vectors,
)

# Posting lists are CAPPED: a stopword-grade term at 100 TB has
# billions of postings, so per-term state must be bounded. The capped
# head (by doc_id) is what the decontam/retrieval joins consume here;
# a full index would land as a bucketed table keyed by term instead
# of a collected list.
POSTINGS_CAP = 8

# BM25: standard k1/b; the query is the QTERMS most document-frequent
# terms (data-derived, so fixture regeneration cannot orphan it).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QTERMS = 5
BM25_TOPK = 20

# Bloom geometry: k=4 md5-derived hash functions into 2^18 bits.
# Benchmark set here is ~50 docs -> 200 set bits in 262144: false
# positive rate ~ (200/262144)^4 ~ 3e-13. At 100 TB the benchmark
# (eval suites) stays small while the corpus grows, which is exactly
# the regime a Bloom side wins in.
BLOOM_BITS = 1 << 18
BLOOM_K = 4

# Semantic-dedup cells: like IVF, cells ~ sqrt(N) at scale; 16 at
# verification SF. Candidates come from the top-SEMDEDUP_PROBES cells
# of each vector (multi-probe), which rescues boundary pairs whose
# endpoints quantize to adjacent cells: single-probe recall vs the
# exact all-pairs twin measured 0.50 at sf0.01 / 0.30 at sf0.1 on the
# near-orthogonal synthetic vectors; top-2 probing lifts it to 0.84 /
# 0.63. The floor (0.3) sits well under both and far above the ~0 a
# broken assignment lands at.
SEMDEDUP_CELLS = 16
SEMDEDUP_PROBES = 2
SEMDEDUP_RECALL_FLOOR = 0.3


@query(
    "inverted_postings",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
    ),
    tf AS (
      SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id
    ),
    stats AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df,
             CAST(sum(tf) AS BIGINT) AS cf
      FROM tf GROUP BY term
    ),
    posts AS (
      SELECT term,
             array_to_string(list_sort(list(doc_id))[1:{POSTINGS_CAP}], ',')
               AS postings
      FROM (
        SELECT term, doc_id,
               row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
        FROM tf
      )
      WHERE rn <= {POSTINGS_CAP}
      GROUP BY term
    )
    SELECT term, df, cf, postings
    FROM stats JOIN posts USING (term)
    ORDER BY term
    """,
)
def inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per term, document frequency, collection
    frequency, and the first POSTINGS_CAP postings by doc_id.

    Shape: explode -> (term, doc_id) tf agg -> two term-keyed aggs
    (stats + capped postings) joined on term. The posting list is
    capped BEFORE collection via a per-term row_number, so per-term
    state is bounded even for stopword terms — an uncapped
    collect_list here would be the classic hot-key OOM at 100 TB. The
    window and both aggregates hash-partition on the same key, so the
    exchange is planned once and reused.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(textfn.tokenize("text")).alias("term"))
    tf = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    posts = (
        tf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= POSTINGS_CAP)
        .groupBy("term")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias(
                "postings"
            )
        )
    )
    return (
        stats.join(posts, "term")
        .select("term", "df", "cf", "postings")
        .orderBy("term")
    )


@query(
    "bm25_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
    ),
    tf AS (
      SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id
    ),
    df AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    qterms AS (
      SELECT term, df FROM df ORDER BY df DESC, term LIMIT {BM25_QTERMS}
    ),
    dl AS (
      SELECT doc_id, CAST(len({_DUCK_TOKS}) AS BIGINT) AS dl FROM documents
    ),
    n AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ),
    contrib AS (
      SELECT tf.doc_id, tf.term,
             ((CAST(n.n_docs - q.df AS DOUBLE) + 0.5)
              / (CAST(q.df AS DOUBLE) + 0.5))
             * ((CAST(tf.tf AS DOUBLE) * {BM25_K1 + 1.0})
                / (CAST(tf.tf AS DOUBLE)
                   + {BM25_K1} * ({1.0 - BM25_B}
                                  + ({BM25_B}
                                     * (CAST(dl.dl AS DOUBLE) / n.avgdl)))))
               AS c
      FROM tf
      JOIN qterms q USING (term)
      JOIN dl USING (doc_id), n
    ),
    scored AS (
      SELECT doc_id,
             list_reduce(list(c ORDER BY term), (acc, x) -> acc + x) AS score,
             CAST(count(*) AS INT) AS n_terms
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, rank, n_terms
    FROM (
      SELECT doc_id, n_terms,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM scored
    )
    WHERE rank <= {BM25_TOPK}
    ORDER BY rank
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the corpus for a data-derived query
    (the BM25_QTERMS most document-frequent terms). Linear idf
    (N-df+0.5)/(df+0.5) instead of the textbook log keeps every score
    one chain of IEEE ops on exact integers, bitwise identical across
    engines (same trick as top_terms_per_doc); per-doc contributions
    fold in term order on BOTH sides (F.aggregate over a term-sorted
    array here, list_reduce over list(... ORDER BY term) in the
    oracle), so summation order — the one remaining float hazard —
    is pinned. Output is ids + rank + matched-term count; scores stay
    internal, as in embedding_topk.

    Scale shape: the tf postings and per-doc lengths read the
    PUBLISHED postings/token stores (r18; the pair-store pattern —
    previously the tf table's two plan references each re-ran the
    tokenize+explode+aggregate corpus pass, and dl two more raw-text
    passes: 3 documents scans in the r17 plan). The query-term table
    is LIMIT-5 -> broadcast; tf and dl join on doc_id (the
    corpus-sized key); the only global step is the final top-k sort,
    which TakeOrderedAndProject keeps as per-partition heaps. avgdl/N
    are one 1-row aggregate collected to literals (exact integer
    sums, so the division is reproducible).
    """
    from ..derived_store import postings_store, token_store

    tf = postings_store(spark, sf_dir)
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qterms = df.orderBy(F.desc("df"), "term").limit(BM25_QTERMS)
    dl = token_store(spark, sf_dir).select(
        "doc_id", F.size("toks").cast("long").alias("dl")
    )
    totals = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl")
    ).collect()[0]
    n_docs, avgdl = totals["n"], totals["sum_dl"] / totals["n"]
    idf = ((F.lit(n_docs) - F.col("df")).cast("double") + F.lit(0.5)) / (
        F.col("df").cast("double") + F.lit(0.5)
    )
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    tfnorm = (tfd * F.lit(BM25_K1 + 1.0)) / (
        tfd
        + F.lit(BM25_K1)
        * (F.lit(1.0 - BM25_B) + (F.lit(BM25_B) * (dld / F.lit(avgdl))))
    )
    contrib = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .select("doc_id", "term", (idf * tfnorm).alias("c"))
    )
    scored = contrib.groupBy("doc_id").agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("term", "c"))),
            F.lit(0.0),
            lambda acc, x: acc + x["c"],
        ).alias("score"),
        F.count(F.lit(1)).cast("int").alias("n_terms"),
    )
    # Global top-k WITHOUT a single-partition window: orderBy+limit
    # plans TakeOrderedAndProject (per-partition heaps + one merge),
    # then ranks are assigned on the already-bounded BM25_TOPK rows.
    winners = top_k(scored, [F.desc("score"), F.asc("doc_id")], BM25_TOPK)
    w = bounded_global_window(F.desc("score"), F.asc("doc_id"))
    return (
        winners.withColumn("rank", F.row_number().over(w))
        .select("doc_id", "rank", "n_terms")
        .orderBy("rank")
    )


def _bloom_positions(text: Column) -> Column:
    """Array of BLOOM_K bit positions for a text: seed-prefixed md5,
    first 8 hex chars -> int, mod table size. md5-derived like the
    MinHash/SimHash families, so DuckDB reproduces every bit."""
    return F.array(
        *[
            F.conv(
                F.substring(F.md5(F.concat(F.lit(str(s)), text)), 1, 8), 16, 10
            ).cast("long")
            % BLOOM_BITS
            for s in range(BLOOM_K)
        ]
    )


_DUCK_BLOOM_POS = (
    f"CAST(('0x' || substr(md5(CAST(s AS VARCHAR) || text), 1, 8)) AS UBIGINT)"
    f" % {BLOOM_BITS}"
)


@query(
    "bloom_decontam",
    oracle=f"""
    WITH bits AS (
      SELECT DISTINCT CAST({_DUCK_BLOOM_POS} AS BIGINT) AS pos
      FROM documents, generate_series(0, {BLOOM_K - 1}) AS g(s)
      WHERE doc_id % 10 = 0
    ),
    cand AS (
      SELECT doc_id, source, CAST({_DUCK_BLOOM_POS} AS BIGINT) AS pos
      FROM documents, generate_series(0, {BLOOM_K - 1}) AS g(s)
    ),
    hits AS (
      SELECT doc_id, count(*) AS h
      FROM cand JOIN bits USING (pos)
      GROUP BY doc_id
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN COALESCE(h.h, 0) = {BLOOM_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           CAST(sum(CASE WHEN COALESCE(h.h, 0) = {BLOOM_K} THEN 0 ELSE 1 END)
                AS BIGINT) AS n_kept
    FROM documents d LEFT JOIN hits h USING (doc_id)
    GROUP BY d.source
    ORDER BY d.source
    """,
)
def bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination via a portable Bloom filter: docs
    whose text may appear in the held-out benchmark set (doc_id % 10
    = 0 stands in for an eval suite) are flagged; output is the
    per-source keep/flag ledger.

    The filter is distributed as data, not driver state: the set-bit
    positions of the benchmark texts form a tiny DISTINCT table
    (<= k x |benchmark| rows) that broadcasts; each corpus doc
    explodes to its k candidate positions and a doc is flagged iff
    all k hit (count of broadcast-join matches = k). No false
    negatives by construction — see bloom_decontam_misses. At 100 TB
    the corpus side stays a linear scan + broadcast join + doc-keyed
    agg; only the benchmark (small by definition) is collected into
    the filter. md5-derived positions make the whole filter
    ANSI-SQL-reproducible, unlike java xxhash bloom state.
    """
    docs = load_table(spark, sf_dir, "documents")
    bits = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(F.explode(_bloom_positions(F.col("text"))).alias("pos"))
        .distinct()
    )
    cand = docs.select(
        "doc_id", "source", F.explode(_bloom_positions(F.col("text"))).alias("pos")
    )
    hits = cand.join(F.broadcast(bits), "pos").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("h")
    )
    flagged = F.coalesce(F.col("h"), F.lit(0)) == BLOOM_K
    return (
        docs.join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(flagged, 1).otherwise(0)).alias("n_flagged"),
            F.sum(F.when(flagged, 0).otherwise(1)).alias("n_kept"),
        )
        .orderBy("source")
    )


@query(
    "bloom_decontam_misses",
    oracle=f"""
    WITH bits AS (
      SELECT DISTINCT CAST({_DUCK_BLOOM_POS} AS BIGINT) AS pos
      FROM documents, generate_series(0, {BLOOM_K - 1}) AS g(s)
      WHERE doc_id % 10 = 0
    ),
    cand AS (
      SELECT doc_id, CAST({_DUCK_BLOOM_POS} AS BIGINT) AS pos
      FROM documents, generate_series(0, {BLOOM_K - 1}) AS g(s)
      WHERE doc_id % 10 = 0
    ),
    hits AS (
      SELECT doc_id, count(*) AS h
      FROM cand JOIN bits USING (pos)
      GROUP BY doc_id
    )
    SELECT doc_id FROM hits WHERE h < {BLOOM_K} ORDER BY doc_id
    """,
)
def bloom_decontam_misses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom no-false-negatives contract: benchmark members the
    filter fails to flag. Empty by construction — every benchmark
    text's bits are set by that same text — and BOTH engines compute
    it from scratch (no empty-set literal), so a broken hash family,
    position arithmetic, or join on either side surfaces as a
    non-empty diff / hash mismatch in the driver row.
    """
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    bits = (
        bench.select(F.explode(_bloom_positions(F.col("text"))).alias("pos"))
        .distinct()
    )
    hits = (
        bench.select(
            "doc_id", F.explode(_bloom_positions(F.col("text"))).alias("pos")
        )
        .join(F.broadcast(bits), "pos")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    return hits.filter(F.col("h") < BLOOM_K).select("doc_id").orderBy("doc_id")


def _train_cells(spark: SparkSession, emb: DataFrame):
    """Deterministic k-means coarse quantizer (the ivf_topk recipe:
    strided sample seed, 5 Lloyd iterations on a bounded driver-side
    sample — the quantizer is broadcast metadata, like a dim table)."""
    import numpy as np

    sample = np.array(
        [r.emb for r in emb.filter(F.col("vec_id") % 7 < 3).limit(512).collect()],
        dtype=np.float64,
    )
    sample /= np.linalg.norm(sample, axis=1, keepdims=True)
    k = min(SEMDEDUP_CELLS, len(sample))
    stride = max(len(sample) // k, 1)
    centroids = sample[::stride][:k].copy()
    for _ in range(5):
        assign = np.argmax(sample @ centroids.T, axis=1)
        for c in range(k):
            members = sample[assign == c]
            if len(members):
                m = members.mean(axis=0)
                centroids[c] = m / np.linalg.norm(m)
    return spark.sparkContext.broadcast(centroids)


# Memoized verdict table: semantic_dedup_recall composes
# dedup_semantic, and the correctness run and bench call both —
# without the memo the kmeans training, assignment pass, and per-cell
# GEMMs run once per caller.
@query("dedup_semantic")  # rows-only: k-means cell assignment isn't ANSI SQL
@memoized
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: a k-means coarse quantizer
    scopes candidate pairs to cells, exact cosine within the cell
    confirms, and the lowest vec_id of each near-dup group is kept.
    Output: every vector with its keep/drop verdict (drop = an exact
    above-threshold neighbor with a lower id shares a probed cell).

    Scale shape: cell assignment is one Arrow pass (map-only GEMM
    against broadcast centroids, emitting each vector's top-2 cells —
    multi-probe rescues boundary pairs split across adjacent cells);
    the confirm stage is a per-cell applyInPandas GEMM block (the
    embedding_neardup_lsh recipe) — one vectorized matmul per cell
    instead of an expression evaluated per candidate pair, which
    measured ~6x faster at sf0.1 than the earlier cell-equi-join +
    per-pair cosine fold. At 100 TB: cells ~ sqrt(N) keep per-cell
    pair volume subquadratic and each cell's block fits one task.
    Accuracy is driver-visible via semantic_dedup_recall.
    """
    emb = load_vectors(spark, sf_dir)
    bc = _train_cells(spark, emb)

    def assign_cells(batches):
        import numpy as np
        import pandas as pd

        cents = bc.value
        n_probe = min(SEMDEDUP_PROBES, len(cents))
        for pdf in batches:
            if len(pdf) == 0:  # mapInPandas can deliver empty batches
                continue
            x = np.array(list(pdf["emb"]), dtype=np.float64)
            x /= np.linalg.norm(x, axis=1, keepdims=True)
            order = np.argsort(-(x @ cents.T), axis=1)[:, :n_probe]
            out = [
                pd.DataFrame(
                    {"vec_id": pdf["vec_id"], "emb": pdf["emb"],
                     "cell": order[:, j]}
                )
                for j in range(n_probe)
            ]
            yield pd.concat(out)

    probed = emb.mapInPandas(
        assign_cells, schema="vec_id long, emb array<double>, cell int"
    )

    def cell_drops(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({"vec_id": pd.Series([], dtype="int64")})
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        x = np.array(list(pdf["emb"]), dtype=np.float64)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        sims = x @ x.T
        ai, bi = np.nonzero(sims >= NEARDUP_THRESHOLD)
        hi = ids[bi][ids[ai] < ids[bi]]  # drop the higher id of each pair
        return pd.DataFrame({"vec_id": np.unique(hi)})

    dropped = (
        probed.groupBy("cell")
        .applyInPandas(cell_drops, schema="vec_id long")
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        emb.select("vec_id")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id", F.coalesce(F.col("is_dup"), F.lit(False)).alias("dropped")
        )
        .orderBy("vec_id")
        .persist()
    )


_DUCK_COS_AB = (
    "list_dot_product(a.emb, b.emb)"
    " / (sqrt(list_dot_product(a.emb, a.emb))"
    " * sqrt(list_dot_product(b.emb, b.emb)))"
)


@query(
    "semantic_dedup_recall",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      WHERE {_DUCK_NONZERO}
    ),
    exact_dropped AS (
      SELECT DISTINCT b.vec_id
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE {_DUCK_COS_AB} >= {NEARDUP_THRESHOLD}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_exact_dropped,
           TRUE AS recall_ok
    FROM exact_dropped
    """,
)
def semantic_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup accuracy contract (the accuracy_ops pattern):
    the exact all-pairs twin (embedding_neardup) defines the true
    drop set; the row carries its size — which the oracle reproduces
    exactly, anchoring the exact side — plus a boolean asserting the
    cell-scoped path recovered at least SEMDEDUP_RECALL_FLOOR of it.
    A broken quantizer, dead cell join, or drifted threshold flips
    the boolean -> value-hash mismatch -> red driver row.

    (Soundness — nothing dropped without a true neighbor — holds by
    construction since the confirm step computes exact cosine; a
    pytest re-checks it against the JVM fold independently.)
    """
    exact_dropped = (
        embedding_neardup(spark, sf_dir).select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    sem_dropped = (
        dedup_semantic(spark, sf_dir)
        .filter(F.col("dropped"))
        .select("vec_id", F.lit(1).alias("caught"))
    )
    # one aggregate job computes both sides (a second count-after-join
    # action would re-schedule the whole tiny-DAG pipeline)
    row = (
        exact_dropped.join(sem_dropped, "vec_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("caught").alias("n_caught"),
        )
        .first()
    )
    n_exact, n_caught = row.n_exact, row.n_caught
    recall_ok = n_exact == 0 or (n_caught / n_exact) >= SEMDEDUP_RECALL_FLOOR
    return spark.createDataFrame(
        [(n_exact, bool(recall_ok))], "n_exact_dropped long, recall_ok boolean"
    )


# Scalar-quantization rounding bound: round-to-nearest puts the
# reconstruction within half a step (range/510) per dimension; the
# epsilon absorbs the few-ulp slack of the dequantization arithmetic
# itself (ranges here are O(1), so an absolute epsilon is safe).
SQ8_EPS = 1e-12


@query(
    "embedding_sq8",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    ex AS (
      SELECT e.vec_id, u.x, u.pos
      FROM e, LATERAL (
        SELECT unnest(emb) AS x, unnest(range(1, len(emb) + 1)) AS pos
      ) u
    ),
    d AS (
      SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos
    ),
    c AS (
      SELECT ex.vec_id, ex.pos, ex.x, d.mn, d.mx,
             CASE WHEN d.mx = d.mn THEN 0
                  ELSE CAST(floor(((ex.x - d.mn) / (d.mx - d.mn)) * 255.0
                                  + 0.5) AS BIGINT)
             END AS code
      FROM ex JOIN d USING (pos)
    )
    SELECT vec_id,
           string_agg(code, ',' ORDER BY pos) AS codes,
           bool_and(
             abs(x - (mn + ((CAST(code AS DOUBLE) * (mx - mn)) / 255.0)))
             <= (((mx - mn) / 510.0) + 1e-12)
           ) AS within_bound
    FROM c
    GROUP BY vec_id
    ORDER BY vec_id
    """,
)
def embedding_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar quantization of the embedding column to uint8 codes
    (4x storage compression — the standard first step before storing
    or ANN-indexing 100 TB of vectors), with the reconstruction-error
    contract inline: every dimension's dequantized value within half
    a quantization step of the original, or the row's boolean flips
    and the driver hash goes red.

    Per-dimension min/max is a tiny aggregate (dims x 1 rows,
    collected to broadcast literals — the quantizer is metadata, like
    the IVF centroids); encoding is then a pure map over the corpus
    via transform() with an index lambda — no explode of the corpus,
    no shuffle, whole-stage codegen end to end. floor(x + 0.5)
    rounding instead of round() dodges the half-even vs half-away
    divergence between engines; the code string is exact integers so
    the hash carries no float at all, and the float contract is
    collapsed to the boolean.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("emb")
    )
    dims = (
        emb.select(F.posexplode("emb").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("pos")
        .collect()
    )
    mn = F.array(*[F.lit(r.mn) for r in dims])
    mx = F.array(*[F.lit(r.mx) for r in dims])

    def _code(x, i):
        lo, hi = F.element_at(mn, i + 1), F.element_at(mx, i + 1)
        return F.when(hi == lo, F.lit(0).cast("long")).otherwise(
            F.floor(((x - lo) / (hi - lo)) * F.lit(255.0) + F.lit(0.5))
        )

    def _ok(x, i):
        lo, hi = F.element_at(mn, i + 1), F.element_at(mx, i + 1)
        deq = lo + ((_code(x, i).cast("double") * (hi - lo)) / F.lit(255.0))
        return F.abs(x - deq) <= (((hi - lo) / F.lit(510.0)) + F.lit(SQ8_EPS))

    return (
        emb.select(
            "vec_id",
            F.concat_ws(
                ",", F.transform("emb", lambda x, i: _code(x, i).cast("string"))
            ).alias("codes"),
            F.forall(
                F.transform("emb", lambda x, i: _ok(x, i)), lambda b: b
            ).alias("within_bound"),
        )
        .orderBy("vec_id")
    )


# Sparse-vector similarity space: word-3-gram shingles with document
# frequency in [2, TFIDF_DF_CAP]. df=1 shingles cannot form pairs;
# df > cap shingles are the "stopword shingles" whose postings would
# dominate the pair fan-out (a term with df=d yields d(d-1)/2
# candidate pairs — the cap bounds that at 45). This df-pruned
# inverted-index join is the classic sparse candidate generator: at
# 100 TB the pair space stays SUM(df^2) over rare terms, never N^2.
TFIDF_DF_CAP = 10
TFIDF_COS_THRESH = 0.25


# memoized: the persisted weighted-postings table feeds three
# branches, and a repeat call must reuse it, not stack a new persist
@query(
    "tfidf_shingle_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM t),
    sh AS (
      SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS term
      FROM t, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS g(i)
      WHERE len(toks) >= 3
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM sh GROUP BY 1, 2
    ),
    df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY 1
      HAVING count(*) BETWEEN 2 AND {TFIDF_DF_CAP}
    ),
    w AS (
      SELECT tf.doc_id, tf.term,
             CAST(tf.tf AS DOUBLE)
               * ((n.n - CAST(df.df AS DOUBLE) + 0.5)
                  / (CAST(df.df AS DOUBLE) + 0.5)) AS w
      FROM tf JOIN df USING (term), n
    ),
    nrm AS (
      SELECT doc_id,
             sqrt(list_reduce(list(w * w ORDER BY term),
                              (a, x) -> a + x)) AS nrm
      FROM w GROUP BY doc_id
    ),
    dot AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             list_reduce(list(a.w * b.w ORDER BY a.term),
                         (a2, x) -> a2 + x) AS dot,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared,
           dot / (na.nrm * nb.nrm) AS cos
    FROM dot
    JOIN nrm na ON na.doc_id = doc_a
    JOIN nrm nb ON nb.doc_id = doc_b
    WHERE dot / (na.nrm * nb.nrm) >= {TFIDF_COS_THRESH}
    ORDER BY doc_a, doc_b
    """,
)
@memoized
def tfidf_shingle_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity over rare word-3-gram
    shingles: the lexical near-dup detector that complements the
    hash families (MinHash estimates Jaccard on uniform shingles;
    this WEIGHTS shingles by rarity, so two docs sharing a few
    distinctive phrases outrank two docs sharing boilerplate).

    Pair generation is an inverted-index self-join on df-pruned
    shingles — see TFIDF_DF_CAP above for why the fan-out is bounded
    — then one pair-keyed aggregate. Exact hash parity on the double
    `cos` column is held by pinning every float hazard: linear idf
    (n-df+0.5)/(df+0.5) on exact integers (the bm25_topk trick),
    and both the norm and dot sums folded IN TERM ORDER on both
    engines (F.aggregate over sort_array here, list_reduce over
    list(... ORDER BY term) in the oracle).

    Scale shape (re-optimized round 7, r6 verdict ask #3 — 11.2s →
    see BENCH_DETAIL.json): term frequencies are computed MAP-SIDE by
    run-length-encoding each doc's sorted shingle array (a doc's
    shingles all live in its own `toks` row, so groupBy(doc_id, term)
    needs no shuffle at all — proven row-identical to the explode +
    groupBy form); the per-doc tf table is persisted once for its two
    consumers (the df aggregate and the postings join); the corpus
    size folds in as a broadcast 1-row aggregate instead of a
    separate driver count() action. Remaining shuffles: one on term
    (df + pair join), one on (doc_a, doc_b); norms join back keyed by
    doc. Nothing is collected at all.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", textfn.tokenize("text").alias("toks")
    )
    # 1-row corpus size, broadcast into the weight expression — the
    # same exact integer count the old driver-side .count() produced,
    # so the idf float math (and the driver hash) is unchanged
    n_row = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    # per-doc sorted shingle array (map-only; the array-slice form —
    # re-measured here per the r6 verdict: 2.1x faster than the
    # posexplode+LEAD window form, which pays a shuffle+sort on doc_id)
    arrd = docs.filter(F.size("toks") >= 3).select(
        "doc_id",
        F.sort_array(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("toks", i + 1),
                    F.element_at("toks", i + 2),
                    F.element_at("toks", i + 3),
                ),
            )
        ).alias("arr"),
    )
    # run-length encode the sorted array: `starts` holds the 0-based
    # index of each distinct run; run length = next start - this start.
    # when() keeps element_at off index 0 and try_element_at handles
    # the final run under ANSI mode.
    starts = F.filter(
        F.sequence(F.lit(0), F.size("arr") - 1),
        lambda i: F.when(i == F.lit(0), F.lit(True)).otherwise(
            F.element_at(F.col("arr"), i + 1)
            != F.element_at(F.col("arr"), F.greatest(i, F.lit(1)))
        ),
    )
    tf = (
        arrd.select("doc_id", "arr", starts.alias("starts"))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.col("starts"),
                    lambda s, j: F.struct(
                        F.element_at(F.col("arr"), s + 1).alias("term"),
                        (
                            F.coalesce(
                                F.try_element_at(F.col("starts"), j + 2),
                                F.size("arr"),
                            )
                            - s
                        ).alias("tf"),
                    ),
                )
            ).alias("p"),
        )
        .select(
            "doc_id",
            F.col("p.term").alias("term"),
            F.col("p.tf").cast("long").alias("tf"),
        )
    )
    # Document frequency as a WINDOW over the tf rows (r18; the
    # winnow/copurchase trick): tf rows are distinct (doc_id, term)
    # by the RLE construction, so count(*) per term partition IS the
    # groupBy df — the previous aggregate+join pair paid a second
    # exchange of the whole tf table plus a persisted
    # materialization barrier (tf was persisted solely because the
    # df aggregate and the postings join each re-ran the
    # tokenize+RLE pass). One exchange on term now derives df,
    # prunes the [2, cap] band, and feeds the weight projection
    # map-side. term is never null (concat_ws of array slices), so
    # the window keeps exactly the join's rows.
    dfd = F.col("df").cast("double")
    # persist: three plan branches consume the weighted postings (the
    # norm aggregate and both sides of the pair join)
    weights = (
        tf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .filter((F.col("df") >= 2) & (F.col("df") <= TFIDF_DF_CAP))
        .crossJoin(F.broadcast(n_row))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf").cast("double")
                * ((F.col("n_docs") - dfd + F.lit(0.5)) / (dfd + F.lit(0.5)))
            ).alias("w"),
        )
        .persist()
    )
    nrm = weights.groupBy("doc_id").agg(
        F.sqrt(
            F.aggregate(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("term"), (F.col("w") * F.col("w")).alias("v")
                        )
                    )
                ),
                F.lit(0.0),
                lambda a, x: a + x["v"],
            )
        ).alias("nrm")
    )
    a = weights.select(F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa"))
    b = weights.select(F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb"))
    dot = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.aggregate(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("term"), (F.col("wa") * F.col("wb")).alias("v")
                        )
                    )
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["v"],
            ).alias("dot"),
            F.count(F.lit(1)).cast("long").alias("n_shared"),
        )
    )
    result = (
        dot.join(nrm.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na")), "doc_a")
        .join(nrm.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cos"),
        )
        .filter(F.col("cos") >= F.lit(TFIDF_COS_THRESH))
        .orderBy("doc_a", "doc_b")
    )
    return result


# ------------------------------------------------- SQ8 recall contract


def _sq8_recall_oracle() -> str:
    from ..registry import ORACLE

    from .similarity_ops import N_QUERIES, TOPK

    deq = (
        "CASE WHEN d.mx = d.mn THEN d.mn"
        " ELSE d.mn + (CAST(floor(((ex.x - d.mn) / (d.mx - d.mn))"
        " * 255.0 + 0.5) AS DOUBLE) * (d.mx - d.mn)) / 255.0 END"
    )
    return f"""
    WITH exact AS ({ORACLE["embedding_topk"]}),
    ef AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    ex AS (
      SELECT ef.vec_id, u.x, u.pos
      FROM ef, LATERAL (
        SELECT unnest(emb) AS x, unnest(range(1, len(emb) + 1)) AS pos
      ) u
    ),
    d AS (
      SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos
    ),
    dq AS (
      SELECT ex.vec_id, list({deq} ORDER BY ex.pos) AS emb
      FROM ex JOIN d USING (pos)
      WHERE ex.vec_id IN (SELECT vec_id FROM embeddings
                          WHERE {_DUCK_NONZERO})
      GROUP BY ex.vec_id
    ),
    dqn AS (
      SELECT vec_id, emb FROM dq
      WHERE list_dot_product(emb, emb) > 0
    ),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_dot_product(a.emb, b.emb)
               / (sqrt(list_dot_product(a.emb, a.emb))
                  * sqrt(list_dot_product(b.emb, b.emb))) AS cos
      FROM dqn a JOIN dqn b ON a.vec_id != b.vec_id
      WHERE a.vec_id < {N_QUERIES}
    ),
    sq8top AS (
      SELECT query_id, neighbor_id
      FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY cos DESC, neighbor_id
               ) AS rank
        FROM scored
      ) WHERE rank <= {TOPK}
    )
    SELECT e.query_id,
           CAST(count(s.neighbor_id) AS BIGINT) AS n_overlap,
           CAST(count(s.neighbor_id) * 1000 // {TOPK} AS BIGINT)
             AS recall_milli
    FROM exact e LEFT JOIN sq8top s
      ON e.query_id = s.query_id AND e.neighbor_id = s.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """


@query("sq8_topk_recall", oracle=_sq8_recall_oracle())
def sq8_topk_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-accuracy contract for embedding_sq8: per query,
    the overlap between exact-float cosine top-k and top-k computed
    on the SQ8-DEQUANTIZED vectors — "what does 4x compression cost
    in ranking fidelity", the number a team checks before serving ANN
    from uint8 codes. Unlike the LSH/IVF/PQ contracts (whose
    floor-verdict oracles cannot re-run seeded kernels), the SQ8
    reconstruction is closed-form deterministic arithmetic, so the
    ENTIRE contract — per-query overlap counts included — has full
    hash parity: both engines rebuild the identical dequantized
    corpus (same grid, same floor(+0.5) codes, same IEEE expression
    order) and rank by the identical serial-fold cosine.

    Scale shape: the quantizer grid is a dims-row aggregate (bounded
    metadata, collected to broadcast literals exactly as
    embedding_sq8 does); dequantization is a map-only transform();
    the top-k is embedding_topk's broadcast-bounded query-set scan
    over the dequantized corpus; the final comparison joins two
    N_QUERIES*k-row frames. Dequantized zero-norm vectors are defined
    out of the corpus on both engines (the similarity tier's standing
    zero-vector rule) — unreachable on real data, total on
    degenerate fixtures."""
    from .similarity_ops import (
        N_QUERIES,
        TOPK,
        embedding_topk,
        fold_cos_scores,
    )

    full = load_table(spark, sf_dir, "embeddings").select(
        as_double_array("embedding").alias("emb")
    )
    dims = (
        full.select(F.posexplode("emb").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("pos")
        .collect()
    )
    import numpy as np

    lo = np.array([r["mn"] for r in dims], dtype=np.float64)
    hi = np.array([r["mx"] for r in dims], dtype=np.float64)

    def _deq_np(mat):
        # identical elementwise IEEE expression to the Catalyst
        # transform() this replaces (r17): code = floor(((x - lo) /
        # (hi - lo)) * 255.0 + 0.5); deq = lo + (code * (hi - lo)) /
        # 255.0, with the hi == lo branch pinned to lo
        with np.errstate(divide="ignore", invalid="ignore"):
            code = np.floor(((mat - lo) / (hi - lo)) * 255.0 + 0.5)
            deq = lo + (code * (hi - lo)) / 255.0
        return np.where(hi == lo, lo, deq)

    base = load_vectors(spark, sf_dir)
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    # fold_cos_scores with the dequant transform (r17): dequantization
    # AND the serial-fold cosine run in one bit-identical Arrow pass;
    # post-dequant zero-norm rows drop on both sides exactly as the
    # old filter(sq_norm > 0) did
    scored = fold_cos_scores(
        base, queries, transform=_deq_np, drop_zero_norm=True
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    sq8top = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select(
            F.col("query_id").alias("s_query_id"),
            F.col("neighbor_id").alias("s_neighbor_id"),
        )
    )
    exact = embedding_topk(spark, sf_dir).select("query_id", "neighbor_id")
    hits = exact.join(
        sq8top,
        (F.col("query_id") == F.col("s_query_id"))
        & (F.col("neighbor_id") == F.col("s_neighbor_id")),
        "left",
    )
    return (
        hits.groupBy("query_id")
        .agg(F.count("s_neighbor_id").cast("long").alias("n_overlap"))
        .select(
            "query_id",
            "n_overlap",
            F.expr(f"n_overlap * 1000 div {TOPK}")
            .cast("long")
            .alias("recall_milli"),
        )
        .orderBy("query_id")
    )


# -------------------------------------- MRL truncation-recall contract

# Matryoshka truncation: keep the first MRL_DIMS of the 64-dim
# embedding (Kusupati et al. 2022, "Matryoshka Representation
# Learning" — public method). 16 of 64 dims = the same 4x compression
# SQ8 buys by quantizing, bought by truncating instead; this contract
# prices the OTHER axis of the compression tradeoff.
MRL_DIMS = 16


def _mrl_recall_oracle() -> str:
    from ..registry import ORACLE

    from .similarity_ops import N_QUERIES, TOPK

    return f"""
    WITH exact AS ({ORACLE["embedding_topk"]}),
    tr AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[])[1:{MRL_DIMS}] AS emb
      FROM embeddings WHERE {_DUCK_NONZERO}
    ),
    trn AS (
      SELECT vec_id, emb FROM tr
      WHERE list_dot_product(emb, emb) > 0
    ),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_dot_product(a.emb, b.emb)
               / (sqrt(list_dot_product(a.emb, a.emb))
                  * sqrt(list_dot_product(b.emb, b.emb))) AS cos
      FROM trn a JOIN trn b ON a.vec_id != b.vec_id
      WHERE a.vec_id < {N_QUERIES}
    ),
    trtop AS (
      SELECT query_id, neighbor_id
      FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY cos DESC, neighbor_id
               ) AS rank
        FROM scored
      ) WHERE rank <= {TOPK}
    )
    SELECT e.query_id,
           CAST(count(t.neighbor_id) AS BIGINT) AS n_overlap,
           CAST(count(t.neighbor_id) * 1000 // {TOPK} AS BIGINT)
             AS recall_milli
    FROM exact e LEFT JOIN trtop t
      ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """


@query("mrl_truncation_recall", oracle=_mrl_recall_oracle())
def mrl_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation accuracy contract (Matryoshka-style): per
    query, overlap between exact-float cosine top-k on FULL vectors
    and top-k on the first {MRL_DIMS}-of-64 dims — what 4x dimension
    compression costs in ranking fidelity, the twin axis to
    sq8_topk_recall's 4x byte compression. Truncation is closed-form
    (a slice), so like SQ8 the ENTIRE contract has full hash parity:
    both engines rank the identical truncated corpus by the identical
    serial-fold cosine. On the synthetic (isotropic) fixture vectors
    the measured recall is ~0.10-0.15 — random embeddings spread
    information evenly across dims, so truncation is maximally lossy
    here; MRL-trained vectors front-load it (that gap is exactly what
    the contract exists to measure — per-model, before serving).

    Scale shape: truncation is a map-only slice (in production a
    projected parquet read — the scan itself shrinks 4x, which is the
    point of MRL for a first-stage retriever); the top-k is the
    bounded-broadcast query-set scan; the comparison joins two
    N_QUERIES*k-row frames. Truncated vectors that lose their norm
    entirely are defined out on both engines (the standing
    zero-vector rule — unreachable on real data, total on degenerate
    fixtures)."""
    from .similarity_ops import (
        N_QUERIES,
        TOPK,
        embedding_topk,
        fold_cos_scores,
    )

    base = load_vectors(spark, sf_dir)
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    # fold_cos_scores with a truncation transform (r17): the slice +
    # serial-fold cosine in one bit-identical Arrow pass; truncated
    # zero-norm rows drop on both sides exactly as the old
    # filter(sq_norm > 0) did
    scored = fold_cos_scores(
        base,
        queries,
        transform=lambda mat: mat[:, :MRL_DIMS],
        drop_zero_norm=True,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    trtop = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select(
            F.col("query_id").alias("t_query_id"),
            F.col("neighbor_id").alias("t_neighbor_id"),
        )
    )
    exact = embedding_topk(spark, sf_dir).select("query_id", "neighbor_id")
    hits = exact.join(
        trtop,
        (F.col("query_id") == F.col("t_query_id"))
        & (F.col("neighbor_id") == F.col("t_neighbor_id")),
        "left",
    )
    return (
        hits.groupBy("query_id")
        .agg(F.count("t_neighbor_id").cast("long").alias("n_overlap"))
        .select(
            "query_id",
            "n_overlap",
            F.expr(f"n_overlap * 1000 div {TOPK}")
            .cast("long")
            .alias("recall_milli"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------- positional phrase match

# How many corpus-derived query phrases the demo resolves. The
# phrases are the corpus's own top trigrams (count desc, then
# lexicographic — fully deterministic and never vacuous on a
# regenerated fixture, unlike hand-written literals).
N_PHRASES = 2

_PHRASE_TRI_DUCK = f"""
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(toks) - 2),
               i -> array_to_string(toks[i:i+2], ' ')
             )) AS trigram
      FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
      WHERE len(toks) >= 3
"""


@query(
    "phrase_match_positional",
    oracle=f"""
    WITH tri AS ({_PHRASE_TRI_DUCK}),
    top_p AS (
      SELECT trigram FROM (
        SELECT trigram, count(*) AS n FROM tri GROUP BY trigram
        ORDER BY n DESC, trigram LIMIT {N_PHRASES}
      )
    )
    SELECT t.trigram AS phrase, s.doc_id,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM tri s JOIN top_p t ON s.trigram = t.trigram
    GROUP BY t.trigram, s.doc_id
    ORDER BY phrase, doc_id
    """,
)
@memoized
def phrase_match_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT PHRASE SEARCH over an inverted POSITIONAL index — the
    retrieval primitive behind quoted-query search: a phrase longer
    than the indexed n-gram is resolved by intersecting the postings
    of its constituent n-grams at consecutive positions (here:
    3-token phrases over a bigram index, bigram(a b)@p AND
    bigram(b c)@p+1), never by substring-scanning documents. The
    query phrases are the corpus's own top-{N_PHRASES} trigrams, so
    the demo is deterministic and non-vacuous on every fixture
    generation.

    The ORACLE deliberately uses the other algorithm — direct trigram
    containment — so a hash match proves the positional-index
    intersection equivalent to naive containment, not merely
    self-consistent.

    Scale shape: the positional bigram stream is map-side
    (posexplode over arrays_zip slices — no shuffle of raw tokens);
    each phrase's two constituent bigrams broadcast-join against it,
    so only the PHRASE POSTINGS survive into the positional
    intersection — a (phrase, doc, pos)-keyed equi-join bounded by
    posting sizes, the classic phrase-query cost model. Phrase
    selection is one vocabulary-cardinality groupBy + TakeOrdered.
    At 100 TB the same plan serves ad-hoc phrases with zero
    recompute of the index stream."""
    # memoized (r17 ADVICE #2): the query persists two frames
    # (phrases, matches), and repeated calls in one session must reuse
    # the cached plan rather than stack fresh persisted copies
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", textfn.tokenize("text").alias("toks"))

    tri = (
        toked.filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("toks", 1, F.size("toks") - 2).alias("a"),
                    F.slice("toks", 2, F.size("toks") - 2).alias("b"),
                    F.slice("toks", 3, F.size("toks") - 2).alias("c"),
                )
            ).alias("t"),
        )
        .select(
            "doc_id", F.concat_ws(" ", "t.a", "t.b", "t.c").alias("trigram")
        )
    )
    phrases = (
        tri.groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "trigram")
        .limit(N_PHRASES)
        .select(
            F.col("trigram").alias("phrase"),
            F.substring_index("trigram", " ", 2).alias("bg1"),
            F.substring_index("trigram", " ", -2).alias("bg2"),
        )
        # persisted: the tagged probe table reads this ≤N_PHRASES-row
        # frame twice, and unpersisted each read re-ran the trigram
        # corpus pass behind the top-k (r17 opt)
        .persist()
    )

    # positional bigram index stream: (doc_id, p, bg), map-side
    bigrams = (
        toked.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.posexplode(
                F.arrays_zip(
                    F.slice("toks", 1, F.size("toks") - 1).alias("a"),
                    F.slice("toks", 2, F.size("toks") - 1).alias("b"),
                )
            ).alias("p", "t"),
        )
        .select("doc_id", "p", F.concat_ws(" ", "t.a", "t.b").alias("bg"))
    )
    # ONE pass over the index stream: both constituents probe the
    # same broadcast (tagged by which constituent matched), and the
    # phrase-postings-sized match set persists for the two sides of
    # the positional intersection — the previous per-constituent
    # joins re-derived the whole map-side bigram stream twice (r17
    # opt; documents scans 4 -> 2). A phrase whose two constituent
    # bigrams are equal contributes one pm row per tag, so m1/m2
    # recover exactly the per-constituent join results.
    pm = phrases.select(
        "phrase", F.col("bg1").alias("bg"), F.lit(1).alias("which")
    ).unionByName(
        phrases.select(
            "phrase", F.col("bg2").alias("bg"), F.lit(2).alias("which")
        )
    )
    matches = (
        bigrams.join(F.broadcast(pm), "bg")
        .select("phrase", "doc_id", "p", "which")
        .persist()
    )
    m1 = matches.filter(F.col("which") == 1).select("phrase", "doc_id", "p")
    m2 = matches.filter(F.col("which") == 2).select(
        F.col("phrase").alias("phrase2"),
        F.col("doc_id").alias("doc_id2"),
        F.col("p").alias("p2"),
    )
    hits = m1.join(
        m2,
        (F.col("phrase") == F.col("phrase2"))
        & (F.col("doc_id") == F.col("doc_id2"))
        & (F.col("p2") == F.col("p") + 1),
    )
    result = (
        hits.groupBy("phrase", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy("phrase", "doc_id")
    )
    return result


# --------------------------------------------------- chunk pooling

# Chunks pooled per document (vec_id div CHUNKS_PER_DOC — the fixture
# has no explicit doc linkage, so contiguous ids stand in for a
# real pipeline's chunk→doc key) and the fixed-point component scale
# (power of two: exact in float64 for float32-mantissa inputs — the
# similarity tier's standing quantization rule).
CHUNKS_PER_DOC = 4
POOL_SCALE = 1024


@query(
    "embedding_chunk_pool",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    ex AS (
      SELECT CAST(vec_id // {CHUNKS_PER_DOC} AS BIGINT) AS group_id,
             vec_id, u.pos,
             CAST(floor(u.x * {POOL_SCALE}.0 + 0.5) AS BIGINT) AS q
      FROM e, LATERAL (
        SELECT unnest(emb) AS x, unnest(range(1, len(emb) + 1)) AS pos
      ) u
    ),
    sums AS (
      SELECT group_id, pos, CAST(SUM(q) AS BIGINT) AS s
      FROM ex GROUP BY group_id, pos
    ),
    chunks AS (
      SELECT group_id, CAST(count(DISTINCT vec_id) AS BIGINT) AS n_chunks
      FROM ex GROUP BY group_id
    )
    SELECT s.group_id, c.n_chunks,
           md5(array_to_string(
             list(CAST(s.s AS VARCHAR) ORDER BY s.pos), ','
           )) AS pooled_md5
    FROM sums s JOIN chunks c USING (group_id)
    GROUP BY s.group_id, c.n_chunks
    ORDER BY s.group_id
    """,
)
def embedding_chunk_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNK → DOCUMENT embedding pooling — the aggregation step every
    long-document pipeline runs after embedding fixed-size chunks
    (mean/sum pooling into one vector per document). Pooled
    components are SUMS of fixed-point-quantized chunk components:
    integer sums are summation-order-independent, so the pooled
    vector is bitwise-identical however Spark partitions the chunks
    — the property a float mean would NOT have (the DSIR/pagerank
    fixed-point discipline). The emitted md5 over the ordered
    component sums hash-verifies the vectors themselves; the
    data-loader divides by n_chunks at read time for the mean.

    Scale shape: one explode to (group, pos, q) rows and one
    partially-aggregated groupBy on (group_id, pos) — map-side
    combine absorbs each document's chunks before the shuffle; the
    per-group reassembly is the doc_line_dedup sort-struct aggregate,
    memory bounded by the embedding dimension. Linear in corpus
    vectors; no driver collect, no window."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("emb")
    )
    ex = emb.select(
        F.expr(f"vec_id div {CHUNKS_PER_DOC}").cast("long").alias("group_id"),
        "vec_id",
        F.posexplode("emb").alias("pos0", "x"),
    ).select(
        "group_id",
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("x") * F.lit(float(POOL_SCALE)) + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    sums = ex.groupBy("group_id", "pos").agg(
        F.sum("q").cast("long").alias("s")
    )
    chunks = ex.groupBy("group_id").agg(
        F.countDistinct("vec_id").cast("long").alias("n_chunks")
    )
    pooled = sums.groupBy("group_id").agg(
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("s")))
                    ),
                    lambda x: x["s"].cast("string"),
                ),
            )
        ).alias("pooled_md5")
    )
    return (
        pooled.join(chunks, "group_id")
        .select("group_id", "n_chunks", "pooled_md5")
        .orderBy("group_id")
    )
