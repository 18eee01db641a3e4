"""Mergeable-sketch tier: persisted HLL sketches as the incremental
scale path for distinct-count analytics.

`mau_approx` (extras) shows approx_count_distinct as the one-shot
replacement for COUNT(DISTINCT). This module adds the property that
actually matters at 100 TB: HLL sketches are MERGEABLE, so the fact
table is scanned once into fine-grained (daily) sketch rows, and any
coarser rollup — monthly MAU, quarterly, all-time, late-data patches
— is a union over a few hundred sketch BLOBS, not a rescan. Both
queries are accuracy contracts in the accuracy_ops pattern: exact
values anchor the hash, booleans assert the sketch side.

- mau_sketch_rollup:     daily hll_sketch_agg -> monthly
                         hll_union_agg rollup vs exact monthly MAU.
- segment_overlap_sketch: sketch set-algebra — distinct-user overlap
                         of event segments via inclusion-exclusion
                         on HLL unions vs the exact intersection.

Reference anchor: SURVEY §2 A1 (COUNT DISTINCT MAU,
mau_summary.py:4-10); this is its §2.5 incremental-at-scale form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..memo import memoized
from ..registry import query
from ._oracle_shared import _DUCK_TOKS

# datasketches HLL at the default lgConfigK=12: relative standard
# error 1.04/sqrt(2^12) ~ 1.6%. 0.08 is ~5 sigma — far outside honest
# sketch noise, far inside the ~2x a broken merge or a
# double-counted union produces.
HLL_REL_BOUND = 0.08

# Inclusion-exclusion compounds three estimates, and the intersection
# can be small relative to the union, so the bound is expressed
# against the UNION size (the scale of the arithmetic), not the
# intersection: |est - exact| <= 0.1 * |A u B|. Documented-loose: the
# contract certifies the sketch algebra is wired correctly, not that
# intersections are tight — use exact counts when the overlap itself
# is the product.
OVERLAP_UNION_BOUND = 0.1

_SEGMENT_PAIRS = (("view", "purchase"), ("click", "purchase"), ("signup", "view"))


@query(
    "mau_sketch_rollup",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           count(DISTINCT o_custkey) AS mau_exact,
           TRUE AS within_bound
    FROM orders
    GROUP BY 1
    ORDER BY 1
    """,
)
def mau_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly MAU from PERSISTED daily sketches: one scan builds a
    (day, hll_sketch) table — the thing you would actually store at
    100 TB — and the monthly answer is hll_union_agg over ~30 sketch
    blobs per month. Union is associative and lossless for HLL, so
    late-arriving days or cross-month/quarter rollups merge the same
    stored rows without ever rescanning the fact table (contrast:
    exact COUNT DISTINCT shuffles every key again per question).

    The contract row is hash-anchored by the exact month MAU and a
    boolean asserting the rolled-up estimate lands within 5 sigma of
    it; the oracle computes the exact side and expects TRUE, so a
    broken sketch build, merge, or estimate flips the driver row red.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
        "o_custkey",
    )
    # the persisted-sketch layer: one row per day
    sketches = daily.groupBy("month", "day").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    rolled = sketches.groupBy("month").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("mau_est")
    )
    exact = daily.groupBy("month").agg(
        F.countDistinct("o_custkey").alias("mau_exact")
    )
    return (
        exact.join(rolled, "month")
        .select(
            "month",
            "mau_exact",
            (
                F.abs(F.col("mau_est") - F.col("mau_exact"))
                / F.col("mau_exact")
                <= F.lit(HLL_REL_BOUND)
            ).alias("within_bound"),
        )
        .orderBy("month")
    )


@query(
    "segment_overlap_sketch",
    oracle=f"""
    WITH pairs AS (
      SELECT * FROM (VALUES
        {", ".join(f"('{a}', '{b}')" for a, b in _SEGMENT_PAIRS)}
      ) AS t(seg_a, seg_b)
    ),
    seg AS (SELECT DISTINCT event_type, user_id FROM events)
    SELECT p.seg_a, p.seg_b,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS overlap_exact,
           TRUE AS within_bound
    FROM pairs p
    JOIN seg a ON a.event_type = p.seg_a
    JOIN seg b ON b.event_type = p.seg_b AND b.user_id = a.user_id
    GROUP BY p.seg_a, p.seg_b
    ORDER BY p.seg_a, p.seg_b
    """,
)
@memoized
def segment_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set-algebra: distinct-user overlap between event
    segments estimated as |A| + |B| - |A u B| from three HLL
    estimates (per-segment sketches + their pairwise union) — the
    standard way to answer audience-overlap questions from stored
    per-segment sketches without rescanning raw events. The exact
    intersection anchors the hash; the boolean asserts the estimate
    within OVERLAP_UNION_BOUND of the union size (inclusion-exclusion
    compounds error, so the bound is against the arithmetic's scale —
    documented-loose, certifying the wiring rather than tightness).

    Scale shape: one scan -> per-segment sketch rows (the persisted
    layer); every pair question merges TWO sketch blobs. The exact
    side here exists only to verify; production asks the sketches.
    """
    # memoized (r17 ADVICE #2): the distinct membership frame is
    # persisted; repeated calls must reuse the cached plan, not stack
    # persists
    events = load_table(spark, sf_dir, "events")
    segs = [s for pair in _SEGMENT_PAIRS for s in pair]
    # Distinct BEFORE the exact-anchor self-join below (mirrors the
    # oracle's DISTINCT CTE): without it a user with k events per
    # segment contributes k^2 join rows that countDistinct collapses
    # anyway — a quadratic blowup on hot users at scale (r5 verdict
    # "What's wrong #2": this was the slowest bench query at 12s).
    # persisted: FOUR plan branches consume the distinct membership
    # rows (the sketch aggregate feeding both pair sides, and both
    # sides of the exact-anchor self-join) — unpersisted, each
    # branch re-ran the scan+filter+distinct (4 events scans in the
    # physical plan; r17 opt — now 1)
    seg = (
        events.filter(F.col("event_type").isin(*sorted(set(segs))))
        .select("event_type", "user_id")
        .distinct()
        .persist()
    )
    sketches = seg.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("n_exact"),
    )
    pairs = spark.createDataFrame(
        list(_SEGMENT_PAIRS), "seg_a string, seg_b string"
    )
    a = sketches.select(
        F.col("event_type").alias("seg_a"),
        F.col("sk").alias("sk_a"),
        F.col("n_exact").alias("n_a"),
    )
    b = sketches.select(
        F.col("event_type").alias("seg_b"),
        F.col("sk").alias("sk_b"),
        F.col("n_exact").alias("n_b"),
    )
    # union sketch per pair: merge the two stored blobs
    est = (
        pairs.join(F.broadcast(a), "seg_a")
        .join(F.broadcast(b), "seg_b")
        .select(
            "seg_a",
            "seg_b",
            "n_a",
            "n_b",
            F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b")).alias("n_union_est"),
            F.hll_sketch_estimate("sk_a").alias("n_a_est"),
            F.hll_sketch_estimate("sk_b").alias("n_b_est"),
        )
        .withColumn(
            "overlap_est",
            F.col("n_a_est") + F.col("n_b_est") - F.col("n_union_est"),
        )
    )
    exact = (
        seg.withColumnRenamed("event_type", "seg_a")
        .join(
            seg.withColumnRenamed("event_type", "seg_b"),
            "user_id",
        )
        .join(F.broadcast(pairs), ["seg_a", "seg_b"], "left_semi")
        .groupBy("seg_a", "seg_b")
        .agg(F.countDistinct("user_id").alias("overlap_exact"))
    )
    union_exact = F.col("n_a") + F.col("n_b") - F.col("overlap_exact")
    return (
        est.join(exact, ["seg_a", "seg_b"])
        .select(
            "seg_a",
            "seg_b",
            "overlap_exact",
            (
                F.abs(F.col("overlap_est") - F.col("overlap_exact"))
                <= F.lit(OVERLAP_UNION_BOUND) * union_exact
            ).alias("within_bound"),
        )
        .orderBy("seg_a", "seg_b")
    )


# Count-min sketch geometry. Width 512 gives eps = e/512 ~ 0.5% of
# the total token mass as the worst-case overestimate; depth 4 drives
# the per-query failure probability to e^-4 ~ 2%. Both engines build
# the SAME sketch bit-for-bit (md5-derived cell positions, exact
# integer counters), so the driver hash covers est values themselves,
# not just the contract booleans.
CMS_DEPTH = 4
CMS_WIDTH = 512
CMS_TOP = 20

_DUCK_CMS_POS = (
    "CAST(('0x' || substr(md5(CAST(s AS VARCHAR) || term), 1, 8)) AS UBIGINT)"
    f" % {CMS_WIDTH}"
)


def _cms_pos(term, s: int):
    """Cell position of `term` in sketch row `s`: seed-prefixed md5,
    first 8 hex chars -> int, mod width — the same portable hash
    family as the Bloom/MinHash/SimHash operators, so DuckDB
    reproduces every counter."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(str(s)), term)), 1, 8), 16, 10
        ).cast("long")
        % CMS_WIDTH
    )


@query(
    "cms_heavy_hitters",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ),
    cnt AS (
      SELECT term, count(*) AS c
      FROM (SELECT unnest(toks) AS term FROM t) GROUP BY term
    ),
    cells AS (
      SELECT s AS row, CAST({_DUCK_CMS_POS} AS BIGINT) AS pos,
             CAST(sum(c) AS BIGINT) AS cell
      FROM cnt, generate_series(0, {CMS_DEPTH - 1}) AS g(s)
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT term, c FROM cnt ORDER BY c DESC, term LIMIT {CMS_TOP}
    ),
    probe AS (
      SELECT term, c, s AS row, CAST({_DUCK_CMS_POS} AS BIGINT) AS pos
      FROM cand, generate_series(0, {CMS_DEPTH - 1}) AS g(s)
    )
    SELECT p.term,
           CAST(p.c AS BIGINT) AS exact_cnt,
           min(cells.cell) AS est_cnt,
           min(cells.cell) >= p.c AS no_underestimate
    FROM probe p JOIN cells USING (row, pos)
    GROUP BY p.term, p.c
    ORDER BY exact_cnt DESC, term
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream, probed for the
    top heavy hitters: the MERGEABLE frequency summary next to the
    HLL distinct-count rollups above. `token_heavy_hitters` answers
    the same question exactly with a candidate-pruned second scan;
    this is the one-scan variant whose state is a fixed
    depth x width counter grid — per-shard (or per-day) grids merge
    by cell-wise ADDITION, so at 100 TB the sketch layer is what you
    persist and the raw token stream is never rescanned.

    Both engines materialize the same grid (md5 cell positions,
    integer counters) and the same deterministic candidate set (exact
    top-CMS_TOP by (count desc, term)), so the estimates hash-match
    exactly; `no_underestimate` asserts the CMS one-sided error
    guarantee (min over rows can only overestimate).

    Scale shape: token counts are one map-side-combined groupBy; the
    grid is <= depth*width = 2048 rows regardless of corpus size; the
    probe set broadcasts. Nothing here grows with N except the first
    aggregate. Reference anchor: SURVEY §2 A1's aggregate family —
    this is its bounded-state streaming-compatible form (see
    streaming.stream_sketch_rollup for the HLL producer twin).
    """
    from ..functions import textfn
    from ..operators import top_k

    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(textfn.tokenize("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    def _positions(df: DataFrame) -> DataFrame:
        return df.select(
            "term",
            "c",
            F.posexplode(
                F.array(*[_cms_pos(F.col("term"), s) for s in range(CMS_DEPTH)])
            ).alias("row", "pos"),
        )

    cells = (
        _positions(cnt)
        .groupBy("row", "pos")
        .agg(F.sum("c").alias("cell"))
    )
    cand = top_k(cnt, [F.desc("c"), F.asc("term")], CMS_TOP)
    probes = _positions(cand)
    return (
        cells.join(F.broadcast(probes), ["row", "pos"])
        .groupBy("term", "c")
        .agg(F.min("cell").alias("est_cnt"))
        .select(
            "term",
            F.col("c").alias("exact_cnt"),
            "est_cnt",
            (F.col("est_cnt") >= F.col("c")).alias("no_underestimate"),
        )
        .orderBy(F.desc("exact_cnt"), "term")
    )
