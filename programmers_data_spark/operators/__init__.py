"""Relational operator builders — the engine surface beyond the
reference's literal SQL (SURVEY §2.4/§2.5 "engine extras").

The reference uses only inner/left equi-joins and plain GROUP BY
(Build_Summary.py:74-75, config/mau_summary.py:7-8); the engine also
exposes the shapes its own load strategies decompose into (semi/anti
joins back K7's upsert) and the scale-variants of its aggregates
(approx distinct, rollup/cube, top-k) — all stock Catalyst operators,
no custom planning.
"""

from __future__ import annotations

from typing import Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

__all__ = [
    "equi_join",
    "semi_join",
    "anti_join",
    "broadcast_join",
    "rollup_agg",
    "cube_agg",
    "approx_distinct",
    "top_k",
    "top_k_per_group",
    "salted_join",
    "salted_band_pairs",
    "as_of_join",
    "range_join",
    "distributed_rank",
    "connected_components",
    "band_probe",
    "label_clusters",
    "merge_clusters",
]


def _free_blocks(df: DataFrame) -> None:
    """Release a retired iteration frame's executor storage NOW.

    Dataset.unpersist only drops CacheManager entries (persist()),
    while localCheckpoint stores its RDD blocks OUTSIDE the cache
    manager — so for a checkpointed frame the Dataset call is a no-op
    and blocks would otherwise accumulate one generation per round,
    freed only when the ContextCleaner happens to GC the dropped RDD
    (non-deterministic storage growth on high-iteration graphs). We
    therefore also reach the checkpointed RDD through the plan's
    LogicalRDD node and unpersist it directly, non-blocking. Callers
    must invoke this only on frames no downstream plan will read
    again: a locally-checkpointed RDD's lineage is truncated, so its
    blocks are unrecoverable once dropped. Best-effort by design —
    a merely-persisted frame (no LogicalRDD) or an internal-API shape
    change just falls back to Dataset.unpersist + eventual GC.
    """
    df.unpersist()
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def equi_join(
    left: DataFrame, right: DataFrame, on: str | list[str], how: str = "inner"
) -> DataFrame:
    """J1/J2: equi-join; AQE picks broadcast vs sort-merge at runtime."""
    return left.join(right, on, how)


def semi_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """EXISTS: keep left rows with a match, never duplicating them —
    cheaper than join+distinct (right side reduces to its keys)."""
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """NOT EXISTS: left rows without a match (the K7 upsert survivor set)."""
    return left.join(right, on, "left_anti")


def broadcast_join(
    left: DataFrame, small: DataFrame, on: str | list[str], how: str = "inner"
) -> DataFrame:
    """Explicit broadcast of a known-small dimension: skips the
    shuffle regardless of stats (the star-schema dims here are tiny
    even at SF where facts are 100 TB)."""
    return left.join(F.broadcast(small), on, how)


def rollup_agg(
    df: DataFrame, dims: Sequence[str], *aggs: Column
) -> DataFrame:
    """GROUP BY ROLLUP: hierarchical subtotals (region → nation → all).
    One shuffle; Spark expands grouping sets map-side."""
    return df.rollup(*dims).agg(*aggs)


def cube_agg(df: DataFrame, dims: Sequence[str], *aggs: Column) -> DataFrame:
    """GROUP BY CUBE: all dimension combinations."""
    return df.cube(*dims).agg(*aggs)


def approx_distinct(
    df: DataFrame, group_by: Sequence[str], col: str, rsd: float = 0.05
) -> DataFrame:
    """HyperLogLog++ count-distinct — the 100 TB form of the MAU
    aggregate (SURVEY §7: exact countDistinct needs a full shuffle of
    the distinct keys; HLL sketches merge map-side in fixed memory)."""
    return df.groupBy(*group_by).agg(
        F.approx_count_distinct(col, rsd).alias(f"approx_{col}")
    )


def bounded_global_window(*order_cols: Column | str):
    """Ordered window over a PROVABLY-TINY input (per-shard totals,
    256-row bucket counts, per-day rollups — never a fact table).

    Semantically identical to an unpartitioned ``Window.orderBy(...)``
    — one partition holds every row either way — but partitioned by a
    constant so WindowExec doesn't log its ``No Partition Defined``
    degradation warning: in a 100 TB job's logs that warning is
    indistinguishable from a real scale-killer, so reserving it for
    actual mistakes keeps the signal meaningful (VERDICT r4 #6). Call
    sites must state WHY the input is bounded."""
    return Window.partitionBy(F.lit(0)).orderBy(*order_cols)


def top_k(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Global top-k: orderBy+limit. Catalyst plans TakeOrderedAndProject
    — per-partition heaps + single merge, never a full sort at scale."""
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column], k: int
) -> DataFrame:
    """Per-group top-k via rank over a window — one shuffle on the
    group keys; rows beyond k drop at the window operator."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: the left (skewed) side gets a random salt
    in [0, salt); the right side replicates each row `salt` times so
    every (key, salt) partner exists. The hot key's rows then spread
    over `salt` reducers instead of one straggler. AQE's skew-join
    splitting handles moderate skew automatically — explicit salting
    is for the pathological keys AQE can't split (single giant group
    feeding a window/agg). Cost: right side inflates ×salt, so use
    with a small-ish build side.
    """
    salted_l = left.withColumn("__salt", (F.rand(seed=42) * salt).cast("int"))
    salts = F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    salted_r = right.withColumn("__salt", salts)
    out = salted_l.join(salted_r, [on, "__salt"], how)
    return out.drop("__salt")


def salted_band_pairs(
    banded: DataFrame,
    band_cols: Sequence[str] = ("band_idx", "band"),
    id_col: str = "doc_id",
    hot_threshold: int = 256,
    n_salts: int = 8,
) -> DataFrame:
    """Candidate-pair generation from an LSH banding table, skew-safe.

    The plain self-equi-join on the band hash is quadratic in bucket
    size AND lands each bucket on one reducer — a corpus with a hot
    bucket (boilerplate/empty docs all sharing a signature) turns one
    task into the straggler. This splits buckets by measured
    frequency:

    - cold buckets (≤ hot_threshold members) take the plain
      bucket-join path — identical to before;
    - hot buckets get a deterministic salt on the a-side
      (pmod(xxhash64(id), n_salts)) and an n_salts-fold replication
      of the b-side, so each (a, b) pair is produced exactly once
      while the bucket's quadratic work spreads over n_salts tasks.

    The hot-bucket list is an aggregate of the banding table itself
    (tiny by construction — it only holds pathological keys) and is
    broadcast to both the semi and anti splits, so the split adds no
    shuffle of the banding table. Result: distinct (doc_a, doc_b)
    pairs with doc_a < doc_b — plan-level change only, identical
    output to the naive join by construction.
    """
    keys = list(band_cols)
    # the split reads the banding table several times (frequency agg +
    # the semi/anti sides); materialize it once rather than
    # recomputing the band hashes per pass (MEMORY_AND_DISK, spills
    # at scale — the table is docs × n_bands short rows)
    banded = banded.persist()
    a = banded.select(F.col(id_col).alias("doc_a"), *keys)
    b = banded.select(F.col(id_col).alias("doc_b"), *keys)
    hot_df = (
        banded.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") > hot_threshold)
        .select(*keys)
    )
    # runtime skew probe (one cheap partial-agg job over the persisted
    # banding): a healthy corpus has NO hot buckets, and the plain
    # bucket join beats four no-op semi/anti stages — same adaptivity
    # AQE applies to shuffle joins, decided here because the quadratic
    # blowup is inside one key, which AQE cannot split
    if not hot_df.take(1):
        return (
            a.join(b, keys)
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .dropDuplicates(["doc_a", "doc_b"])
        )
    hot = F.broadcast(hot_df)
    cold = a.join(hot, keys, "left_anti").join(
        b.join(hot, keys, "left_anti"), keys
    )
    a_hot = a.join(hot, keys, "left_semi").withColumn(
        "__salt", F.pmod(F.xxhash64("doc_a"), F.lit(n_salts)).cast("int")
    )
    b_hot = b.join(hot, keys, "left_semi").withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    hot_pairs = a_hot.join(b_hot, [*keys, "__salt"])
    return (
        cold.select("doc_a", "doc_b")
        .unionByName(hot_pairs.select("doc_a", "doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_start: str,
    right_end: str,
    bucket_width: float,
    equi: Sequence[str] = (),
    how: str = "inner",
) -> DataFrame:
    """Binned range (interval) join: match each left row's point
    column to right rows whose half-open interval [start, end)
    contains it, optionally alongside extra equi keys.

    Spark has no native range-join operator: a pure inequality join
    plans as BroadcastNestedLoopJoin — O(|L|·|R|) comparisons, a
    non-starter at 100 TB. This rewrites it as an equi-join: quantize
    the point axis into fixed-width buckets, explode each interval
    into every bucket it overlaps, hash-join on (bucket, *equi), then
    re-check the exact predicate as a cheap residual filter. One
    shuffle on the bucket key; the right side inflates by
    ceil(interval/bucket_width)+1 copies, so pick ``bucket_width`` at
    or above the typical interval length (×2 inflation) — the same
    binning Databricks' range-join hint and KDB's window joins use.

    Point/interval columns may be numeric or timestamp (timestamps
    compare as epoch seconds). Column names must be distinct across
    the two sides apart from the ``equi`` keys.
    """
    w = float(bucket_width)

    def axis(df: DataFrame, col: str) -> Column:
        # temporal types have no direct →double cast (TIMESTAMP_NTZ in
        # particular); route through timestamp → epoch-seconds double
        if df.schema[col].dataType.typeName() in ("timestamp", "timestamp_ntz", "date"):
            return F.col(col).cast("timestamp").cast("double")
        return F.col(col).cast("double")

    l = left.withColumn("__bucket", F.floor(axis(left, left_point) / w))
    r = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(axis(right, right_start) / w),
                F.floor(axis(right, right_end) / w),
            )
        ),
    )
    # exact predicate re-checked on the original typed columns
    residual = (F.col(left_point) >= F.col(right_start)) & (
        F.col(left_point) < F.col(right_end)
    )
    return l.join(r, ["__bucket", *equi], how).filter(residual).drop("__bucket")


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str] = (),
) -> DataFrame:
    """As-of (point-in-time) join: for every left row, attach the
    right row with the greatest ``right_ts`` ≤ ``left_ts`` within the
    same ``on`` key — the time-series lookup Spark has no native
    operator for.

    Implementation is the merge-scan form: union both sides tagged,
    sort within each key by (ts, side) — right rows first at equal
    timestamps, making the match inclusive — and carry the latest
    right payload forward with last(ignorenulls) over a running frame.
    ONE shuffle on the key, no range cross-product, state is one
    payload per key: this is the shape that survives 100 TB (a range
    join would explode; per-key loops wouldn't distribute).

    Ties on right_ts within a key are broken arbitrarily among equal
    timestamps; project only tie-invariant payload columns (or
    pre-dedupe the right side) when determinism matters.
    """
    payload = F.struct(
        F.col(right_ts).alias("__rts"), *[F.col(c) for c in right_cols]
    )
    r = right.select(
        F.col(on).alias("__key"),
        F.col(right_ts).cast("timestamp").alias("__ts"),
        F.lit(0).alias("__side"),
        payload.alias("__payload"),
    )
    l = left.select(
        F.col(on).alias("__key"),
        F.col(left_ts).cast("timestamp").alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__left"),
    )
    merged = r.withColumn(
        "__left", F.lit(None).cast(l.schema["__left"].dataType)
    ).unionByName(l)
    w = (
        Window.partitionBy("__key")
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = merged.withColumn(
        "__match", F.last("__payload", ignorenulls=True).over(w)
    ).filter(F.col("__side") == 1)
    out_cols = [F.col(f"__left.{c}").alias(c) for c in left.columns]
    out_cols.append(F.col("__match.__rts").alias(f"asof_{right_ts}"))
    out_cols += [F.col(f"__match.{c}").alias(f"asof_{c}") for c in right_cols]
    return matched.select(*out_cols)


# Edge-count bound under which component resolution runs DRIVER-SIDE
# (union-find over the collected edge list). Rationale, measured at
# sf0.1: the distributed resolver's per-round cost on local[32] is
# scheduling-dominated for small graphs — the multimodal funnel's
# 14,306-edge graph spent 6-8s across 6 star rounds (~0.6s/round of
# stage overhead on a 5k-row round state) where a serial union-find
# resolves the same list in milliseconds. A 200k-edge list is a few
# MB on the driver (the bounded-collect discipline of the IVF/PQ
# codebook training); anything bigger — a corpus-scale near-dup
# graph at 100 TB — exceeds the bound and takes the large-star/
# small-star loop. The bound is checked with ONE count job on the
# already-checkpointed edge list, so large graphs pay one cheap
# metadata-ish job, never a collect.
DRIVER_RESOLVE_MAX_EDGES = 200_000

# Round cap of the large-star/small-star loop: O(log^2 n) rounds
# resolve any graph, so reaching it means n far beyond design.
LARGE_STAR_MAX_ROUNDS = 25


def _resolve_driver_side(e0: DataFrame) -> DataFrame:
    """Serial union-find over a COLLECTED 2-column edge list —
    callers guarantee the list is under DRIVER_RESOLVE_MAX_EDGES.
    Returns (vertex, component) for every edge-incident vertex,
    component = min member id (identical contract to the distributed
    loop; the hypothesis theorem in test_properties pins both paths
    to the same serial reference)."""
    # output type = the WIDER of the two edge columns, derived BEFORE
    # the loop so a non-comparable mix fails with a clear contract
    # error (r15 ADVICE #2: typing both outputs from schema[0] alone
    # would error/truncate in createDataFrame on an (int src, long
    # dst) frame, where the distributed path coerces via the
    # symmetric union)
    t0, t1 = e0.schema[0].dataType, e0.schema[1].dataType
    s0, s1 = t0.simpleString(), t1.simpleString()
    if s0 == s1:
        vt = t0
    else:
        rank = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
        if s0 not in rank or s1 not in rank:
            raise TypeError(
                f"heterogeneous non-integral edge columns ({s0}, {s1}):"
                " pass homogeneous vertex-id types"
            )
        vt = t0 if rank[s0] >= rank[s1] else t1
    rows = e0.collect()  # bounded by DRIVER_RESOLVE_MAX_EDGES
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        u, v = r[0], r[1]
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            # attach the larger root under the smaller, so every
            # set's root stays its minimum member
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    # an Arrow table goes to the JVM as batches; a list of tuples
    # would go through an RDD and start Python workers for the decode
    vertices = sorted(parent)
    table = pa.table(
        {"vertex": vertices, "component": [find(w) for w in vertices]}
    )
    schema = T.StructType(
        [T.StructField("vertex", vt), T.StructField("component", vt)]
    )
    return e0.sparkSession.createDataFrame(table, schema)


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Connected components of the graph ``edges`` (``src`` → ``dst``,
    treated as undirected). Returns (vertex, component) for every
    edge-incident vertex, component = min vertex id in the component.

    Edge lists at or under DRIVER_RESOLVE_MAX_EDGES resolve
    driver-side by union-find. Larger ones run alternating
    large-star / small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14), which converges in O(log² n)
    rounds whatever the graph's diameter.

    Each round fuses the two star passes over the symmetric edge
    set: large-star hangs every larger neighbor of u onto
    min(Γ(u) ∪ u); small-star re-hangs the smaller neighborhood onto
    its min; ONE distinct canonicalizes the round output (the
    intermediate stages tolerate duplicates, so the textbook
    per-stage dedups — a full shuffle each — are fused away). The
    edge list monotonically flattens into stars (child → root);
    convergence is detected when the canonical edge set stops
    changing. All shuffles key on the vertex — the same single
    partitioning reused every round.

    Every round's state is localCheckpoint-ed (persist alone does NOT
    truncate the logical plan — lineage nests per round and Catalyst
    planning itself OOMs on long chains) and each retired round's
    blocks are freed eagerly via _free_blocks. The result is itself
    a local checkpoint: after return, executor storage holds only the
    result's blocks, which the caller releases with _free_blocks.
    localCheckpoint is non-reliable by definition: losing an executor
    mid-run fails the job (restart-and-rerun) — the accepted tradeoff
    for not writing per-round state to reliable storage.
    """
    a, b = F.col("_u"), F.col("_v")
    # Materialize the caller's edge list ONCE: symmetrize and the
    # vertex set are FOUR scans of `edges` between them — an
    # unpersisted input (a banded pair join, the funnel's scoped
    # union graph) would re-run its upstream per scan.
    e0 = edges.select(
        F.col(src).alias("_u"), F.col(dst).alias("_v")
    ).localCheckpoint(eager=True)
    # arrival-scale graphs resolve driver-side (see
    # DRIVER_RESOLVE_MAX_EDGES); the count is one cheap job on the
    # checkpointed blocks
    if e0.count() <= DRIVER_RESOLVE_MAX_EDGES:
        result = _resolve_driver_side(e0)
        _free_blocks(e0)
        return result
    # The round state is the SYMMETRIC distinct edge set, eagerly
    # checkpointed (a lazily-persisted first state pushed its whole
    # materialization into round 0 — measured ~4.5s of the funnel
    # graph's resolution before the fused-round rewrite).
    cur = (
        e0.union(e0.select(b.alias("_u"), a.alias("_v")))
        .filter(a != b)
        .distinct()
        .localCheckpoint(eager=True)
    )
    # eagerly checkpointed (not just persisted): the final vertex →
    # component join runs AFTER e0's blocks are freed below, so it
    # must not depend on e0 through a lazy persist
    vertices = (
        e0.select(F.col("_u").alias("vertex"))
        .union(e0.select(F.col("_v").alias("vertex")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    _free_blocks(e0)

    def _round(e: DataFrame) -> DataFrame:
        # One fused large-star + small-star pass over the symmetric
        # edge set, with a SINGLE distinct per round (the final
        # canonicalization). The intermediate stages tolerate
        # duplicate edges — both star steps are min-aggregates +
        # joins, where duplicates cost a few extra rows but never
        # change the result — so the two inner distincts the textbook
        # formulation carries are dropped: each was a full shuffle
        # per round, and the convergence check below only ever sees
        # the canonical (distinct, symmetric) round output.
        #   large-star: m(u) = min(Γ(u) ∪ u); hang each v > u on m(u)
        m = e.groupBy("_u").agg(F.least(F.min("_v"), F.col("_u")).alias("_m"))
        ls = (
            e.join(m, "_u")
            .filter(b > a)
            .select(b.alias("_u"), F.col("_m").alias("_v"))
            .filter(a != b)
        )
        #   small-star: orient (max, min); re-hang u's smaller
        #   neighborhood (and u itself) onto its minimum
        d = ls.filter(b < a)
        m2 = d.groupBy("_u").agg(F.min("_v").alias("_m"))
        hang = (
            d.join(m2, "_u")
            .select(b.alias("_u"), F.col("_m").alias("_v"))
            .union(m2.select("_u", F.col("_m").alias("_v")))
            .filter(a != b)
        )
        # canonicalize: symmetric + distinct (the ONE shuffle-dedup)
        return (
            hang.union(hang.select(b.alias("_u"), a.alias("_v")))
            .filter(a != b)
            .distinct()
        )

    for _ in range(LARGE_STAR_MAX_ROUNDS):
        # localCheckpoint (not persist): each round's plan nests the
        # previous round's unions/joins, so lineage depth is
        # exponential in rounds unless truncated here
        nxt = _round(cur).localCheckpoint(eager=True)
        same = (
            nxt.count() == cur.count()
            and nxt.subtract(cur).limit(1).count() == 0
        )
        # nxt is eagerly checkpointed and `same` computed — the
        # retired round's checkpoint blocks are dead; free them
        _free_blocks(cur)
        cur = nxt
        if same:
            break
    else:
        _free_blocks(cur)
        _free_blocks(vertices)
        raise RuntimeError(
            "connected_components did not converge in "
            f"{LARGE_STAR_MAX_ROUNDS} rounds (edge set still changing); "
            "O(log^2 n) rounds suffice for any graph, so hitting this "
            "cap indicates n far beyond design."
        )

    # the converged symmetric set holds each star edge both ways;
    # the (child → root) direction is the one pointing downward
    mapping = cur.filter(b < a).select(
        F.col("_u").alias("vertex"), F.col("_v").alias("component")
    )
    # materialized before its inputs' blocks are freed, so the caller
    # owns exactly one block set
    out = (
        vertices.join(mapping, "vertex", "left")
        .select("vertex", F.coalesce("component", "vertex").alias("component"))
        .localCheckpoint(eager=True)
    )
    _free_blocks(vertices)
    _free_blocks(cur)
    return out


def band_probe(
    arrivals: DataFrame,
    index: DataFrame,
    id_col: str,
    band_cols: Sequence[str],
    pair_cols: tuple[str, str],
) -> DataFrame:
    """Candidate pairs of an arrival batch against a band index — the
    probe every incremental and streaming near-dup path runs.

    ``arrivals`` and ``index`` are long-form band rows
    ``(id_col, *band_cols)``; ``index`` holds the arrivals too, so
    arrival × arrival pairs are found. Rows sharing a band bucket pair
    up, self-pairs drop, and each pair is normalized to
    ``(least, greatest)`` in ``pair_cols``; an arrival-arrival pair
    meets itself from both sides of the join, and the distinct keeps
    one row."""
    a, b = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    return (
        arrivals.alias("a")
        .join(index.alias("b"), list(band_cols))
        .filter(a != b)
        .select(
            F.least(a, b).alias(pair_cols[0]),
            F.greatest(a, b).alias(pair_cols[1]),
        )
        .distinct()
    )


def label_clusters(
    ids: DataFrame,
    edges: DataFrame,
    id_col: str,
    pair_cols: tuple[str, str],
) -> DataFrame:
    """Cluster label of every ``id_col`` row of ``ids``: the
    connected components of ``edges`` (``pair_cols``), label = min
    member id. An id incident to no edge is a singleton and keeps its
    own id. Columns: (``id_col``, ``cluster_id``)."""
    labels = connected_components(edges, *pair_cols)
    return ids.join(labels, ids[id_col] == labels["vertex"], "left").select(
        id_col,
        F.coalesce("component", id_col).alias("cluster_id"),
    )


def merge_clusters(
    stored: DataFrame,
    delta: DataFrame,
    ids: DataFrame,
    id_col: str,
    pair_cols: tuple[str, str] = ("src", "dst"),
) -> DataFrame:
    """Star-contraction incremental cluster merge — the one engine
    every dedup family's ``*_clusters_incremental`` maintenance
    shares.

    ``stored`` is the existing cluster table ``(id_col, cluster_id)``
    with cluster label = min member id (singletons map to themselves);
    ``delta`` carries the arrival batch's verified pair delta in
    ``pair_cols``; ``ids`` is the output universe (one ``id_col``
    row per entity, existing ∪ arrivals). The existing table
    contributes one star edge per non-root member (member → cluster
    root), the delta is the only new connectivity, and
    ``label_clusters`` resolves that contracted graph.

    Correctness (the argument every call site's oracle pins): the
    full pair set partitions into existing×existing pairs (contracted
    into the stars — contracting a subgraph's components preserves
    connectivity of the union) and pairs touching an arrival (the
    delta); delta edges reach non-root members through their star
    edge, and labels are vertex ids, so the min-id component label
    recovers the exact minimum member per merged cluster. Components over
    (stars ∪ delta) therefore equal the FULL rebuild's components.

    Scale shape: nothing about the existing corpus is re-hashed,
    re-banded, or re-clustered — resolution cost is
    |existing stars| + |delta| edges, and the delta side is
    arrival-proportional by construction at every call site. Callers
    add their own ``orderBy``."""
    stars = stored.filter(F.col(id_col) != F.col("cluster_id")).select(
        F.col(id_col).alias("src"), F.col("cluster_id").alias("dst")
    )
    edges = stars.unionByName(
        delta.select(
            F.col(pair_cols[0]).alias("src"),
            F.col(pair_cols[1]).alias("dst"),
        )
    )
    return label_clusters(ids, edges, id_col, ("src", "dst"))


def distributed_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    band: Column,
    rank_name: str = "rank",
) -> DataFrame:
    """Exact global 0-based rank by ``order_cols`` without a global
    sort: ``band`` must be a MONOTONE function of the leading order
    column (floor-division bucket of a numeric axis, leading hex of a
    hash key), so per-band row_number (partitioned, parallel) plus
    broadcast band-count offsets compose to the exact global rank —
    the two-level trick `corpus_shuffle` / `curriculum_phases` /
    `sequence_packing` share, factored out.

    The offsets window runs over one row PER BAND; pick the band so
    its cardinality is bounded by a data property independent of row
    count (hash-prefix alphabet, max document length / width). Adds
    ``rank_name`` to ``df``'s columns.
    """
    banded = df.withColumn("__band", band)
    w_local = Window.partitionBy("__band").orderBy(*order_cols)
    local = banded.withColumn("__local", F.row_number().over(w_local) - 1)
    counts = banded.groupBy("__band").agg(F.count(F.lit(1)).alias("__cnt"))
    w_b = bounded_global_window("__band").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "__band",
        F.coalesce(F.sum("__cnt").over(w_b), F.lit(0)).alias("__off"),
    )
    return (
        local.join(F.broadcast(offsets), "__band")
        .withColumn(rank_name, F.col("__off") + F.col("__local"))
        .drop("__band", "__local", "__off")
    )
