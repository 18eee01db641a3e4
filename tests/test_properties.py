"""Property-based tests (hypothesis) for the load-strategy algebra.

The publish layer's correctness claims are algebraic — idempotence,
convergence, key uniqueness — and hold for ANY input, not just the
fixtures; hypothesis generates the adversarial cases (dup keys, ties,
empty deltas) that example-based tests miss.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from programmers_data_spark.publish import distinct_union, keep_latest, upsert

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),  # key
        st.integers(min_value=0, max_value=5),  # ts
        st.text(alphabet="abc", max_size=2),  # payload
    ),
    max_size=25,
)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, rows):
    return spark.createDataFrame(
        rows or [(0, 0, "")], "key int, ts int, payload string"
    ).limit(len(rows))


@pytest.mark.usefixtures("spark")
class TestLoadStrategyProperties:
    @given(rows=ROWS)
    @_SETTINGS
    def test_keep_latest_unique_and_maximal(self, spark, rows):
        """keep_latest emits exactly one row per key, carrying the max ts."""
        df = _df(spark, rows)
        out = keep_latest(df, ["key"], "ts", tie_break="payload").collect()
        keys = [r.key for r in out]
        assert len(keys) == len(set(keys))
        by_key_max = {}
        for k, ts, _ in rows:
            by_key_max[k] = max(by_key_max.get(k, ts), ts)
        for r in out:
            assert r.ts == by_key_max[r.key]

    @given(rows=ROWS)
    @_SETTINGS
    def test_distinct_union_idempotent(self, spark, rows):
        """old ∪ old distinct == old distinct (K5 re-run safety)."""
        df = _df(spark, rows)
        once = {tuple(r) for r in distinct_union(df, df).collect()}
        assert once == {tuple(r) for r in df.distinct().collect()}

    @given(rows=ROWS, delta=ROWS)
    @_SETTINGS
    def test_upsert_source_wins_and_keys_unique(self, spark, rows, delta):
        """After upsert: every source key's rows come from source only;
        target rows without a delta key survive untouched."""
        target = keep_latest(_df(spark, rows), ["key"], "ts", tie_break="payload")
        source = keep_latest(_df(spark, delta), ["key"], "ts", tie_break="payload")
        out = upsert(target, source, ["key"]).collect()
        keys = [r.key for r in out]
        assert len(keys) == len(set(keys))
        src = {r.key: (r.ts, r.payload) for r in source.collect()}
        tgt = {r.key: (r.ts, r.payload) for r in target.collect()}
        for r in out:
            expected = src.get(r.key, tgt.get(r.key))
            assert (r.ts, r.payload) == expected


EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=14),
        st.integers(min_value=0, max_value=14),
    ),
    min_size=1,
    max_size=20,
)


@pytest.mark.parametrize("path", ["distributed", "driver"])
@given(edges=EDGES)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_connected_components_matches_union_find(
    spark, monkeypatch, path, edges
):
    """Both CC paths (large-star/small-star and the bounded
    driver-side union-find escape) must agree with a serial
    union-find on any random graph (self-loops, multi-edges, chains,
    stars included). A cutoff of 0 forces the distributed path; the
    'driver' case keeps the default cutoff (every hypothesis graph is
    under it)."""
    from programmers_data_spark import operators

    if path == "distributed":
        monkeypatch.setattr(operators, "DRIVER_RESOLVE_MAX_EDGES", 0)

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {v: find(v) for v in parent}
    # canonicalize: component id = min vertex of the component
    comp_min: dict[int, int] = {}
    for v, r in expected.items():
        comp_min[r] = min(comp_min.get(r, v), v)
    expected = {v: comp_min[find(v)] for v in parent}

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["vertex"], r["component"])
        for r in operators.connected_components(df).collect()
    }
    assert got == set(expected.items())


# (doc_id, band) memberships: small band alphabet forces hot buckets,
# duplicate memberships exercise the dropDuplicates path
BANDINGS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),  # doc_id
        st.integers(min_value=0, max_value=1),  # band_idx
        st.sampled_from(["x", "y", "z"]),  # band hash
    ),
    min_size=1,
    max_size=40,
)


@given(rows=BANDINGS, hot_threshold=st.sampled_from([0, 2, 100]))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_salted_band_pairs_equals_naive_join(spark, rows, hot_threshold):
    """salted_band_pairs is a plan-level rewrite: for ANY banding table
    and ANY hot threshold (0 = everything salted, 100 = nothing) the
    pair set equals the naive bucket self-join's."""
    from pyspark.sql import functions as F

    from programmers_data_spark.operators import salted_band_pairs

    banded = spark.createDataFrame(
        rows, "doc_id long, band_idx int, band string"
    )
    a = banded.select(F.col("doc_id").alias("doc_a"), "band_idx", "band")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band_idx", "band")
    naive = {
        (r.doc_a, r.doc_b)
        for r in a.join(b, ["band_idx", "band"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .collect()
    }
    got = {
        (r.doc_a, r.doc_b)
        for r in salted_band_pairs(
            banded, hot_threshold=hot_threshold, n_salts=4
        ).collect()
    }
    assert got == naive


@given(
    lengths=st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=40),
    seq_len=st.sampled_from([16, 128]),
    shard=st.sampled_from([4, 64]),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_two_level_prefix_packing_matches_serial(spark, lengths, seq_len, shard):
    """The distributed two-level prefix sum behind sequence_packing
    must equal the serial concat-and-split for ANY token lengths and
    shard size (zero-length docs, shard boundaries, bins larger than
    any shard included)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    docs = spark.createDataFrame(
        [(i, n) for i, n in enumerate(lengths)], "doc_id long, n_tokens long"
    ).withColumn("shard", F.expr(f"doc_id div {shard}"))
    w_local = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = docs.withColumn(
        "local_before", F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    )
    totals = docs.groupBy("shard").agg(F.sum("n_tokens").alias("t"))
    w_s = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "shard", F.coalesce(F.sum("t").over(w_s), F.lit(0)).alias("off")
    )
    got = {
        r.doc_id: (r.bin_id, r.bin_offset)
        for r in local.join(F.broadcast(offs), "shard")
        .select(
            "doc_id",
            F.expr(f"(off + local_before) div {seq_len}").alias("bin_id"),
            ((F.col("off") + F.col("local_before")) % seq_len).alias("bin_offset"),
        )
        .collect()
    }
    cum = 0
    for i, n in enumerate(lengths):
        assert got[i] == (cum // seq_len, cum % seq_len), (i, n, got[i])
        cum += n


@given(ids=st.sets(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_distributed_hash_rank_matches_serial(spark, ids):
    """corpus_shuffle's bucketed rank (per-bucket row_number + count
    prefix) equals the serial sort by (md5 key, id) for ANY id set —
    the hex-prefix bucket order must compose with in-bucket order."""
    import hashlib

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = spark.createDataFrame([(i,) for i in sorted(ids)], "doc_id long")
    k = F.md5(F.concat(F.lit("42|"), F.col("doc_id").cast("string")))
    d = df.select("doc_id", k.alias("k")).withColumn(
        "bucket", F.substring("k", 1, 2)
    )
    w_local = Window.partitionBy("bucket").orderBy("k", "doc_id")
    local = d.withColumn("local_pos", F.row_number().over(w_local) - 1)
    counts = d.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "bucket", F.coalesce(F.sum("cnt").over(w_b), F.lit(0)).alias("off")
    )
    got = {
        r.doc_id: r.pos
        for r in local.join(F.broadcast(offs), "bucket")
        .select("doc_id", (F.col("off") + F.col("local_pos")).alias("pos"))
        .collect()
    }
    serial = sorted(
        ids, key=lambda i: (hashlib.md5(f"42|{i}".encode()).hexdigest(), i)
    )
    assert got == {i: p for p, i in enumerate(serial)}


# ------------------------------------------------- count-min sketch

TOKEN_DOCS = st.lists(
    st.lists(st.text(alphabet="abxyz", min_size=1, max_size=3), max_size=8),
    min_size=1,
    max_size=12,
)


@given(docs=TOKEN_DOCS)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cms_grid_matches_python_replica(spark, docs):
    """The Spark-built CMS grid equals a from-scratch Python replica
    for ANY token multiset — md5 cell positions and integer counters
    are engine-independent, which is the whole portability claim
    behind cms_heavy_hitters' oracle and the streaming rollup."""
    import hashlib
    from collections import Counter

    from pyspark.sql import functions as F

    from programmers_data_spark.queries.sketch_ops import (
        CMS_DEPTH,
        CMS_WIDTH,
        _cms_pos,
    )

    texts = [" ".join(toks) for toks in docs]
    counts = Counter(t for toks in docs for t in toks)
    expect: dict = {}
    for term, c in counts.items():
        for s in range(CMS_DEPTH):
            pos = (
                int(
                    hashlib.md5((str(s) + term).encode()).hexdigest()[:8], 16
                )
                % CMS_WIDTH
            )
            expect[(s, pos)] = expect.get((s, pos), 0) + c

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    from programmers_data_spark.functions import textfn

    grid = (
        df.select(F.explode(textfn.tokenize("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "c",
            F.posexplode(
                F.array(*[_cms_pos(F.col("term"), s) for s in range(CMS_DEPTH)])
            ).alias("row", "pos"),
        )
        .groupBy("row", "pos")
        .agg(F.sum("c").alias("cell"))
    )
    got = {(r.row, r.pos): r.cell for r in grid.collect()}
    assert got == expect


RANK_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=500),   # metric
        st.integers(min_value=0, max_value=10_000),  # id
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda t: t[1],
)


@given(rows=RANK_ROWS)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_distributed_rank_equals_global_row_number(spark, rows):
    """The two-level banded rank must equal the serial global
    (metric, id) rank for any data — including empty bands, all rows
    in one band, ties on the metric, and single-row inputs."""
    from pyspark.sql import functions as F

    from programmers_data_spark.operators import distributed_rank

    df = spark.createDataFrame(rows, "metric long, id long")
    got = {
        (r.id, r.rank)
        for r in distributed_rank(
            df, ["metric", "id"], F.expr("metric div 64")
        ).collect()
    }
    expected = {
        (i, pos)
        for pos, (m, i) in enumerate(sorted(rows))
    }
    assert got == expected


ASOF_LEFT = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # key
        st.integers(min_value=0, max_value=20),   # left ts (seconds)
    ),
    min_size=1,
    max_size=15,
)
ASOF_RIGHT = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),
        st.integers(min_value=0, max_value=20),
    ),
    min_size=0,
    max_size=15,
    unique=True,  # unique (key, ts): payload at a match is unambiguous
)


@given(left=ASOF_LEFT, right=ASOF_RIGHT)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_as_of_join_matches_serial_lookup(spark, left, right):
    """as_of_join == per-row greatest right_ts <= left_ts within the
    key (INCLUSIVE at equal timestamps), null when no right row
    qualifies — for any key/timestamp pattern including exact ties
    and keys missing on either side."""
    import datetime as dt

    from programmers_data_spark.operators import as_of_join

    epoch = dt.datetime(2024, 1, 1)
    ldf = spark.createDataFrame(
        [(k, epoch + dt.timedelta(seconds=s), i) for i, (k, s) in enumerate(left)],
        "key long, lts timestamp, row_id long",
    )
    rdf = spark.createDataFrame(
        [(k, epoch + dt.timedelta(seconds=s), f"p{k}_{s}") for k, s in right],
        "key long, rts timestamp, payload string",
    )
    out = {
        r.row_id: (r.asof_rts, r.asof_payload)
        for r in as_of_join(
            ldf, rdf, on="key", left_ts="lts", right_ts="rts",
            right_cols=["payload"],
        ).collect()
    }
    for i, (k, s) in enumerate(left):
        cands = [(rs, f"p{rk}_{rs}") for rk, rs in right if rk == k and rs <= s]
        got_ts, got_payload = out[i]
        if not cands:
            assert got_ts is None and got_payload is None, (i, out[i])
        else:
            exp_s, exp_p = max(cands)
            assert got_ts == epoch + dt.timedelta(seconds=exp_s)
            assert got_payload == exp_p


RANGE_POINTS = st.lists(
    st.integers(min_value=-50, max_value=50), min_size=1, max_size=20
)
RANGE_INTERVALS = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=50),
        st.integers(min_value=0, max_value=30),  # length (0 = empty)
    ),
    min_size=0,
    max_size=12,
)


@given(points=RANGE_POINTS, intervals=RANGE_INTERVALS)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_range_join_matches_naive_on_adversarial_axes(
    spark, points, intervals
):
    """Binned range join == naive inequality join for any axis
    pattern: negative coordinates (floor-division banding must not
    break), zero-length intervals (match nothing), and points landing
    exactly on interval and bucket boundaries (half-open [lo, hi))."""
    from programmers_data_spark.operators import range_join

    ldf = spark.createDataFrame(
        [(i, float(p)) for i, p in enumerate(points)], "pid long, x double"
    )
    rdf = spark.createDataFrame(
        [(j, float(s), float(s + ln)) for j, (s, ln) in enumerate(intervals)],
        "iid long, lo double, hi double",
    )
    got = {
        (r.pid, r.iid)
        for r in range_join(ldf, rdf, "x", "lo", "hi", bucket_width=7.0).collect()
    }
    expected = {
        (i, j)
        for i, p in enumerate(points)
        for j, (s, ln) in enumerate(intervals)
        if s <= p < s + ln
    }
    assert got == expected
