"""Round-16 tests: ADVICE fixes (true control median, widened
union-find output type) and the EMBEDDING near-dup family lifecycle
(published stores, incremental pairs/clusters, streaming ingest)."""

from __future__ import annotations

import pytest


# ----------------------------------------------- r15 ADVICE fixes


def test_control_median_ratio_even_count_true_median():
    """r15 ADVICE #1: ratios[len//2] picked the UPPER-middle element
    for even counts, so a missing prior (renamed control, fresh repo)
    turned the 2-ratio case into max() — biasing toward a false
    polluted=true that voids the run's deltas by rule. The shared
    helper must compute the true median (mean of the two middle
    elements when the count is even) and be the ONE implementation
    both bench and the reprice scripts import."""
    from bench import control_median_ratio

    # odd count: the middle element
    assert control_median_ratio(
        {"a": 1.0, "b": 2.0, "c": 4.0}, {"a": 1.0, "b": 1.0, "c": 1.0}
    ) == 2.0
    # even count: mean of the two middle elements, NOT the upper one
    assert control_median_ratio(
        {"a": 1.0, "b": 2.0}, {"a": 1.0, "b": 1.0}
    ) == 1.5
    # a control without a prior drops out of the ratio set
    assert control_median_ratio(
        {"a": 1.0, "b": 9.0}, {"a": 1.0}
    ) == 1.0
    # no priors at all -> None (fresh repo)
    assert control_median_ratio({"a": 1.0}, {}) is None


def test_reprice_scripts_share_the_median_helper():
    """The duplicated median logic in scripts/ must be gone — every
    reprice script imports bench.control_median_ratio (the drift the
    advice warned about is only closed if there is one copy)."""
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for path in glob.glob(os.path.join(root, "scripts", "reprice_*.py")):
        src = open(path).read()
        if "control_ratio" not in src:
            continue  # script doesn't gate on controls
        assert "control_median_ratio" in src, path
        assert "ratios[len(ratios) // 2]" not in src, path


def test_driver_resolve_widens_heterogeneous_edge_types(spark):
    """r15 ADVICE #2: _resolve_driver_side typed both output columns
    from schema[0] (the src column); an (int src, long dst) edge
    frame must yield bigint vertex/component like the distributed
    paths' symmetric-union coercion, not error or truncate."""
    from pyspark.sql import functions as F

    from programmers_data_spark.operators import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src int, dst int"
    ).select(F.col("src"), F.col("dst").cast("long").alias("dst"))
    out = connected_components(edges, "src", "dst")
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint",
        "bigint",
    ]
    got = {(r.vertex, r.component) for r in out.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_driver_resolve_rejects_non_integral_mismatch(spark):
    from programmers_data_spark.operators import connected_components

    edges = spark.createDataFrame(
        [("a", 1)], "src string, dst int"
    )
    with pytest.raises(Exception, match="homogeneous"):
        connected_components(edges, "src", "dst")


_RESOLVE_CASES = {
    "int": (
        "SELECT CAST(a AS INT) src, CAST(b AS INT) dst"
        " FROM VALUES (3, 1), (1, 2), (7, 8), (9, 9), (5, 4) t(a, b)",
        "struct<vertex:int,component:int>",
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (7, 7), (8, 7), (9, 9)],
    ),
    "bigint": (
        "SELECT CAST(a AS BIGINT) src, CAST(b AS BIGINT) dst"
        " FROM VALUES (3000000000, 1), (1, 2), (7, 8), (9, 9) t(a, b)",
        "struct<vertex:bigint,component:bigint>",
        [(1, 1), (2, 1), (7, 7), (8, 7), (9, 9), (3000000000, 1)],
    ),
    "mixed": (
        "SELECT CAST(a AS INT) src, CAST(b AS BIGINT) dst"
        " FROM VALUES (3, 3000000000), (1, 2), (7, 8) t(a, b)",
        "struct<vertex:bigint,component:bigint>",
        [(1, 1), (2, 1), (3, 3), (7, 7), (8, 7), (3000000000, 3)],
    ),
    "string": (
        "SELECT a src, b dst"
        " FROM VALUES ('c', 'a'), ('a', 'b'), ('x', 'y'), ('z', 'z') t(a, b)",
        "struct<vertex:string,component:string>",
        [("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"), ("z", "z")],
    ),
    "empty": (
        "SELECT CAST(1 AS BIGINT) src, CAST(2 AS BIGINT) dst WHERE false",
        "struct<vertex:bigint,component:bigint>",
        [],
    ),
}


@pytest.mark.parametrize("case", sorted(_RESOLVE_CASES))
def test_driver_resolve_builds_its_result_through_arrow(spark, case):
    """The union-find result goes to the JVM as Arrow batches, with the
    same schema and rows as before; no PythonRDD (and so no Python
    worker) is behind it."""
    from programmers_data_spark.operators import _resolve_driver_side

    sql, schema, rows = _RESOLVE_CASES[case]
    out = _resolve_driver_side(spark.sql(sql))
    assert out.schema.simpleString() == schema
    assert [tuple(r) for r in out.orderBy("vertex").collect()] == rows
    lineage = out._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage


# ------------------------------------ embedding family lifecycle

import os  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from programmers_data_spark import registry  # noqa: E402
from programmers_data_spark.memo import clear_memo_caches  # noqa: E402
from programmers_data_spark.testing import compare_to_oracle  # noqa: E402
from tests.conftest import SF_ORACLE as SF_DIR  # noqa: E402

registry.load_all()

_NEW = (
    "embedding_neardup_incremental",
    "embedding_neardup_clusters_incremental",
    "stream_embedding_neardup_ingest",
    "embedding_threshold_sweep",
    "embedding_dup_rate_by_label",
)


def test_new_query_oracle_parity(spark):
    for name in _NEW:
        res = compare_to_oracle(
            name,
            registry.QUERIES[name](spark, SF_DIR),
            registry.ORACLE[name],
            SF_DIR,
        )
        assert res.ok, res


def test_incremental_union_untouched_equals_full(spark):
    """delta ∪ (published pairs with both endpoints existing) must
    equal the FULL batch rebuild (embedding_neardup_lsh) exactly —
    Spark-vs-Spark (the SQL oracle proves the same against DuckDB);
    the closed form behind the incremental oracle restriction."""
    from pyspark.sql import functions as F

    from programmers_data_spark.embedding_index import (
        EMB_ARRIVAL_RESIDUE,
        pair_store,
    )

    full = {
        (r.vec_a, r.vec_b)
        for r in registry.QUERIES["embedding_neardup_lsh"](
            spark, SF_DIR
        ).collect()
    }
    assert full, "full pair set empty on the oracle fixture"
    is_existing = lambda c: (F.col(c) % 10) != EMB_ARRIVAL_RESIDUE  # noqa: E731
    untouched = {
        (r.vec_a, r.vec_b)
        for r in pair_store(spark, SF_DIR)
        .filter(is_existing("vec_a") & is_existing("vec_b"))
        .collect()
    }
    delta = {
        (r.vec_a, r.vec_b)
        for r in registry.QUERIES["embedding_neardup_incremental"](
            spark, SF_DIR
        ).collect()
    }
    assert delta, "arrival delta empty — residue choice is vacuous"
    assert not (delta & untouched), "delta overlaps existing pairs"
    assert delta | untouched == full, len((delta | untouched) ^ full)


def test_incremental_clusters_equal_full_rebuild(spark):
    """Star-contraction merge over (published clusters ∪ arrival
    delta) reproduces components of the FULL near-dup graph —
    Spark-vs-Spark (the SQL oracle proves the same against DuckDB)."""
    from pyspark.sql import functions as F

    from programmers_data_spark.operators import connected_components
    from programmers_data_spark.queries.similarity_ops import (
        load_vectors,
    )

    pairs = registry.QUERIES["embedding_neardup_lsh"](spark, SF_DIR)
    labels = connected_components(pairs, "vec_a", "vec_b")
    ids = load_vectors(spark, SF_DIR).select("vec_id")
    full = {
        (r.vec_id, r.cluster_id)
        for r in ids.join(
            labels, ids["vec_id"] == labels["vertex"], "left"
        )
        .select(
            "vec_id",
            F.coalesce("component", "vec_id").alias("cluster_id"),
        )
        .collect()
    }
    incr = {
        (r.vec_id, r.cluster_id)
        for r in registry.QUERIES[
            "embedding_neardup_clusters_incremental"
        ](spark, SF_DIR).collect()
    }
    assert incr == full, len(incr ^ full)


def test_embedding_stream_ingest_equals_full_rebuild(spark):
    """The union of per-batch pair deltas equals the LSH batch
    operator's full pair set EXACTLY — Spark-vs-Spark; slices
    partition the corpus so each pair lands once, in its later
    member's batch."""
    full = {
        (r.vec_a, r.vec_b)
        for r in registry.QUERIES["embedding_neardup_lsh"](
            spark, SF_DIR
        ).collect()
    }
    streamed = {
        (r.vec_a, r.vec_b)
        for r in registry.QUERIES["stream_embedding_neardup_ingest"](
            spark, SF_DIR
        ).collect()
    }
    assert full, "full pair set empty on the oracle fixture"
    assert streamed == full, len(streamed ^ full)


def test_embedding_ingest_cleans_scratch(spark):
    """The replay scratch tree is removed once the snapshot
    localCheckpoints — the engine discipline, for the vector
    instantiation too."""
    import glob

    from programmers_data_spark.embedding_index import EMB_INGEST_ENV
    from programmers_data_spark.storeutil import store_base

    clear_memo_caches()
    base = store_base(EMB_INGEST_ENV, "spark_graft_embingest")
    scratch = os.path.join(base, "embingest_*")
    before = set(glob.glob(scratch))  # other processes' trees
    registry.QUERIES["stream_embedding_neardup_ingest"](
        spark, SF_DIR
    ).count()
    assert set(glob.glob(scratch)) <= before


def test_pair_store_publishes_once_and_rereads(spark, tmp_path, monkeypatch):
    """Second read comes from the published artifact (no recompute):
    the store dir holds exactly one generation after two cold calls
    from fresh memo state."""
    from programmers_data_spark import embedding_index as EI

    monkeypatch.setenv(EI.EMB_STORE_ENV, str(tmp_path))
    clear_memo_caches()
    first = {
        (r.vec_a, r.vec_b)
        for r in EI.pair_store(spark, SF_DIR).collect()
    }
    clear_memo_caches()
    second = {
        (r.vec_a, r.vec_b)
        for r in EI.pair_store(spark, SF_DIR).collect()
    }
    assert first == second and first
    gens = [
        d
        for d in os.listdir(
            os.path.join(
                str(tmp_path),
                os.listdir(str(tmp_path))[0],
                "emb_pairs",
            )
        )
        if d.startswith("gen-")
    ]
    assert len(gens) == 1, gens


def test_prefilter_never_drops_a_fold_accepted_pair(spark):
    """The guard-band contract behind verify_pairs: the numpy GEMM
    prefilter (threshold - 1e-6) must never reject a candidate the
    decisive fold cosine accepts — otherwise the prefilter would
    silently change results. Checked exhaustively on the oracle
    fixture: verify_pairs over ALL corpus pairs == the brute-force
    fold-threshold pair set."""
    from pyspark.sql import functions as F

    from programmers_data_spark.embedding_index import verify_pairs
    from programmers_data_spark.functions.vectors import cosine
    from programmers_data_spark.queries.similarity_ops import (
        NEARDUP_THRESHOLD,
        load_vectors,
    )

    emb = load_vectors(spark, SF_DIR)
    ids = emb.select("vec_id")
    allpairs = (
        ids.alias("a")
        .join(ids.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
    )
    got = {
        (r.vec_a, r.vec_b)
        for r in verify_pairs(allpairs, emb).collect()
    }
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"))
    want = {
        (r.vec_a, r.vec_b)
        for r in allpairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .filter(cosine("ea", "eb") >= F.lit(NEARDUP_THRESHOLD))
        .select("vec_a", "vec_b")
        .collect()
    }
    assert got == want, len(got ^ want)
    assert want, "fold-threshold pair set empty on the oracle fixture"


def test_embedding_stores_on_degenerate_fixture(
    spark, tmp_path, monkeypatch
):
    """Empty/zero-vector corpora must flow through every store and
    maintenance path without publishing empty tables or raising
    (ANSI div-by-zero, publish-empty rejection): zero vectors are
    defined OUT of the similarity corpus, so a fixture of only zero
    vectors behaves as an empty corpus end to end."""
    import pandas as pd

    from programmers_data_spark import embedding_index as EI
    from programmers_data_spark.queries import round16_ops

    fx = tmp_path / "fx"
    fx.mkdir()
    pd.DataFrame(
        {
            "vec_id": [0, 1, 2],
            "embedding": [[0.0] * 64] * 3,  # all zero-norm
            "label": [0, 1, 2],
        }
    ).to_parquet(fx / "embeddings.parquet", index=False)
    monkeypatch.setenv(EI.EMB_STORE_ENV, str(tmp_path / "store"))
    monkeypatch.setenv(EI.EMB_INGEST_ENV, str(tmp_path / "ing"))
    clear_memo_caches()
    sfd = str(fx)
    assert EI.sig_store(spark, sfd).count() == 0
    assert EI.pair_store(spark, sfd).count() == 0
    assert EI.cluster_store(spark, sfd).count() == 0
    from programmers_data_spark import registry as R

    assert R.QUERIES["embedding_neardup_incremental"](spark, sfd).count() == 0
    assert (
        R.QUERIES["embedding_neardup_clusters_incremental"](
            spark, sfd
        ).count()
        == 0
    )
    assert (
        R.QUERIES["stream_embedding_neardup_ingest"](spark, sfd).count()
        == 0
    )
    sweep = R.QUERIES["embedding_threshold_sweep"](spark, sfd).collect()
    assert [r.n_pairs for r in sweep] == [0] * len(
        round16_ops.EMB_SWEEP_BPS
    )
    assert R.QUERIES["embedding_dup_rate_by_label"](spark, sfd).count() == 0


def test_replay_ingest_engine_toy_family(spark, tmp_path, monkeypatch):
    """Engine-level contract for ingest.replay_ingest, independent of
    any dedup family: a toy family whose 'signature' is id % 4 (band)
    and whose verify accepts every normalized candidate must emit
    EXACTLY the same-band pairs — each found once, in its later
    member's batch — across the 3-slice replay. Exercises the slice
    protocol, the append-then-probe bucketed band table, the state
    accumulation, the final distinct + ordering, and scratch cleanup."""
    import glob
    import itertools

    from pyspark.sql import functions as F

    from programmers_data_spark.ingest import replay_ingest

    monkeypatch.setenv("SPARK_GRAFT_TOY_INGEST", str(tmp_path))
    n = 24
    docs = spark.range(n).select(F.col("id").alias("doc_id"))

    def verify(cand, index):
        # every candidate is a pair; tag with the shared band value
        ia = index.select(
            F.col("doc_id").alias("doc_a"), F.col("band").alias("band_a")
        )
        return (
            cand.join(ia, "doc_a")
            .select("doc_a", "doc_b", F.col("band_a").alias("band"))
        )

    out = replay_ingest(
        spark,
        docs,
        slice_col="doc_id",
        state_frame=lambda s, bdf: bdf.select(
            "doc_id", (F.col("doc_id") % 4).alias("band")
        ),
        index_select=lambda st: st,
        band_frame=lambda st: st.select("doc_id", "band"),
        verify=verify,
        id_col="doc_id",
        pair_cols=("doc_a", "doc_b"),
        band_cols=("band",),
        pair_schema="doc_a long, doc_b long, band long",
        store_env="SPARK_GRAFT_TOY_INGEST",
        scratch_prefix="toyingest_",
        table_prefix="toyingest_bands_",
        n_slices=3,
    )
    got = {(r.doc_a, r.doc_b, r.band) for r in out.collect()}
    want = {
        (a, b, a % 4)
        for a, b in itertools.combinations(range(n), 2)
        if a % 4 == b % 4
    }
    assert got == want, len(got ^ want)
    # scratch tree removed once the snapshot localCheckpoints
    assert glob.glob(os.path.join(str(tmp_path), "toyingest_*")) == []


def test_replay_ingest_empty_corpus(spark, tmp_path, monkeypatch):
    """An empty corpus short-circuits to the typed empty frame with
    no scratch tree."""
    from pyspark.sql import functions as F

    from programmers_data_spark.ingest import replay_ingest

    monkeypatch.setenv("SPARK_GRAFT_TOY_INGEST2", str(tmp_path))
    docs = spark.range(0).select(F.col("id").alias("doc_id"))
    out = replay_ingest(
        spark,
        docs,
        slice_col="doc_id",
        state_frame=lambda s, bdf: bdf.select(
            "doc_id", (F.col("doc_id") % 4).alias("band")
        ),
        index_select=lambda st: st,
        band_frame=lambda st: st.select("doc_id", "band"),
        verify=lambda cand, index: cand.select(
            "doc_a", "doc_b", F.lit(0).alias("band")
        ),
        id_col="doc_id",
        pair_cols=("doc_a", "doc_b"),
        band_cols=("band",),
        pair_schema="doc_a long, doc_b long, band long",
        store_env="SPARK_GRAFT_TOY_INGEST2",
        scratch_prefix="toyingest2_",
        table_prefix="toyingest2_bands_",
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_a", "doc_b", "band"]
    assert os.listdir(str(tmp_path)) == []
