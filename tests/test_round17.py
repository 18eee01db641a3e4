"""Round-17 tests: the shared star-contraction merge engine
(operators.merge_clusters — r16 VERDICT ask #5), the embedding
family's published-store read paths (embedding_cos_topk /
embedding_cluster_profile — ask #4), and the r16 ADVICE fixes."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from programmers_data_spark import registry  # noqa: E402
from programmers_data_spark.memo import clear_memo_caches  # noqa: E402
from programmers_data_spark.testing import compare_to_oracle  # noqa: E402
from tests.conftest import SF_ORACLE as SF_DIR  # noqa: E402

registry.load_all()

_NEW = (
    "embedding_cos_topk",
    "embedding_cluster_profile",
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


# ------------------------------------- shared merge-clusters engine


def test_merge_clusters_engine_toy(spark):
    """The one engine all five families share, on a toy family:
    stored clusters {1,2,3}→1 (4, 5 singletons implicit via the
    universe), delta edge (3, 5) merges 5 into cluster 1; 4 stays a
    singleton labelled by its own id; an untouched stored cluster
    {6,7}→6 survives via its star edge alone."""
    from pyspark.sql import functions as F  # noqa: F401

    from programmers_data_spark.operators import merge_clusters

    stored = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 6), (7, 6)],
        "doc_id long, cluster_id long",
    )
    delta = spark.createDataFrame([(3, 5)], "doc_a long, doc_b long")
    ids = spark.createDataFrame(
        [(i,) for i in range(1, 8)], "doc_id long"
    )
    out = merge_clusters(
        stored, delta, ids, "doc_id", pair_cols=("doc_a", "doc_b")
    )
    got = {(r.doc_id, r.cluster_id) for r in out.collect()}
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 4), (5, 1), (6, 6), (7, 6)
    }


def test_merge_clusters_empty_delta(spark):
    """No arrivals → the stored clustering is reproduced verbatim
    (stars reconnect every non-root member to its root; roots and
    singletons label themselves)."""
    from programmers_data_spark.operators import merge_clusters

    stored = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3)], "doc_id long, cluster_id long"
    )
    delta = spark.createDataFrame([], "doc_a long, doc_b long")
    ids = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    out = merge_clusters(
        stored, delta, ids, "doc_id", pair_cols=("doc_a", "doc_b")
    )
    got = {(r.doc_id, r.cluster_id) for r in out.collect()}
    assert got == {(1, 1), (2, 1), (3, 3)}


def test_merge_clusters_delta_bridges_two_stored_clusters(spark):
    """A delta edge between members of two DIFFERENT stored clusters
    must merge both into one component labelled by the global minimum
    — the case that distinguishes star contraction from naive
    label-keeping."""
    from programmers_data_spark.operators import merge_clusters

    stored = spark.createDataFrame(
        [(1, 1), (2, 1), (10, 10), (11, 10)],
        "doc_id long, cluster_id long",
    )
    delta = spark.createDataFrame([(2, 11)], "doc_a long, doc_b long")
    ids = spark.createDataFrame(
        [(1,), (2,), (10,), (11,)], "doc_id long"
    )
    out = merge_clusters(
        stored, delta, ids, "doc_id", pair_cols=("doc_a", "doc_b")
    )
    got = {(r.doc_id, r.cluster_id) for r in out.collect()}
    assert got == {(1, 1), (2, 1), (10, 1), (11, 1)}


def test_merge_is_the_one_code_path():
    """All three previously-duplicated star-contraction sites must go
    through operators.merge_clusters (the r16 replay_ingest
    precedent: one engine, family wrappers supply frames). The inline
    pattern (stars = stored.filter(...!= ...)) must be gone from the
    tier modules."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "programmers_data_spark")
    for rel in (
        "media_index.py",
        os.path.join("queries", "round15_ops.py"),
        os.path.join("queries", "round16_ops.py"),
    ):
        src = open(os.path.join(pkg, rel)).read()
        assert "merge_clusters" in src, rel
        assert "stars = " not in src, rel


# ----------------------------------------------- r16 ADVICE fixes


def test_pollution_threshold_single_sourced():
    """r16 ADVICE #1: the pollution gate's threshold must come from
    bench.CONTROL_POLLUTED_RATIO everywhere — no hardcoded 1.3 in
    the pricing scripts."""
    import glob

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for path in glob.glob(os.path.join(root, "scripts", "*price*.py")):
        src = open(path).read()
        if "polluted" not in src:
            continue
        assert "CONTROL_POLLUTED_RATIO" in src, path
        assert "> 1.3" not in src, path


def test_verify_names_separates_gated_from_bad():
    """r16 ADVICE #2: the sweep script must not count documented
    dependency gates (ImportError/ModuleNotFoundError at call time)
    into the nonzero-exit ``bad`` total."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = open(os.path.join(root, "scripts", "verify_names.py")).read()
    assert "except ImportError" in src
    # the gated branch must not feed the exit-code counter
    gated_branch = src.split("except ImportError", 1)[1].split("except", 1)[0]
    assert "bad += 1" not in gated_branch
    assert "gated += 1" in gated_branch


# --------------------------------------- store-read serving discipline


def test_cos_topk_reads_the_published_store():
    """embedding_cos_topk exists to close the serving-read asymmetry:
    it must probe embedding_index.sig_store and must NOT run the
    signature kernel itself (ann_lsh_topk keeps the per-run
    derivation deliberately — it certifies the kernel end-to-end)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = open(
        os.path.join(
            root, "programmers_data_spark", "queries", "round17_ops.py"
        )
    ).read()
    assert "sig_store" in src
    assert "mapInPandas" not in src
    assert "_signature_kernel" not in src.split("def embedding_cos_topk")[1]


# ------------------------------------- published text cluster store


def test_text_cluster_store_publishes_once_and_rereads(
    spark, tmp_path, monkeypatch
):
    """Round 17 completes the text tier's store symmetry: the
    existing-corpus clustering is a published artifact (previously
    re-resolved inline per run). Second read must come from the
    artifact — exactly one generation after two cold calls from
    fresh memo state — and reproduce the same assignments."""
    from programmers_data_spark.queries import dedup_ops, round15_ops

    monkeypatch.setenv(dedup_ops.PAIR_STORE_ENV, str(tmp_path))
    first = {
        (r.doc_id, r.cluster_id)
        for r in round15_ops.text_cluster_store(spark, SF_DIR).collect()
    }
    clear_memo_caches()
    second = {
        (r.doc_id, r.cluster_id)
        for r in round15_ops.text_cluster_store(spark, SF_DIR).collect()
    }
    assert first == second and first
    from programmers_data_spark.queries.curation_ops import (
        _NEW_BATCH_RESIDUE,
    )

    fp_dir = os.path.join(str(tmp_path), os.listdir(str(tmp_path))[0])
    leaf = f"text_clusters_r{_NEW_BATCH_RESIDUE}"
    gens = [
        d
        for d in os.listdir(os.path.join(fp_dir, leaf))
        if d.startswith("gen-")
    ]
    assert len(gens) == 1, gens
    # no arrival-batch doc may appear in the EXISTING-corpus store
    assert all(d % 10 != _NEW_BATCH_RESIDUE for d, _ in first)


# --------------------------- r17-opt single-pass mining plan shapes


def _formatted_plan(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_frequent_pair_mining_scans_fact_table_once(spark):
    """r17 opt §8: the co-purchase mining computes support as a
    window over the distinct (order, part) rows and persists the
    supported table BEFORE the pair self-join — so the whole plan
    (both self-join sides, both consumers) holds exactly ONE
    lineitem scan. The groupBy+join-back form it replaced evaluated
    the scan→distinct→support pipeline once per join side (4 scans,
    plan-string verified in plans/r17/copurchase_pairs_before.txt)."""
    clear_memo_caches()
    spark.catalog.clearCache()
    plan = _formatted_plan(
        registry.QUERIES["copurchase_pairs"](spark, SF_DIR)
    )
    assert plan.count("lineitem.parquet]") == 1, plan[:2000]


def test_one_pass_anchor_queries_scan_fact_table_once(spark):
    """r17 opt: global-anchor denominators derive from the sibling
    aggregate (max-of-maxes / sum-of-cells) instead of re-scanning
    the fact table — rfm_segments (orders), ingest_freshness
    (events), cross_source_dup_matrix (documents via the pair read's
    two dimension joins, evaluated once)."""
    clear_memo_caches()
    spark.catalog.clearCache()
    assert _formatted_plan(
        registry.QUERIES["rfm_segments"](spark, SF_DIR)
    ).count("orders.parquet]") == 1
    assert _formatted_plan(
        registry.QUERIES["ingest_freshness"](spark, SF_DIR)
    ).count("events.parquet]") == 1


def test_single_pass_quantile_and_index_plans(spark):
    """r17 opt §10: quantile stages ride windows (MAD pair) and the
    positional/sketch queries persist their multiply-consumed
    bounded frames — each query's plan scans its fact table the
    minimal number of times (was 4 each, plan-string verified in the
    committed before-plans)."""
    spark.catalog.clearCache()
    for name, table, n in (
        ("mad_outliers", "events.parquet]", 1),
        ("volume_anomaly_days", "events.parquet]", 1),
        ("segment_overlap_sketch", "events.parquet]", 1),
        ("phrase_match_positional", "documents.parquet]", 2),
    ):
        plan = _formatted_plan(registry.QUERIES[name](spark, SF_DIR))
        assert plan.count(table) == n, (name, plan.count(table))
