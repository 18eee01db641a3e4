"""Round-15: the audio/video incremental cluster-maintenance legs
(media_index.incremental_clusters instantiated for every modality)
and the text tier's serving read path (text_jaccard_topk)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from programmers_data_spark import registry  # noqa: E402
from programmers_data_spark.testing import compare_to_oracle  # noqa: E402
from tests.conftest import SF_ORACLE as SF_DIR  # noqa: E402

registry.load_all()

_NEW = (
    "audio_neardup_clusters_incremental",
    "video_neardup_clusters_incremental",
    "text_jaccard_topk",
    "stream_text_neardup_ingest",
    "text_neardup_clusters_incremental",
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


def test_incremental_clusters_equal_full_rebuild(spark):
    """The engine's star-contraction merge must reproduce the full
    re-cluster for BOTH new modalities — Spark-vs-Spark (the SQL
    oracle proves the same thing against DuckDB; this pins the two
    registered Spark paths to each other)."""
    for full, incr in (
        ("audio_neardup_clusters", "audio_neardup_clusters_incremental"),
        ("video_neardup_clusters", "video_neardup_clusters_incremental"),
    ):
        a = {
            (r.media_id, r.cluster_id)
            for r in registry.QUERIES[full](spark, SF_DIR).collect()
        }
        b = {
            (r.media_id, r.cluster_id)
            for r in registry.QUERIES[incr](spark, SF_DIR).collect()
        }
        assert a == b, (full, incr, len(a ^ b))


def test_text_stream_ingest_equals_full_rebuild(spark):
    """The union of per-batch pair deltas equals dedup_minhash's full
    pair set EXACTLY — Spark-vs-Spark (the oracle proves the same
    against DuckDB); slices partition the corpus so each pair lands
    once, in its later member's batch."""
    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in registry.QUERIES["dedup_minhash"](spark, SF_DIR).collect()
    }
    streamed = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in registry.QUERIES["stream_text_neardup_ingest"](
            spark, SF_DIR
        ).collect()
    }
    assert full, "full pair set empty on the oracle fixture"
    assert streamed == full, len(streamed ^ full)


def test_text_incremental_clusters_equal_full_rebuild(spark):
    """Star-contraction merge over (existing clusters ∪ arrival pair
    delta) reproduces components of the FULL near-dup graph —
    Spark-vs-Spark (the SQL oracle proves the same against DuckDB)."""
    from programmers_data_spark.operators import connected_components
    from programmers_data_spark.queries.dedup_ops import (
        _augmented_docs,
    )
    from pyspark.sql import functions as F

    pairs = registry.QUERIES["dedup_minhash"](spark, SF_DIR)
    labels = connected_components(pairs, "doc_a", "doc_b")
    ids = _augmented_docs(spark, SF_DIR).select("doc_id")
    full = {
        (r.doc_id, r.cluster_id)
        for r in ids.join(
            labels, ids["doc_id"] == labels["vertex"], "left"
        )
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
        .collect()
    }
    incr = {
        (r.doc_id, r.cluster_id)
        for r in registry.QUERIES["text_neardup_clusters_incremental"](
            spark, SF_DIR
        ).collect()
    }
    assert incr == full, len(incr ^ full)


def test_text_topk_rank_contract(spark):
    """Per-query ranks are contiguous from 1, capped at TEXT_TOPK,
    ordered by (rounded jaccard DESC, neighbor ASC), and never
    self-referential."""
    from programmers_data_spark.queries.round15_ops import TEXT_TOPK

    rows = registry.QUERIES["text_jaccard_topk"](spark, SF_DIR).collect()
    assert rows, "serving output empty on the oracle fixture"
    by_q: dict = {}
    for r in rows:
        assert r.query_id != r.neighbor_id
        by_q.setdefault(r.query_id, []).append(r)
    for q, group in by_q.items():
        group.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in group] == list(range(1, len(group) + 1))
        assert len(group) <= TEXT_TOPK
        keys = [(-r.jaccard, r.neighbor_id) for r in group]
        assert keys == sorted(keys), (q, group)


def test_text_topk_dominates_verified_pairs(spark):
    """Top-K completeness against the maintenance path: every
    verified near-dup pair (jaccard >= threshold, from the published
    pair store) either appears in its endpoints' rankings or is
    dominated there — each endpoint's K-th neighbor has jaccard >=
    the pair's. A banded candidate the serving path silently dropped
    would break this."""
    from programmers_data_spark.queries.dedup_ops import (
        verified_pair_store,
    )
    from programmers_data_spark.queries.round15_ops import TEXT_TOPK

    topk = registry.QUERIES["text_jaccard_topk"](spark, SF_DIR).collect()
    ranked: dict = {}
    for r in topk:
        ranked.setdefault(r.query_id, {})[r.neighbor_id] = r.jaccard
    pairs = verified_pair_store(spark, SF_DIR).collect()
    assert pairs, "pair store empty on the oracle fixture"
    for p in pairs:
        for q, n in ((p.doc_a, p.doc_b), (p.doc_b, p.doc_a)):
            neigh = ranked.get(q, {})
            if n in neigh:
                assert neigh[n] == p.jaccard, (q, n)
                continue
            assert len(neigh) == TEXT_TOPK and min(neigh.values()) >= p.jaccard, (
                q, n, p.jaccard, neigh
            )
