"""Named query registry — the driver contract behind __spark_entry__.py.

Each query is registered under a stable name together with (usually)
a DuckDB-runnable oracle SQL string. The driver runs the Spark
callable and the oracle side-by-side at sf0.01 and compares row count,
schema, and an order-insensitive value hash; column names therefore
must match exactly between the two forms.

Queries whose semantics are not SQL-expressible (streaming state,
iterative algorithms) register without an oracle and get a weaker
rows-only check.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# Import order only populates the registry; the driver's 50-query
# CORRECTNESS window is pinned EXPLICITLY in _WINDOW below (round-4
# advice: never derive the window from import-time availability).
_QUERY_MODULES = (
    "programmers_data_spark.queries.loads",  # 6
    "programmers_data_spark.queries.transforms",  # 7 (→13)
    "programmers_data_spark.queries.text_ops",  # 15 (→28)
    "programmers_data_spark.queries.dedup_ops",  # 7 (→35)
    "programmers_data_spark.queries.round3_ops",  # 11 (→46)
    "programmers_data_spark.queries.streaming_ops",  # 14 incl. the
    #   unconditionally-registered, call-time-gated tws query and its
    #   dependency-free applyInPandasWithState twin (→60)
    "programmers_data_spark.queries.summary",  # 5 (→65)
    "programmers_data_spark.queries.text_quality_ops",  # 8 (→73)
    "programmers_data_spark.queries.curation_ops",  # 10 (→83)
    "programmers_data_spark.queries.extras",  # 25 (→108)
    "programmers_data_spark.queries.similarity_ops",  # 11 (→119)
    "programmers_data_spark.queries.multimodal_ops",  # 6 (→125)
    "programmers_data_spark.queries.analytics",  # 19 (→144)
    "programmers_data_spark.queries.subqueries",  # 8 (→152)
    "programmers_data_spark.queries.accuracy_ops",  # 6 (→158)
    "programmers_data_spark.queries.sampling_ops",  # 11 (→169)
    "programmers_data_spark.queries.retrieval_ops",  # 12 (→181)
    "programmers_data_spark.queries.sketch_ops",  # 3 (→184)
    "programmers_data_spark.queries.timeseries_ops",  # 3 (→187)
    "programmers_data_spark.queries.tokenizer_ops",  # 4 (→191)
    "programmers_data_spark.queries.interchange_ops",  # 2 (→193)
    "programmers_data_spark.queries.quality_lm_ops",  # 3 (→196)
    "programmers_data_spark.queries.batching_ops",  # 2 (→198)
    "programmers_data_spark.queries.corpus_stats_ops",  # 3 (→201)
    "programmers_data_spark.queries.round10_ops",  # 9 (→210)
    "programmers_data_spark.queries.round11_ops",  # 16 (→226)
    "programmers_data_spark.queries.round12_ops",  # 10 (→236)
    "programmers_data_spark.queries.round13_ops",  # 10 (→246)
    "programmers_data_spark.queries.media_lifecycle_ops",  # 10 (→256)
    "programmers_data_spark.queries.round14_ops",  # 4 (→260)
    "programmers_data_spark.queries.round15_ops",  # 3 (→263)
    "programmers_data_spark.queries.round16_ops",  # 5 (→268)
    "programmers_data_spark.queries.round17_ops",  # 2 (→270)
)

# The round the current _WINDOW below is authored FOR. The rotation
# bookkeeping test (tests/test_round9.py::
# test_rotation_backlog_arithmetic) derives every expected count from
# the CORRECTNESS_r*.json records with round < WINDOW_ROUND — the
# record state the plan was authored against — so the driver dropping
# this round's (or any later) record file can never falsify the test
# (r9 VERDICT defect #1: the r9 version hand-pinned the as-of-builder
# state and self-expired the moment CORRECTNESS_r09.json landed).
WINDOW_ROUND = 19

# ROUND-20 ROTATION PLAN: group 1 (leads) is NEXT_WINDOW_LEADS below
# (EMPTY after r19), then round-20 NEW registrations
# (never-driver-checked outranks stale refreshes — the standing
# principle), then 2-3 round-19-green sentinels on whatever the r20
# diff touches, then the backlog: the REMAINING 23-name r14 tail (in
# registration order: nation_trade_volume through
# stream_video_neardup_ingest — derive from the records as always:
# names whose latest green round is 14), then the r15 tier in
# (vintage, registration-order) order to fill 50. Keep
# stream_tws_value_stats OUTSIDE the window (honestly gated:
# google.protobuf absent, installs disallowed — semantics
# driver-certified r6 via the applyInPandasWithState twin). Bump
# WINDOW_ROUND to 20 in the same commit that rewrites the groups —
# the bookkeeping test keys on it.

# Queries registered WITHOUT an oracle, by design (k-means float
# centroid training isn't summation-order-portable SQL, BPE merge
# iteration, HLL sketch internals). Each has a hash-checkable
# accuracy-contract twin that IS oracle-checked (ivf_recall_at5,
# pq_recall_at5, semantic_dedup_recall, bpe_contract,
# mau_approx_error). Round 8 removed ann_lsh_topk and
# embedding_neardup_lsh from this set: md5-derived integer plane
# weights + fixed-point components (similarity_ops._SIG_SCALE) made
# their signatures exactly reproducible in DuckDB — the same trick
# that upgraded dedup_simhash in r4. tests/test_round5.py derives the
# window's expected rows-only set from this list — keep it in sync
# with registration (test_registry_hygiene asserts equality).
ROWS_ONLY = frozenset({
    "bpe_encoded_counts", "bpe_merges",
    "dedup_semantic", "ivf_topk",
    "mau_approx", "pq_topk",
    # round 11: float EM posteriors / Viterbi under them aren't ANSI
    # SQL (k-means/BPE precedent); the E-step machinery is
    # hash-certified by unigram_em_contract, seeding by
    # unigram_seed_vocab.
    "unigram_lm_probs", "unigram_encoded_counts",
})

# The first 50 names get_queries() yields — i.e. the names the
# driver verifies this round (round WINDOW_ROUND = 14; r10 VERDICT
# ask #2). The window is the concatenation of four explicit groups
# so the bookkeeping test can check each group's defining property
# against the record instead of hand-kept counts.

# Group 1 — never-driver-checked registrations from earlier rounds:
# EMPTY for round 19 (NEXT_WINDOW_LEADS was empty after r18).
_WINDOW_LEADS: tuple[str, ...] = ()

# Group 2 — round-19 NEW registrations: NONE (the round moved the
# image/audio/video fingerprint tables onto the published media
# stores and registered no new query).
_WINDOW_NEW: tuple[str, ...] = ()

# Group 3 — r18-green sentinels sitting directly on the round-19
# diff: image_neardup_clusters re-certifies the shared band probe
# and cluster labeller over the published image store;
# image_resize_hash_invariance re-certifies the rewritten image hash
# frame; audio_fingerprint re-certifies the audio frame now read
# back from the published audio store.
_WINDOW_SENTINELS = (
    "image_neardup_clusters",
    "image_resize_hash_invariance",
    "audio_fingerprint",
)

# Group 4 — stale tiers oldest-first, in registration order: the
# COMPLETE 23-name r13 tail (latest green driver row r13 — the
# oldest vintage after r18 drained the r12 tier and the first 24
# r13 names; it also covers most of the round-19 media diff), then
# the first 24 of the 47-name r14 tier. The trimmed 23-name r14
# tail (nation_trade_volume onward) leads the r20 backlog per the
# ROUND-20 ROTATION PLAN above.
_WINDOW_STALE = (
    # r13 tail — drains the tier completely
    "returning_customers",
    "churned_customers",
    "ann_lsh_topk",
    "embedding_neardup_lsh",
    "contrastive_training_pairs",
    "multimodal_png_roundtrip",
    "ann_recall_at5",
    "lsh_neardup_recall",
    "split_neardup_leakage",
    "dsir_importance_proxy",
    "span_corruption_plan",
    "tokenizer_fertility_by_source",
    "crossmodal_dup_consistency",
    "image_neardup_incremental",
    "audio_neardup_clusters",
    "crossmodal_quadmodal_consistency",
    "audio_lsh_recall",
    "lang_confusion_matrix",
    "corpus_snapshot_diff",
    "video_framehash",
    "video_neardup_pairs",
    "video_neardup_clusters",
    "video_lsh_recall",
    # r14 tier, registration-order prefix (24 of 47)
    "cross_source_dup_matrix",
    "dup_span_mine",
    "cube_order_stats",
    "running_revenue",
    "asof_last_order",
    "value_histogram",
    "event_type_pivot",
    "value_percentiles",
    "post_purchase_clicks",
    "acctbal_quartiles",
    "grouping_sets_revenue",
    "event_type_unpivot",
    "salted_segment_revenue",
    "cohort_retention",
    "pricing_summary",
    "region_revenue",
    "top_customers",
    "order_priority",
    "top3_per_segment",
    "nation_customer_stats",
    "brand_revenue",
    "daily_revenue",
    "shipping_priority",
    "promo_revenue_share",
)

_WINDOW = _WINDOW_LEADS + _WINDOW_NEW + _WINDOW_SENTINELS + _WINDOW_STALE

# Never-driver-checked registrations that could not take a window
# slot without evicting protected stale names queue here, and the
# NEXT round's window MUST lead with them (the bookkeeping test
# asserts this tuple is EXACTLY the never-checked set outside the
# window). EMPTY after round 19: no oracled registration is waiting
# on a driver check (round 19 registered nothing).
NEXT_WINDOW_LEADS: tuple[str, ...] = ()


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` as queries()[name] (+ oracle SQL)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle.strip()
        return fn

    return deco


def load_all() -> None:
    """Import every query module so decorators populate the registry."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)


def _window_order(names: dict[str, object]) -> list[str]:
    """Pinned-window ordering: _WINDOW first, rest in registration
    order. Asserts the window is exactly 50 known, distinct names so
    a refactor can't silently shift the driver contract."""
    assert len(_WINDOW) == 50, f"window has {len(_WINDOW)} names, want 50"
    assert len(set(_WINDOW)) == 50, "duplicate names in _WINDOW"
    missing = [n for n in _WINDOW if n not in QUERIES]
    assert not missing, f"_WINDOW names not registered: {missing}"
    rest = [n for n in names if n not in set(_WINDOW)]
    return [n for n in _WINDOW if n in names] + rest


def get_queries() -> dict[str, QueryFn]:
    load_all()
    return {n: QUERIES[n] for n in _window_order(QUERIES)}


def get_oracle_sql() -> dict[str, str]:
    load_all()
    return {n: ORACLE[n] for n in _window_order(ORACLE)}
