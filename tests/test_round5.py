"""Round-5 additions: pinned driver window, accuracy-contract
queries, bounded-window warning hygiene, two-phase connected
components, and publish crash safety."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from programmers_data_spark import registry
from programmers_data_spark.catalog import load_table

registry.load_all()


# ------------------------------------------------------ pinned window


def test_window_is_pinned_and_first():
    """The driver checks the first 50 entries of queries(); the
    pinned _WINDOW must be exactly what it sees, independent of
    module import order or environment probes."""
    qs = registry.get_queries()
    assert list(qs)[:50] == list(registry._WINDOW)
    os_ = registry.get_oracle_sql()
    oracle_window = [n for n in registry._WINDOW if n in os_]
    assert list(os_)[: len(oracle_window)] == oracle_window
    # every window query except the documented rows-only set has an
    # oracle — derived from registry.ROWS_ONLY so rotations can't
    # re-break this assertion (VERDICT r6 ask #1b)
    no_oracle = [n for n in registry._WINDOW if n not in os_]
    assert no_oracle == [
        n for n in registry._WINDOW if n in registry.ROWS_ONLY
    ]


def test_rows_only_list_matches_registration():
    """registry.ROWS_ONLY is the single documented source of truth
    for oracle-less queries; drift between it and actual
    registration would silently weaken the window assertion."""
    actual = {n for n in registry.QUERIES if n not in registry.ORACLE}
    assert actual == set(registry.ROWS_ONLY)


# ------------------------------------------------- accuracy contracts


def test_mau_approx_error_all_within_bound(spark, sf_oracle):
    rows = registry.QUERIES["mau_approx_error"](spark, sf_oracle).collect()
    assert rows, "no months"
    assert all(r.within_bound for r in rows), [
        r.month for r in rows if not r.within_bound
    ]


def test_mau_approx_error_catches_broken_sketch(spark, sf_oracle):
    """The bound must actually bite: a sketch off by 2x is ~20 sigma
    out, so a fabricated exact-side that halves the truth must flip
    within_bound for essentially every month."""
    from programmers_data_spark.queries.accuracy_ops import HLL_ERROR_BOUND

    orders = load_table(spark, sf_oracle, "orders")
    monthly = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"), "o_custkey"
    )
    both = monthly.groupBy("month").agg(
        (F.countDistinct("o_custkey") * 2).alias("broken_exact"),
        F.approx_count_distinct("o_custkey", 0.05).alias("approx"),
    )
    flags = both.select(
        (
            F.abs(F.col("approx") - F.col("broken_exact"))
            / F.col("broken_exact")
            <= F.lit(HLL_ERROR_BOUND)
        ).alias("ok")
    ).collect()
    assert not any(r.ok for r in flags)


def test_ann_recall_contract(spark, sf_oracle):
    rows = registry.QUERIES["ann_recall_at5"](spark, sf_oracle).collect()
    assert len(rows) == 1
    from programmers_data_spark.queries.similarity_ops import N_QUERIES

    assert rows[0].n_queries == N_QUERIES
    assert rows[0].mean_meets_floor is True


def test_ivf_recall_contract(spark, sf_oracle):
    rows = registry.QUERIES["ivf_recall_at5"](spark, sf_oracle).collect()
    assert len(rows) == 1
    from programmers_data_spark.queries.similarity_ops import N_QUERIES

    assert rows[0].n_queries == N_QUERIES
    assert rows[0].mean_meets_floor is True


def test_lsh_neardup_recall_contract(spark, sf_oracle):
    rows = registry.QUERIES["lsh_neardup_recall"](spark, sf_oracle).collect()
    assert len(rows) == 1
    assert rows[0].n_exact_pairs > 0, "fixture produced no exact pairs"
    assert rows[0].recall_meets_floor is True


def test_quantile_sketch_contract(spark, sf_oracle):
    rows = registry.QUERIES["quantile_sketch_error"](
        spark, sf_oracle
    ).collect()
    assert rows, "no event types"
    assert all(r.within_rank_bound for r in rows), [
        r.event_type for r in rows if not r.within_rank_bound
    ]


def test_quantile_sketch_contract_degenerate_values_stay_legal(
    spark, tmp_path
):
    """An all-identical value column makes value-space error
    unbounded but rank-space error zero — the contract must judge in
    rank space and pass (the GK guarantee itself, not a fixture
    accident)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "event_type": ["x"] * 100,
            "value": [7.0] * 100,
        }
    )
    pdf.to_parquet(str(tmp_path / "events.parquet"))
    rows = registry.QUERIES["quantile_sketch_error"](
        spark, str(tmp_path)
    ).collect()
    assert len(rows) == 1
    assert rows[0].n_events == 100
    assert rows[0].within_rank_bound is True


def test_quantile_sketch_contract_catches_wrong_quantile(spark, sf_oracle):
    """The bound must bite: scoring the p05 answer as if it were p95
    is rank-distance ~0.9 and must flip the verdict."""
    from programmers_data_spark.queries.accuracy_ops import (
        QUANTILE_RANK_BOUND,
    )

    events = load_table(spark, sf_oracle, "events").select(
        "event_type", "value"
    )
    wrong = events.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.05D, 100)").alias("v")
    )
    checked = (
        events.join(F.broadcast(wrong), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("value") <= F.col("v"), 1).otherwise(0)
            ).alias("le"),
        )
        .select(
            (
                F.col("le") / F.col("n").cast("double")
                >= F.lit(0.95 - QUANTILE_RANK_BOUND)
            ).alias("ok")
        )
        .collect()
    )
    assert not any(r.ok for r in checked)


def test_lsh_neardup_recall_empty_exact_set_is_vacuous(spark, tmp_path):
    """A regenerated fixture can legally contain no near-dup pairs;
    the contract must then report (0, TRUE) on both sides instead of
    a NULL verdict hash-breaking against the oracle's constant."""
    import numpy as np
    import pandas as pd

    # 4 orthogonal one-hot vectors: all pairwise cosines 0
    vecs = np.eye(4, 64).tolist()
    pdf = pd.DataFrame(
        {
            "vec_id": [0, 1, 2, 3],
            "embedding": [[float(v) for v in row] for row in vecs],
            "label": ["a", "b", "a", "b"],
        }
    )
    path = str(tmp_path / "embeddings.parquet")
    pdf.to_parquet(path)
    rows = registry.QUERIES["lsh_neardup_recall"](
        spark, str(tmp_path)
    ).collect()
    assert rows[0].n_exact_pairs == 0
    assert rows[0].recall_meets_floor is True


# ------------------------------------- bounded-window warning hygiene


def test_bounded_windows_keep_partition_spec(spark, sf_oracle):
    """operators.bounded_global_window keys provably-tiny windows by a
    constant so WindowExec's 'No Partition Defined' warning stays
    reserved for real scale mistakes. That requires the
    EliminateWindowPartitions exclusion the catalog pins — guard both
    the conf and the surviving partition spec in the optimized plan."""
    load_table(spark, sf_oracle, "orders")  # pins session confs
    excluded = spark.conf.get("spark.sql.optimizer.excludedRules", "")
    assert "EliminateWindowPartitions" in (excluded or "")
    for name in ("sequence_packing", "corpus_shuffle", "running_revenue"):
        df = registry.QUERIES[name](spark, sf_oracle)
        optimized = (
            df._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "windowspecdefinition(0," in optimized, (
            f"{name}: constant partition key folded away\n{optimized}"
        )


# --------------------------------------- connected components: chains


def _path_edges(spark, n):
    return spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )


def test_two_phase_cc_converges_on_10k_chain(spark, monkeypatch):
    """Large-star/small-star must resolve a 10k-vertex path (diameter
    10k) within its O(log^2 n) round cap (VERDICT r4 #5), and a dense
    8-vertex clique (diameter 1) as well. A cutoff of 0 keeps both on
    the distributed path."""
    import itertools

    from programmers_data_spark import operators

    monkeypatch.setattr(operators, "DRIVER_RESOLVE_MAX_EDGES", 0)
    rows = operators.connected_components(_path_edges(spark, 10_000)).collect()
    assert len(rows) == 10_000
    assert all(r.component == 0 for r in rows)

    pairs = list(itertools.combinations(range(8), 2))
    clique = spark.createDataFrame(pairs, "src long, dst long")
    rows = operators.connected_components(clique).collect()
    assert len(rows) == 8
    assert all(r.component == 0 for r in rows)


def test_driver_escape_resolves_chain_without_rounds(spark):
    """Under DRIVER_RESOLVE_MAX_EDGES the same chain resolves through
    the bounded driver-side union-find (default cutoff) — identical
    labels, no distributed rounds."""
    from programmers_data_spark.operators import connected_components

    labels = connected_components(_path_edges(spark, 10_000))
    rows = labels.collect()
    assert len(rows) == 10_000
    assert all(r.component == 0 for r in rows)


def test_ohlc_daily_is_one_aggregate_pass(spark, sf_oracle):
    """The OHLC rollup must stay a single map-side-partial groupBy —
    no window, one hash exchange (plus the output-order range
    exchange): the struct-min/max tie-break exists precisely to avoid
    a per-bucket sort at 100 TB."""
    df = registry.QUERIES["ohlc_daily"](spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_token_budget_sample_plan_is_distributed(spark, sf_oracle):
    """The two-level prefix sum must never plan a single-partition
    pass over the corpus: the only windows are per-bucket (hash
    partitioned) and the 256-row bounded offsets window."""
    df = registry.QUERIES["token_budget_sample"](spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan
    assert "BroadcastExchange" in plan  # offsets ride a broadcast join


# ------------------------------------------- late-round-5 operators


def test_cms_grid_merges_across_shards(spark, sf_oracle):
    """The CMS scale claim: per-shard counter grids merge by cell-wise
    ADDITION into exactly the global grid (same md5 cell positions,
    integer counters) — the property that lets per-day/per-shard
    sketches be persisted and rolled up without rescanning tokens."""
    from programmers_data_spark.functions import textfn
    from programmers_data_spark.queries.sketch_ops import CMS_DEPTH, _cms_pos

    docs = load_table(spark, sf_oracle, "documents")

    def grid(df):
        cnt = (
            df.select(F.explode(textfn.tokenize("text")).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        cells = cnt.select(
            "c",
            F.posexplode(
                F.array(*[_cms_pos(F.col("term"), s) for s in range(CMS_DEPTH)])
            ).alias("row", "pos"),
        ).groupBy("row", "pos").agg(F.sum("c").alias("cell"))
        return {(r.row, r.pos): r.cell for r in cells.collect()}

    full = grid(docs)
    left = grid(docs.filter(F.col("doc_id") % 2 == 0))
    right = grid(docs.filter(F.col("doc_id") % 2 == 1))
    merged: dict = {}
    for g in (left, right):
        for k, v in g.items():
            merged[k] = merged.get(k, 0) + v
    assert merged == full


def test_cms_estimates_never_underestimate(spark, sf_oracle):
    rows = registry.QUERIES["cms_heavy_hitters"](spark, sf_oracle).collect()
    assert len(rows) > 0
    assert all(r.no_underestimate for r in rows)
    assert all(r.est_cnt >= r.exact_cnt for r in rows)


def test_pq_topk_deterministic(spark, sf_oracle):
    """Strided-sample Lloyd training has no RNG: two full runs yield
    identical neighbor lists (the rows-only driver check re-executes
    the query, so nondeterminism would flake the round)."""
    a = registry.QUERIES["pq_topk"](spark, sf_oracle).collect()
    b = registry.QUERIES["pq_topk"](spark, sf_oracle).collect()
    assert a == b
    assert len(a) > 0


def test_pq_recall_meets_floor(spark, sf_oracle):
    rows = registry.QUERIES["pq_recall_at5"](spark, sf_oracle).collect()
    assert len(rows) == 1 and rows[0].mean_meets_floor


def test_tfidf_pairs_no_cartesian(spark, sf_smoke):
    """The pair generator must stay an equi-join on term (df-capped
    fan-out), never a cartesian/nested-loop expansion. The single
    permitted nested-loop join is the round-7 1-row corpus-size
    broadcast into the idf expression (declared in plan_audit's
    BOUNDED_CARTESIAN) — anything beyond that is a regression."""
    df = registry.QUERIES["tfidf_shingle_pairs"](spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the persisted weights subtree prints once per consuming branch,
    # so the one bounded BNLJ can appear several times in the text —
    # every occurrence must be the BuildRight Cross of the broadcast
    # 1-row n_docs aggregate
    bnlj = [
        ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln
    ]
    assert all("BuildRight, Cross" in ln for ln in bnlj), bnlj
    assert "n_docs" in plan
    # the pair join itself is a hash/sort-merge equi-join
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )
