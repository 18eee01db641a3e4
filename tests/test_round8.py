"""Round-8 regression tests: the r7 ADVICE fixes.

- publish retention must treat ANY live claim file as a live writer
  (the 60s age guard could sweep a >60s Spark write mid-flight), with
  hard-kill orphans collected only by the explicit vacuum_versioned;
- iterative operators must actually free retired localCheckpoint
  blocks (Dataset.unpersist is a no-op for them).
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from programmers_data_spark.catalog import load_table


@pytest.fixture()
def events(spark, sf_smoke):
    return load_table(spark, sf_smoke, "events")


def _storage_blocks(spark):
    return [
        (i.name(), i.numCachedPartitions())
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ]


def test_retention_never_sweeps_aged_live_claim(spark, events, tmp_path):
    """A staging generation whose claim is OLDER than the former 60s
    guard must survive a concurrent publish's retention: claim age
    says nothing about liveness (a routine long Spark write ages past
    any guard while still writing)."""
    from programmers_data_spark.publish import (
        _VALIDATED_MARKER,
        publish_versioned,
        read_versioned,
    )

    table = str(tmp_path / "t")
    publish_versioned(events.limit(10), table, keep_generations=1)

    # simulate a live concurrent publisher mid-write: claimed number,
    # unvalidated partial data, claim mtime aged far past 60s
    stage = os.path.join(table, "gen-000099")
    os.makedirs(stage)
    part = os.path.join(stage, "part-00000-live.parquet")
    with open(part, "wb") as f:
        f.write(b"partial")
    claim = stage + ".claim"
    with open(claim, "w", encoding="utf-8"):
        pass
    old = time.time() - 3600
    os.utime(claim, (old, old))

    publish_versioned(events.limit(20), table, keep_generations=1)

    assert os.path.exists(part), "retention swept a live writer's staging dir"
    assert os.path.exists(claim), "retention removed a live claim"
    assert read_versioned(spark, table).count() == 20
    # the fake generation never validated, so it serves nothing
    assert not os.path.exists(os.path.join(stage, _VALIDATED_MARKER))


def test_publish_heartbeats_claim_after_write_and_validation(
    events, tmp_path, monkeypatch
):
    """publish_versioned must refresh the claim mtime after the Spark
    write and again after validation (progress floor markers). The
    stronger DURING-the-write guarantee is the background heartbeat
    thread, covered by tests/test_round9.py (r8 ADVICE: this test's
    old name certified a property the r8 code did not have)."""
    import programmers_data_spark.publish as pub

    table = str(tmp_path / "hb")
    seen = []
    real_utime = os.utime

    def spy(path, *a, **k):
        if str(path).endswith(".claim"):
            seen.append(os.path.basename(str(path)))
        return real_utime(path, *a, **k)

    monkeypatch.setattr(pub.os, "utime", spy)
    pub.publish_versioned(events.limit(5), table)
    assert len(seen) >= 2, f"expected write+validation heartbeats, got {seen}"


def test_vacuum_collects_only_inactive_orphans(spark, events, tmp_path):
    """vacuum_versioned removes a long-inactive claim's unvalidated
    orphan, leaves fresh claims alone, and leaves validated data in
    place (sweeping only the claim)."""
    from programmers_data_spark.publish import (
        _VALIDATED_MARKER,
        publish_versioned,
        read_versioned,
        vacuum_versioned,
    )

    table = str(tmp_path / "v")
    publish_versioned(events.limit(10), table, keep_generations=2)

    old = time.time() - 7200

    # stale claim + unvalidated dir: true crash orphan → both removed
    orphan = os.path.join(table, "gen-000050")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-x.parquet"), "wb") as f:
        f.write(b"junk")
    with open(orphan + ".claim", "w", encoding="utf-8"):
        pass
    os.utime(orphan + ".claim", (old, old))

    # fresh claim + unvalidated dir: live writer → untouched
    live = os.path.join(table, "gen-000060")
    os.makedirs(live)
    with open(live + ".claim", "w", encoding="utf-8"):
        pass

    # stale claim over VALIDATED data (died between swap and claim
    # cleanup): data kept, claim swept
    done = os.path.join(table, "gen-000070")
    os.makedirs(done)
    with open(os.path.join(done, _VALIDATED_MARKER), "w", encoding="utf-8") as f:
        f.write("ok")
    with open(done + ".claim", "w", encoding="utf-8"):
        pass
    os.utime(done + ".claim", (old, old))

    removed = vacuum_versioned(table, min_claim_age_s=3600)

    assert not os.path.exists(orphan)
    assert not os.path.exists(orphan + ".claim")
    assert os.path.isdir(live) and os.path.exists(live + ".claim")
    assert os.path.isdir(done)
    assert not os.path.exists(done + ".claim")
    assert orphan in removed and orphan + ".claim" in removed
    assert read_versioned(spark, table).count() == 10


def test_connected_components_frees_checkpoint_blocks(spark, monkeypatch):
    """After connected_components returns, executor storage must hold
    at most the RESULT's checkpoint blocks — the edge list, vertex set
    and every round's state freed eagerly, not left to ContextCleaner
    GC (Dataset.unpersist alone is a no-op for localCheckpoint
    blocks) — and freeing the result must empty it again."""
    from programmers_data_spark import operators

    # a cutoff of 0 forces the large-star/small-star rounds
    monkeypatch.setattr(operators, "DRIVER_RESOLVE_MAX_EDGES", 0)
    spark.sparkContext._jsc.sc().getRDDStorageInfo()  # touch API early
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src int, dst int"
    )
    before = len(_storage_blocks(spark))
    labels = operators.connected_components(edges)
    rows = labels.collect()
    assert {r.component for r in rows} == {0}
    after = _storage_blocks(spark)
    assert len(after) <= before + 1, f"leaked blocks: {after}"
    operators._free_blocks(labels)
    assert len(_storage_blocks(spark)) <= before


def test_verified_pair_store_publishes_then_serves(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """The published pair-set seam: first use computes dedup_minhash's
    verified pairs and publishes them through the versioned layer;
    after a memo-cache wipe (bench isolation), the same rows come back
    from the published parquet — bit-identical, without re-running the
    signature pass (the store handle cache is cold AND the artifact
    exists, so the read path must serve)."""
    import glob

    from programmers_data_spark.memo import clear_memo_caches
    from programmers_data_spark.queries import dedup_ops

    store = str(tmp_path / "pairstore")
    monkeypatch.setenv(dedup_ops.PAIR_STORE_ENV, store)
    clear_memo_caches()

    first = dedup_ops.verified_pair_store(spark, sf_smoke).collect()
    assert len(first) > 0
    gens = glob.glob(store + "/*/minhash_pairs/gen-*")
    assert len(gens) == 1, gens

    clear_memo_caches()
    spark.catalog.clearCache()
    second = dedup_ops.verified_pair_store(spark, sf_smoke)
    # served from the artifact: the plan reads parquet, no Python
    # signature stage
    plan = second._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, plan
    assert second.collect() == first
    # still exactly the producer's rows
    assert dedup_ops.dedup_minhash(spark, sf_smoke).collect() == first
    clear_memo_caches()


def test_pair_store_keys_on_fixture_identity(spark, sf_smoke, tmp_path):
    """The artifact is content-addressed: a different fixture dir (or
    a regenerated documents.parquet) maps to a different store table,
    so stale pairs can never serve a new corpus."""
    from programmers_data_spark.queries.dedup_ops import pair_store_dir

    a = pair_store_dir(sf_smoke)
    b = pair_store_dir(str(tmp_path))
    assert a != b


def test_dsir_scores_separate_target_from_rest(spark, sf_smoke):
    """The linearized DSIR signal must actually SELECT: documents from
    the target domain (min source) should average a strictly higher
    importance score than the rest — a broken weight sign, a transposed
    distribution, or a dead bucket join all collapse this separation."""
    from programmers_data_spark.queries.sampling_ops import (
        dsir_importance_proxy,
    )

    d = dsir_importance_proxy(spark, sf_smoke)
    t_src = d.agg(F.min("source")).collect()[0][0]
    rows = (
        d.groupBy((F.col("source") == t_src).alias("is_t"))
        .agg(F.avg("dsir_score").alias("m"))
        .collect()
    )
    means = {r.is_t: r.m for r in rows}
    assert means[True] > means[False], means
    assert means[True] > 0, means


def test_contrastive_pairs_label_semantics(spark, sf_smoke):
    """Triplet invariants: every positive shares the query's label,
    every negative differs, ranks are 1..HARDK dense per query, and a
    query never appears as its own positive or negative."""
    from programmers_data_spark.catalog import load_table
    from programmers_data_spark.queries.similarity_ops import (
        HARDK,
        contrastive_training_pairs,
    )

    emb = load_table(spark, sf_smoke, "embeddings").select("vec_id", "label")
    t = contrastive_training_pairs(spark, sf_smoke)
    labeled = (
        t.join(emb.withColumnRenamed("vec_id", "query_id")
               .withColumnRenamed("label", "q_label"), "query_id")
        .join(emb.withColumnRenamed("vec_id", "pos_id")
              .withColumnRenamed("label", "p_label"), "pos_id", "left")
        .join(emb.withColumnRenamed("vec_id", "neg_id")
              .withColumnRenamed("label", "n_label"), "neg_id")
    )
    assert labeled.filter(F.col("p_label") != F.col("q_label")).count() == 0
    assert labeled.filter(F.col("n_label") == F.col("q_label")).count() == 0
    assert t.filter(
        (F.col("query_id") == F.col("pos_id"))
        | (F.col("query_id") == F.col("neg_id"))
    ).count() == 0
    per_q = t.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("neg_rank").alias("lo"),
        F.max("neg_rank").alias("hi"),
    )
    bad = per_q.filter(
        (F.col("lo") != 1) | (F.col("hi") != F.col("n")) | (F.col("n") > HARDK)
    )
    assert bad.count() == 0, bad.collect()


def test_jsonl_shard_export_roundtrips_and_is_deterministic(
    spark, sf_smoke, tmp_path
):
    """write_jsonl_shards → read_jsonl roundtrip: same rows back,
    content-addressed shard membership (identical across runs and
    independent of input partitioning), manifest counts match."""
    from programmers_data_spark.sinks import write_jsonl_shards
    from programmers_data_spark.sources import read_jsonl

    docs = load_table(spark, sf_smoke, "documents").select(
        "doc_id", "source", "text"
    )
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    m1 = write_jsonl_shards(docs, p1, shard_key="doc_id", n_shards=4)
    m2 = write_jsonl_shards(
        docs.repartition(13), p2, shard_key="doc_id", n_shards=4
    )
    assert m1 == m2, (m1, m2)
    assert sum(n for _, n in m1) == docs.count()

    back = read_jsonl(
        spark, p1, schema="doc_id long, source string, text string"
    )
    assert back.count() == docs.count()
    a = docs.orderBy("doc_id").collect()
    b = back.select("doc_id", "source", "text").orderBy("doc_id").collect()
    assert a == b
    # same row → same shard across both exports
    s1 = read_jsonl(spark, p1).select("doc_id", "_shard")
    s2 = read_jsonl(spark, p2).select(
        F.col("doc_id").alias("d2"), F.col("_shard").alias("sh2")
    )
    moved = s1.join(s2, s1["doc_id"] == s2["d2"]).filter(
        F.col("_shard") != F.col("sh2")
    )
    assert moved.count() == 0


def test_jsonl_quarantine_splits_good_and_bad_lines(spark):
    """parse_jsonl_with_rejects: valid objects parse to the typed
    schema; truncated JSON, non-objects, and type mismatches land in
    the reject table with their raw line — nothing dropped, no abort."""
    from programmers_data_spark.sources import parse_jsonl_with_rejects

    lines = [
        '{"doc_id": 1, "text": "hello world"}',
        '{"doc_id": 2, "text": "ok"}',
        '{"doc_id": "notanint", "text": "bad type"}',
        '{"doc_id": 3, "text": "truncated',
        "plain garbage",
        '{"doc_id": 4, "text": "fine"}',
    ]
    ds = spark.createDataFrame([(ln,) for ln in lines], "value string")
    good, rejects = parse_jsonl_with_rejects(
        ds, "doc_id long, text string"
    )
    got = {r.doc_id for r in good.collect()}
    assert got == {1, 2, 4}, got
    bad = [r.raw_line for r in rejects.collect()]
    assert len(bad) + len(got) == len(lines)
    assert "plain garbage" in bad


def test_doc_line_dedup_matches_python_reference(spark, tmp_path):
    """Property: the distributed order-preserving line dedup must
    equal the obvious sequential reference (dict.fromkeys over lines)
    on adversarial documents — duplicate lines far apart, empty
    lines, trailing newlines, \r remnants, unicode."""
    import hashlib

    import pandas as pd

    from programmers_data_spark import registry

    registry.load_all()
    QUERIES = registry.QUERIES

    docs = [
        (0, ""),
        (1, "\n"),
        (2, "a\na\na"),
        (3, "x\ny\nx\nz\ny\nx"),
        (4, "only one line"),
        (5, "dup\n\ndup\n\ndup\n"),
        (6, "héllo\nwörld\nhéllo"),
        (7, "tab\there\ntab\there"),
        (8, "cr\r\ncr\r\nplain cr"),
        (9, "trail\n\n\n"),
    ]
    d = tmp_path / "sf"
    d.mkdir()
    pd.DataFrame(
        [
            {"doc_id": i, "text": t, "lang": "en", "source": "s",
             "n_chars": len(t)}
            for i, t in docs
        ]
    ).to_parquet(d / "documents.parquet", index=False)

    got = {
        r.doc_id: r
        for r in QUERIES["doc_line_dedup"](spark, str(d)).collect()
    }
    for i, t in docs:
        lines = t.split("\n")
        kept = list(dict.fromkeys(lines))
        exp_md5 = hashlib.md5("\n".join(kept).encode()).hexdigest()
        r = got[i]
        assert r.n_lines == len(lines), (i, r)
        assert r.n_kept == len(kept), (i, r)
        assert r.cleaned_md5 == exp_md5, (i, t, kept)


def test_free_blocks_drops_local_checkpoint_storage(spark):
    """_free_blocks must actually remove a localCheckpoint's blocks
    from executor storage (the thing Dataset.unpersist cannot do) and
    be harmless on a merely-persisted frame."""
    from programmers_data_spark.operators import _free_blocks

    before = len(_storage_blocks(spark))
    df = (
        spark.range(10000)
        .select(F.col("id"), (F.col("id") * 2).alias("v"))
        .localCheckpoint(eager=True)
    )
    assert len(_storage_blocks(spark)) == before + 1
    _free_blocks(df)
    assert len(_storage_blocks(spark)) == before

    p = spark.range(1000).persist()
    p.count()
    assert len(_storage_blocks(spark)) == before + 1
    _free_blocks(p)  # falls back to Dataset.unpersist, no raise
    assert len(_storage_blocks(spark)) == before
