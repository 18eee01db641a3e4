"""Publish-layer behavior: idempotence, swap atomicity, check gating.

Mirrors the reference's runtime guarantees: repeated runs converge
(K5/K6 re-pull semantics), failed validation leaves the previous
table intact (K8 swap), empty results refuse to publish
(Build_Summary.py:42-45).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from programmers_data_spark import publish as publish_mod
from programmers_data_spark.catalog import load_table
from programmers_data_spark.publish import (
    full_refresh,
    incremental_distinct,
    incremental_keep_latest,
    incremental_upsert,
    publish_swap,
    publish_versioned,
)
from programmers_data_spark.quality import CountCheck, QualityCheckError


@pytest.fixture()
def events(spark, sf_smoke):
    return load_table(spark, sf_smoke, "events")


def test_full_refresh_overwrites(spark, events, tmp_path):
    path = str(tmp_path / "t")
    full_refresh(events.limit(10), path)
    assert spark.read.parquet(path).count() == 10
    full_refresh(events.limit(5), path)
    assert spark.read.parquet(path).count() == 5


def test_incremental_distinct_idempotent(spark, events, tmp_path):
    path = str(tmp_path / "t")
    old = events.filter(F.col("event_id") < 600)
    new = events.filter(F.col("event_id") >= 400)
    incremental_distinct(spark, path, old)
    incremental_distinct(spark, path, new)
    n1 = spark.read.parquet(path).count()
    # re-applying the same batch must not grow the table (K5 re-pull)
    incremental_distinct(spark, path, new)
    assert spark.read.parquet(path).count() == n1 == events.count()


def test_incremental_keep_latest_converges(spark, events, tmp_path):
    path = str(tmp_path / "t")
    ev = events.withColumn("date", F.to_date("ts"))
    incremental_keep_latest(spark, path, ev, ["date"], "ts", tie_break="event_id")
    out = spark.read.parquet(path)
    days = ev.select("date").distinct().count()
    assert out.count() == days
    # second run with the same data keeps exactly one row per day
    incremental_keep_latest(spark, path, ev, ["date"], "ts", tie_break="event_id")
    assert spark.read.parquet(path).count() == days


def test_incremental_upsert(spark, events, tmp_path):
    path = str(tmp_path / "t")
    target = events.filter(F.col("event_id") < 800)
    incremental_upsert(spark, path, target, ["event_id"])
    delta = (
        events.filter((F.col("event_id") >= 700) & (F.col("event_id") < 900))
        .withColumn("event_type", F.lit("updated"))
    )
    incremental_upsert(spark, path, delta, ["event_id"])
    out = spark.read.parquet(path)
    assert out.count() == 900  # 0..899 exactly once
    assert out.filter(F.col("event_type") == "updated").count() == 200


def test_publish_swap_preserves_on_check_failure(spark, events, tmp_path):
    path = str(tmp_path / "t")
    publish_swap(events.limit(100), path)
    with pytest.raises(QualityCheckError):
        publish_swap(events.limit(3), path, checks=[CountCheck("min50", 50, "ge")])
    # old state intact, no staging junk left behind
    assert spark.read.parquet(path).count() == 100
    leftovers = [p for p in os.listdir(tmp_path) if "staging" in p or "trash" in p]
    assert leftovers == []


def test_publish_swap_refuses_empty(spark, events, tmp_path):
    path = str(tmp_path / "t")
    with pytest.raises(QualityCheckError):
        publish_swap(events.filter(F.lit(False)), path)
    assert not os.path.exists(path)


@pytest.mark.parametrize("publish", ["swap", "versioned"])
def test_checked_publish_counts_the_staged_table_once(
    spark, events, tmp_path, monkeypatch, publish
):
    """A flat staged write is validated from its files' footers: the
    empty guard and the CountChecks start no Spark job. A partitioned
    write falls back to one count of the staged table, shared by the
    guard and the checks. The guard still runs first, with its own
    message."""
    sc = spark.sparkContext
    jobs, counts = [], []
    real_validate = publish_mod._validate_staged

    def probed(*args, **kwargs):
        group = f"validate-{len(jobs)}"
        sc.setJobGroup(group, group)
        try:
            return real_validate(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    frame_type = type(events)
    real_count = frame_type.count

    def counting(df):
        counts.append(1)
        return real_count(df)

    monkeypatch.setattr(publish_mod, "_validate_staged", probed)
    monkeypatch.setattr(frame_type, "count", counting)
    path = str(tmp_path / "t")

    def run(df, checks, partition_by=None):
        if publish == "swap":
            return publish_swap(df, path, checks=checks, partition_by=partition_by)
        return publish_versioned(df, path, checks=checks, partition_by=partition_by)

    assert run(events.limit(5), [CountCheck("min1", 1, "ge")]) == 5
    assert (jobs, counts) == ([0], [])
    with pytest.raises(QualityCheckError, match="produced 0 rows"):
        run(events.filter(F.lit(False)), [CountCheck("min50", 50, "ge")])
    with pytest.raises(QualityCheckError, match="min50"):
        run(events.limit(3), [CountCheck("min50", 50, "ge")])
    assert (jobs, counts) == ([0, 0, 0], [])

    by_type = events.limit(20)
    assert run(by_type, [CountCheck("min1", 1, "ge")], ["event_type"]) == 20
    assert len(counts) == 1
    with pytest.raises(QualityCheckError, match="min50"):
        run(by_type, [CountCheck("min50", 50, "ge")], ["event_type"])
    assert len(counts) == 2


def test_stream_publish_foreachbatch(spark, sf_smoke, tmp_path):
    """K8 streaming form: micro-batches land via checked atomic swap."""
    from programmers_data_spark.streaming import (
        read_events_stream,
        stream_publish_foreachbatch,
    )

    path = str(tmp_path / "stream_out")
    stream = read_events_stream(spark, sf_smoke)
    stream_publish_foreachbatch(stream.select("event_id", "user_id", "ts"), path)
    out = spark.read.parquet(path)
    expected = spark.read.parquet(f"{sf_smoke}/events.parquet").count()
    assert out.count() == expected
    assert set(out.columns) == {"event_id", "user_id", "ts"}


def test_stream_publish_foreachbatch_multi_batch_accumulates(
    spark, sf_smoke, tmp_path
):
    """Data-loss regression guard: with maxFilesPerTrigger=1 the file
    source produces one micro-batch per file; every batch must SURVIVE
    in the published table (a per-batch replace would leave only the
    final batch's rows)."""
    from programmers_data_spark.streaming import stream_publish_foreachbatch

    events = spark.read.parquet(f"{sf_smoke}/events.parquet").select(
        "event_id", "user_id"
    )
    src = str(tmp_path / "src")
    # three files → three micro-batches
    events.repartition(3).write.mode("overwrite").parquet(src)
    total = events.count()

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    path = str(tmp_path / "stream_out_multi")
    stream_publish_foreachbatch(stream, path)
    out = spark.read.parquet(path)
    assert out.count() == total, "batches must accumulate, not replace"
    assert out.select("event_id").distinct().count() == total


def test_append_mode_watermark_closes_windows(spark, sf_smoke, tmp_path):
    """Genuine late-data semantics: with maxFilesPerTrigger=1 the
    watermark advances across micro-batches, so append mode emits the
    first batch's closed daily windows once the second batch's event
    times pass them."""
    from pyspark.sql import functions as F

    events = spark.read.parquet(f"{sf_smoke}/events.parquet")
    if dict(events.dtypes).get("ts") == "bigint":
        events = events.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    lo, hi = events.select(F.min("ts"), F.max("ts")).collect()[0]
    mid = lo + (hi - lo) / 2
    src = str(tmp_path / "src")
    events.filter(F.col("ts") <= mid).coalesce(1).write.parquet(f"{src}/a.parquet")
    events.filter(F.col("ts") > mid).coalesce(1).write.parquet(f"{src}/b.parquet")

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("append_wm")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table("append_wm")
    # only windows strictly before the final watermark can have been
    # emitted; there must be at least one (the first batch's days) and
    # fewer than the complete-mode answer (open windows held back)
    n_emitted = out.count()
    n_total = events.groupBy(F.window("ts", "1 day")).count().count()
    assert 0 < n_emitted < n_total


def test_stream_incremental_keep_latest_converges(spark, sf_smoke, tmp_path):
    """K6 streaming form: per-batch keep-latest merges converge — the
    target holds exactly one (latest) row per key, replay included."""
    from programmers_data_spark.streaming import stream_incremental_keep_latest

    events = spark.read.parquet(f"{sf_smoke}/events.parquet")
    if dict(events.dtypes).get("ts") == "bigint":
        events = events.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    src = str(tmp_path / "src")
    # two micro-batches with overlapping user_ids (later file wins)
    events.limit(400).coalesce(1).write.parquet(f"{src}/a.parquet")
    events.limit(700).coalesce(1).write.parquet(f"{src}/b.parquet")

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .select("user_id", "ts", "event_id")
    )
    path = str(tmp_path / "latest_per_user")
    stream_incremental_keep_latest(
        stream, path, keys=["user_id"], order_by="ts", tie_break="event_id"
    )

    out = spark.read.parquet(path)
    assert out.count() == out.select("user_id").distinct().count()
    # replaying the full source again converges to the same state
    stream2 = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .select("user_id", "ts", "event_id")
    )
    before = sorted(out.collect())
    stream_incremental_keep_latest(
        stream2, path, keys=["user_id"], order_by="ts", tie_break="event_id"
    )
    assert sorted(spark.read.parquet(path).collect()) == before


def test_publish_swap_crash_before_rename_serves_old(
    spark, events, tmp_path, monkeypatch
):
    """K8 crash safety (VERDICT r4 #8): a crash AFTER the staging
    write but BEFORE any rename must leave the published path serving
    the previous generation, with the staging dir cleaned up."""
    import programmers_data_spark.publish as pub

    path = str(tmp_path / "t")
    publish_swap(events.limit(100), path)

    real_rename = os.rename

    def crash_rename(src, dst):
        raise OSError("simulated crash before swap")

    monkeypatch.setattr(pub.os, "rename", crash_rename)
    with pytest.raises(OSError, match="simulated crash"):
        publish_swap(events.limit(10), path)
    monkeypatch.setattr(pub.os, "rename", real_rename)

    # old generation fully readable, no staging junk
    assert spark.read.parquet(path).count() == 100
    leftovers = [p for p in os.listdir(tmp_path) if "staging" in p]
    assert leftovers == []


def test_publish_swap_crash_between_renames_recoverable(
    spark, events, tmp_path, monkeypatch
):
    """K8 crash safety, the narrower window: a crash between the two
    renames (live moved to trash, staging not yet live) leaves the
    previous generation intact in the trash dir — the documented
    recovery is renaming it back, after which readers see the old
    table unchanged (the reference's transaction semantics:
    validation failure or crash never publishes a partial state)."""
    import programmers_data_spark.publish as pub

    path = str(tmp_path / "t")
    publish_swap(events.limit(100), path)

    real_rename = os.rename
    calls = {"n": 0}

    def crash_second_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("simulated crash mid-swap")
        real_rename(src, dst)

    monkeypatch.setattr(pub.os, "rename", crash_second_rename)
    with pytest.raises(OSError, match="mid-swap"):
        publish_swap(events.limit(10), path)
    monkeypatch.setattr(pub.os, "rename", real_rename)

    # live path is absent (the documented non-atomic window), but the
    # old generation survives in the trash dir and renames back intact
    assert not os.path.exists(path)
    trash = [p for p in os.listdir(tmp_path) if "trash" in p]
    assert len(trash) == 1
    real_rename(str(tmp_path / trash[0]), path)
    assert spark.read.parquet(path).count() == 100


def test_stream_checkpoint_resume_skips_committed_batches(
    spark, sf_smoke, tmp_path
):
    """Checkpointed restart semantics (the graceful-stop path): a
    stream stopped after committing its batches and restarted against
    the SAME checkpoint must resume after the offset log — new source
    files are processed, already-committed ones are NOT re-read.
    Since the sink here is a plain append, any replay would surface
    as duplicate event_ids. (The crash window where the publish
    commits but the commit log doesn't is covered by the
    exactly_once replay test below.)"""
    from programmers_data_spark.streaming import stream_publish_foreachbatch

    events = spark.read.parquet(f"{sf_smoke}/events.parquet").select(
        "event_id", "user_id"
    )
    half_a = events.filter(F.col("event_id") % 2 == 0)
    half_b = events.filter(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    half_a.coalesce(1).write.mode("overwrite").parquet(src)

    schema = spark.read.parquet(src).schema

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        stream_publish_foreachbatch(stream, out, checkpoint=ckpt)

    run_once()  # phase 1: only half A exists
    n_a = half_a.count()
    assert spark.read.parquet(out).count() == n_a

    # phase 2: half B lands in the source dir; restart from checkpoint
    half_b.coalesce(1).write.mode("append").parquet(src)
    run_once()
    final = spark.read.parquet(out)
    total = events.count()
    assert final.count() == total, "restart must process only new files"
    assert final.select("event_id").distinct().count() == total, (
        "a replayed batch would duplicate half A"
    )

    # phase 3: nothing new — a restart must be a no-op
    run_once()
    assert spark.read.parquet(out).count() == total


# ------------------------------------------------- versioned publish


def test_publish_versioned_pointer_swap_and_time_travel(
    spark, events, tmp_path
):
    from programmers_data_spark.publish import (
        publish_versioned,
        read_versioned,
    )

    table = str(tmp_path / "vt")
    publish_versioned(events.limit(100), table, keep_generations=3)
    assert read_versioned(spark, table).count() == 100
    publish_versioned(events.limit(40), table, keep_generations=3)
    assert read_versioned(spark, table).count() == 40
    # time travel to the first generation
    assert read_versioned(spark, table, generation=1).count() == 100


def test_publish_versioned_rollback_without_rewrite(spark, events, tmp_path):
    from programmers_data_spark.publish import (
        publish_versioned,
        read_versioned,
        rollback_versioned,
    )

    table = str(tmp_path / "vt")
    publish_versioned(events.limit(100), table)
    publish_versioned(events.limit(40), table)
    assert rollback_versioned(table) == 1
    assert read_versioned(spark, table).count() == 100
    # a publish after rollback numbers past the rolled-back generation
    publish_versioned(events.limit(7), table)
    assert read_versioned(spark, table).count() == 7


def test_publish_versioned_crash_before_pointer_serves_old(
    spark, events, tmp_path, monkeypatch
):
    """A crash after the data write but before the pointer swap must
    leave the previous generation current and the orphan invisible;
    the next publish numbers past the orphan and prunes it."""
    import programmers_data_spark.publish as pub

    table = str(tmp_path / "vt")
    pub.publish_versioned(events.limit(100), table)

    real_replace = pub.os.replace

    def crash_replace(src, dst):
        raise OSError("simulated crash before pointer swap")

    monkeypatch.setattr(pub.os, "replace", crash_replace)
    with pytest.raises(OSError, match="simulated crash"):
        pub.publish_versioned(events.limit(40), table)
    monkeypatch.setattr(pub.os, "replace", real_replace)

    assert pub.read_versioned(spark, table).count() == 100
    pub.publish_versioned(events.limit(7), table)
    assert pub.read_versioned(spark, table).count() == 7


def test_publish_versioned_check_failure_keeps_current(
    spark, events, tmp_path
):
    from programmers_data_spark.publish import (
        publish_versioned,
        read_versioned,
    )

    table = str(tmp_path / "vt")
    publish_versioned(events.limit(100), table)
    with pytest.raises(QualityCheckError):
        publish_versioned(
            events.limit(3),
            table,
            checks=[CountCheck("min50", 50, "ge")],
        )
    assert read_versioned(spark, table).count() == 100


def test_publish_versioned_retention_prunes_old_generations(
    spark, events, tmp_path
):
    from programmers_data_spark.publish import (
        _versioned_generations,
        publish_versioned,
        read_versioned,
    )

    table = str(tmp_path / "vt")
    for n in (10, 20, 30, 40):
        publish_versioned(events.limit(n), table, keep_generations=2)
    assert _versioned_generations(table) == [3, 4]
    assert read_versioned(spark, table).count() == 40
    with pytest.raises(FileNotFoundError):
        read_versioned(spark, table, generation=1)


def test_incremental_append_schema_evolution(spark, events, tmp_path):
    """A later batch may widen the schema (new column) when the
    caller opts in: earlier rows read null for it, the published
    schema becomes the union. The strict default must refuse drifted
    batches — silent widening hides upstream contract breaks."""
    from programmers_data_spark.publish import incremental_append

    path = str(tmp_path / "t")
    base = events.limit(50).select("event_id", "user_id")
    incremental_append(spark, path, base)

    evolved = (
        events.limit(10)
        .select("event_id", "user_id")
        .withColumn("source", F.lit("backfill"))
    )
    with pytest.raises(Exception):  # strict default refuses drift
        incremental_append(spark, path, evolved)

    incremental_append(spark, path, evolved, allow_schema_evolution=True)
    out = spark.read.parquet(path)
    assert set(out.columns) == {"event_id", "user_id", "source"}
    assert out.count() == 60
    assert out.filter(F.col("source").isNull()).count() == 50
    assert out.filter(F.col("source") == "backfill").count() == 10


def test_publish_versioned_drift_gate(spark, events, tmp_path):
    """Drift gate: the first publish has no baseline (vacuous); a
    same-shaped second publish passes; a publish whose row count or
    value average shifts beyond tolerance is blocked with the old
    generation still current."""
    from programmers_data_spark.publish import (
        publish_versioned,
        read_versioned,
    )
    from programmers_data_spark.quality import DriftCheck

    table = str(tmp_path / "vt")
    gates = [
        DriftCheck("rows", agg="count", rel_tol=0.3),
        DriftCheck("avg_value", agg="avg", column="value", rel_tol=0.5),
    ]
    base = events.limit(1000)
    publish_versioned(base, table, drift_checks=gates)
    publish_versioned(events.limit(900), table, drift_checks=gates)
    assert read_versioned(spark, table).count() == 900

    with pytest.raises(QualityCheckError, match="drift check 'rows'"):
        publish_versioned(events.limit(100), table, drift_checks=gates)
    assert read_versioned(spark, table).count() == 900

    shifted = events.limit(900).withColumn(
        "value", F.col("value") * 100
    )
    with pytest.raises(QualityCheckError, match="avg_value"):
        publish_versioned(shifted, table, drift_checks=gates)
    assert read_versioned(spark, table).count() == 900


def test_stream_exactly_once_survives_batch_replay(spark, sf_smoke, tmp_path):
    """The at-least-once crash window: the publish committed but the
    checkpoint's commit log didn't. Simulated faithfully by deleting
    the checkpoint's commits dir after a successful run — restart
    replays the same batches with the same batch ids. exactly_once
    must skip them (no duplicates); the untagged default duplicates,
    which is exactly why the flag exists."""
    import shutil

    from programmers_data_spark.streaming import stream_publish_foreachbatch

    events = spark.read.parquet(f"{sf_smoke}/events.parquet").select(
        "event_id", "user_id"
    )
    src = str(tmp_path / "src")
    events.limit(200).coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def run_once(out, ckpt, **kw):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        stream_publish_foreachbatch(stream, out, checkpoint=ckpt, **kw)

    out = str(tmp_path / "out_eo")
    ckpt = str(tmp_path / "ckpt_eo")
    run_once(out, ckpt, exactly_once=True)
    n = spark.read.parquet(out).count()
    shutil.rmtree(f"{ckpt}/commits")  # lose the commit log: forces replay
    run_once(out, ckpt, exactly_once=True)
    replayed = spark.read.parquet(out)
    assert replayed.count() == n, "replayed batch must be skipped"
    assert replayed.select("event_id").distinct().count() == n

    # the untagged default really does duplicate under the same replay
    out2 = str(tmp_path / "out_alo")
    ckpt2 = str(tmp_path / "ckpt_alo")
    run_once(out2, ckpt2)
    shutil.rmtree(f"{ckpt2}/commits")
    run_once(out2, ckpt2)
    assert spark.read.parquet(out2).count() == 2 * n


def test_publish_versioned_orphan_never_serves_nor_starves_retention(
    spark, events, tmp_path
):
    """A SIGKILL mid-write leaves a generation directory with no
    validation marker. That orphan must not count toward
    keep_generations (it would push real history out), must not be a
    rollback target, must not be readable as history, and the next
    publish numbers past it and deletes it."""
    import os

    from programmers_data_spark.publish import (
        _versioned_generations,
        publish_versioned,
        read_versioned,
        rollback_versioned,
    )

    table = str(tmp_path / "vt")
    publish_versioned(events.limit(100), table, keep_generations=2)

    # simulate the hard-kill orphan: a half-written gen-000002 with
    # no _VALIDATED marker (the except-block never ran)
    orphan = os.path.join(table, "gen-000002")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "wb") as f:
        f.write(b"partial garbage")

    with pytest.raises(FileNotFoundError):
        read_versioned(spark, table, generation=2)
    with pytest.raises(ValueError):  # gen-1 is current; orphan is no target
        rollback_versioned(table)

    publish_versioned(events.limit(40), table, keep_generations=2)
    # orphan pruned; the two VALIDATED generations retained
    assert _versioned_generations(table) == [1, 3]
    assert read_versioned(spark, table).count() == 40
    assert read_versioned(spark, table, generation=1).count() == 100
    assert rollback_versioned(table) == 1
    assert read_versioned(spark, table).count() == 100


def test_drift_check_abs_tol_keeps_zero_baseline_usable(
    spark, events, tmp_path
):
    """A zero-baseline aggregate must not turn rel_tol into exact
    equality: with abs_tol, a tiny null fraction appearing over a
    no-nulls baseline passes; a large one still fails."""
    from programmers_data_spark.publish import publish_versioned
    from programmers_data_spark.quality import DriftCheck

    table = str(tmp_path / "vt")
    base = events.limit(1000).withColumn("v", F.lit(1.0))
    publish_versioned(base, table)

    gate = [DriftCheck("nulls", agg="null_frac", column="v", abs_tol=0.05)]
    few_nulls = events.limit(1000).withColumn(
        "v", F.when(F.col("event_id") % 500 == 0, None).otherwise(F.lit(1.0))
    )
    publish_versioned(few_nulls, table, drift_checks=gate)  # ~0.2% nulls: ok

    many_nulls = events.limit(1000).withColumn(
        "v", F.when(F.col("event_id") % 2 == 0, None).otherwise(F.lit(1.0))
    )
    with pytest.raises(QualityCheckError, match="nulls"):
        publish_versioned(many_nulls, table, drift_checks=gate)


def test_publish_versioned_model_based_random_walk(spark, events, tmp_path):
    """Model-based check of the versioned-table lifecycle: a seeded
    random walk of publish / failing-publish / crash-before-pointer /
    rollback ops, mirrored against a pure-Python model of (current,
    retained validated generations). After every op the table must
    agree with the model: current readable with the modeled row
    count, every modeled generation time-travelable, every pruned or
    orphaned generation refused."""
    import random

    import programmers_data_spark.publish as pub

    table = str(tmp_path / "vt")
    KEEP = 2
    rng = random.Random(20260814)

    # model: list of (gen_number, row_count) for validated retained
    # generations, plus the current gen number
    validated: list[tuple[int, int]] = []
    current: int | None = None
    next_gen = 1

    def model_publish(n_rows):
        nonlocal current, next_gen
        gen = next_gen
        next_gen += 1
        validated.append((gen, n_rows))
        current = gen
        # retention: newest KEEP validated + current
        keep = {g for g, _ in validated[-KEEP:]} | {current}
        validated[:] = [(g, n) for g, n in validated if g in keep]

    real_replace = pub.os.replace
    for step in range(28):
        op = rng.choice(["publish", "fail_check", "crash", "rollback"])
        if op == "publish":
            n = rng.randrange(10, 200)
            pub.publish_versioned(
                events.limit(n), table, keep_generations=KEEP
            )
            model_publish(n)
        elif op == "fail_check":
            with pytest.raises(QualityCheckError):
                pub.publish_versioned(
                    events.limit(5),
                    table,
                    checks=[CountCheck("min1000", 1000, "ge")],
                    keep_generations=KEEP,
                )
            # model unchanged; gen number NOT consumed (dir removed)
        elif op == "crash":
            pub.os.replace = lambda *a, **k: (_ for _ in ()).throw(
                OSError("crash")
            )
            try:
                with pytest.raises(OSError):
                    pub.publish_versioned(
                        events.limit(50), table, keep_generations=KEEP
                    )
            finally:
                pub.os.replace = real_replace
            # model unchanged (the except-path removes the dir)
        elif op == "rollback":
            earlier = [g for g, _ in validated if current and g < current]
            if current is None or not earlier:
                with pytest.raises((FileNotFoundError, ValueError)):
                    pub.rollback_versioned(table)
            else:
                assert pub.rollback_versioned(table) == earlier[-1]
                current = earlier[-1]

        # invariants after every step
        if current is None:
            with pytest.raises(FileNotFoundError):
                pub.read_versioned(spark, table)
            continue
        by_gen = dict(validated)
        assert pub.read_versioned(spark, table).count() == by_gen[current], (
            f"step {step}: current gen {current} row count"
        )
        for g, n in validated:
            assert (
                pub.read_versioned(spark, table, generation=g).count() == n
            ), f"step {step}: generation {g}"
        on_disk = set(pub._validated_generations(table))
        assert on_disk == {g for g, _ in validated}, (
            f"step {step}: retained {on_disk} != model {validated}"
        )


def test_compact_parquet_merges_small_files(spark, sf_smoke, tmp_path):
    """Compaction rewrites a many-small-files table into few files
    through the checked swap with content unchanged."""
    from programmers_data_spark.sinks import compact_parquet

    src = load_table(spark, sf_smoke, "events")
    path = str(tmp_path / "events_frag")
    src.repartition(20).write.parquet(path)
    before_rows = spark.read.parquet(path).count()
    before_hash = (
        spark.read.parquet(path)
        .select(F.bit_xor(F.xxhash64(*spark.read.parquet(path).columns)).alias("h"))
        .collect()[0].h
    )

    def n_files():
        return len(
            [f for f in os.listdir(path) if f.endswith(".parquet")]
        )

    assert n_files() == 20
    rows = compact_parquet(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert rows == before_rows
    assert n_files() < 20
    after = spark.read.parquet(path)
    assert after.count() == before_rows
    after_hash = after.select(
        F.bit_xor(F.xxhash64(*after.columns)).alias("h")
    ).collect()[0].h
    assert after_hash == before_hash


def test_compact_parquet_failing_check_leaves_table(spark, sf_smoke, tmp_path):
    """A failing validation must leave the fragmented-but-correct
    table untouched (same K8 contract as any publish)."""
    import pytest

    from programmers_data_spark.quality import CountCheck
    from programmers_data_spark.sinks import compact_parquet

    src = load_table(spark, sf_smoke, "events").limit(100)
    path = str(tmp_path / "events_frag2")
    src.repartition(10).write.parquet(path)

    with pytest.raises(Exception):
        compact_parquet(
            spark, path, checks=[CountCheck("min", 10**9)]
        )
    kept = spark.read.parquet(path)
    assert kept.count() == 100
    assert len([f for f in os.listdir(path) if f.endswith(".parquet")]) == 10


def test_publish_versioned_concurrent_writers_never_collide(
    spark, events, tmp_path
):
    """Two publishers racing on one table must land in DISTINCT
    generation directories (the atomic mkdir claim), both validated
    and retained, with the pointer resolving to a complete
    generation — the corruption mode being two writers computing the
    same next number and staging into one directory."""
    import threading

    from programmers_data_spark.publish import (
        publish_versioned,
        read_versioned,
        _validated_generations,
    )

    table = str(tmp_path / "race")
    a = events.limit(40)
    b = events.limit(60)
    errs = []

    def run(df):
        try:
            publish_versioned(df, table, keep_generations=4)
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    ts = [threading.Thread(target=run, args=(d,)) for d in (a, b)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    gens = _validated_generations(table)
    assert len(gens) == 2, gens
    # pointer resolves to one COMPLETE generation; both readable
    assert read_versioned(spark, table).count() in (40, 60)
    for g in gens:
        assert read_versioned(spark, table, generation=g).count() in (40, 60)


def test_unique_key_and_schema_checks_gate_publish(spark, events, tmp_path):
    """A duplicate-key batch or a drifted schema must abort the
    versioned publish and leave the previous generation serving."""
    import pytest

    from programmers_data_spark.publish import (
        publish_versioned,
        read_versioned,
    )
    from programmers_data_spark.quality import (
        QualityCheckError,
        SchemaCheck,
        UniqueKeyCheck,
    )

    table = str(tmp_path / "gated")
    good = events.limit(50)
    checks = [
        UniqueKeyCheck(keys=("event_id",)),
        SchemaCheck(required=(("event_id", "bigint"), ("value", "double"))),
    ]
    publish_versioned(good, table, checks=checks)
    assert read_versioned(spark, table).count() == 50

    dup = good.unionAll(good.limit(5))
    with pytest.raises(QualityCheckError, match="unique_key"):
        publish_versioned(dup, table, checks=checks)
    assert read_versioned(spark, table).count() == 50  # old gen serves

    from pyspark.sql import functions as F

    drifted = good.withColumn("value", F.col("value").cast("string"))
    with pytest.raises(QualityCheckError, match="schema"):
        publish_versioned(drifted, table, checks=checks)
    assert read_versioned(spark, table).count() == 50
