"""Structured Streaming tier over the events table (SURVEY §2.9).

The reference "streams" are cron micro-batches with re-pull +
keep-latest repair; the engine's streaming tier expresses the same
semantics natively: tumbling/sliding windows with watermarks,
session windows, watermarked dedup (K6's streaming form), and
foreachBatch publishing through the K8 swap writer.

Tests/queries drive a parquet file source synchronously
(processAllAvailable) — the same plans bind to Kafka/rate sources in
production. Aggregation queries run in *complete* mode so the
emitted table equals the batch answer (append mode would hold back
unclosed windows); dedup runs in append mode since rows emit on
arrival.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_parquet, table_path


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream, ts normalized to
    TimestampType exactly as catalog.load_table does for batch."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    schema = read_parquet(spark, table_path(sf_dir, "events")).schema
    # file stream sources require a directory; pathGlobFilter scopes
    # the fixture dir down to the events table
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def tumbling_agg(
    stream: DataFrame, window: str, *group_cols: str, aggs: list[F.Column]
) -> DataFrame:
    return stream.groupBy(F.window("ts", window), *group_cols).agg(*aggs)


def sliding_agg(
    stream: DataFrame, window: str, slide: str, *group_cols: str, aggs: list[F.Column]
) -> DataFrame:
    return stream.groupBy(F.window("ts", window, slide), *group_cols).agg(*aggs)


def session_agg(
    stream: DataFrame, gap: str, *group_cols: str, aggs: list[F.Column]
) -> DataFrame:
    return stream.groupBy(F.session_window("ts", gap), *group_cols).agg(*aggs)


def dedup_within_watermark(
    stream: DataFrame, keys: list[str], watermark: str = "1 day"
) -> DataFrame:
    """Streaming K6: at-most-once per key within the watermark horizon
    (dropDuplicatesWithinWatermark ↔ re-pull + keep-latest repair)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def stream_publish_foreachbatch(
    stream_df: DataFrame, path: str, checks=None,
    checkpoint: str | None = None,
    exactly_once: bool = False,
) -> None:
    """K8's streaming form: every micro-batch APPENDS to the target
    through the checked swap writer (read current ∪ batch → validate →
    atomic rename), so batches accumulate and readers only ever see a
    fully-published state — the foreachBatch ↔ swap-publish
    composition of redshift_summary.py:171-178 semantics under a
    stream. (A per-batch publish_swap would REPLACE the table with
    just that batch's rows, silently dropping earlier batches under
    maxFilesPerTrigger/Kafka — covered by a multi-batch test.)

    ``checkpoint``: source-offset checkpoint directory — a restarted
    query resumes after the last batch recorded in the commit log
    instead of re-reading the source from scratch.

    Delivery semantics: foreachBatch is AT-LEAST-ONCE — a crash after
    the publish commits but before the checkpoint writes that batch's
    commit-log entry replays the batch on restart, and a plain append
    would then duplicate its rows. ``exactly_once=True`` closes that
    window: each batch is tagged with a ``_batch_id`` column and a
    replayed batch (its id already present in the published table) is
    skipped, making the append idempotent under replay. The default
    keeps the published schema untagged and accepts the at-least-once
    crash window. (stream_incremental_keep_latest needs no tag: its
    keyed merge is idempotent by construction.)"""
    import os as _os

    from ..publish import incremental_append

    def _publish(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if exactly_once:
            if _os.path.exists(path):
                cur = read_parquet(spark, path)
                if (
                    "_batch_id" in cur.columns
                    and cur.filter(F.col("_batch_id") == batch_id)
                    .limit(1)
                    .count()
                    > 0
                ):
                    return  # replay of an already-committed batch
            batch_df = batch_df.withColumn("_batch_id", F.lit(batch_id))
        incremental_append(spark, path, batch_df, checks=checks)

    writer = stream_df.writeStream.outputMode("append").foreachBatch(_publish)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def stateful_counts(stream: DataFrame, key: str = "user_id") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a running
    per-key event counter. Each micro-batch folds its rows into the
    per-key state and emits the updated total — the primitive behind
    billing counters / per-user quotas that windowed aggs can't
    express (state lives across windows, forever, until timeout).

    State is one int per key — the minimal footprint; at 100 TB the
    state store shards by key exactly like the shuffle would.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField(key, LongType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType([StructField("n", LongType())])

    def update(key_tuple, pdfs, state: GroupState):
        import pandas as pd

        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({key: [key_tuple[0]], "n_events": [n]})

    return (
        stream.groupBy(key)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def tws_available() -> bool:
    """transformWithStateInPandas needs the protobuf Python package
    (its state-server protocol); absent here, present on any cluster
    with pip-installed pyspark[sql]. Probe used by the gate, the
    conditional query registration, and the skipif tests."""
    import importlib.util

    try:
        # find_spec on a dotted name imports the parent package, which
        # raises ModuleNotFoundError when even "google" is absent
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        return False


def stateful_value_stats(stream: DataFrame, key: str = "user_id") -> DataFrame:
    """Custom stateful operator via transformWithStateInPandas — the
    Spark 4 arbitrary-state v2 API (typed state variables on a
    StatefulProcessor, the successor to applyInPandasWithState's
    single tuple): per-key running event count + cent-exact value sum.
    Cents are floor(value*100+0.5) 64-bit ints, so the accumulated sum
    is order-independent and matches a batch GROUP BY bit-for-bit.

    Requires the RocksDB state store (bundled with Spark; conf pinned
    here — runtime-settable) and the protobuf package (honest gate,
    same policy as the multimodal codecs: never a silent fallback).
    """
    if not tws_available():
        raise NotImplementedError(
            "GATED(dependency=google.protobuf): "
            "transformWithStateInPandas needs the google.protobuf "
            "package (not present in this environment); "
            "streaming.stateful_counts is the applyInPandasWithState "
            "twin with the same per-key-state semantics, verified "
            "green as stream_stateful_counts"
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _ValueStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n long, cents long")

        def handleInputRows(self, key_tuple, rows, timerValues):
            import numpy as np
            import pandas as pd

            n, cents = self._agg.get() if self._agg.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(
                    np.floor(pdf["value"].to_numpy() * 100 + 0.5)
                    .astype("int64")
                    .sum()
                )
            self._agg.update((n, cents))
            yield pd.DataFrame(
                {key: [key_tuple[0]], "n_events": [n], "total_cents": [cents]}
            )

        def close(self) -> None:
            pass

    stream.sparkSession.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    return (
        stream.select(key, "value")
        .groupBy(key)
        .transformWithStateInPandas(
            statefulProcessor=_ValueStats(),
            outputStructType=f"{key} long, n_events long, total_cents long",
            outputMode="Update",
            timeMode="None",
        )
    )


def run_stream_to_table(
    stream_df: DataFrame, output_mode: str = "complete"
) -> DataFrame:
    """Execute a (bounded file-source) streaming query synchronously
    into a memory sink; returns the result as a batch DataFrame."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.table(name)


def stream_incremental_keep_latest(
    stream_df: DataFrame,
    path: str,
    keys: list[str],
    order_by: str,
    tie_break: str | None = None,
    checkpoint: str | None = None,
) -> None:
    """K6's streaming form: each micro-batch MERGES into the target
    through the keep-latest load strategy instead of replacing it —
    the UpdateSymbol_v3 daily re-pull + window-dedup repair loop run
    as a continuous query. Combined with the swap inside
    incremental_keep_latest, every batch is all-or-nothing and
    re-processing a batch converges to the same table (idempotent
    merge), which is exactly the exactly-once story plain parquet can
    offer. At scale the merge cost is bounded by target ∪ batch; a
    transactional table format turns it into MERGE INTO.
    """
    from ..publish import incremental_keep_latest

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        incremental_keep_latest(
            batch_df.sparkSession, path, batch_df, keys=keys,
            order_by=order_by, tie_break=tie_break,
        )

    writer = stream_df.writeStream.outputMode("append").foreachBatch(_merge)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def stream_sketch_rollup(
    stream_df: DataFrame,
    path: str,
    key_col: str = "user_id",
    day_col: str = "ts",
    checkpoint: str | None = None,
) -> None:
    """Streaming distinct-count at 100 TB scale: each micro-batch is
    reduced to per-day HLL sketch rows and MERGED (hll_union_agg)
    into a persisted (day, sketch) table through the checked swap —
    the streaming producer for the mau_sketch_rollup consumption
    pattern. State grows with DAYS, not users: a billion distinct
    keys per day is one ~KB register blob, and any rollup grain
    (month, quarter, all-time) is a union over stored rows.

    Correctness under replay: HLL union is IDEMPOTENT (register-wise
    max — merging the same batch twice is a no-op), so at-least-once
    foreachBatch delivery yields exactly-once SKETCH state with no
    batch-id tagging; tests prove streamed-in-batches == built-direct
    bit-for-bit. The swap keeps readers on a fully-merged generation.
    """
    from pyspark.sql import functions as F

    from ..publish import publish_swap

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        daily = batch_df.groupBy(
            F.date_format(day_col, "yyyy-MM-dd").alias("day")
        ).agg(F.hll_sketch_agg(key_col).alias("sk"))
        try:
            current = read_parquet(spark, path)
        except Exception:
            current = None
        if current is not None:
            daily = (
                current.unionByName(daily)
                .groupBy("day")
                .agg(F.hll_union_agg("sk").alias("sk"))
            )
        publish_swap(daily, path)

    writer = stream_df.writeStream.outputMode("append").foreachBatch(_merge)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def stream_cms_rollup(
    stream_df: DataFrame,
    path: str,
    key_col: str = "user_id",
    checkpoint: str | None = None,
    unsafe_no_checkpoint: bool = False,
) -> None:
    """Streaming count-min sketch: each micro-batch's key frequencies
    become a depth x width counter grid merged into the persisted
    grid by cell-wise ADDITION — the frequency twin of
    stream_sketch_rollup's distinct-count HLL.

    The instructive difference: HLL union is register-wise max, so
    replaying a batch is a no-op and at-least-once delivery needs no
    bookkeeping. CMS merge is addition — replay DOUBLE-COUNTS — so
    this producer must be transactional: the processed-batch ledger
    lives in the SAME table as the grid (kind='batch' rows next to
    kind='cell' rows) and each micro-batch commits grid+ledger in one
    publish_swap. A replayed batch finds its id in the ledger and
    skips; a crash before the swap leaves the previous grid+ledger
    pair intact, so state and "offsets" can never disagree — the
    same state-with-offsets-in-one-transaction rule any additive
    streaming aggregate needs at scale. (Ledger ids are per logical
    pipeline: one writer per grid table.)

    Estimates come from the stored grid exactly as in
    cms_heavy_hitters: min over depth rows of the probed cells.

    The ledger is only sound WITH a checkpointLocation: batch ids are
    assigned by the streaming engine per checkpoint, so an
    un-checkpointed re-run over a source that GAINED files restarts
    ids at 0 — the ledger then matches old ids and silently skips
    batches carrying new data (permanent undercount). A checkpointed
    restart resumes the id sequence and only true redeliveries
    collide. checkpoint=None therefore raises unless the caller
    explicitly asserts byte-identical-replay-only semantics via
    unsafe_no_checkpoint=True (tests; one-shot backfills that always
    start from an empty grid).
    """
    from ..publish import publish_swap
    from ..queries.sketch_ops import CMS_DEPTH, _cms_pos

    if checkpoint is None and not unsafe_no_checkpoint:
        raise ValueError(
            "stream_cms_rollup requires a checkpointLocation: the "
            "additive grid's batch-id ledger only deduplicates "
            "correctly when the engine resumes the id sequence from "
            "a checkpoint. Without one, a re-run over a grown source "
            "restarts ids at 0 and silently DROPS new batches. Pass "
            "checkpoint=..., or unsafe_no_checkpoint=True only if "
            "every replay is byte-identical to the original run."
        )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        try:
            cur = read_parquet(spark, path)
        except Exception:
            cur = None
        if (
            cur is not None
            and cur.filter(
                (F.col("kind") == "batch") & (F.col("batch_id") == batch_id)
            )
            .limit(1)
            .count()
            > 0
        ):
            return  # replayed batch: already folded into the grid
        cnt = (
            batch_df.select(F.col(key_col).cast("string").alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        delta = (
            cnt.select(
                "c",
                F.posexplode(
                    F.array(
                        *[_cms_pos(F.col("term"), s) for s in range(CMS_DEPTH)]
                    )
                ).alias("row", "pos"),
            )
            .groupBy("row", "pos")
            .agg(F.sum("c").alias("cell"))
        )
        ledger = spark.createDataFrame([(batch_id,)], "batch_id long")
        if cur is not None:
            delta = (
                cur.filter(F.col("kind") == "cell")
                .select("row", "pos", "cell")
                .unionByName(delta)
                .groupBy("row", "pos")
                .agg(F.sum("cell").alias("cell"))
            )
            ledger = (
                cur.filter(F.col("kind") == "batch")
                .select("batch_id")
                .unionByName(ledger)
            )
        state = delta.select(
            F.lit("cell").alias("kind"),
            "row",
            "pos",
            "cell",
            F.lit(None).cast("long").alias("batch_id"),
        ).unionByName(
            ledger.select(
                F.lit("batch").alias("kind"),
                F.lit(None).cast("int").alias("row"),
                F.lit(None).cast("long").alias("pos"),
                F.lit(None).cast("long").alias("cell"),
                "batch_id",
            )
        )
        publish_swap(state, path)

    writer = stream_df.writeStream.outputMode("append").foreachBatch(_merge)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def cms_estimate(spark: SparkSession, path: str, terms: list[str]) -> DataFrame:
    """Point-query a stored CMS grid: per term, min over depth rows of
    the probed cells (0 if a cell was never touched)."""
    from ..queries.sketch_ops import CMS_DEPTH, _cms_pos

    cells = read_parquet(spark, path).filter(F.col("kind") == "cell")
    probes = spark.createDataFrame(
        [(t,) for t in terms], "term string"
    ).select(
        "term",
        F.posexplode(
            F.array(*[_cms_pos(F.col("term"), s) for s in range(CMS_DEPTH)])
        ).alias("row", "pos"),
    )
    return (
        probes.join(cells, ["row", "pos"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce(F.col("cell"), F.lit(0))).alias("est"))
        .orderBy("term")
    )


def stateful_value_stats_gs(stream: DataFrame, key: str = "user_id") -> DataFrame:
    """The SAME per-key value-stats semantics as stateful_value_stats
    (running event count + cent-exact value total), on the
    dependency-free applyInPandasWithState API — so the semantics are
    verifiable in ANY environment while the TWS form stays honestly
    gated on protobuf. One (long, long) tuple of state per key; cents
    are floor(value*100+0.5) 64-bit ints, making the accumulation
    order-independent and bit-equal to the batch GROUP BY oracle.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField(key, LongType()),
            StructField("n_events", LongType()),
            StructField("total_cents", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("cents", LongType())]
    )

    def update(key_tuple, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(
                np.floor(pdf["value"].to_numpy() * 100 + 0.5)
                .astype("int64")
                .sum()
            )
        state.update((n, cents))
        yield pd.DataFrame(
            {
                key: [key_tuple[0]],
                "n_events": [n],
                "total_cents": [cents],
            }
        )

    return stream.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
