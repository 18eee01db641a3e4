"""Streaming-tier queries, checked against batch-equivalent oracles.

Each runs a real Structured Streaming query (file source → memory
sink, synchronously drained) and returns the final table. Because the
source is bounded and aggregations run in complete mode, the result
equals the batch computation — which is exactly what the DuckDB
oracle recomputes. Window boundaries surface as epoch-microsecond
integers (exact in both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import memoized
from ..registry import query
from ..streaming import (
    dedup_within_watermark,
    read_events_stream,
    run_stream_to_table,
    session_agg,
    sliding_agg,
    tumbling_agg,
)


@query(
    "stream_tumbling_daily",
    oracle="""
    SELECT epoch_us(date_trunc('day', ts)) AS window_start_us,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def stream_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day windows × event_type: counts + exact value sums
    (decimal-accumulated). Streaming state is one row per (day, type)."""
    stream = read_events_stream(spark, sf_dir)
    agg = tumbling_agg(
        stream,
        "1 day",
        "event_type",
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        ],
    )
    out = run_stream_to_table(agg)
    return out.select(
        F.unix_micros(F.col("window.start")).alias("window_start_us"),
        "event_type",
        "n",
        "total_value",
    ).orderBy("window_start_us", "event_type")


@query(
    "stream_sliding_2d",
    oracle="""
    WITH contrib AS (
      SELECT date_trunc('day', ts) - to_days(o) AS window_start, user_id
      FROM events, (SELECT unnest([0, 1]) AS o)
    )
    SELECT epoch_us(window_start) AS window_start_us,
           count(*) AS n,
           count(DISTINCT user_id) AS users
    FROM contrib
    GROUP BY 1
    ORDER BY 1
    """,
)
def stream_sliding_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2-day windows, 1-day slide: each event lands in two
    windows (the oracle materializes both contributions explicitly)."""
    stream = read_events_stream(spark, sf_dir)
    agg = sliding_agg(
        stream,
        "2 days",
        "1 day",
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("user_id").alias("users_approx"),
        ],
    )
    # exact countDistinct isn't allowed in streaming; recompute the
    # exact distinct on the drained (now batch) result is impossible
    # post-agg, so the streaming plan carries count + the batch
    # finisher below re-derives exact users per window from the source.
    out = run_stream_to_table(agg).select(
        F.unix_micros(F.col("window.start")).alias("window_start_us"),
        "n",
    )
    # exact-users finisher (batch over the same bounded source):
    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    contrib = ev.select(
        F.explode(
            F.array(
                F.unix_micros(F.date_trunc("day", F.col("ts"))),
                F.unix_micros(F.date_trunc("day", F.col("ts")))
                - F.lit(86400 * 1000000),
            )
        ).alias("window_start_us"),
        "user_id",
    )
    users = contrib.groupBy("window_start_us").agg(
        F.countDistinct("user_id").alias("users")
    )
    return out.join(users, "window_start_us").orderBy("window_start_us")


@query(
    "stream_dedup",
    oracle="""
    WITH doubled AS (
      SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us FROM events
      UNION ALL
      SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us FROM events
    )
    SELECT DISTINCT * FROM doubled ORDER BY event_id
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup (K6's streaming form): a doubled
    source collapses to exactly-once per event_id. Rows emit on first
    arrival; the watermark bounds the dedup state."""
    stream = read_events_stream(spark, sf_dir)
    doubled = stream.unionByName(stream)
    deduped = dedup_within_watermark(doubled, ["event_id"], "2 days")
    out = run_stream_to_table(deduped, output_mode="append")
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("ts_us"),
    ).orderBy("event_id")


@query(
    "sessionization",
    oracle="""
    WITH m AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sess
      FROM m
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts)) AS session_end_us,
           count(*) AS n_events
    FROM s
    GROUP BY user_id, sess
    ORDER BY user_id, session_start_us
    """,
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min inactivity gap) via lag + cumsum —
    one shuffle on user_id; the portable form of session_window."""
    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1000000
    brk = (
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) >= gap_us),
            1,
        ).otherwise(0)
    )
    sess = ev.withColumn("brk", brk).withColumn(
        "sess", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id", "sess")
        .agg(
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            F.unix_micros(F.max("ts")).alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start_us", "session_end_us", "n_events")
        .orderBy("user_id", "session_start_us")
    )


@query(
    "stream_session_window",
    oracle="""
    WITH m AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sess
      FROM m
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           count(*) AS n_events
    FROM s
    GROUP BY user_id, sess
    ORDER BY user_id, session_start_us
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (30-min gap) per user — the
    stateful-operator form of `sessionization` (complete mode).
    Oracle: the lag+cumsum batch form — session_window merges events
    while the inter-event gap stays under 30 min and the lag oracle
    breaks on >= 30 min, the same boundary; session start = first
    event's timestamp in both."""
    stream = read_events_stream(spark, sf_dir)
    agg = session_agg(
        stream, "30 minutes", "user_id", aggs=[F.count(F.lit(1)).alias("n_events")]
    )
    out = run_stream_to_table(agg)
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
        "n_events",
    ).orderBy("user_id", "session_start_us")


@query(
    "stream_stateful_counts",
    oracle="""
    SELECT user_id, count(*) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): a
    per-user running event counter. The bounded file source drains in
    one micro-batch, so the final update-mode emission per key equals
    the batch GROUP BY count — which is the oracle. In production the
    same operator runs unbounded: state persists across batches and
    every batch emits refreshed totals."""
    from ..streaming import stateful_counts

    stream = read_events_stream(spark, sf_dir)
    out = run_stream_to_table(stateful_counts(stream), output_mode="update")
    return out.orderBy("user_id")


@query(
    "stream_stateful_value_stats",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def stream_stateful_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tws value-stats SEMANTICS on the dependency-free
    applyInPandasWithState API: per-user running event count and
    cent-exact value total, hash-matched against the batch GROUP BY.
    stream_tws_value_stats is the Spark-4 TWS form of this exact
    computation — protobuf-gated where the runtime lacks the package —
    so this twin keeps the semantics driver-verified everywhere while
    the gate documents the API difference, mirroring the fake-codec /
    real-codec split in the multimodal tier."""
    from ..streaming import stateful_value_stats_gs

    stream = read_events_stream(spark, sf_dir)
    out = run_stream_to_table(
        stateful_value_stats_gs(stream), output_mode="update"
    )
    return out.orderBy("user_id")


@query(
    "stream_tws_value_stats",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def stream_tws_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator on the Spark 4 v2 API
    (transformWithStateInPandas + typed ValueState on a
    StatefulProcessor): per-user running event count and cent-exact
    value total. Integer cents make the accumulation
    order-independent, so the single-drain emission equals the batch
    GROUP BY — the oracle. State is one (long, long) per key in
    RocksDB, sharded by the grouping key like any shuffle.

    Registration is UNCONDITIONAL (round-4 advice: the driver window
    must not depend on import-time environment probing); where the
    protobuf runtime is absent, streaming.stateful_value_stats raises
    its explicit NotImplementedError gate at call time, so the driver
    records a visibly-gated row rather than silence. On any cluster
    with pip-installed pyspark (protobuf present) this runs and
    hash-matches the oracle."""
    from ..streaming import stateful_value_stats

    stream = read_events_stream(spark, sf_dir)
    out = run_stream_to_table(
        stateful_value_stats(stream), output_mode="update"
    )
    return out.orderBy("user_id")


@query(
    "stream_enrich_segment",
    oracle="""
    SELECT c_mktsegment AS segment,
           count(*) AS n_events
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    ORDER BY 1
    """,
)
def stream_enrich_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the
    static customer dimension (broadcast per micro-batch — the join
    itself keeps no stream state), aggregated by market segment. The
    standard enrichment topology: dims are slowly-changing tables the
    stream looks up, not co-streams. (Exact count-distinct isn't
    available inside streaming aggregations — the engine's streaming
    form for that is approx_count_distinct, per SCALE.md.)"""
    from ..catalog import load_table

    stream = read_events_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream.join(F.broadcast(customer), "user_id")
    agg = enriched.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return run_stream_to_table(agg).orderBy("segment")


@query(
    "stream_join_attribution",
    oracle="""
    SELECT strftime(date_trunc('day', p.ts), '%Y-%m-%d') AS purchase_day,
           count(*) AS n_clicks,
           CAST(sum(CAST(c.value AS DECIMAL(18,2))) AS DOUBLE) AS click_value
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts
     AND c.ts < p.ts + INTERVAL 1 DAY
    GROUP BY 1
    ORDER BY 1
    """,
)
def stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: the click stream joined to the
    purchase stream on user + a 24 h event-time range, watermarked on
    BOTH sides so the join state expires (without watermarks + a time
    bound, stream-stream join state grows forever). Inner joins emit
    on match, so append mode drains completely on a bounded source;
    the per-day rollup runs as a batch finisher over the drained
    matches. Batch equivalent: the binned `range_join` behind
    `post_purchase_clicks`."""
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("p_end"),
        )
        .withWatermark("p_ts", "1 day")
    )
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            "value",
        )
        .withWatermark("c_ts", "1 day")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts"))
        & (F.col("c_ts") < F.col("p_end")),
    )
    matches = run_stream_to_table(joined, output_mode="append")
    return (
        matches.groupBy(
            F.date_format(F.date_trunc("day", "p_ts"), "yyyy-MM-dd").alias(
                "purchase_day"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("click_value"),
        )
        .orderBy("purchase_day")
    )


@query(
    "stream_corpus_quality",
    oracle="""
    WITH t AS (
      SELECT source,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x != '') AS toks
      FROM documents
    ),
    m AS (
      SELECT source,
             len(toks) AS n_tokens,
             CAST(length(coalesce(array_to_string(toks, ''), '')) AS DOUBLE)
               / greatest(len(toks), 1) AS mwl,
             CAST(len(list_filter(toks, w -> regexp_full_match(w, '[a-z]+')))
                  AS DOUBLE) / greatest(len(toks), 1) AS af
      FROM t
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN (n_tokens BETWEEN 50 AND 100000)
                          AND (mwl BETWEEN 3 AND 10)
                          AND (af >= 0.8) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keep
    FROM m
    GROUP BY source
    ORDER BY source
    """,
)
def stream_corpus_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus ingest with quality gating: documents arrive
    as a file stream, each gets the Gopher-rule keep flag (the same
    thresholds as batch `gopher_quality_flags`) map-only, and a
    running per-source keep/total tally aggregates in complete mode —
    the live intake dashboard for a continuously-crawled corpus.

    Scale shape: the flag is stateless codegen over each micro-batch;
    streaming state is one row per source (bounded by the source
    vocabulary, not the corpus). No watermark is needed because no
    event-time windowing exists — state size is the group-key count.
    Batch equivalent (and oracle): the same aggregate over the full
    table.
    """
    from ..catalog import table_path
    from ..functions import textfn

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    schema = spark.read.parquet(table_path(sf_dir, "documents")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    toks = textfn.tokenize("text")
    n_tokens = F.size(toks)
    denom = F.greatest(n_tokens, F.lit(1))
    mwl = F.length(F.array_join(toks, "")).cast("double") / denom
    af = (
        F.size(F.filter(toks, lambda w: w.rlike("^[a-z]+$"))).cast("double")
        / denom
    )
    keep = (
        n_tokens.between(50, 100000) & mwl.between(3, 10) & (af >= 0.8)
    )
    agg = (
        stream.select("source", keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_keep"),
        )
    )
    out = run_stream_to_table(agg)
    return out.orderBy("source")


def _vocab_drift_oracle() -> str:
    # the batch twin's SQL verbatim, from the shared fragment module
    # (registry.ORACLE would be cleaner but text_quality_ops registers
    # AFTER this module — a cross-module import here would reorder
    # registration; see _oracle_shared's module docstring)
    from ._oracle_shared import _DUCK_VDIV, VDIV_VOCAB_K

    return _DUCK_VDIV.format(k=VDIV_VOCAB_K)


@query("stream_vocab_drift", oracle=_vocab_drift_oracle())
def stream_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distribution-drift monitor: documents arrive as a
    file stream, their tokens are semi-joined (broadcast) against the
    STATIC reference vocabulary — the stream-static enrich pattern —
    and a complete-mode aggregate maintains running (source, term)
    counts. The drained state table then folds into each source's
    total-variation distance from the reference distribution, exactly
    the live intake dashboard that alarms when a provenance's token
    mix drifts (a scraper regression, a boilerplate flood) before the
    batch pipeline would see it.

    Streaming state is BOUNDED at |sources| x VDIV_VOCAB_K rows —
    the vocab semi-join caps it before the aggregate, so state never
    grows with stream length (the property that keeps this query
    alive on an unbounded crawl). The TV fold runs over the bounded
    state table, term-order-pinned like the batch form.

    At fixture scale the reference distribution IS the streamed
    corpus, so the result equals batch `source_vocab_divergence` —
    which is the oracle (composed from the registry so the two can
    never drift).
    """
    from ..catalog import load_table, table_path
    from ..functions import textfn
    from ._oracle_shared import VDIV_VOCAB_K

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

    # static reference: top-K vocabulary with corpus counts
    static_counts = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.explode(textfn.tokenize("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    vocab = (
        static_counts.orderBy(F.col("ct").desc(), "tok")
        .limit(VDIV_VOCAB_K)
        .select("tok", F.col("ct").cast("long").alias("ct"))
    )

    schema = spark.read.parquet(table_path(sf_dir, "documents")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    counts = (
        stream.select(
            "source", F.explode(textfn.tokenize("text")).alias("tok")
        )
        .join(F.broadcast(vocab.select("tok")), "tok")  # caps state
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    st = run_stream_to_table(counts)

    # TV fold over the bounded drained state — identical shape to the
    # batch query (1:1 with source_vocab_divergence's tail)
    corpus_n = vocab.agg(F.sum("ct").cast("long").alias("n"))
    src_n = st.groupBy("source").agg(F.sum("c").cast("long").alias("ns"))
    sources = (
        load_table(spark, sf_dir, "documents").select("source").distinct()
    )
    grid = (
        sources.crossJoin(F.broadcast(vocab))
        .join(st.withColumnRenamed("c", "cs"), ["source", "tok"], "left")
        .join(F.broadcast(src_n), "source", "left")
        .crossJoin(F.broadcast(corpus_n))
    )
    ns, cs = F.col("ns"), F.coalesce(F.col("cs"), F.lit(0))
    diff = F.abs(
        F.when(F.coalesce(ns, F.lit(0)) == 0, F.lit(0.0)).otherwise(
            cs.cast("double") / ns.cast("double")
        )
        - F.col("ct").cast("double") / F.col("n").cast("double")
    )
    return (
        grid.select("source", "tok", F.col("ns"), diff.alias("d"))
        .groupBy("source")
        .agg(
            F.coalesce(F.first("ns"), F.lit(0)).cast("long").alias(
                "n_vocab_tokens"
            ),
            (
                F.lit(0.5)
                * F.aggregate(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("tok"), F.col("d")))
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x["d"],
                )
            ).alias("tv_divergence"),
        )
        .orderBy("source")
    )


# ------------------------------------------------- late-data accounting

# Watermark delay for the audit: 7 days against the fixture's ~30-day
# event span, so both late and on-time rows exist. Interpolated into
# BOTH engines (micros in the oracle).
LATE_AUDIT_DELAY_DAYS = 7
_DELAY_US = LATE_AUDIT_DELAY_DAYS * 86_400_000_000


@query(
    "stream_late_data_audit",
    oracle=f"""
    WITH e AS (
      SELECT event_id,
             epoch_us(date_trunc('day', ts)) AS ws,
             epoch_us(date_trunc('day', ts) + INTERVAL 1 DAY) AS we,
             epoch_us(ts) AS t_us
      FROM events
    ),
    m0 AS (
      SELECT max(t_us) AS mx FROM e WHERE event_id % 2 = 0
    ),
    acc AS (
      -- coalesce(…, 0): with an EMPTY batch 0 (no even event_ids)
      -- Spark's event-time watermark is still its initial epoch-0
      -- value while batch 1 runs, so every post-1970 window is
      -- accepted; a bare NULL comparison would instead drop all of
      -- batch 1 and diverge from the engine
      SELECT ws, CAST(count(*) AS BIGINT) AS n_on_time
      FROM e CROSS JOIN m0
      WHERE event_id % 2 = 0 OR we > coalesce(mx - {_DELAY_US}, 0)
      GROUP BY ws
    ),
    tot AS (
      SELECT ws, CAST(count(*) AS BIGINT) AS n_total FROM e GROUP BY ws
    )
    SELECT t.ws AS window_start_us,
           t.n_total,
           CAST(coalesce(a.n_on_time, 0) AS BIGINT) AS n_on_time,
           CAST(t.n_total - coalesce(a.n_on_time, 0) AS BIGINT) AS n_late
    FROM tot t LEFT JOIN acc a ON t.ws = a.ws
    ORDER BY window_start_us
    """,
)
@memoized
def stream_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data accounting — the operational view behind
    choosing a watermark delay: per daily window, how many rows the
    streaming aggregation ACCEPTED versus DROPPED as too late. The
    streaming side is real end-to-end Structured Streaming semantics,
    not a simulation: events split into two deterministic
    micro-batches (even event_ids arrive first, odd second), a
    {LATE_AUDIT_DELAY_DAYS}-day watermark, append-mode daily count,
    and a far-future flush row that closes every real window so each
    emits exactly once. The oracle recomputes Spark's own drop rule —
    batch-1 rows are kept iff their window END lies strictly past
    (max batch-0 event time − delay), the watermark in force while
    batch 1 runs — so a hash match certifies the engine's watermark
    arithmetic, not just row counts.

    Scale shape: the audit costs the streaming aggregation itself
    (state = one row per open (day) window) plus one batch totals
    pass; the join is day-cardinality. At 100 TB the same plan binds
    to a Kafka source with the flush row replaced by real watermark
    advancement; per-window state and output are unchanged."""
    import os
    import tempfile
    import uuid

    from ..catalog import load_table
    from ..storeutil import store_base

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    base = store_base("SPARK_GRAFT_LATE_STORE", "spark_graft_late")
    os.makedirs(base, exist_ok=True)  # an env-overridden base may be new
    src = os.path.join(tempfile.mkdtemp(prefix="late_", dir=base), "src")

    # batch 0 on disk BEFORE the stream starts; batches 1 and 2 are
    # dropped in between processAllAvailable() drains, so arrival
    # order — and therefore the watermark trajectory — is exact
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        f"{src}/b0.parquet"
    )
    max_ts = ev.agg(F.max("ts")).collect()[0][0]  # bounded 1-value scalar

    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(f"{src}/*")
        .withWatermark("ts", f"{LATE_AUDIT_DELAY_DAYS} days")
    )
    agg = stream.groupBy(F.window("ts", "1 day")).agg(
        F.count(F.lit(1)).alias("n_on_time")
    )
    sink = f"late_audit_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .start()
    )
    try:
        q.processAllAvailable()  # batch 0: establishes the watermark
        ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
            f"{src}/b1.parquet"
        )
        q.processAllAvailable()  # batch 1: late rows dropped HERE
        flush = spark.createDataFrame(
            [(-1,)], "event_id long"
        ).select(
            "event_id",
            (
                F.lit(max_ts) + F.expr("INTERVAL 40 DAYS")
            ).alias("ts"),
        )
        flush.coalesce(1).write.parquet(f"{src}/b2.parquet")
        q.processAllAvailable()  # flush: closes every real window
    finally:
        q.stop()

    accepted = (
        spark.table(sink)
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "n_on_time",
        )
        # the flush row's own (far-future) window never closes and
        # would be engine-internal anyway; scope to real event days
        .filter(F.col("window_start_us") <= F.unix_micros(F.lit(max_ts)))
    )
    totals = (
        ev.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_total"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n_total",
        )
    )
    result = (
        totals.join(accepted, "window_start_us", "left")
        .select(
            "window_start_us",
            "n_total",
            F.coalesce("n_on_time", F.lit(0)).cast("long").alias("n_on_time"),
            (F.col("n_total") - F.coalesce("n_on_time", F.lit(0)))
            .cast("long")
            .alias("n_late"),
        )
        .orderBy("window_start_us")
        .persist()
    )
    result.count()  # materialize, then free the memory-sink view
    spark.catalog.dropTempView(sink)
    return result


# ------------------------------------------- dedup-horizon accounting

# Dedup horizon for the audit: 7 days against the fixture's ~30-day
# event span, so all three outcomes (dedup, late-drop, re-admission)
# occur. Interpolated into BOTH engines (micros in the oracle).
DEDUP_HORIZON_DAYS = 7
_HORIZON_US = DEDUP_HORIZON_DAYS * 86_400_000_000


@query(
    "stream_dedup_horizon_audit",
    oracle=f"""
    WITH e AS (
      SELECT event_id // 2 AS dedup_key, event_id % 2 AS leg,
             epoch_us(ts) AS t_us
      FROM events
    ),
    wm AS (
      -- greatest(0, ...): Spark's watermark is monotone
      -- nondecreasing FROM 0, so it never goes negative even when
      -- max event time falls within the horizon of epoch
      SELECT greatest(0, max(t_us) // 1000 * 1000 - {_HORIZON_US})
               AS wm_us
      FROM e WHERE leg = 0
    ),
    ev AS (SELECT dedup_key, t_us AS t_even FROM e WHERE leg = 0),
    od AS (SELECT dedup_key, t_us AS t_odd FROM e WHERE leg = 1),
    j AS (
      SELECT coalesce(ev.dedup_key, od.dedup_key) AS dedup_key,
             t_even, t_odd, wm_us
      FROM ev FULL JOIN od ON ev.dedup_key = od.dedup_key
      CROSS JOIN wm
    )
    SELECT dedup_key,
           CAST(CASE WHEN t_even IS NULL THEN 0 ELSE 1 END
                + CASE WHEN t_odd IS NULL THEN 0 ELSE 1 END
                AS BIGINT) AS n_arrivals,
           CAST(CASE WHEN t_even IS NULL THEN 0 ELSE 1 END
                + CASE WHEN t_odd IS NOT NULL
                       AND t_odd > coalesce(wm_us, 0)
                       AND (t_even IS NULL OR
                            (t_even + 999) // 1000 * 1000
                              + {_HORIZON_US} <= coalesce(wm_us, 0))
                       THEN 1 ELSE 0 END
                AS BIGINT) AS n_emitted
    FROM j
    ORDER BY dedup_key
    """,
)
@memoized
def stream_dedup_horizon_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark under watermark MOVEMENT — the
    semantics stream_dedup's single doubled batch cannot exercise: a
    two-leg at-least-once replay (every logical record arrives once
    per delivery leg — leg 0 = even event_ids first, leg 1 = odd
    second) against a {DEDUP_HORIZON_DAYS}-day dedup horizon. Per
    logical key the audit reports how many copies arrived and how
    many the engine emitted: 1 when the second leg was deduped OR
    dropped as late, 2 when the key's state had already been evicted
    (first leg older than the horizon) and the second leg was
    re-admitted — the at-least-once residue a downstream exact dedup
    still has to catch.

    The oracle recomputes the engine's own rules, pinned empirically
    at microsecond grain (tests/test_round10.py): the watermark in
    force during leg 1 is max(0, floor-to-MILLIS(max leg-0 event
    time) − horizon) — Spark tracks watermarks in ms and the value
    is monotone nondecreasing from 0, hence the clamp (r10 ADVICE:
    unclamped, a leg-0 max within the horizon of epoch would make
    the modeled watermark negative where the engine's stays 0); a
    leg-1 row is late iff
    its event time is ≤ that watermark; and leg-0 state is evicted
    iff ceil-to-MILLIS(its event time) + horizon ≤ the watermark. A
    hash match certifies all three boundaries, not just row counts.

    Honesty note: the fixture generates events in rough timestamp
    order, so a key's two legs carry near-equal event times and only
    the dedup and late-drop outcomes occur on driver data; the
    eviction/re-admission boundary is exercised cross-engine by
    tests/test_round10.py's synthetic fixture, whose rows straddle
    every ms boundary above at ±1 µs.

    Scale shape: streaming state is one small row per key inside the
    horizon (the point of dropDuplicatesWithinWatermark vs unbounded
    dropDuplicates); the audit join is key-cardinality. At 100 TB the
    same plan binds to a Kafka source; keys = message ids."""
    import os
    import tempfile
    import uuid

    from ..catalog import load_table
    from ..storeutil import store_base

    ev = load_table(spark, sf_dir, "events").select(
        F.expr("event_id div 2").alias("dedup_key"),
        (F.col("event_id") % 2).alias("leg"),
        "ts",
    )
    base = store_base("SPARK_GRAFT_DEDUP_AUDIT_STORE", "spark_graft_dedup")
    os.makedirs(base, exist_ok=True)
    src = os.path.join(tempfile.mkdtemp(prefix="dedup_", dir=base), "src")

    # leg 0 lands BEFORE the stream starts; leg 1 between drains —
    # arrival order, and therefore the watermark trajectory, is exact
    ev.filter(F.col("leg") == 0).coalesce(1).write.parquet(
        f"{src}/b0.parquet"
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(f"{src}/*")
        .withWatermark("ts", f"{DEDUP_HORIZON_DAYS} days")
        .dropDuplicatesWithinWatermark(["dedup_key"])
    )
    sink = f"dedup_audit_{uuid.uuid4().hex[:12]}"
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .start()
    )
    try:
        q.processAllAvailable()  # leg 0: fills state, sets watermark
        ev.filter(F.col("leg") == 1).coalesce(1).write.parquet(
            f"{src}/b1.parquet"
        )
        q.processAllAvailable()  # leg 1: dedup/late/re-admit HERE
    finally:
        q.stop()

    emitted = (
        spark.table(sink)
        .groupBy("dedup_key")
        .agg(F.count(F.lit(1)).cast("long").alias("n_emitted"))
    )
    arrivals = ev.groupBy("dedup_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_arrivals")
    )
    result = (
        arrivals.join(emitted, "dedup_key", "left")
        .select(
            "dedup_key",
            "n_arrivals",
            F.coalesce("n_emitted", F.lit(0)).cast("long").alias(
                "n_emitted"
            ),
        )
        .orderBy("dedup_key")
        .persist()
    )
    result.count()  # materialize, then free the memory-sink view
    spark.catalog.dropTempView(sink)
    return result
