"""The benchmark's workloads and their output checks.

``warehouse`` is the reference's DAG day: land one dated arrival batch
through the five load strategies, then run the analytics SQL.
``curation`` is the LLM-data path: build every published store from
cold, then run warm passes that read them.

Each workload has ``cold(run)`` (measured once), ``before_pass(run)``
(untimed), ``run_pass(run, idx, rng)`` (the timed mix), ``check(run)``
(outside the timed region: returns a list of ``(name, ok, detail)``)
and ``rows(run, n_passes)`` (rows the run pushed through its
pipeline, and the wall and CPU seconds that took).
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import os
import random
import shutil
import statistics

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# the reference's analytics SQL: TPC-H-shaped summaries plus MAU,
# channel attribution and NPS over the events stream
HEADLINE = (
    "pricing_summary", "daily_revenue", "region_revenue", "brand_revenue",
    "order_priority", "top_customers", "top3_per_segment", "mau", "dau",
    "channel_firstlast", "nps",
)
# Left out to keep a curation run near a minute on 4 cores:
# pipeline_funnel_contract runs the same funnel code path as
# pipelines.curate_corpus, whose result is checked against that
# query's oracle; the audio and video media specs run the image spec's
# media_index code on other inputs (so video_neardup_clusters_incremental,
# which reads the video stores, goes too).
CURATION_QUERIES = (
    "dedup_minhash", "bm25_topk", "token_heavy_hitters", "text_jaccard_topk",
    "image_neardup_incremental", "embedding_neardup_incremental",
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Collected:
    """A collected result in the shape ``compare_to_oracle`` reads."""

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 - DataFrame API name
        return self._pdf


class _OracleResult:
    """Stands in for the DuckDB connection ``compare_to_oracle`` opens,
    answering with an oracle result computed earlier."""

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf

    def execute(self, _sql):
        return self

    def fetchdf(self) -> pd.DataFrame:
        return self._pdf

    def close(self) -> None:
        pass


def oracle_result(run, name: str) -> pd.DataFrame:
    """The DuckDB oracle's result for ``name``, cached across runs in
    ``run.oracle_dir`` under a hash of the SQL and the fixture bytes
    (the fixtures are seed-independent, so every run reuses it)."""
    from programmers_data_spark import registry
    from programmers_data_spark.testing import duckdb_connection

    sql = registry.ORACLE[name]
    key = hashlib.sha256((sql + run.fixture_digest).encode()).hexdigest()[:24]
    path = os.path.join(run.oracle_dir, f"{name}-{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    con = duckdb_connection(run.sf_dir)
    try:
        pdf = con.execute(sql).fetchdf()
    finally:
        con.close()
    os.makedirs(run.oracle_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    pdf.to_pickle(tmp)
    os.replace(tmp, path)
    return pdf


def digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest of a result, the oracle comparator's
    canonical row form."""
    from programmers_data_spark.testing import _canon_rows

    return hashlib.sha256(repr(_canon_rows(pdf)).encode()).hexdigest()[:16]


def run_query(run, name: str, collect: bool = False) -> pd.DataFrame | None:
    """A registry query as one op: build (the query function returns,
    including its eager resolves), then force it — through the noop
    sink, or collected to the driver when ``collect``."""
    from programmers_data_spark import registry

    with run.timed("queries.build_s", f"build:{name}"):
        df = registry.QUERIES[name](run.spark, run.sf_dir)
    with run.timed("queries.exec_s", f"exec:{name}"):
        if collect:
            return df.toPandas()
        _noop(df)
        return None


def check_query(run, name: str, pdf: pd.DataFrame):
    """``testing.compare_to_oracle`` of a collected result against the
    registry oracle's (cached) result."""
    from programmers_data_spark import registry, testing

    oracle = _OracleResult(oracle_result(run, name))
    real = testing.duckdb_connection
    testing.duckdb_connection = lambda _sf_dir: oracle
    try:
        res = testing.compare_to_oracle(
            name, _Collected(pdf), registry.ORACLE[name], run.sf_dir)
    finally:
        testing.duckdb_connection = real
    run.digests[name] = digest(pdf)
    return (name, res.ok, "; ".join(res.mismatches[:3]))


# ===================================================================
# warehouse


HISTORY_DAYS = 29  # 2024-01-01 .. 01-29 land in the cold phase
RUN_DATE = dt.date(2024, 1, 30)  # the day every timed pass lands
LATE_SHARE = 0.05  # events held back one or two days
RESEND_SHARE = 0.1  # events of the history's last day re-sent verbatim
ORDER_LATE_SHARE = 0.03  # run-date orders stamped with the previous day
ORDER_UPDATE_SHARE = 0.03  # earlier orders re-sent with a new status


def cut_batches(sf_dir: str, out_dir: str, seed: int) -> list[dict]:
    """Cut the two arrival batches from the read-only fixtures: batch 0
    is the history load, batch 1 arrives on RUN_DATE. The seed picks
    late rows, re-sent duplicates, order arrival days, late orders and
    updates; the union of what lands is fixture content."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir)
    ev = pq.read_table(os.path.join(sf_dir, "events.parquet")).to_pandas()
    day0 = np.datetime64("2024-01-01")
    ev_day = (ev["ts"].values.astype("datetime64[D]") - day0).astype(int)
    late = rng.random(len(ev)) < LATE_SHARE
    arrive = np.where(late, ev_day + rng.integers(1, 3, len(ev)), ev_day)
    ev_batch = (arrive >= HISTORY_DAYS).astype(int)

    od = pq.read_table(os.path.join(sf_dir, "orders.parquet")).to_pandas()
    od_batch = (rng.random(len(od)) < 1.0 / (HISTORY_DAYS + 1)).astype(int)
    secs = rng.integers(0, 86_400, len(od)).astype("timedelta64[s]")

    batches = []
    for k in (0, 1):
        e = ev[ev_batch == k]
        if k:
            last_day = ev[(ev_batch == 0) & (ev_day == HISTORY_DAYS - 1)]
            e = pd.concat([e, last_day.sample(frac=RESEND_SHARE, random_state=rng)])
            day = np.full(len(od), np.datetime64(RUN_DATE))
            day = np.where(rng.random(len(od)) < ORDER_LATE_SHARE, day - 1, day)
        else:
            day = day0 + rng.integers(0, HISTORY_DAYS, len(od))
        o = od.assign(created_at=(day.astype("datetime64[s]") + secs).astype("datetime64[us]"))
        new = o[od_batch == k]
        if k:
            upd = o[od_batch == 0].sample(frac=ORDER_UPDATE_SHARE, random_state=rng)
            upd = upd.assign(
                o_orderstatus="F",
                o_totalprice=(upd["o_totalprice"] * 1.01).round(2),
                created_at=np.datetime64(RUN_DATE).astype("datetime64[us]")
                + secs[: len(upd)],
            )
            new = pd.concat([new, upd])
        paths = {}
        for name, frame in (("events", e), ("orders", new)):
            paths[name] = os.path.join(out_dir, f"{name}-{k}.parquet")
            tbl = pa.Table.from_pandas(frame, preserve_index=False)
            # microsecond timestamps, as the catalog reads them
            tbl = tbl.cast(pa.schema([
                f.with_type(pa.timestamp("us")) if pa.types.is_timestamp(f.type) else f
                for f in tbl.schema
            ]))
            pq.write_table(tbl, paths[name])
        batches.append({
            "k": k,
            "run_date": RUN_DATE if k else None,
            "paths": paths,
            "rows": len(e) + len(new),
        })
    return batches


class Warehouse:
    """The cold phase lands the history into empty targets; every
    timed pass starts from that landed state (restored from a copy,
    untimed), lands the RUN_DATE batch and runs the analytics SQL, so
    each pass does the same work however many passes a run makes."""

    def __init__(self, run, seed: int):
        from programmers_data_spark.catalog import TABLES

        root = os.path.join(run.run_dir, "warehouse")
        self.state = os.path.join(root, "state")
        self.snapshot = os.path.join(root, "history")
        self.landed = os.path.join(self.state, "landed")
        os.makedirs(self.landed)
        # the summary configs read the landed events next to the
        # read-only dimension tables
        for t in TABLES:
            if t != "events":
                os.symlink(os.path.join(run.sf_dir, f"{t}.parquet"),
                           os.path.join(self.landed, f"{t}.parquet"))
        self.t_latest = os.path.join(self.state, "events_latest")
        self.t_orders = os.path.join(self.state, "orders_copy")
        self.t_events = os.path.join(self.landed, "events.parquet")
        self.t_versioned = os.path.join(self.state, "events_latest_versioned")
        self.summaries = os.path.join(self.state, "summaries")
        self.batches = cut_batches(run.sf_dir, os.path.join(root, "batches"), seed)
        self.inputs = {"batch_rows": [b["rows"] for b in self.batches]}
        self.collected: dict[str, pd.DataFrame] = {}
        self.passes = 0

    def _land(self, run, batch) -> None:
        """One run date through ``pipelines.backfill``: the load
        strategies in DAG order. The history load skips the summary
        builds: they are full refreshes (CTAS, checks, swap) with no
        state to carry into a later run date."""
        from programmers_data_spark import pipelines, plans, publish

        spark = run.spark
        ev = lambda: spark.read.parquet(batch["paths"]["events"])  # noqa: E731
        od = lambda: spark.read.parquet(batch["paths"]["orders"])  # noqa: E731

        def publish_op(name, metric, target, call):
            def fn():
                with run.timed("publish.call_s", name), run.timed(metric):
                    n = call()
                run.add("publish.target_rows", n)
                written = _current_dir(target)
                files = [f for f in glob.glob(os.path.join(written, "**"), recursive=True)
                         if os.path.isfile(f)]
                run.add("publish.files_written", len(files))
                run.add("publish.bytes_written", sum(os.path.getsize(f) for f in files))
            run.op(name, fn)

        def job(run_date):
            publish_op("publish.incremental_keep_latest", "publish.keep_latest_s",
                       self.t_latest, lambda: publish.incremental_keep_latest(
                           spark, self.t_latest, ev(), keys=["user_id"],
                           order_by="ts", tie_break="event_id"))
            publish_op("pipelines.table_copy", "publish.upsert_s",
                       self.t_orders, lambda: pipelines.table_copy(
                           spark, od(), self.t_orders, upsert_keys=["o_orderkey"],
                           run_date=batch["run_date"]))
            publish_op("publish.incremental_distinct", "publish.distinct_s",
                       self.t_events, lambda: publish.incremental_distinct(
                           spark, self.t_events, ev()))
            for cfg in plans.ALL_CONFIGS if batch["k"] else ():
                def build(cfg=cfg):
                    with run.timed("plans.build_summary_table_s", f"plans:{cfg.table}"):
                        plans.build_summary_table(spark, self.landed, cfg, self.summaries)
                run.op(f"plans.{cfg.table}", build)
            publish_op("publish.publish_versioned", "publish.versioned_s",
                       self.t_versioned, lambda: publish.publish_versioned(
                           spark.read.parquet(self.t_latest), self.t_versioned,
                           keep_generations=2))

        day = batch["run_date"] or dt.date(2024, 1, HISTORY_DAYS)
        pipelines.backfill(job, day, day)
        run.add("publish.batch_rows", batch["rows"])
        run.add("publish.batch_bytes", sum(os.path.getsize(p) for p in batch["paths"].values()))

    def cold(self, run) -> None:
        """The history load into empty targets."""
        with run.measured("load"):
            self._land(run, self.batches[0])
        shutil.copytree(self.state, self.snapshot, symlinks=True)

    def before_pass(self, run) -> None:
        """Back to the landed history (untimed)."""
        if self.passes:
            shutil.rmtree(self.state)
            shutil.copytree(self.snapshot, self.state, symlinks=True)
        self.passes += 1

    def run_pass(self, run, idx: int, rng: random.Random) -> None:
        """Land the RUN_DATE batch, then run the analytics SQL in seeded
        order, collecting each result (the check compares the last
        pass's results with the oracles)."""
        with run.measured("load"):
            self._land(run, self.batches[1])
        order = list(HEADLINE)
        rng.shuffle(order)
        for name in order:
            self.collected[name] = run.op(name, lambda name=name: run_query(run, name, True))

    def rows(self, run, n_passes: int) -> tuple[int, list[float]]:
        """Rows of the history load plus one run date's batch, and the
        wall, steal-net wall and CPU seconds of landing them (the cold
        load plus the median pass's load)."""
        def per_pass(metric):
            return statistics.median(run.layer[f"pass{i}", metric] for i in range(n_passes))

        rows = sum(b["rows"] for b in self.batches)
        return rows, [run.layer["cold", m] + per_pass(m)
                      for m in ("load.wall_s", "load.net_s", "load.cpu_s")]

    # ------------------------------------------------------------ check
    def check(self, run) -> list[tuple[str, bool, str]]:
        out = []
        for name in HEADLINE:
            if self.collected.get(name) is None:
                out.append((name, False, "no result"))
            else:
                out.append(check_query(run, name, self.collected[name]))
        out.extend(self._check_targets())
        return out

    def _check_targets(self) -> list[tuple[str, bool, str]]:
        """Landed targets vs a from-scratch DuckDB recomputation over
        the union of the batches that landed."""
        import duckdb

        landed = self.batches
        ev_union = " UNION ALL ".join(
            f"SELECT * FROM read_parquet('{b['paths']['events']}')" for b in landed
        )
        od_union = " UNION ALL ".join(
            f"SELECT *, {b['k']} AS k, "
            + (f"DATE '{b['run_date']}'" if b["run_date"] else "NULL")
            + f" AS run_date FROM read_parquet('{b['paths']['orders']}')"
            for b in landed
        )
        ev_cols = "event_id, epoch_us(ts) AS ts, user_id, event_type, value, props"
        od_cols = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                   "epoch_us(o_orderdate) AS o_orderdate, o_orderpriority, "
                   "epoch_us(created_at) AS created_at")
        expected = {
            "events_distinct": f"SELECT DISTINCT {ev_cols} FROM ({ev_union})",
            "events_keep_latest": f"""
                SELECT {ev_cols} FROM (
                  SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                  FROM (SELECT DISTINCT * FROM ({ev_union}))) WHERE rn = 1""",
            "orders_upsert": f"""
                SELECT {od_cols} FROM (
                  SELECT *, row_number() OVER (
                    PARTITION BY o_orderkey ORDER BY k DESC) AS rn
                  FROM ({od_union})
                  WHERE run_date IS NULL OR CAST(created_at AS DATE) = run_date)
                WHERE rn = 1""",
        }
        actual = {
            "events_distinct": f"SELECT {ev_cols} FROM read_parquet('{self.t_events}/*.parquet')",
            "events_keep_latest": f"SELECT {ev_cols} FROM read_parquet('{self.t_latest}/*.parquet')",
            "orders_upsert": f"SELECT {od_cols} FROM read_parquet('{self.t_orders}/*.parquet')",
        }
        gen = _current_dir(self.t_versioned)
        expected["events_latest_versioned"] = actual["events_keep_latest"]
        actual["events_latest_versioned"] = (
            f"SELECT {ev_cols} FROM read_parquet('{gen}/*.parquet')"
        )
        ev_exp = f"SELECT DISTINCT * FROM ({ev_union})"
        summaries = {
            "mau_summary": (
                f"SELECT strftime(ts, '%Y-%m-%d') AS date, count(DISTINCT user_id) AS mau "
                f"FROM ({ev_exp}) GROUP BY 1",
                "SELECT date, mau FROM read_parquet('{p}/*.parquet')"),
            "channel_summary": (
                f"""SELECT DISTINCT user_id,
                      first_value(event_type) OVER w AS first_channel,
                      last_value(event_type) OVER w AS last_channel
                    FROM ({ev_exp})
                    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
                "SELECT user_id, first_channel, last_channel FROM read_parquet('{p}/*.parquet')"),
            # rounded to cents on both sides: the Spark form is decimal
            # arithmetic, the DuckDB form double
            "nps_summary": (
                f"""SELECT strftime(ts, '%Y-%m-%d') AS date,
                      floor(sum(CASE WHEN value >= 90 THEN 1 WHEN value <= 60 THEN -1
                                ELSE 0 END) * 10000.0 / count(1) + 0.5) / 100 AS nps
                    FROM ({ev_exp}) GROUP BY 1""",
                "SELECT date, round(CAST(nps AS DOUBLE) * 100) / 100 AS nps "
                "FROM read_parquet('{p}/*.parquet')"),
        }
        for table, (exp, act) in summaries.items():
            expected[table] = exp
            actual[table] = act.format(p=os.path.join(self.summaries, table))
        out = []
        con = duckdb.connect()
        try:
            for name, exp in expected.items():
                diff = con.execute(
                    f"SELECT count(*) FROM (({exp}) EXCEPT ALL ({actual[name]})) "
                    f"UNION ALL SELECT count(*) FROM (({actual[name]}) EXCEPT ALL ({exp}))"
                ).fetchall()
                n_act = con.execute(f"SELECT count(*) FROM ({actual[name]})").fetchone()[0]
                ok = diff[0][0] == 0 and diff[1][0] == 0 and n_act > 0
                out.append((f"load:{name}", ok,
                            f"missing={diff[0][0]} extra={diff[1][0]} rows={n_act}"))
        finally:
            con.close()
        gens = [d for d in os.listdir(self.t_versioned) if d.startswith("gen-")
                and not d.endswith(".claim")]
        out.append(("load:versioned_retention", len(gens) <= 2, f"generations={len(gens)}"))
        return out


def _current_dir(target: str) -> str:
    """The directory a publish wrote: the target itself, or the
    current generation of a versioned table."""
    ptr = os.path.join(target, "_CURRENT")
    if os.path.exists(ptr):
        with open(ptr, encoding="utf-8") as f:
            return os.path.join(target, f.read().strip())
    return target


# ===================================================================
# curation


def _store_builders():
    from programmers_data_spark import derived_store, embedding_index, media_index
    from programmers_data_spark.queries import dedup_ops
    from programmers_data_spark.queries.curation_ops import DUP_SPAN_K
    from programmers_data_spark.queries.round12_ops import IMAGE_SPEC

    out = [
        ("derived_store.build_s", f"derived_store.{f.__name__}", f)
        for f in (derived_store.token_store, derived_store.postings_store,
                  derived_store.source_bigram_store, derived_store.aug_token_store,
                  derived_store.activity_month_store)
    ]
    out.append(("derived_store.build_s", "derived_store.aug_shingle_store",
                lambda s, d: derived_store.aug_shingle_store(s, d, DUP_SPAN_K)))
    out.append(("dedup_ops.pair_store.build_s", "dedup_ops.verified_pair_store",
                dedup_ops.verified_pair_store))
    for f in (media_index.hash_store, media_index.band_store,
              media_index.pair_store, media_index.cluster_store):
        out.append(("media_index.build_s", f"media_index.{f.__name__}[{IMAGE_SPEC.name}]",
                    lambda s, d, f=f: f(s, d, IMAGE_SPEC)))
    for f in (embedding_index.sig_store, embedding_index.pair_store,
              embedding_index.cluster_store):
        out.append(("embedding_index.build_s", f"embedding_index.{f.__name__}", f))
    return out


class Curation:
    def __init__(self, run, seed: int):
        from harness import store_dirs

        self.table = os.path.join(run.run_dir, "curation", "curated")
        self.bases = store_dirs()
        self.before_warm: set[str] = set()
        self.funnel: dict[str, int] | None = None
        self.collected: dict[str, pd.DataFrame | None] = {}
        self.inputs: dict = {}  # reads the fixtures only

    def cold(self, run) -> None:
        """Every store builder once, from empty store bases: the
        working set not yet in the program's own cache."""
        for metric, name, build in _store_builders():
            def fn(build=build, metric=metric, name=name):
                with run.timed(metric, name):
                    build(run.spark, run.sf_dir)
            run.op(name, fn, reset=False)  # one curation job builds them all
        if run.trace:
            from programmers_data_spark.queries import dedup_ops

            run.reset()
            run.add("dedup.candidate_pairs",
                    dedup_ops.minhash_band_pairs(run.spark, run.sf_dir).count())
            run.add("dedup.verified_pairs",
                    dedup_ops.verified_pair_store(run.spark, run.sf_dir).count())
        from harness import published_tables

        self.before_warm = published_tables(self.bases)

    def _curate(self, run) -> None:
        from programmers_data_spark import pipelines

        with run.timed("pipelines.curate_corpus_s"):
            self.funnel = pipelines.curate_corpus(
                run.spark, run.sf_dir, self.table, near_dup="canonical")
        run.add("pipelines.funnel_rows", self.funnel["published"])
        run.add("pipelines.raw_docs", self.funnel["raw"])

    def before_pass(self, run) -> None:
        pass

    def run_pass(self, run, idx: int, rng: random.Random) -> None:
        from harness import published_tables

        ops = [("pipelines.curate_corpus", lambda: self._curate(run))]
        ops += [(q, lambda q=q: run_query(run, q, collect=True)) for q in CURATION_QUERIES]
        rng.shuffle(ops)
        with run.measured("mix"):
            for name, fn in ops:
                result = run.op(name, fn)
                if name in CURATION_QUERIES:
                    self.collected[name] = result
        run.add("store.warm_misses", len(published_tables(self.bases) - self.before_warm))
        self.before_warm = published_tables(self.bases)

    def rows(self, run, n_passes: int) -> tuple[int, list[float]]:
        """The corpus's documents once per warm mix (every op of a pass
        reads the full corpus through the stores), and the wall,
        steal-net wall and CPU seconds of the mixes."""
        return run.total("pipelines.raw_docs"), [
            run.total(m) for m in ("mix.wall_s", "mix.net_s", "mix.cpu_s")]

    # ------------------------------------------------------------ check
    def check(self, run) -> list[tuple[str, bool, str]]:
        """The last pass's collected results against their oracles; the
        curate_corpus funnel against the pipeline_funnel_contract
        oracle (canonical and best-quality keepers both keep one doc
        per near-dup cluster, so every stage count agrees)."""
        from programmers_data_spark.publish import read_versioned

        misses = run.total("store.warm_misses")
        out = [("store.warm_misses", misses == 0, f"{misses:g} stores built in warm passes")]
        for name in CURATION_QUERIES:
            if self.collected.get(name) is None:
                out.append((name, False, "no result"))
            else:
                out.append(check_query(run, name, self.collected[name]))
        if self.funnel is None:
            return out + [("pipelines.curate_corpus", False, "no funnel")]
        contract = oracle_result(run, "pipeline_funnel_contract")
        stages = dict(zip(contract["stage"], contract["n_docs"]))
        want = {k: int(stages[k])
                for k in ("raw", "quality_gated", "exact_deduped", "near_deduped")}
        want["published"] = int(stages["split_train"] + stages["split_val"])
        got = {k: int(v) for k, v in self.funnel.items()}
        stored = read_versioned(run.spark, self.table).count()
        out.append(("pipelines.curate_corpus", got == want and stored == got["published"],
                    f"funnel={got} want={want} stored={stored}"))
        return out


WORKLOADS = {"warehouse": Warehouse, "curation": Curation}
