"""Sink connectors and load strategies (SURVEY §2.2, K1-K11).

The table-load strategies — full refresh, incremental distinct,
keep-latest, keyed upsert, checked swap-publish — live in
``programmers_data_spark.publish`` and are re-exported here; this
module adds the file/export/notification sinks:

- K9   driver-side row export (sheet-shaped)   → ``export_rows``
- K10  file sink (CSV/parquet to a bucket path)→ ``write_csv``
- K11  failure notification callback           → ``notify_on_failure``

Scale posture: ``write_csv`` is a normal distributed write (one file
per partition; pass coalesce=1 only for genuinely small exports).
``export_rows`` hard-caps the driver collect — it exists for
sheet-sized payloads (SQL_to_Sheet.py exports a summary, not a table).
"""

from __future__ import annotations

import traceback
from typing import Any, Callable

from pyspark.sql import DataFrame

from ..catalog import read_parquet
from ..functions.cleaning import fill_empty_strings, stringify_for_export
from ..quality import CountCheck
from ..publish import (  # noqa: F401  (re-exports: the K1-K8 strategies)
    full_refresh,
    incremental_distinct,
    incremental_keep_latest,
    incremental_upsert,
    keep_latest,
    publish_swap,
    upsert,
)

__all__ = [
    "full_refresh",
    "publish_swap",
    "incremental_distinct",
    "incremental_keep_latest",
    "incremental_upsert",
    "keep_latest",
    "upsert",
    "write_csv",
    "write_jdbc",
    "write_partitioned",
    "write_zorder",
    "zorder_value",
    "compact_parquet",
    "save_bucketed",
    "load_bucketed",
    "write_jsonl_shards",
    "export_rows",
    "notify_on_failure",
]


def write_csv(
    df: DataFrame,
    path: str,
    header: bool = True,
    coalesce: int | None = None,
    **options: str,
) -> None:
    """K10: CSV file sink (plugins/s3.py:6-19 upload_to_s3 +
    Gsheet_to_Redshift.py staging). The path may be any Hadoop
    filesystem URI (s3a://, file:/); distributed write, one file per
    partition unless coalesced for a small export."""
    if coalesce is not None:
        df = df.coalesce(coalesce)
    writer = df.write.mode("overwrite").option("header", str(header).lower())
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.csv(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    **properties: str,
) -> None:
    """JDBC table sink — the warehouse-load half of the reference's
    MySQL→Redshift pipeline (MySQL_to_Redshift.py:47-55 target side)
    expressed as Spark's distributed JDBC writer: each partition opens
    its own connection and batch-inserts its rows, so load parallelism
    follows the DataFrame's partitioning (``df.repartition(n)`` to
    control connection count against the database)."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .mode(mode)
    )
    for k, v in properties.items():
        writer = writer.option(k, v)
    writer.save()


def export_rows(
    df: DataFrame,
    deliver: Callable[[list[str], list[list[str]]], Any],
    max_rows: int = 100_000,
    fill_na: bool = True,
) -> int:
    """K9: export a (small) query result to an external row-based API
    (plugins/gsheet.py:102-140 update_google_sheet: clear + bulk
    values_update; driver SQL_to_Sheet.py:10-35).

    Applies the reference's export cleaning (T12 null-fill, T14
    stringify), caps the collect, and hands (header, rows) to the
    delivery callable — the seam where a real sheet/webhook client
    plugs in. Returns the number of rows delivered.
    """
    capped = df.limit(max_rows)
    if fill_na:
        capped = fill_empty_strings(stringify_for_export(capped))
    else:
        capped = stringify_for_export(capped)
    pdf = capped.toPandas()
    header = list(pdf.columns)
    rows = pdf.astype(str).values.tolist()
    deliver(header, rows)
    return len(rows)


def notify_on_failure(
    notify: Callable[[str], Any], context: str = "job"
) -> Callable[[Callable[..., Any]], Callable[..., Any]]:
    """K11: failure-notification decorator (plugins/slack.py:6-26
    on_failure_callback semantics). Wrap any job function; on
    exception the callback receives a message with the context and
    traceback, then the exception re-raises (the job still fails)."""

    def deco(fn: Callable[..., Any]) -> Callable[..., Any]:
        def wrapped(*args: Any, **kwargs: Any) -> Any:
            try:
                return fn(*args, **kwargs)
            except Exception as e:
                notify(
                    f"task failed: {context}: {e}\n{traceback.format_exc()}"
                )
                raise

        wrapped.__name__ = getattr(fn, "__name__", "wrapped")
        return wrapped

    return deco


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    sort_by: list[str] | None = None,
) -> None:
    """Layout-controlled partitioned write — the 100 TB table layout
    primitive the reference's daily loads imply (T13's
    DATE(created_at) predicate becomes partition pruning only if the
    data lands partitioned by that date).

    Without the repartition, EVERY upstream task writes one file into
    EVERY partition directory it has rows for — tasks × partitions
    small files. Repartitioning on the partition columns first routes
    each Hive partition's rows to one task → one file per partition.
    ``sort_by`` then clusters rows inside each file so parquet
    row-group min/max statistics can skip on those columns at read
    time (poor man's Z-order; real multi-dim clustering would
    interleave key bits the same way).
    """
    out = df.repartition(*[df[c] for c in partition_by])
    if sort_by:
        out = out.sortWithinPartitions(*partition_by, *sort_by)
    out.write.mode("overwrite").partitionBy(*partition_by).parquet(path)


def zorder_value(df: DataFrame, cols: list[str], bits: int = 16):
    """Z-order (Morton) key over numeric columns, as a pure codegen
    expression: each column is min/max normalized to ``bits`` levels
    (one tiny agg collects the bounds), then the per-column bit
    planes are interleaved with shift/and/or arithmetic. Rows close
    in z-value are close in EVERY keyed dimension, so sorting by it
    clusters multi-dimensionally.

    Returns (column_expression, bounds) where bounds is the collected
    {col: (min, max)} dict — callers reuse it to compute the z-value
    of query predicates.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    bounds_row = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    levels = (1 << bits) - 1
    planes = []
    for ci, c in enumerate(cols):
        mn = float(bounds_row[f"mn_{c}"])
        mx = float(bounds_row[f"mx_{c}"])
        span = (mx - mn) or 1.0
        scaled = F.least(
            F.lit(levels),
            F.floor(
                (F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * levels
            ).cast("long"),
        )
        for b in range(bits):
            # bit b of column ci lands at interleaved position
            # b*len(cols) + ci
            planes.append(
                F.shiftleft(
                    F.shiftright(scaled, b).bitwiseAND(F.lit(1)),
                    b * len(cols) + ci,
                )
            )
    z = reduce(lambda a, p: a.bitwiseOR(p), planes, F.lit(0).cast("long"))
    bounds = {
        c: (bounds_row[f"mn_{c}"], bounds_row[f"mx_{c}"]) for c in cols
    }
    return z, bounds


def write_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int,
    bits: int = 16,
) -> None:
    """Multi-dimensionally clustered write (Delta/Iceberg OPTIMIZE
    ZORDER BY analogue): range-partition and sort the table by the
    interleaved-bit z-value of ``cols`` so each output file covers a
    compact hyper-rectangle of the key space, and parquet min/max
    stats can skip files for selective predicates on ANY of the
    z-columns — not just the leading sort key as with a plain
    lexicographic sort. This is the layout complement to
    ``write_partitioned``: partition on the coarse pruning column
    (date), z-order inside on the remaining filter columns.

    Scale shape: one 2-scalar-per-column agg for the bounds, then a
    single range shuffle on the z-key (repartitionByRange samples the
    key distribution, so skew in the raw columns does not skew file
    sizes) and an in-partition sort. The z-key itself is pure
    shift/and/or codegen — no Python, no UDF.
    """
    z, _ = zorder_value(df, cols, bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet(
    spark: Any,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    checks: list | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet table into
    ceil(total_bytes / target) files via staging + atomic swap
    (publish_swap), returning the row count. Streaming sinks and
    incremental loads fragment tables over time; scan cost at 100 TB
    is dominated by file-open overhead once files drop well under the
    HDFS/S3 block size, so periodic compaction is part of the table
    lifecycle (the K8 swap makes it safe against concurrent readers
    of the old snapshot).

    File sizing uses a local directory walk (test/local mode); on a
    real cluster the same arithmetic runs against the Hadoop
    FileSystem listing.
    """
    import math
    import os

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total / target_file_bytes))
    # coalesce, not repartition: compaction merges input splits and
    # must never pay a full exchange to fix a FILE-COUNT problem
    df = read_parquet(spark, path)
    expected = df.count()
    # self-verifying: compaction must be a no-op on content, enforced
    # through the same K8 gate as any publish — a failed check (or a
    # crash) leaves the fragmented-but-correct table serving
    all_checks = [CountCheck("compaction_rowcount", expected, op="eq")] + (
        checks or []
    )
    return publish_swap(df.coalesce(n_files), path, checks=all_checks)


# ------------------------------------------------ bucketed layout
# (DISTKEY analogue: write-once hash shuffle replaces every
# query-time shuffle on the bucket key; SORTKEY analogue lives in
# write_partitioned/write_zorder above)


def save_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    bucket_by: list[str],
    n_buckets: int,
    sort_by: list[str] | None = None,
) -> None:
    """Write ``df`` as an external bucketed table ``name`` at
    ``path``: one hash shuffle now, zero on every future join/agg
    keyed by ``bucket_by`` against a co-bucketed table.

    ``sort_by`` additionally orders rows inside each bucket file so a
    sort-merge join skips its per-task sort. Pick ``n_buckets`` so a
    bucket is a few hundred MB at target scale (buckets are the unit
    of join parallelism; too few starves the cluster, too many makes
    small files — see compact_parquet for the latter's cost).
    """
    writer = (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_by)
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(name, format="parquet")


def load_bucketed(spark: Any, name: str) -> DataFrame:
    """Read a bucketed table WITH its bucket metadata (a plain
    ``spark.read.parquet(path)`` of the same files loses the bucket
    spec and re-shuffles on the next join)."""
    return spark.table(name)


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    shard_key: str,
    n_shards: int = 8,
    compression: str = "gzip",
) -> list[tuple[int, int]]:
    """Export a corpus as DETERMINISTIC gzip JSONL shards — the
    interchange layout training data-loaders consume (one JSON object
    per line, `_shard=K/` directories, stable shard membership).

    Shard assignment is content-addressed, not partition-addressed:
    shard = md5(shard_key) % n_shards, so the same row lands in the
    same shard on every run and across cluster sizes — re-exports
    diff cleanly, loaders can resume per shard, and a per-shard hash
    check (the K8 validation idea) pins the export. A repartition ON
    the shard column aligns task and shard boundaries (one file per
    shard dir); gzip members are non-splittable, so the shard count
    IS the downstream read parallelism — size n_shards so each shard
    is a few hundred MB at target scale.

    Returns the (shard, row_count) manifest, computed from the same
    tagged frame the writer consumed (one extra metadata-sized
    aggregate, not a re-read of the written files)."""
    from pyspark.sql import functions as F

    shard = (
        F.conv(
            F.substring(F.md5(F.col(shard_key).cast("string")), 1, 8), 16, 10
        ).cast("long")
        % n_shards
    ).cast("int")
    tagged = df.withColumn("_shard", shard).persist()
    try:
        (
            tagged.repartition(n_shards, "_shard")
            .write.mode("overwrite")
            .partitionBy("_shard")
            .option("compression", compression)
            .json(path)
        )
        manifest = sorted(
            (r._shard, r.n)
            for r in tagged.groupBy("_shard")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    finally:
        tagged.unpersist()
    return manifest
