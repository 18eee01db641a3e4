"""JSONL interchange certification — drives the r8 source/sink pair
(`sinks.write_jsonl_shards`, `sources.read_jsonl` quarantine parse)
through the driver contract end-to-end, the roundtrip-identity
pattern `multimodal_png_roundtrip` proved for codecs.

The query WRITES the documents fixture as content-addressed gzip
JSONL shards, READS the files back through the malformed-line
quarantine, and emits per-shard (shard, n_rows, content_md5) computed
from the read-back rows; the oracle recomputes the same stats from
the parquet fixture directly, re-deriving shard assignment as
md5(doc_id) % n. The hashes match only if the export layout, the
shard function, the gzip/JSON encode, the read-back parse, and the
quarantine split all round-trip every row bit-exactly.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..memo import memoized
from ..registry import query
from ..storeutil import store_base

# Operator-overridable base for the written shard trees (bench pins a
# fresh one per run; default is the per-uid tempdir base).
JSONL_STORE_ENV = "SPARK_GRAFT_JSONL_STORE"

N_SHARDS = 8

# Deterministic junk lines prepended to the read-back stream: the
# quarantine path must be exercised by the certified query itself,
# not just unit tests. Chosen without single quotes so the oracle can
# embed them as SQL literals verbatim.
_BAD_LINES = ('{"doc_id": "truncated', "plain garbage not json")

_DIGEST_DUCK = (
    "md5(concat_ws('|', CAST(doc_id AS VARCHAR), text, lang, source, "
    "CAST(n_chars AS VARCHAR)))"
)

_ORACLE = f"""
    WITH rows_ AS (
      SELECT CAST(
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS UBIGINT) % {N_SHARDS} AS BIGINT) AS shard,
             {_DIGEST_DUCK} AS d
      FROM documents
      UNION ALL
      SELECT -1, md5('{_BAD_LINES[0]}')
      UNION ALL
      SELECT -1, md5('{_BAD_LINES[1]}')
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_rows,
           md5(string_agg(d, '' ORDER BY d)) AS content_md5
    FROM rows_ GROUP BY shard ORDER BY shard
"""


def _digest_spark() -> F.Column:
    return F.md5(
        F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            F.col("text"),
            F.col("lang"),
            F.col("source"),
            F.col("n_chars").cast("string"),
        )
    )


@query("jsonl_shard_roundtrip", oracle=_ORACLE)
@memoized
def jsonl_shard_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write → read → verify for the JSONL interchange layout.

    Pipeline: documents → ``write_jsonl_shards`` (shard =
    md5(doc_id) % {N_SHARDS}, gzip, one file per ``_shard=K/`` dir) →
    raw-line read of the written files with the shard id recovered
    from each line's file path → two deterministic junk lines
    prepended (shard −1) → ``parse_jsonl_with_rejects`` quarantine →
    per-shard row count + md5 over the sorted per-row digests, with
    the quarantined lines reported as the shard −1 row. The oracle
    recomputes everything from the parquet fixture, so a row lost,
    duplicated, or altered anywhere in the write/read path — or a
    junk line silently accepted — breaks the hash.

    Scale shape: the export is one shard-keyed repartition + write
    (gzip members non-splittable, so shard count = downstream read
    parallelism); the read-back is a line scan whose parallelism is
    the shard count; digests and counts partial-aggregate per shard.
    The check costs one extra pass over the corpus — the standard
    price of certifying an interchange handoff.
    """
    from ..sinks import write_jsonl_shards
    from ..sources import parse_jsonl_with_rejects

    base = store_base(JSONL_STORE_ENV, "spark_graft_jsonl")
    os.makedirs(base, exist_ok=True)  # an env-overridden base may be new
    out = tempfile.mkdtemp(prefix="jsonl_rt_", dir=base)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    write_jsonl_shards(
        docs, os.path.join(out, "docs"), shard_key="doc_id", n_shards=N_SHARDS
    )

    raw = spark.read.text(os.path.join(out, "docs", "_shard=*", "part-*"))
    raw = raw.select(
        F.regexp_extract(F.input_file_name(), r"_shard=(\d+)", 1)
        .cast("long")
        .alias("shard"),
        "value",
    )
    junk = spark.createDataFrame(
        [(-1, line) for line in _BAD_LINES], "shard long, value string"
    )
    good, rejects = parse_jsonl_with_rejects(
        raw.unionByName(junk),
        "doc_id long, text string, lang string, source string, n_chars long",
        keep_cols=["shard"],
    )
    digests = good.select("shard", _digest_spark().alias("d")).unionByName(
        rejects.select("shard", F.md5("raw_line").alias("d"))
    )
    result = (
        digests.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.md5(F.concat_ws("", F.array_sort(F.collect_list("d")))).alias(
                "content_md5"
            ),
        )
        .orderBy("shard")
        .persist()
    )
    return result


# ------------------------------------------------------ ORC roundtrip

# Operator-overridable base for the written ORC trees (bench pins a
# fresh one per run; default is the per-uid tempdir base).
ORC_STORE_ENV = "SPARK_GRAFT_ORC_STORE"

_ORC_ORACLE = f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_rows,
           md5(string_agg(d, '' ORDER BY d)) AS content_md5
    FROM (SELECT lang, {_DIGEST_DUCK} AS d FROM documents)
    GROUP BY lang ORDER BY lang
"""


@query("orc_partitioned_roundtrip", oracle=_ORC_ORACLE)
@memoized
def orc_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write → read → verify for Spark's native ORC format with a
    Hive-style partition layout — the second columnar interchange
    next to parquet (a warehouse handoff target the reference serves
    via its S3→Redshift COPY shapes, reference
    airflow/dags/MySQL_to_Redshift.py:47-53 semantics; here the
    format itself is certified end-to-end).

    Pipeline: documents → ``write.partitionBy("lang").orc`` →
    ``read.orc`` with the partition column recovered from the
    directory layout → per-partition row count + md5 over the sorted
    per-row digests (digest includes lang, so a row landing in the
    wrong partition directory, a type mangled by the ORC
    encode/decode, or a row lost in either pass breaks the hash).
    The oracle recomputes the same stats straight from the parquet
    fixture — the roundtrip-identity pattern of
    jsonl_shard_roundtrip / multimodal_png_roundtrip.

    Scale shape: the export is a columnar write partitioned by a
    low-cardinality dimension (the standard lake layout whose
    directory pruning tests/test_io.py proves for parquet and
    tests/test_round9.py proves for this ORC tree); the read-back is
    a parallel columnar scan; digests partial-aggregate per
    partition. One extra pass over the corpus — the certification
    price, paid once per handoff."""
    base = store_base(ORC_STORE_ENV, "spark_graft_orc")
    os.makedirs(base, exist_ok=True)  # an env-overridden base may be new
    out = os.path.join(tempfile.mkdtemp(prefix="orc_rt_", dir=base), "docs")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    docs.write.mode("overwrite").partitionBy("lang").orc(out)

    back = spark.read.orc(out)
    result = (
        back.select("lang", _digest_spark().alias("d"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.md5(F.concat_ws("", F.array_sort(F.collect_list("d")))).alias(
                "content_md5"
            ),
        )
        .orderBy("lang")
        .persist()
    )
    return result
