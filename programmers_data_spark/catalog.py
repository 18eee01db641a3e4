"""Fixture-table catalog: parquet scans + temp-view registration.

The driver fixtures (TESTDATA.md) are one parquet file per table.
``load_tables`` returns DataFrames straight off a parquet scan so
Catalyst keeps predicate pushdown / column pruning; nothing is
cached here — queries decide what (if anything) to persist.

``read_parquet`` is the package's one parquet read path: it takes the
schema from the file footer, so a read starts no Spark job;
``row_count`` sums the footers' row counts the same way (SCALE.md
"Parquet reads").
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# EliminateWindowPartitions rewrites a constant-key window spec into an
# unpartitioned one, which makes WindowExec log its "No Partition
# Defined" scale warning even for windows we PROVED bounded and keyed
# by a constant on purpose (operators.bounded_global_window: per-shard
# totals, 256-row bucket offsets, per-day rollups). Excluding the rule
# keeps those intentional keys, so the warning fires only for genuinely
# unpartitioned windows — i.e. only for real mistakes. Execution is
# identical either way: one hash partition holds every row.
_EXCLUDED_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions"
)


def _pin_excluded_rules(spark: SparkSession) -> None:
    current = spark.conf.get("spark.sql.optimizer.excludedRules", None)
    if not current:
        spark.conf.set("spark.sql.optimizer.excludedRules", _EXCLUDED_RULES)
    elif _EXCLUDED_RULES not in current:
        spark.conf.set(
            "spark.sql.optimizer.excludedRules",
            f"{current},{_EXCLUDED_RULES}",
        )


# Footer key under which Spark's parquet writer stores the row schema
# as StructType JSON (ParquetReadSupport.SPARK_METADATA_KEY).
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

_PRIMITIVES = {
    ("BOOLEAN", "None"): T.BooleanType(),
    ("INT32", "None"): T.IntegerType(),
    ("INT32", "Date"): T.DateType(),
    ("INT64", "None"): T.LongType(),
    ("FLOAT", "None"): T.FloatType(),
    ("DOUBLE", "None"): T.DoubleType(),
    ("BYTE_ARRAY", "String"): T.StringType(),
}


def _hidden(name: str) -> bool:
    """Spark's file-index filter (HadoopFSUtils.shouldFilterOutPathName)."""
    if name.startswith(("_metadata", "_common_metadata")):
        return False
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _data_files(path: str) -> list[str] | None:
    """The files Spark reads for ``path``: ``path`` itself, or the
    visible data files of a flat directory, sorted by name. None where
    Spark would do more than read those files (a subdirectory means
    partition discovery, a summary file is read first), for an empty
    directory, and for globs and non-local schemes."""
    if ":" in path or any(c in path for c in "*?[]{}\\"):
        return None
    if os.path.isfile(path):
        return None if _hidden(os.path.basename(path)) else [path]
    try:
        visible = sorted(
            (e for e in os.scandir(path) if not _hidden(e.name)),
            key=lambda e: e.name,
        )
    except OSError:
        return None
    if not visible or any(e.is_dir() or e.name.startswith("_") for e in visible):
        return None
    return [e.path for e in visible]


def _nullable(dt: T.DataType) -> T.DataType:
    """Spark's ``asNullable``: every field, element and value nullable."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
             for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _primitive(col, ntz: bool) -> T.DataType | None:
    """Spark's ParquetToSparkSchemaConverter for the primitives it maps
    without a conf; None for anything else."""
    logical = json.loads(col.logical_type.to_json())
    kind = logical["Type"]
    if kind == "Int" and logical["isSigned"] and logical["bitWidth"] in (32, 64):
        kind = "None"  # INT(32|64, signed) is the unannotated type
    if col.physical_type == "INT64" and kind == "Timestamp":
        if logical["timeUnit"] not in ("milliseconds", "microseconds"):
            return None
        utc = logical["isAdjustedToUTC"]
        return T.TimestampType() if utc or not ntz else T.TimestampNTZType()
    return _PRIMITIVES.get((col.physical_type, kind))


def _field(col, arrow: pa.Schema, ntz: bool) -> T.StructField | None:
    """The field Spark infers for leaf column ``col``: a flat primitive,
    or a standard 3-level LIST (``<name> (LIST) { repeated group list
    { element } }``) of one, read as a nullable array. The file's
    ``arrow`` schema tells a LIST-annotated group from a plain one.
    None for anything else (structs, maps, nested or legacy lists)."""
    if col.path == col.name:
        if col.max_repetition_level or col.max_definition_level > 1:
            return None
        dt = _primitive(col, ntz)
        return None if dt is None else T.StructField(col.name, dt, True)
    name = col.path.removesuffix(".list.element")
    idx = arrow.get_field_index(name)
    if name == col.path or col.max_repetition_level != 1 or idx < 0:
        return None
    list_type = arrow.field(idx).type
    if not isinstance(list_type, pa.ListType) or pa.types.is_nested(list_type.value_type):
        return None
    dt = _primitive(col, ntz)
    return None if dt is None else T.StructField(name, T.ArrayType(dt, True), True)


def footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema ``spark.read.parquet(path)`` infers, read on the driver
    from one file's footer; None where only Spark's own inference
    gives the right answer (see ``_data_files`` and ``_field``)."""
    files = _data_files(path)
    if files is None:
        return None
    try:
        meta = pq.read_metadata(files[0])
        arrow = meta.schema.to_arrow_schema()
    except (OSError, ValueError, pa.ArrowException):
        return None
    spark_json = (meta.metadata or {}).get(_SPARK_ROW_METADATA)
    if spark_json is not None:
        try:
            schema = T.StructType.fromJson(json.loads(spark_json))
        except (ValueError, KeyError, TypeError):
            return None
        return _nullable(schema)
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true") == "true"
    fields = []
    for col in meta.schema:
        field = _field(col, arrow, ntz)
        if field is None:
            return None
        fields.append(field)
    if len({f.name.lower() for f in fields}) < len(fields):
        return None  # duplicate names: let Spark raise its own error
    return T.StructType(fields)


def footer_row_count(path: str) -> int | None:
    """The row count ``spark.read.parquet(path).count()`` returns, summed
    on the driver from the footers of the files Spark would read; None
    where ``_data_files`` leaves the read to Spark (partitioned dirs,
    globs, non-local schemes) or a footer cannot be read."""
    files = _data_files(path)
    if files is None:
        return None
    try:
        return sum(pq.read_metadata(f).num_rows for f in files)
    except (OSError, ValueError, pa.ArrowException):
        return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job.

    Spark's non-merging inference launches a one-task job to read one
    footer; reading that footer here and handing Spark the schema
    gives the same DataFrame and starts no job. Anything the footer
    rule does not cover falls back to Spark's own inference."""
    schema = footer_schema(spark, path)
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def row_count(spark: SparkSession, path: str) -> int:
    """Rows in the parquet table at ``path``: its footers' row counts,
    or Spark's ``count()`` where the footer rule does not apply."""
    n = footer_row_count(path)
    return read_parquet(spark, path).count() if n is None else n


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; have {TABLES}")
    # Runtime-settable SQL confs the driver's own session may lack:
    # UTC so date_format/to_date on fixture timestamps match the
    # UTC-naive oracle; nanosAsLong so NANOS parquet (events.ts) reads;
    # inferTimestampNTZ off so plain parquet TIMESTAMP(isAdjustedToUTC
    # =false) columns scan as TimestampType (UTC instant — identical to
    # DuckDB's naive-as-UTC reading) instead of TIMESTAMP_NTZ, which
    # unix_micros & friends reject. Setting it at the session level
    # (rather than casting post-scan) keeps parquet predicate pushdown
    # on timestamp columns.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _pin_excluded_rules(spark)
    df = read_parquet(spark, table_path(sf_dir, name))
    # Fixture generations have varied their physical timestamp type:
    # earlier rounds wrote events.ts as parquet TIMESTAMP(NANOS),
    # which Spark only reads as a raw INT64 (nanosAsLong); current
    # fixtures write plain TIMESTAMP(MICROS) (handled by the NTZ conf
    # above). Both normalizations stay so any generation reads as
    # TimestampType. The nanos carried no sub-microsecond content
    # (verified across all SFs), so nanos→micros is lossless.
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer division — a double `/` would lose precision on
        # epoch-nanos magnitudes (> 2^53) and shift timestamps by ±1µs
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (SQL entry point)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
