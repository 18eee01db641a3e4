"""catalog.read_parquet: the schema Spark would infer, read from one
file footer on the driver, so a parquet read starts no Spark job."""

from __future__ import annotations

import ast
import datetime
import os
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import programmers_data_spark as pkg
from programmers_data_spark import catalog
from programmers_data_spark.catalog import (
    footer_row_count,
    footer_schema,
    load_table,
    read_parquet,
    register_views,
)
from programmers_data_spark.publish import publish_versioned, read_versioned

REPO = Path(__file__).resolve().parents[1]
FIXTURE_DIRS = [
    d
    for d in (
        REPO / "perfbench/fixtures/sf0.001",
        REPO / "perfbench/fixtures/sf0.01",
        *sorted(Path("/root/testdata").glob("sf*")),
    )
    if d.is_dir()
]
NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture()
def conf(spark):
    """Set SQL confs for one test; restore them after."""
    saved = {}

    def set_(key, value):
        saved.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, value)

    yield set_
    for key, value in saved.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


def _jobs(spark, fn):
    """Spark jobs started by fn(), counted in a fresh job group (a
    job-group count stays exact where the retained-jobs list is full)."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_same_read(spark, path):
    inferred = spark.read.parquet(path).schema
    assert footer_schema(spark, path) == inferred
    assert read_parquet(spark, path).schema == inferred


@pytest.mark.parametrize("ntz", ["false", "true"])
@pytest.mark.parametrize("sf_dir", FIXTURE_DIRS, ids=lambda d: f"{d.parent.name}/{d.name}")
def test_footer_schema_matches_inference_on_fixtures(spark, conf, sf_dir, ntz):
    conf(NTZ, ntz)
    conf(NANOS, "true")
    for name in catalog.TABLES:
        path = catalog.table_path(str(sf_dir), name)
        inferred = spark.read.parquet(path).schema
        assert read_parquet(spark, path).schema == inferred, name
        assert footer_schema(spark, path) == inferred, name


_ALL_TYPES = """
SELECT CAST(id AS TINYINT) AS i8, CAST(id AS SMALLINT) AS i16,
       CAST(id AS INT) AS i32, id AS i64, CAST(id AS FLOAT) AS f32,
       CAST(id AS DOUBLE) AS f64, CAST(id AS DECIMAL(38, 2)) AS d38,
       CAST(id AS DECIMAL(9, 2)) AS d9, CAST(id AS STRING) AS s,
       CAST(CAST(id AS STRING) AS BINARY) AS b, id % 2 = 0 AS flag,
       DATE'2024-01-01' + CAST(id AS INT) AS d,
       TIMESTAMP'2024-01-01 00:00:00' AS ts,
       TIMESTAMP_NTZ'2024-01-01 00:00:00' AS ts_ntz,
       array(id, id + 1) AS arr, map('k', id) AS m,
       named_struct('x', id, 'y', array(named_struct('z', 'v'))) AS st
FROM range(5)
"""


@pytest.mark.parametrize("ntz", ["false", "true"])
def test_spark_written_frames_match_inference(spark, conf, tmp_path, ntz):
    conf(NTZ, ntz)
    frame = spark.sql(_ALL_TYPES)
    for tag, df in (("full", frame), ("empty", frame.limit(0))):
        path = str(tmp_path / tag)
        df.write.parquet(path)
        _assert_same_read(spark, path)
        assert read_parquet(spark, path).collect() == spark.read.parquet(path).collect()
    gen_table = str(tmp_path / "versioned")
    publish_versioned(frame, gen_table)
    gen_dir = os.path.join(gen_table, "gen-000001")
    assert os.path.isdir(gen_dir)
    _assert_same_read(spark, gen_dir)


def test_appended_dir_reads_the_first_file_like_spark(spark, tmp_path):
    """Spark infers from the first data file by path; so does the
    helper, whichever of two differing appends sorts first."""
    path = str(tmp_path / "appended")
    spark.range(3).write.parquet(path)
    spark.range(3).selectExpr("id", "id * 2 AS extra").write.mode("append").parquet(path)
    _assert_same_read(spark, path)


def test_flat_foreign_primitives_match_inference(spark, conf, tmp_path):
    ts = [datetime.datetime(2024, 1, 1, 1, 2, 3), None]
    table = pa.table({
        "flag": pa.array([True, None]),
        "i32": pa.array([1, None], pa.int32()),
        "i64": pa.array([1, None], pa.int64()),
        "f32": pa.array([1.0, None], pa.float32()),
        "f64": pa.array([1.0, None], pa.float64()),
        "s": pa.array(["a", None]),
        "d": pa.array([datetime.date(2024, 1, 1), None]),
        "ts_ms": pa.array(ts, pa.timestamp("ms")),
        "ts_us": pa.array(ts, pa.timestamp("us")),
        "ts_us_utc": pa.array(ts, pa.timestamp("us", "UTC")),
    })
    path = str(tmp_path / "flat.parquet")
    pq.write_table(table, path)
    for ntz in ("false", "true"):
        conf(NTZ, ntz)
        _assert_same_read(spark, path)


def test_flat_foreign_lists_match_inference(spark, conf, tmp_path):
    """A standard 3-level LIST of a flat primitive (the fixtures'
    ``embeddings`` column) maps to a nullable array, elements
    required or optional."""
    ts = [datetime.datetime(2024, 1, 1, 1, 2, 3)]
    table = pa.table({
        "f32": pa.array([[1.0, None], None, []], pa.list_(pa.float32())),
        "i64": pa.array([[1], [2, 3], None], pa.list_(pa.int64())),
        "s": pa.array([["a"], None, ["b", None]], pa.list_(pa.string())),
        "req": pa.array(
            [[1], [], [2]], pa.list_(pa.field("element", pa.int32(), nullable=False))
        ),
        "ts": pa.array([ts, None, []], pa.list_(pa.timestamp("us"))),
        "flat": pa.array([1, 2, None], pa.int32()),
    })
    path = str(tmp_path / "lists.parquet")
    pq.write_table(table, path)
    for ntz in ("false", "true"):
        conf(NTZ, ntz)
        _assert_same_read(spark, path)
    assert read_parquet(spark, path).collect() == spark.read.parquet(path).collect()


def _fallback(spark, path):
    assert footer_schema(spark, path) is None
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema


def test_fallback_cases_read_the_inferred_schema(spark, conf, tmp_path):
    conf(NANOS, "true")
    part = str(tmp_path / "partitioned")
    spark.range(4).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(part)
    _fallback(spark, part)

    fixtures = str(FIXTURE_DIRS[0])
    _fallback(spark, "file:" + catalog.table_path(fixtures, "region"))

    nested = str(tmp_path / "nested_lists.parquet")
    pq.write_table(pa.table({
        "structs": pa.array([[{"a": 1}], None], pa.list_(pa.struct([("a", pa.int32())]))),
    }), nested)
    _fallback(spark, nested)
    pq.write_table(pa.table({
        "lists": pa.array([[[1]], None], pa.list_(pa.list_(pa.int32()))),
    }), nested)
    _fallback(spark, nested)
    pq.write_table(pa.table({
        "plain": pa.array([{"list": [{"element": 1.0}]}], pa.struct([
            ("list", pa.list_(pa.struct([("element", pa.float32())]))),
        ])),
    }), nested)
    _fallback(spark, nested)

    nanos = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}), nanos, version="2.6"
    )
    _fallback(spark, nanos)

    unsigned = str(tmp_path / "uint8.parquet")
    pq.write_table(pa.table({"u": pa.array([1, 2], pa.uint8())}), unsigned)
    _fallback(spark, unsigned)

    # a scheme Spark resolves through a Hadoop filesystem: never read
    # here, only recognised as outside the footer rule
    assert footer_schema(spark, "s3a://bucket/table") is None


def test_reads_start_no_spark_job(spark, tmp_path):
    sf = str(FIXTURE_DIRS[0])
    events = catalog.table_path(sf, "events")
    # the probe sees the inference job the helper avoids
    assert _jobs(spark, lambda: spark.read.parquet(events)) >= 1
    assert _jobs(spark, lambda: load_table(spark, sf, "events")) == 0

    table = str(tmp_path / "store")
    publish_versioned(spark.range(10).selectExpr("id", "id * 2 AS v"), table)
    assert _jobs(spark, lambda: read_versioned(spark, table)) == 0
    # every fixture table, embeddings' list column too
    assert _jobs(spark, lambda: register_views(spark, sf)) == 0


def _assert_footer_count(spark, path):
    assert footer_row_count(path) == spark.read.parquet(path).count(), path


def test_footer_row_count_matches_spark_count(spark, conf, tmp_path):
    conf(NANOS, "true")
    for sf_dir in FIXTURE_DIRS:
        for name in catalog.TABLES:
            _assert_footer_count(spark, catalog.table_path(str(sf_dir), name))

    frame = spark.range(0, 100, 1, 3).selectExpr("id", "id % 7 AS k")
    for tag, df in (("full", frame), ("empty", frame.limit(0))):
        path = str(tmp_path / tag)
        df.write.parquet(path)
        _assert_footer_count(spark, path)
    assert footer_row_count(str(tmp_path / "empty")) == 0

    table = str(tmp_path / "versioned")
    publish_versioned(frame, table)
    _assert_footer_count(spark, os.path.join(table, "gen-000001"))

    appended = str(tmp_path / "appended")
    spark.range(3).write.parquet(appended)
    spark.range(5).selectExpr("id", "id * 2 AS extra").write.mode("append").parquet(appended)
    assert footer_row_count(appended) == 8
    _assert_footer_count(spark, appended)


def test_footer_row_count_leaves_other_reads_to_spark(spark, tmp_path):
    part = str(tmp_path / "partitioned")
    spark.range(4).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(part)
    assert footer_row_count(part) is None
    assert catalog.row_count(spark, part) == 4
    assert footer_row_count(part + "/*") is None
    region = catalog.table_path(str(FIXTURE_DIRS[0]), "region")
    assert footer_row_count("file:" + region) is None
    assert catalog.row_count(spark, "file:" + region) == catalog.row_count(spark, region)


def _direct_parquet_reads(tree):
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "parquet"
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "read"
    ]


def test_no_direct_parquet_reads_outside_the_helper():
    """Every engine read goes through catalog.read_parquet, so a new
    call site cannot bring the schema-inference job back unnoticed."""
    root = Path(pkg.__file__).parent
    found = {
        str(p.relative_to(root)): lines
        for p in sorted(root.rglob("*.py"))
        if p != root / "catalog.py"
        and (lines := _direct_parquet_reads(ast.parse(p.read_text())))
    }
    assert not found, f".read.parquet( outside catalog.read_parquet: {found}"
    planted = ast.parse("df = spark.read.parquet(path)")
    assert _direct_parquet_reads(planted) == [1]


def _counted_reads(tree):
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "count"
        and isinstance(node.func.value, ast.Call)
        and ast.unparse(node.func.value.func).endswith("read_parquet")
    ]


def test_no_counted_reads_outside_the_helper():
    """A table's row count comes from catalog.row_count (its footers),
    never from a Spark job over a fresh read."""
    root = Path(pkg.__file__).parent
    found = {
        str(p.relative_to(root)): lines
        for p in sorted(root.rglob("*.py"))
        if p != root / "catalog.py"
        and (lines := _counted_reads(ast.parse(p.read_text())))
    }
    assert not found, f"read_parquet(...).count() outside catalog.row_count: {found}"
    planted = ast.parse("n = read_parquet(spark, p).count()\nm = catalog.read_parquet(spark, p).count()")
    assert _counted_reads(planted) == [1, 2]
