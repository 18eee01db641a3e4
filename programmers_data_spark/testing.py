"""Local replica of the driver's correctness gate.

The driver runs each ``queries()[name]`` on Spark and the matching
``oracle_sql()[name]`` on DuckDB (fixture tables pre-registered as
views), then compares row count + schema + an order-insensitive value
hash. This module reproduces that comparison so every query can be
verified in pytest before the driver sees it.

Normalization is deliberately strict: values are canonicalized to
strings (floats via repr so only bit-identical doubles match) and the
row multiset must be identical. If this comparator passes, any
reasonable hash-based comparator passes too.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math
import os
import tempfile
import uuid
from dataclasses import dataclass, field

import duckdb
import pandas as pd
from pyspark.sql import DataFrame

from .catalog import TABLES, table_path


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Fresh in-memory DuckDB with fixture tables registered as views,
    matching the driver's pre-registration. An in-memory database
    spills to ``.tmp`` under the working directory by default; the
    spill goes to a fresh directory under the system temp dir instead
    (DuckDB creates it only when it spills)."""
    spill = os.path.join(
        tempfile.gettempdir(), f"duckdb_spill_{uuid.uuid4().hex[:12]}"
    )
    con = duckdb.connect(config={"temp_directory": spill})
    for name in TABLES:
        path = table_path(sf_dir, name)
        # partial fixture dirs (e.g. the adversarial documents-only
        # corpus in test_edge_fixtures) register what exists; full
        # driver dirs register everything, as before
        if not os.path.exists(path):
            continue
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def _canon_value(v: object) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, _dt.datetime):
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _canon_rows(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(pdf.columns)
    rows = [
        tuple(_canon_value(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    rows.sort()
    return rows


_TYPE_FAMILY = {
    "int8": "int", "int16": "int", "int32": "int", "int64": "int",
    "uint8": "int", "uint16": "int", "uint32": "int", "uint64": "int",
    "float32": "float", "float64": "float",
    "bool": "bool",
    "object": "obj", "string": "obj",
}


def _dtype_family(dtype: object) -> str:
    s = str(dtype)
    if s.startswith("datetime64"):
        return "ts"
    return _TYPE_FAMILY.get(s, "obj")


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    mismatches: list[str] = field(default_factory=list)

    def __str__(self) -> str:  # pragma: no cover - debug aid
        status = "OK" if self.ok else "FAIL"
        msg = f"[{status}] {self.name}: spark={self.spark_rows} oracle={self.oracle_rows}"
        for m in self.mismatches[:10]:
            msg += f"\n  - {m}"
        return msg


def compare_to_oracle(
    name: str, spark_df: DataFrame, oracle: str, sf_dir: str
) -> CompareResult:
    spark_pdf = spark_df.toPandas()
    con = duckdb_connection(sf_dir)
    try:
        oracle_pdf = con.execute(oracle).fetchdf()
    finally:
        con.close()

    mismatches: list[str] = []

    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        mismatches.append(f"columns differ: spark={s_cols} oracle={o_cols}")
    else:
        for c in s_cols:
            sf_, of_ = _dtype_family(spark_pdf[c].dtype), _dtype_family(oracle_pdf[c].dtype)
            if sf_ != of_ and "obj" not in (sf_, of_):
                mismatches.append(f"column {c!r} dtype family: spark={sf_} oracle={of_}")

    if len(spark_pdf) != len(oracle_pdf):
        mismatches.append("row count differs")

    if not mismatches:
        s_rows, o_rows = _canon_rows(spark_pdf), _canon_rows(oracle_pdf)
        if s_rows != o_rows:
            diffs = [
                f"row {i}: spark={s} oracle={o}"
                for i, (s, o) in enumerate(zip(s_rows, o_rows))
                if s != o
            ]
            mismatches.append(f"{len(diffs)} differing rows (of {len(s_rows)})")
            mismatches.extend(diffs[:5])

    return CompareResult(
        name=name,
        ok=not mismatches,
        spark_rows=len(spark_pdf),
        oracle_rows=len(oracle_pdf),
        mismatches=mismatches,
    )
