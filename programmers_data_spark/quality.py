"""Data-quality check runner (reference A3).

The reference gates summary builds with row-count assertions before
and after the main SQL (redshift_summary.py:185-211: input checks
compare a count SQL against a minimum; output checks support an
``eq`` mode) and refuses to publish empty results
(Build_Summary.py:42-45). Same semantics here, engine-native: checks
run as Spark actions against DataFrames/views and raise
``QualityCheckError`` on violation, aborting the publish.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

_OPS: dict[str, Callable[[int, int], bool]] = {
    "ge": lambda actual, want: actual >= want,
    "eq": lambda actual, want: actual == want,
    "le": lambda actual, want: actual <= want,
    "gt": lambda actual, want: actual > want,
}


class QualityCheckError(RuntimeError):
    pass


class EmptyTableError(QualityCheckError):
    """The empty-result guard fired: the table has 0 rows."""


@dataclass(frozen=True)
class CountCheck:
    """count(*) assertion — the reference's only check type.

    ``sql`` is a counting query returning one row/one value (mirrors
    redshift_summary.py input_check 'sql' keys); alternatively a
    DataFrame is counted directly.
    """

    name: str
    want: int
    op: str = "ge"  # reference: min-count default, 'eq' supported

    def evaluate(self, actual: int) -> None:
        if self.op not in _OPS:
            raise ValueError(f"unknown check op {self.op!r}")
        if not _OPS[self.op](actual, self.want):
            raise QualityCheckError(
                f"check {self.name!r} failed: count {actual} !{self.op} {self.want}"
            )


def run_sql_checks(
    spark: SparkSession, checks: list[tuple[str, CountCheck]]
) -> dict[str, int]:
    """Run (count_sql, check) pairs — reference input_check shape."""
    results = {}
    for sql, check in checks:
        actual = spark.sql(sql).collect()[0][0]
        check.evaluate(int(actual))
        results[check.name] = int(actual)
    return results


def run_df_checks(df: DataFrame, checks: list, count: int | None = None) -> int:
    """Run checks against a result DataFrame — reference output_check
    shape, extended with DataFrame-level gates: CountChecks share a
    single count() action, or the already-known ``count``; checks
    exposing ``evaluate_df`` (UniqueKeyCheck, SchemaCheck) run their
    own bounded probes."""
    actual = df.count() if count is None else count
    for check in checks:
        if hasattr(check, "evaluate_df"):
            check.evaluate_df(df)
        else:
            check.evaluate(actual)
    return actual


@dataclass(frozen=True)
class UniqueKeyCheck:
    """No duplicate rows per key — the publish gate behind every
    keyed table (K6 keep-latest and K7 upsert both PROMISE key
    uniqueness; this check makes a violated promise abort the publish
    instead of silently serving duplicates).

    Scale shape: one partial-aggregable groupBy on the key plus a
    LIMIT 1 existence probe — the scan stops at the first duplicate,
    nothing is collected."""

    keys: tuple[str, ...]
    name: str = "unique_key"

    def evaluate_df(self, df: DataFrame) -> None:
        from pyspark.sql import functions as F

        dup = (
            df.groupBy(*self.keys)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise QualityCheckError(
                f"check {self.name!r} failed: duplicate rows for key "
                f"{list(self.keys)}"
            )


@dataclass(frozen=True)
class SchemaCheck:
    """Published-schema contract: every required (column, type) must
    be present with exactly that Spark simpleString type — the gate
    that turns silent upstream schema drift into a failed publish
    (the reference handles drift by DROP+CREATE; a library consumer
    needs the refusal instead). Metadata-only, no Spark action."""

    required: tuple[tuple[str, str], ...]
    name: str = "schema"

    def evaluate_df(self, df: DataFrame) -> None:
        have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        bad = [
            (c, t, have.get(c)) for c, t in self.required if have.get(c) != t
        ]
        if bad:
            raise QualityCheckError(
                f"check {self.name!r} failed: column/type mismatches "
                f"(want, got): {[(c, t, g) for c, t, g in bad]}"
            )


@dataclass(frozen=True)
class NonEmptyCheck:
    """Build_Summary.py:42-45 empty-result guard as a check, so a
    ``run_df_checks`` list can share its one count with it."""

    context: str = "result"

    def evaluate(self, actual: int) -> None:
        if actual == 0:
            raise EmptyTableError(
                f"{self.context} produced 0 rows; refusing to publish"
            )


def assert_non_empty(
    df: DataFrame, context: str = "result", count: int | None = None
) -> int:
    """Build_Summary.py:42-45 empty-result guard, on ``df.count()`` or
    the already-known ``count``."""
    n = df.count() if count is None else count
    NonEmptyCheck(context).evaluate(n)
    return n


@dataclass(frozen=True)
class DriftCheck:
    """Generation-over-generation drift gate: an aggregate of the
    staged data must stay within ``rel_tol`` of the same aggregate on
    the currently-published generation. The check the reference's
    fixed count thresholds (mau_summary.py:11-21's hand-tuned
    minimums) grow into: the baseline is the table's own history, so
    it needs no retuning as the data grows — a sudden shift in row
    count, average document length, or null rate blocks the publish
    instead of silently training on it.

    ``agg``: 'count', 'avg', 'sum', or 'null_frac' over ``column``
    ('count' ignores the column). First publish has no baseline and
    passes vacuously.

    ``abs_tol`` keeps the gate meaningful around a zero baseline: a
    pure relative bound collapses to exact-equality when the baseline
    aggregate is 0 (e.g. a null_frac gate on a generation with no
    nulls would block ONE null row among millions). The allowed
    movement is max(|baseline| * rel_tol, abs_tol)."""

    name: str
    agg: str = "count"
    column: str | None = None
    rel_tol: float = 0.2
    abs_tol: float = 0.0

    def _measure(self, df: DataFrame) -> float:
        from pyspark.sql import functions as F

        if self.agg == "count":
            return float(df.count())
        if self.column is None:
            raise ValueError(f"drift check {self.name!r}: agg {self.agg!r} needs a column")
        if self.agg == "avg":
            expr = F.avg(self.column)
        elif self.agg == "sum":
            expr = F.sum(self.column)
        elif self.agg == "null_frac":
            expr = F.avg(F.col(self.column).isNull().cast("double"))
        else:
            raise ValueError(f"unknown drift agg {self.agg!r}")
        row = df.agg(expr.alias("v")).collect()[0]
        return float(row.v) if row.v is not None else 0.0

    def evaluate(self, staged: DataFrame, baseline: DataFrame) -> None:
        base = self._measure(baseline)
        new = self._measure(staged)
        bound = max(abs(base) * self.rel_tol, self.abs_tol)
        if abs(new - base) > bound:
            raise QualityCheckError(
                f"drift check {self.name!r} failed: {self.agg}"
                f"({self.column or '*'}) moved {base} -> {new}, "
                f"outside ±{self.rel_tol:.0%} (abs_tol={self.abs_tol})"
            )
