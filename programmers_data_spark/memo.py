"""Session memo — the one store for results reused inside a Spark
session (see SCALE.md "Session memo").

Several queries share expensive derived frames (MinHash signatures,
near-dup pairs, SemDeDup verdicts, TF-IDF postings, BPE merge tables,
store read handles). The function that builds one is decorated with
:func:`memoized`; a function that memoizes only part of its work
moves that part into a decorated helper. Every entry lives in ONE
dict keyed ``(function, applicationId, *remaining call args)``:

- the applicationId means an entry never serves another session;
- the remaining arguments (``sf_dir``, plus the resolved store dir
  where the result depends on one) mean two scale factors or two
  store bases never share an entry.

A hit returns the very object the miss built. A call that raises
stores nothing, so "not published yet" (``FileNotFoundError``) is
simply retried on the next call.

:func:`clear_memo_caches` is the owner that releases what the memo
holds: it unpersists every DataFrame kept for the live session and
empties the dict. ``bench.py`` and ``perfbench/harness.py`` call it
between timed ops so each op pays its own full cost.
tests/test_round7.py checks that no package module keeps a memo of
its own.
"""

from __future__ import annotations

import functools
import inspect
from collections.abc import Callable
from typing import TypeVar

from pyspark import SparkContext
from pyspark.sql import DataFrame

T = TypeVar("T")

_MEMO: dict[tuple, object] = {}


def memoized(fn: Callable[..., T]) -> Callable[..., T]:
    """Memoize ``fn(spark, *args)`` per session and argument values
    (defaults filled in, so a keyword spelling shares the entry)."""
    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def wrapper(spark, *args, **kwargs):
        bound = sig.bind(spark, *args, **kwargs)
        bound.apply_defaults()
        rest = tuple(bound.arguments.values())[1:]
        key = (fn, spark.sparkContext.applicationId, *rest)
        if key in _MEMO:
            return _MEMO[key]
        value = fn(spark, *args, **kwargs)
        _MEMO[key] = value
        return value

    return wrapper


def _release(value: object) -> None:
    if isinstance(value, DataFrame):
        if value.is_cached:
            value.unpersist()
    elif isinstance(value, dict):
        for part in value.values():
            _release(part)
    elif isinstance(value, (tuple, list)):
        for part in value:
            _release(part)


def clear_memo_caches() -> int:
    """Drop every memo entry; returns how many were dropped. Entries
    of the live session have their persisted DataFrames (also those
    inside dict, tuple or list values) unpersisted first; entries of
    a stopped session are dropped without touching the JVM."""
    sc = SparkContext._active_spark_context
    live = sc.applicationId if sc is not None else None
    for key, value in _MEMO.items():
        if key[1] == live:
            _release(value)
    dropped = len(_MEMO)
    _MEMO.clear()
    return dropped
