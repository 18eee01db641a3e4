"""The session memo in memo.py: the decorator's key and identity rules,
and clear_memo_caches releasing what the memo held."""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from programmers_data_spark import memo  # noqa: E402
from programmers_data_spark.memo import clear_memo_caches  # noqa: E402


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_memoized_keys_on_session_and_arguments():
    calls = []

    @memo.memoized
    def build(spark, sf_dir, strategy="greedy"):
        """doc"""
        calls.append((sf_dir, strategy))
        return object()

    assert build.__name__ == "build" and build.__doc__ == "doc"
    a = _session("app-a")
    first = build(a, "sf1")
    # a hit returns the very object; a keyword or default spelling of
    # the same call shares the entry
    assert build(a, "sf1") is first
    assert build(a, "sf1", "greedy") is first
    assert build(a, sf_dir="sf1", strategy="greedy") is first
    assert calls == [("sf1", "greedy")]
    # another argument or another session is another entry
    assert build(a, "sf2") is not first
    assert build(a, "sf1", "canonical") is not first
    assert build(_session("app-b"), "sf1") is not first
    assert len(calls) == 4
    clear_memo_caches()


def test_a_raising_call_stores_nothing():
    calls = []

    @memo.memoized
    def flaky(spark, path):
        calls.append(path)
        if len(calls) == 1:
            raise FileNotFoundError(path)
        return [path]

    s = _session("app-a")
    with pytest.raises(FileNotFoundError):
        flaky(s, "p")
    out = flaky(s, "p")
    assert flaky(s, "p") is out and calls == ["p", "p"]
    clear_memo_caches()


def test_clear_unpersists_live_session_frames(spark, sf_smoke):
    """A memoized persisted frame is released on clear — also frames
    inside a dict or tuple value."""
    from programmers_data_spark.queries import dedup_ops

    sigs = dedup_ops.minhash_signatures(spark, sf_smoke)
    assert sigs.is_cached
    clear_memo_caches()
    assert not sigs.is_cached

    @memo.memoized
    def bundle(spark, n):
        a, b = spark.range(n).persist(), spark.range(n + 1).persist()
        return {"a": a}, (b, n)

    frames, (df, _) = bundle(spark, 3)
    assert frames["a"].is_cached and df.is_cached
    assert clear_memo_caches() == 1
    assert not frames["a"].is_cached and not df.is_cached


def test_clear_drops_other_session_entries_untouched(spark):
    """Entries of a session that is not the live one are dropped
    without a JVM call: their frames are not unpersisted."""

    @memo.memoized
    def held(spark, n):
        return df

    clear_memo_caches()
    df = spark.range(4).persist()
    held(_session("stopped-app"), 4)
    assert clear_memo_caches() == 1
    assert df.is_cached
    df.unpersist()
