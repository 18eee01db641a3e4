"""Round-18 optimization tests: the published derived-table stores
(derived_store — the pair-store pattern generalized to the
repeated-map-pass class, r17 VERDICT ask #1), the skipgram
single-pass rewrite, and the tfidf window-df rewrite."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from programmers_data_spark import registry  # noqa: E402
from programmers_data_spark.memo import clear_memo_caches  # noqa: E402
from tests.conftest import SF_ORACLE as SF_DIR  # noqa: E402

registry.load_all()


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture()
def fresh_deriv_store(monkeypatch, tmp_path):
    """Point the derived store at a fresh dir and drop its memo
    handles so each test sees a cold store (the bench-run layout)."""
    from programmers_data_spark import derived_store as ds

    monkeypatch.setenv(ds.DERIV_STORE_ENV, str(tmp_path / "deriv"))
    clear_memo_caches()
    yield ds
    clear_memo_caches()


def test_store_consumers_scan_store_not_fixture(spark, fresh_deriv_store):
    """r18 opt: the repeated-map-pass consumers read the PUBLISHED
    derivative instead of re-deriving from the fixture table per plan
    reference — zero raw-fixture scans remain in any consumer plan
    (dup_span_mine was 4 documents scans, dup_span_scrub 8,
    bm25_topk 3, source_bigram_overlap 4, cohort_retention 3 events
    scans — committed before-plans in plans/r18/)."""
    spark.catalog.clearCache()
    for name, fixture in (
        ("dup_span_mine", "documents.parquet]"),
        ("dup_span_scrub", "documents.parquet]"),
        ("bm25_topk", "documents.parquet]"),
        ("source_bigram_overlap", "documents.parquet]"),
        ("cohort_retention", "events.parquet]"),
    ):
        plan = _formatted_plan(registry.QUERIES[name](spark, SF_DIR))
        assert plan.count(fixture) == 0, (name, plan.count(fixture))
        assert "deriv" in plan, name  # the store path serves the scan


def test_derived_stores_roundtrip_exactly(spark, fresh_deriv_store):
    """The published artifact must be bit-identical to the inline
    derivation it replaced: build each store fresh, then compare the
    store read against the builder expression re-run inline."""
    from pyspark.sql import functions as F

    from programmers_data_spark.catalog import load_table
    from programmers_data_spark.derived_store import (
        activity_month_store,
        aug_shingle_store,
        aug_token_store,
        kgram_shingles_from_tokens,
        token_store,
    )
    from programmers_data_spark.functions import textfn
    from programmers_data_spark.queries.curation_ops import DUP_SPAN_K
    from programmers_data_spark.queries.dedup_ops import _augmented_docs

    sf = SF_DIR
    stored_tok = token_store(spark, sf)
    inline_tok = load_table(spark, sf, "documents").select(
        "doc_id", "source", textfn.tokenize("text").alias("toks")
    )
    assert stored_tok.exceptAll(inline_tok).count() == 0
    assert inline_tok.exceptAll(stored_tok).count() == 0

    stored_sh = aug_shingle_store(spark, sf, DUP_SPAN_K)
    inline_sh = kgram_shingles_from_tokens(
        _augmented_docs(spark, sf).select(
            "doc_id", textfn.tokenize("text").alias("toks")
        ),
        DUP_SPAN_K,
    )
    assert stored_sh.exceptAll(inline_sh).count() == 0
    assert inline_sh.exceptAll(stored_sh).count() == 0

    stored_am = activity_month_store(spark, sf)
    inline_am = (
        load_table(spark, sf, "events")
        .select(
            "user_id",
            F.date_trunc("month", "ts").cast("date").alias("am"),
        )
        .distinct()
    )
    assert stored_am.exceptAll(inline_am).count() == 0
    assert inline_am.exceptAll(stored_am).count() == 0
    # aug token store covers every augmented doc (totals/left-join
    # semantics depend on empty-token rows being present)
    assert (
        aug_token_store(spark, sf).count()
        == _augmented_docs(spark, sf).count()
    )


def test_store_build_is_charged_once_per_version(spark, fresh_deriv_store, tmp_path):
    """Build-on-miss publishes exactly one generation; a second read
    (fresh memo, same fixture) serves the artifact without
    re-publishing — the pair-store accounting."""
    import glob

    from programmers_data_spark import derived_store as ds

    ds.token_store(spark, SF_DIR)
    gens = glob.glob(str(tmp_path / "deriv" / "*" / "tokens" / "gen-*"))
    assert len(gens) == 1, gens
    clear_memo_caches()
    ds.token_store(spark, SF_DIR)
    gens2 = glob.glob(str(tmp_path / "deriv" / "*" / "tokens" / "gen-*"))
    assert gens2 == gens


def test_bench_controls_code_untouched():
    """r17 VERDICT ask #8, made a test: the pollution gate's controls
    (pricing_summary / mau / ivf_probe_sweep) are the code-stable
    reference the committed control priors were measured against —
    speeding (or otherwise editing) a control silently changes
    control ratios and can mask future host pollution. Any change to
    a control's source MUST update the committed control priors in
    the same commit and re-pin the hash here, deliberately."""
    import hashlib
    import inspect

    pinned = {
        "pricing_summary": "fd284c458e9dfee884b3ab48b4f93633",
        "mau": "d3bee70fc7ebc88eb5610d157866ecf6",
        "ivf_probe_sweep": "2e606ca0f98378933aa59d45a8f5c5a7",
    }
    for name, want in pinned.items():
        src = inspect.getsource(registry.QUERIES[name])
        got = hashlib.md5(src.encode()).hexdigest()
        assert got == want, (
            f"control {name!r} source changed ({got} != {want}): "
            "update the committed control priors (BENCH_DETAIL.json) "
            "in the SAME commit and re-pin this hash — see SCALE.md "
            "'Pollution gate'"
        )


def test_skipgram_single_pass_plan(spark):
    """r18 opt: skipgram_cooccurrence scans documents ONCE (was one
    scan per context distance, WINDOW=3 unioned)."""
    spark.catalog.clearCache()
    plan = _formatted_plan(
        registry.QUERIES["skipgram_cooccurrence"](spark, SF_DIR)
    )
    assert plan.count("documents.parquet]") == 1, plan.count(
        "documents.parquet]"
    )


def test_tfidf_df_window_single_exchange(spark):
    """r18 opt: tfidf_shingle_pairs derives document frequency as a
    window over the tf rows — no df aggregate+join pair, ONE
    persisted table (the weighted postings), and the tokenize+RLE
    pass feeds a single subtree."""
    clear_memo_caches()
    spark.catalog.clearCache()
    plan = _formatted_plan(
        registry.QUERIES["tfidf_shingle_pairs"](spark, SF_DIR)
    )
    # document frequency rides a term-partitioned window...
    assert "windowspecdefinition(term" in plan, "df window missing"
    # ...and the df aggregate+join pair is gone: no broadcast of a
    # term-keyed df table remains (the old plan broadcast dfreq into
    # the postings join)
    assert plan.count("Window") >= 1
    clear_memo_caches()
