"""Round-9 regression tests: the r8 ADVICE fixes.

- the publish claim must be heartbeat-refreshed DURING the (possibly
  hours-long) blocking Spark write, not just after it — otherwise
  vacuum_versioned's inactivity guard degrades to age-since-write-
  start and a single write longer than min_claim_age_s can be
  rmtree'd mid-write (the exact failure mode the removed 60s
  retention guard had, at a larger threshold);
- the pair-store content address must interpolate the live algorithm
  parameters (a hand-written 'j0.5' literal would silently serve
  stale published pairs after a threshold change);
- the default shared-artifact store base must be per-uid and refuse
  a planted world-writable directory.
"""

from __future__ import annotations

import inspect
import os
import time

import pytest

from programmers_data_spark.catalog import load_table
from programmers_data_spark.memo import clear_memo_caches


@pytest.fixture()
def events(spark, sf_smoke):
    return load_table(spark, sf_smoke, "events")


def test_claim_heartbeat_refreshes_mtime_mid_block(tmp_path, monkeypatch):
    """The heartbeat context manager itself: the claim mtime must
    advance WHILE the body is still executing (no reliance on any
    post-body refresh)."""
    import programmers_data_spark.publish as pub

    claim = tmp_path / "gen-000001.claim"
    claim.write_text("")
    old = time.time() - 300
    os.utime(claim, (old, old))

    monkeypatch.setattr(pub, "HEARTBEAT_INTERVAL_S", 0.02)
    with pub._claim_heartbeat(str(claim)):
        deadline = time.time() + 5
        while os.path.getmtime(claim) < time.time() - 60:
            assert time.time() < deadline, (
                "claim mtime never refreshed during the with block"
            )
            time.sleep(0.01)
        mid_block_mtime = os.path.getmtime(claim)
    assert mid_block_mtime >= old + 200  # refreshed to ~now, mid-block


def test_claim_heartbeat_survives_vanished_claim(tmp_path, monkeypatch):
    """A claim removed mid-flight (raced with its publisher's own
    cleanup) must end the beat quietly, not raise on the thread."""
    import programmers_data_spark.publish as pub

    claim = tmp_path / "gen-000002.claim"
    claim.write_text("")
    monkeypatch.setattr(pub, "HEARTBEAT_INTERVAL_S", 0.01)
    with pub._claim_heartbeat(str(claim)):
        os.remove(claim)
        time.sleep(0.05)  # several beats against the missing file
    # exiting cleanly (join without exception) is the assertion


def test_publish_heartbeats_claim_while_write_in_flight(
    spark, tmp_path, monkeypatch
):
    """End-to-end: during a deliberately slow Spark write, the claim
    receives strictly more utime refreshes than the two explicit
    post-write/post-validation markers — i.e. the background thread
    beat while writer.parquet() was blocking."""
    import programmers_data_spark.publish as pub

    monkeypatch.setattr(pub, "HEARTBEAT_INTERVAL_S", 0.05)

    def slow(batches):
        import time as _t

        for b in batches:
            _t.sleep(1.0)  # stretch the write's job ~1s
            yield b

    df = spark.range(0, 8, 1, 1).mapInPandas(slow, schema="id long")

    seen: list[float] = []
    real_utime = os.utime

    def spy(path, *a, **k):
        if str(path).endswith(".claim"):
            seen.append(time.time())
        return real_utime(path, *a, **k)

    monkeypatch.setattr(pub.os, "utime", spy)
    table = str(tmp_path / "hb9")
    pub.publish_versioned(df, table)
    assert len(seen) > 2, (
        f"only {len(seen)} claim refreshes — the two explicit markers; "
        "no heartbeat fired during the ~1s write"
    )


def test_pair_store_fingerprint_tracks_threshold(monkeypatch, tmp_path):
    """pair_store_dir must derive its fingerprint from the LIVE
    JACCARD_THRESHOLD constant: changing the constant must change the
    store path (a stale hand-written literal would keep serving the
    old published pairs)."""
    import programmers_data_spark.queries.dedup_ops as dd

    monkeypatch.setenv(dd.PAIR_STORE_ENV, str(tmp_path))
    p1 = dd.pair_store_dir("/root/testdata/sf0.001")
    monkeypatch.setattr(dd, "JACCARD_THRESHOLD", 0.7)
    p2 = dd.pair_store_dir("/root/testdata/sf0.001")
    assert p1 != p2


def test_dedup_minhash_spark_and_oracle_share_threshold():
    """The registered oracle SQL strings necessarily embed the
    threshold as a literal — assert they interpolated the constant's
    current value so code and oracle cannot drift apart."""
    from programmers_data_spark import registry
    from programmers_data_spark.queries.dedup_ops import JACCARD_THRESHOLD

    registry.load_all()
    assert f">= {JACCARD_THRESHOLD}" in registry.ORACLE["dedup_minhash"]
    assert f">= {JACCARD_THRESHOLD}" in registry.ORACLE["dedup_clusters"]


def test_store_base_is_per_uid_and_refuses_planted_dir(
    tmp_path, monkeypatch
):
    import programmers_data_spark.storeutil as su

    monkeypatch.delenv("PDS_TEST_STORE", raising=False)
    monkeypatch.setattr(su.tempfile, "gettempdir", lambda: str(tmp_path))
    base = su.store_base("PDS_TEST_STORE", "pds_store")
    assert base.endswith(f"_u{os.getuid()}")
    st = os.stat(base)
    assert st.st_mode & 0o077 == 0  # 0700

    # second resolve of the same healthy base succeeds
    assert su.store_base("PDS_TEST_STORE", "pds_store") == base

    # a planted group/other-writable dir at the default path is refused
    os.chmod(base, 0o777)
    with pytest.raises(PermissionError):
        su.store_base("PDS_TEST_STORE", "pds_store")
    os.chmod(base, 0o700)

    # explicit env override is trusted as given
    monkeypatch.setenv("PDS_TEST_STORE", str(tmp_path / "explicit"))
    assert su.store_base("PDS_TEST_STORE", "pds_store") == str(
        tmp_path / "explicit"
    )


# --------------------------------------------------------- dup_span_mine


def _serial_dup_spans(docs, K):
    """Sequential reference for dup_span_mine: literal shingle dict +
    island merge over the SAME augmented corpus the query builds."""
    import re

    ws = re.compile(r"\s+", re.ASCII)

    def toks(t):
        return [x for x in ws.split(t.strip()) if x]

    corpus = {i: toks(t) for i, t in docs}
    for i, t in docs:
        if i % 20 == 0:
            corpus[i + 1_000_000] = toks(t)[8:]

    where = {}  # shingle tuple -> set of doc_ids
    for i, tl in corpus.items():
        for s in range(len(tl) - K + 1):
            where.setdefault(tuple(tl[s : s + K]), set()).add(i)

    out = []
    for i, tl in sorted(corpus.items()):
        starts = [
            (s + 1, len(where[tuple(tl[s : s + K])]))
            for s in range(len(tl) - K + 1)
            if len(where[tuple(tl[s : s + K])]) >= 2
        ]
        run = []
        for s, nd in starts:
            if run and s == run[-1][0] + 1:
                run.append((s, nd))
            else:
                if run:
                    out.append(_span_row(i, run, K))
                run = [(s, nd)]
        if run:
            out.append(_span_row(i, run, K))
    return out


def _span_row(doc_id, run, K):
    first, last = run[0][0], run[-1][0]
    return (
        doc_id,
        first,
        last + K - 1,
        last - first + K,
        max(nd for _, nd in run),
    )


def test_dup_span_mine_matches_python_reference(spark, tmp_path):
    """Property: the distributed shingle-island span miner must equal
    the obvious sequential reference on an adversarial corpus —
    shared prefixes/suffixes, a passage quoted by 3 docs, a doc
    shorter than K, within-doc-only repetition (must NOT count: the
    contract is cross-document), and a tiny vocabulary that forces
    natural collisions."""
    import random

    import pandas as pd

    from programmers_data_spark import registry
    from programmers_data_spark.queries.curation_ops import DUP_SPAN_K

    registry.load_all()

    quote = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rng = random.Random(909)
    vocab = ["aa", "bb", "cc"]
    docs = [
        (0, "intro words here " + quote + " and a unique tail zero"),
        (1, quote + " immediately then other text follows afterwards"),
        (2, "ending with the shared passage " + quote),
        (3, "too short for any span"),
        # within-doc repetition only: the 8-gram repeats INSIDE doc 4
        # but appears in no other document
        (4, ("w1 w2 w3 w4 w5 w6 w7 w8 " * 3).strip()),
        (5, ""),
        # tiny-vocab soup: natural cross-doc collisions
        *[
            (6 + j, " ".join(rng.choice(vocab) for _ in range(40)))
            for j in range(6)
        ],
        # %20 == 0 twin for the augmentation path beyond doc 0
        (20, "p q r s t u v w " + quote + " x y z final words"),
    ]
    d = tmp_path / "sf"
    d.mkdir()
    pd.DataFrame(
        [
            {"doc_id": i, "text": t, "lang": "en", "source": "s",
             "n_chars": len(t)}
            for i, t in docs
        ]
    ).to_parquet(d / "documents.parquet", index=False)

    got = sorted(
        tuple(r)
        for r in registry.QUERIES["dup_span_mine"](spark, str(d)).collect()
    )
    exp = sorted(_serial_dup_spans(docs, DUP_SPAN_K))
    assert got == exp, (got, exp)
    # the contract details the fixture must actually exercise:
    doc_ids_with_spans = {r[0] for r in got}
    assert {0, 1, 2}.issubset(doc_ids_with_spans)  # 3-way quote found
    assert 3 not in doc_ids_with_spans  # shorter than K
    assert 4 not in doc_ids_with_spans  # within-doc only: excluded
    assert any(i >= 1_000_000 for i in doc_ids_with_spans)  # aug twins
    assert any(r[4] >= 3 for r in got)  # a >=3-document span exists


# ------------------------------------------------- jsonl_shard_roundtrip


def test_parse_jsonl_keep_cols_threads_provenance(spark):
    """keep_cols must surface on BOTH outputs so quarantined lines
    stay actionable (which shard/file they came from)."""
    from programmers_data_spark.sources import parse_jsonl_with_rejects

    ds = spark.createDataFrame(
        [(3, '{"doc_id": 1}'), (5, "junk")], "shard long, value string"
    )
    good, rejects = parse_jsonl_with_rejects(
        ds, "doc_id long", keep_cols=["shard"]
    )
    assert [tuple(r) for r in good.collect()] == [(3, 1)]
    rr = rejects.collect()
    assert len(rr) == 1 and rr[0].shard == 5 and rr[0].raw_line == "junk"


def test_jsonl_roundtrip_detects_row_loss(spark, tmp_path, monkeypatch):
    """The certification must actually certify: drop one written line
    from one shard file and the per-shard hash/count must diverge
    from a fresh roundtrip of the intact corpus."""
    import glob
    import gzip

    import programmers_data_spark.queries.interchange_ops as io9

    monkeypatch.setenv(io9.JSONL_STORE_ENV, str(tmp_path / "a"))
    sf = "/root/testdata/sf0.001"
    clear_memo_caches()
    intact = {
        r.shard: (r.n_rows, r.content_md5)
        for r in io9.jsonl_shard_roundtrip(spark, sf).collect()
    }

    # corrupt: rewrite one shard file minus its first line, then force
    # a fresh roundtrip read over the SAME written tree
    store = glob.glob(str(tmp_path / "a" / "jsonl_rt_*" / "docs"))[0]
    victim = sorted(glob.glob(f"{store}/_shard=*/part-*"))[0]
    with gzip.open(victim, "rt", encoding="utf-8") as f:
        lines = f.read().splitlines()
    with gzip.open(victim, "wt", encoding="utf-8") as f:
        f.write("\n".join(lines[1:]) + ("\n" if len(lines) > 1 else ""))
    # Hadoop's local FS wrote a .crc sidecar for the original bytes —
    # drop it so the corrupted file is readable (we're simulating row
    # loss in transit, not bit rot the checksum layer would catch)
    crc = os.path.join(
        os.path.dirname(victim), f".{os.path.basename(victim)}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)

    import pyspark.sql.functions as F
    from programmers_data_spark.sources import parse_jsonl_with_rejects

    # the session's FileStatusCache remembers the pre-corruption file
    # length — invalidate it so the re-read sees the rewritten file
    spark.catalog.refreshByPath(store)
    raw = spark.read.text(f"{store}/_shard=*/part-*").select(
        F.regexp_extract(F.input_file_name(), r"_shard=(\d+)", 1)
        .cast("long")
        .alias("shard"),
        "value",
    )
    good, _ = parse_jsonl_with_rejects(
        raw,
        "doc_id long, text string, lang string, source string, n_chars long",
        keep_cols=["shard"],
    )
    redone = {
        r.shard: (r.n_rows, r.content_md5)
        for r in good.select("shard", io9._digest_spark().alias("d"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.md5(F.concat_ws("", F.array_sort(F.collect_list("d"))))
            .alias("content_md5"),
        )
        .collect()
    }
    diverged = [
        s for s in redone
        if redone[s] != intact.get(s, (None, None))
    ]
    assert len(diverged) == 1, (intact, redone)
    clear_memo_caches()


# --------------------------------------------------- rotation arithmetic


def test_rotation_backlog_arithmetic():
    """The window's four groups must each satisfy their defining
    property against the CORRECTNESS_r*.json record AS OF the round
    the plan was authored for (records with round < WINDOW_ROUND) —
    hand counts got this wrong twice (r7 ADVICE #3, r8 VERDICT
    defect #1), and the r9 version of this test hand-pinned the
    as-of-builder state and self-expired the moment the driver wrote
    CORRECTNESS_r09.json (r9 VERDICT defect #1: the test policed
    bookkeeping drift by BEING a bookkeeping snapshot). Slicing the
    record to rounds before WINDOW_ROUND makes the assertions stable
    under any number of later driver record drops.

    Round-11 revisions, both record-derived like everything else:
    the glob is now CORRECTNESS_r*.json (the r9 original's r0* prefix
    silently dropped CORRECTNESS_r10.json and every later two-digit
    round from the slice); the stale fill may drain MULTIPLE tiers
    oldest-first (each older tier complete, only the newest included
    tier a registration-order prefix) now that the oldest tier is
    smaller than the fill; and rows-only registrations may hold
    window slots (they get the driver's weaker rows-only record —
    the r6 precedent for the ANN internals) without counting toward
    any green-vintage arithmetic."""
    import glob
    import json
    import re

    from programmers_data_spark import registry

    registry.load_all()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest_green: dict[str, int] = {}
    recorded: set[str] = set()  # any driver row at all, green or not
    files = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    assert files, "driver record missing"

    def round_of(path: str) -> int:
        m = re.search(r"_r0*(\d+)\.json$", os.path.basename(path))
        assert m, path
        return int(m.group(1))

    for f in files:
        rnd = round_of(f)
        if rnd >= registry.WINDOW_ROUND:
            continue  # landed after the plan was authored
        rows = json.load(open(f))
        recorded |= set(rows)
        for name, row in rows.items():
            if row.get("hash_match"):
                latest_green[name] = rnd
    # The plan must be authored against an existing record prefix.
    # Rotation genuinely CANNOT pre-date the record it rotates
    # against (sentinel/stale vintage arithmetic needs the new rows),
    # so the moment the driver drops CORRECTNESS_r{WINDOW_ROUND}.json
    # the window is DUE but not yet possible to have been rotated —
    # the r11 version of this check asserted red in exactly that
    # state, guaranteeing a failed suite at every round boundary
    # (r11 VERDICT defect #1). Now: a record exactly one round ahead
    # skips with the rotate-now message; only a record ≥2 rounds
    # ahead (a truly missed rotation) fails.
    rounds = sorted(round_of(f) for f in files)
    assert rounds[-1] <= registry.WINDOW_ROUND, (
        f"WINDOW_ROUND {registry.WINDOW_ROUND} missed a rotation: "
        f"record r{rounds[-1]} exists, so the window should have been "
        f"rotated and WINDOW_ROUND bumped to {rounds[-1] + 1} already"
    )
    if rounds[-1] == registry.WINDOW_ROUND:
        # The due state is EXPECTED right after the driver drops the
        # record, but must not quietly persist a whole session: if
        # many builder commits have landed since the record file,
        # the rotation was forgotten, not pending (r12 ADVICE #3 —
        # a permanent skip hides a missed rotation for a full round).
        import subprocess

        here = os.path.dirname(os.path.abspath(__file__))
        rec = f"CORRECTNESS_r{rounds[-1]:02d}.json"
        try:
            rec_commit = subprocess.run(
                ["git", "log", "-1", "--format=%H", "--", rec],
                cwd=os.path.dirname(here), capture_output=True,
                text=True, timeout=30,
            ).stdout.strip()
            n_since = int(subprocess.run(
                ["git", "rev-list", "--count", f"{rec_commit}..HEAD"],
                cwd=os.path.dirname(here), capture_output=True,
                text=True, timeout=30,
            ).stdout.strip()) if rec_commit else 0
        except (OSError, ValueError, subprocess.TimeoutExpired):
            n_since = 0  # no git → keep the polite skip
        assert n_since <= 15, (
            f"rotation overdue: record r{rounds[-1]} landed "
            f"{n_since} commits ago — rotate the window groups and "
            f"bump WINDOW_ROUND to {rounds[-1] + 1} now"
        )
        pytest.skip(
            f"rotation due: record r{rounds[-1]} landed — rotate the "
            f"window groups and bump WINDOW_ROUND to {rounds[-1] + 1} "
            f"in the same commit (group arithmetic can only be "
            f"authored against that record, so this state is expected "
            f"between the driver drop and the next builder session; "
            f"escalates to a FAILURE after 15 builder commits)"
        )

    window = set(registry._WINDOW)
    # registration order must be derived CANONICALLY — list(QUERIES)
    # insertion order shifts when an earlier test imports a query
    # module directly before load_all() (found in r11: the full-file
    # run reordered the r7 tier and broke the prefix assertion that
    # passed standalone). (module position, definition line) is the
    # same order a fresh interpreter's load_all() produces.
    mod_idx = {m.rsplit(".", 1)[-1]: i
               for i, m in enumerate(registry._QUERY_MODULES)}
    order = sorted(
        registry.QUERIES,
        key=lambda n: (
            mod_idx[registry.QUERIES[n].__module__.rsplit(".", 1)[-1]],
            inspect.unwrap(registry.QUERIES[n]).__code__.co_firstlineno,
        ),
    )

    # Group 1+2 (leads + new): never driver-checked, each either
    # oracled or a declared rows-only query. Every never-checked
    # registration is in the window except the honestly-gated TWS
    # query — none may be forgotten.
    for n in registry._WINDOW_LEADS + registry._WINDOW_NEW:
        assert n in registry.QUERIES, n
        assert n in registry.ORACLE or n in registry.ROWS_ONLY, n
        assert n not in recorded, n
    # A registration landing after the window filled may queue in
    # NEXT_WINDOW_LEADS instead of evicting protected stale names
    # (r13: the judge's "all 36 r8-tail names present" bar left no
    # slots for the late media-maintenance registrations). The queue
    # must be EXACT — every never-checked name is either in the
    # window or queued (none forgotten), and nothing sits in the
    # queue that the window already covers (no double-booking). Each
    # queued name must be a real, oracled-or-declared registration:
    # the next round's plan leads with them (group 1) by contract.
    never_checked = set(order) - recorded - {"stream_tws_value_stats"}
    leads_next = set(registry.NEXT_WINDOW_LEADS)
    for n in registry.NEXT_WINDOW_LEADS:
        assert n in registry.QUERIES, n
        assert n in registry.ORACLE or n in registry.ROWS_ONLY, n
        assert n not in recorded, n
    assert not (leads_next & window), sorted(leads_next & window)
    assert never_checked - window == leads_next, (
        sorted(never_checked - window), sorted(leads_next)
    )

    # Group 3 (sentinels): green in the round immediately before the
    # plan — they re-certify code the current diff touches.
    for n in registry._WINDOW_SENTINELS:
        assert latest_green.get(n) == registry.WINDOW_ROUND - 1, (
            n, latest_green.get(n)
        )

    # Group 4 (stale fill): drains green-vintage tiers oldest-first
    # in registration order — every included tier but the newest must
    # be COMPLETE (no newer name takes a slot an older one needs),
    # the newest may be a registration-order prefix whose trimmed
    # tail leads the next plan.
    stale = list(registry._WINDOW_STALE)
    assert stale, "stale group empty — rotation stopped"
    assert all(n in latest_green for n in stale), (
        [n for n in stale if n not in latest_green]
    )
    stale_vintages = [latest_green[n] for n in stale]
    assert stale_vintages == sorted(stale_vintages), (
        "stale fill not oldest-first"
    )
    newest = max(stale_vintages)
    for v in sorted(set(stale_vintages)):
        tier = [n for n in order if latest_green.get(n) == v]
        got = [n for n in stale if latest_green[n] == v]
        if v < newest:
            assert got == tier, (
                f"tier r{v} not fully drained before r{newest} began"
            )
        else:
            assert got == tier[: len(got)], (
                f"tier r{v} fill is not the registration-order prefix"
            )
    # anything older than the oldest stale vintage would have to be
    # IN the window already (no skipped tier)
    older = {n for n, r in latest_green.items() if r < min(stale_vintages)}
    assert older <= window, sorted(older - window)

    # structural window invariants
    assert len(registry._WINDOW) == 50
    assert len(set(registry._WINDOW)) == 50
    unoracled = [
        n for n in registry._WINDOW
        if n not in registry.ORACLE and n not in registry.ROWS_ONLY
    ]
    assert not unoracled, unoracled

    # the gated TWS query never burns a window slot
    assert "stream_tws_value_stats" not in window


# ------------------------------------------------ bigram-LM surprisal


def _serial_surprisal(docs):
    """Sequential reference for lm_surprisal_bits: dict-counted
    bigram LM, per-occurrence integer floor-log2 surprisal."""
    def toks(t):
        return [x for x in t.strip().split() if x]

    big_c: dict[tuple[str, str], int] = {}
    ctx_c: dict[str, int] = {}
    per_doc: dict[int, list[tuple[str, str]]] = {}
    for doc_id, text, _src in docs:
        ts = toks(text)
        pairs = list(zip(ts, ts[1:]))
        per_doc[doc_id] = pairs
        for p in pairs:
            big_c[p] = big_c.get(p, 0) + 1
            ctx_c[p[0]] = ctx_c.get(p[0], 0) + 1

    def flog2(n):
        return n.bit_length() - 1

    out = []
    for doc_id, _text, src in docs:
        pairs = per_doc[doc_id]
        total = sum(flog2(ctx_c[p[0]]) - flog2(big_c[p]) for p in pairs)
        n = len(pairs)
        out.append(
            (doc_id, src, n, total, (total * 1000) // n if n else 0)
        )
    return sorted(out)


def test_lm_surprisal_matches_python_reference(spark, tmp_path):
    """Property: the distributed bigram-LM scorer must equal the
    obvious sequential dict-counting reference on a corpus that
    exercises every branch — repeated transitions (c_big > 1),
    contexts with several continuations (c_ctx > c_big), singleton
    docs (no bigrams), an empty doc, and two sources."""
    import pandas as pd

    from programmers_data_spark import registry

    registry.load_all()
    docs = [
        (0, "the cat sat on the mat the cat ran", "a"),
        (1, "the cat sat on a hat", "a"),
        (2, "one", "a"),                       # singleton: 0 bigrams
        (3, "", "b"),                          # empty: 0 bigrams
        (4, "the dog sat on the mat quietly today", "b"),
        (5, "cat cat cat cat", "b"),           # self-loop transitions
        (6, "completely novel tokens appear here once", "b"),
        # common contexts ('the', 'on'), unique continuations: the
        # rare-transition case perplexity filtering exists to catch
        (7, "the zebra on qux the quux", "b"),
    ]
    d = tmp_path / "sf"
    d.mkdir()
    pd.DataFrame(
        [
            {"doc_id": i, "text": t, "lang": "en", "source": s,
             "n_chars": len(t)}
            for i, t, s in docs
        ]
    ).to_parquet(d / "documents.parquet", index=False)

    got = sorted(
        tuple(r)
        for r in registry.QUERIES["lm_surprisal_bits"](
            spark, str(d)
        ).collect()
    )
    exp = _serial_surprisal(docs)
    assert got == exp, (got, exp)
    by_id = {r[0]: r for r in got}
    # the fixture exercised what it claims:
    assert by_id[2][2] == 0 and by_id[3][2] == 0     # no bigrams
    # a doc whose every context is unique has DETERMINISTIC
    # transitions (c_ctx == c_big == 1) and therefore zero surprisal
    # — the proxy measures context-relative branching, not novelty
    assert by_id[6][3] == 0
    # rare continuations of common contexts score above a doc made
    # of the corpus's frequent transitions (per-bigram mean)
    assert by_id[7][4] > by_id[0][4]
    assert any(r[3] > 0 for r in got)


def test_ccnet_bands_partition_exactly(spark, sf_smoke):
    """The tertile banding must place every document in exactly one
    band, with band sizes differing by at most one (the rank*3//n
    closed form), and band boundaries ordered head <= middle <= tail
    in mean surprisal."""
    from programmers_data_spark import registry

    registry.load_all()
    rows = registry.QUERIES["ccnet_perplexity_bands"](
        spark, sf_smoke
    ).collect()
    n_docs = registry.QUERIES["lm_surprisal_bits"](
        spark, sf_smoke
    ).count()
    sizes = {0: 0, 1: 0, 2: 0}
    for r in rows:
        assert r["band_label"] == ("head", "middle", "tail")[r["band"]]
        sizes[r["band"]] += r["n_docs"]
    assert sum(sizes.values()) == n_docs
    assert max(sizes.values()) - min(sizes.values()) <= 1
    hi = {b: max(r["max_millibits"] for r in rows if r["band"] == b)
          for b in sizes}
    lo = {b: min(r["min_millibits"] for r in rows if r["band"] == b)
          for b in sizes}
    assert hi[0] <= lo[1] or sizes[1] == 0
    assert hi[1] <= lo[2] or sizes[2] == 0


def test_blocklist_matches_are_exact_tokens(spark, tmp_path):
    """Blocklist semantics: token/bigram EQUALITY, never substring
    containment — 'dup' must not flag inside 'dedup', and a phrase
    must match consecutive tokens only."""
    import pandas as pd

    from programmers_data_spark import registry

    registry.load_all()
    docs = [
        (0, "dedup duplicate dups", "a"),       # substrings only: clean
        (1, "this dup and that dup", "a"),      # two unigram hits
        (2, "batch batch batch", "a"),          # overlapping phrase x2
        (3, "batch x batch", "a"),              # non-consecutive: clean
        (4, "slow slow batch batch", "b"),      # both phrase kinds +
        #                                         two 'slow' unigrams
        (5, "", "b"),
    ]
    d = tmp_path / "sf"
    d.mkdir()
    pd.DataFrame(
        [
            {"doc_id": i, "text": t, "lang": "en", "source": s,
             "n_chars": len(t)}
            for i, t, s in docs
        ]
    ).to_parquet(d / "documents.parquet", index=False)

    rows = {
        r["doc_id"]: r
        for r in registry.QUERIES["blocklist_doc_flags"](
            spark, str(d)
        ).collect()
    }
    assert rows[0]["unigram_hits"] == 0 and not rows[0]["flagged"]
    assert rows[1]["unigram_hits"] == 2 and rows[1]["flagged"]
    assert rows[2]["phrase_hits"] == 2      # bigrams overlap
    assert rows[3]["phrase_hits"] == 0 and not rows[3]["flagged"]
    assert rows[4]["unigram_hits"] == 2 and rows[4]["phrase_hits"] == 2
    assert not rows[5]["flagged"]


# ------------------------------------------------ batch / vocab planning


def _docs_fixture(tmp_path, docs):
    """Write a minimal documents.parquet from (doc_id, text, source)."""
    import pandas as pd

    d = tmp_path / "sf"
    d.mkdir(exist_ok=True)
    pd.DataFrame(
        [
            {"doc_id": i, "text": t, "lang": "en", "source": s,
             "n_chars": len(t)}
            for i, t, s in docs
        ]
    ).to_parquet(d / "documents.parquet", index=False)
    return str(d)


def test_length_bucket_batches_matches_serial_reference(spark, tmp_path):
    """The distributed two-level rank batching must reproduce the
    serial plan exactly: sort by (len, doc_id), chunk BATCH_SIZE,
    pad each chunk to its max."""
    import random

    from programmers_data_spark import registry
    from programmers_data_spark.queries.batching_ops import BATCH_SIZE

    registry.load_all()
    rng = random.Random(909)
    docs = [
        (i, " ".join("tok" for _ in range(rng.randint(0, 40))), "s")
        for i in range(137)  # non-multiple of BATCH_SIZE: ragged tail
    ]
    sf = _docs_fixture(tmp_path, docs)

    # serial reference (note: "" splits to 1 whitespace-token list of
    # zero after the empty-filter — recompute the engine's count)
    lens = sorted(
        (len([w for w in t.split() if w]), i) for i, t, _ in docs
    )
    expected = []
    for b in range(0, len(lens), BATCH_SIZE):
        chunk = lens[b : b + BATCH_SIZE]
        mx = max(n for n, _ in chunk)
        sm = sum(n for n, _ in chunk)
        expected.append(
            (b // BATCH_SIZE, len(chunk), mx, sm, len(chunk) * mx - sm)
        )

    got = [
        tuple(r)
        for r in registry.QUERIES["length_bucket_batches"](
            spark, sf
        ).collect()
    ]
    assert got == expected

    # structural invariants a data loader relies on
    assert all(g[1] == BATCH_SIZE for g in got[:-1])
    assert [g[2] for g in got] == sorted(g[2] for g in got)  # monotone


def test_oov_rate_matches_serial_reference(spark, tmp_path):
    """OOV sweep vs a pure-python reference on a corpus wide enough
    (30 distinct tokens) that every VOCAB_CUT lands mid-vocabulary."""
    import collections
    import random

    from programmers_data_spark import registry
    from programmers_data_spark.queries.batching_ops import VOCAB_CUTS

    registry.load_all()
    rng = random.Random(77)
    vocab = [f"w{i:02d}" for i in range(30)]
    docs = []
    for i in range(60):
        # skewed draw so global ranks are non-trivial
        words = rng.choices(vocab, weights=range(30, 0, -1), k=25)
        docs.append((i, " ".join(words), f"src{i % 3}"))
    sf = _docs_fixture(tmp_path, docs)

    glob = collections.Counter()
    per_src = collections.defaultdict(collections.Counter)
    for _, t, s in docs:
        for w in t.split():
            glob[w] += 1
            per_src[s][w] += 1
    ranked = sorted(glob, key=lambda w: (-glob[w], w))
    rank = {w: r for r, w in enumerate(ranked)}

    expected = []
    for s in sorted(per_src):
        for k in VOCAB_CUTS:
            total = sum(per_src[s].values())
            oov = sum(c for w, c in per_src[s].items() if rank[w] >= k)
            expected.append((s, k, oov, total, oov / total))

    got = [
        tuple(r)
        for r in registry.QUERIES["oov_rate_by_vocab"](spark, sf).collect()
    ]
    assert got == expected


# -------------------------------------------- corpus-stats operators


def test_collocation_lift_matches_serial_reference(spark, tmp_path):
    """The distributed lift table must reproduce a dict-counted
    serial word2vec phrase score exactly — including the integer
    fixed-point division and the (lift, c_ab, bigram) tie order."""
    import collections
    import random

    from programmers_data_spark import registry
    from programmers_data_spark.queries.corpus_stats_ops import (
        DISCOUNT, LIFT_SCALE, TOP_COLLOCATIONS,
    )

    rng = random.Random(99)
    vocab = [f"w{i:02d}" for i in range(12)]
    docs = []
    for i in range(80):
        words = rng.choices(vocab, k=rng.randint(0, 30))
        # inject a deliberate strong collocation so lift ordering
        # differs from raw-frequency ordering
        if i % 4 == 0:
            words += ["rare", "pair"] * 3
        docs.append((i, " ".join(words), f"src{i % 2}"))
    sf = _docs_fixture(tmp_path, docs)

    uni = collections.Counter()
    big = collections.Counter()
    for _, t, _ in docs:
        toks = t.split()
        uni.update(toks)
        big.update(" ".join(p) for p in zip(toks, toks[1:]))
    n = sum(uni.values())
    rows = []
    for bg, cab in big.items():
        if cab <= DISCOUNT:
            continue
        a, b = bg.split(" ")
        lift = (cab - DISCOUNT) * LIFT_SCALE * n // (uni[a] * uni[b])
        rows.append((bg, cab, uni[a], uni[b], lift))
    rows.sort(key=lambda r: (-r[4], -r[1], r[0]))
    expected = rows[:TOP_COLLOCATIONS]

    got = [
        tuple(r)
        for r in registry.QUERIES["collocation_lift"](spark, sf).collect()
    ]
    assert got == expected
    # the planted collocation must outrank every organic bigram
    assert got[0][0] == "pair rare" or got[0][0] == "rare pair"


def test_vocab_growth_curve_is_cumulative_and_exact(spark, tmp_path):
    """Growth-curve invariants on a handmade corpus: every cumulative
    column is non-decreasing, and the final row equals the direct
    whole-corpus counts (docs, occurrences, distinct uni/bigrams)."""
    import random

    from programmers_data_spark import registry

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(40)]
    docs = []
    for i in range(100):
        # vocabulary widens over time so the curve actually grows
        hi = 5 + (i * 35) // 100
        words = rng.choices(vocab[:hi], k=rng.randint(1, 20))
        docs.append((i, " ".join(words), "src0"))
    sf = _docs_fixture(tmp_path, docs)

    got = registry.QUERIES["vocab_growth_curve"](spark, sf).collect()
    for prev, cur in zip(got, got[1:]):
        assert cur["bucket"] > prev["bucket"]
        for c in ("cum_docs", "cum_tokens",
                  "cum_unigram_types", "cum_bigram_types"):
            assert cur[c] >= prev[c]

    all_toks = [t.split() for _, t, _ in docs]
    final = got[-1]
    assert final["cum_docs"] == len(docs)
    assert final["cum_tokens"] == sum(len(t) for t in all_toks)
    assert final["cum_unigram_types"] == len({w for t in all_toks for w in t})
    assert final["cum_bigram_types"] == len(
        {" ".join(p) for t in all_toks for p in zip(t, t[1:])}
    )


def test_source_bigram_overlap_matches_python_sets(spark, tmp_path):
    """Every emitted pair must equal the python set-algebra answer,
    including zero-overlap pairs (matrix completeness) and the
    integer milli-Jaccard."""
    import collections

    from programmers_data_spark import registry
    from programmers_data_spark.queries.corpus_stats_ops import (
        JACCARD_SCALE,
    )

    docs = [
        (0, "a b c d", "s0"),
        (1, "a b x", "s0"),
        (2, "b c d e", "s1"),
        (3, "c d", "s1"),
        (4, "p q r s", "s2"),  # disjoint from s0/s1
    ]
    sf = _docs_fixture(tmp_path, docs)

    vocabs = collections.defaultdict(set)
    for _, t, s in docs:
        toks = t.split()
        vocabs[s].update(" ".join(p) for p in zip(toks, toks[1:]))
    srcs = sorted(vocabs)
    expected = []
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            shared = len(vocabs[a] & vocabs[b])
            union = len(vocabs[a] | vocabs[b])
            expected.append(
                (a, b, len(vocabs[a]), len(vocabs[b]), shared,
                 shared * JACCARD_SCALE // union)
            )

    got = [
        tuple(r)
        for r in registry.QUERIES["source_bigram_overlap"](
            spark, sf
        ).collect()
    ]
    assert got == expected
    # the disjoint source produced complete zero rows, not gaps
    assert sum(1 for r in got if r[4] == 0) == 2


# -------------------------------------------------- ORC interchange


def test_orc_roundtrip_tree_prunes_partitions(spark, sf_smoke, tmp_path,
                                              monkeypatch):
    """The ORC tree the roundtrip writes must behave like a real lake
    layout: a predicate on the partition column reaches the scan as a
    PartitionFilter (directory pruning), not a data filter."""
    import programmers_data_spark.queries.interchange_ops as ic
    from programmers_data_spark import registry

    monkeypatch.setenv(ic.ORC_STORE_ENV, str(tmp_path))
    clear_memo_caches()
    registry.QUERIES["orc_partitioned_roundtrip"](spark, sf_smoke).collect()

    trees = [
        os.path.join(str(tmp_path), d, "docs")
        for d in os.listdir(str(tmp_path))
        if d.startswith("orc_rt_")
    ]
    assert len(trees) == 1
    pruned = spark.read.orc(trees[0]).filter("lang = 'en'")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    clear_memo_caches()


# --------------------------------------------------- dup_span_scrub


def test_dup_span_scrub_matches_python_reference(spark, tmp_path):
    """The distributed keep-one-copy substring scrub must equal a
    dict-based sequential reference on a corpus with planted shared
    passages — rebuilt text hashes included, over the same augmented
    corpus dup_span_mine uses."""
    import hashlib
    import random
    import re

    from programmers_data_spark import registry

    registry.load_all()  # curation_ops composes earlier modules' SQL
    from programmers_data_spark.queries.curation_ops import DUP_SPAN_K

    K = DUP_SPAN_K
    rng = random.Random(41)
    vocab = [f"w{i:02d}" for i in range(40)]
    shared = ["quoted", "boiler", "plate", "text", "block",
              "every", "site", "repeats", "this", "footer"]
    docs = []
    for i in range(60):
        words = rng.choices(vocab, k=rng.randint(0, 25))
        if i % 3 == 0:
            at = rng.randint(0, len(words))
            words = words[:at] + shared + words[at:]
        docs.append((i, " ".join(words), f"src{i % 2}"))
    sf = _docs_fixture(tmp_path, docs)

    ws = re.compile(r"\s+", re.ASCII)

    def toks(t):
        return [x for x in ws.split(t.strip()) if x]

    corpus = {i: toks(t) for i, t, _ in docs}
    for i, t, _ in docs:
        if i % 20 == 0:
            corpus[i + 1_000_000] = toks(t)[8:]

    where = {}
    for i, tl in corpus.items():
        for s in range(len(tl) - K + 1):
            where.setdefault(tuple(tl[s : s + K]), set()).add(i)

    expected = []
    for i, tl in sorted(corpus.items()):
        cut = set()
        for s in range(len(tl) - K + 1):
            owners = where[tuple(tl[s : s + K])]
            if len(owners) >= 2 and i != min(owners):
                cut.update(range(s, s + K))
        kept = [w for p, w in enumerate(tl) if p not in cut]
        expected.append(
            (i, len(tl), len(tl) - len(kept),
             hashlib.md5(" ".join(kept).encode()).hexdigest())
        )

    got = [
        tuple(r)
        for r in registry.QUERIES["dup_span_scrub"](spark, sf).collect()
    ]
    assert got == expected
    # the planted passage was actually scrubbed somewhere
    assert any(r[2] >= len(shared) for r in got)
    # and survives in exactly the canonical docs (no over-removal of
    # the keeper's copy): total removed strictly less than total planted
    n_planted_docs = sum(1 for i, _, _ in docs if i % 3 == 0)
    assert sum(1 for r in got if r[2] > 0) < n_planted_docs + 21


def test_late_audit_empty_first_batch_matches_oracle(spark, tmp_path):
    """Adversarial arrival: ALL event_ids odd, so the audit's first
    micro-batch is EMPTY and Spark's event-time watermark is still
    its initial epoch-0 value while batch 1 runs — every post-1970
    window must be accepted on both engines (the oracle's
    coalesce(mx - delay, 0) branch)."""
    import pandas as pd

    from programmers_data_spark import registry
    from programmers_data_spark.testing import compare_to_oracle

    registry.load_all()
    d = tmp_path / "sf"
    d.mkdir()
    rows = []
    base = pd.Timestamp("2024-01-01")
    for i in range(20):
        rows.append(
            {
                "event_id": 2 * i + 1,  # all odd: batch 0 is empty
                "ts": base + pd.Timedelta(days=i, hours=i % 5),
                "user_id": i % 4,
                "event_type": "click",
                "value": float(i),
                "props": "{}",
            }
        )
    pd.DataFrame(rows).to_parquet(d / "events.parquet", index=False)

    df = registry.QUERIES["stream_late_data_audit"](spark, str(d))
    result = compare_to_oracle(
        "stream_late_data_audit",
        df,
        registry.ORACLE["stream_late_data_audit"],
        str(d),
    )
    assert result.ok, str(result)
    # nothing may have been dropped: the watermark never advanced
    # past epoch 0 before the only data batch ran
    assert df.filter("n_late > 0").count() == 0


def test_sq8_recall_constant_and_zero_dims_match_oracle(spark, tmp_path):
    """The quantizer's degenerate branch (per-dim max == min → code 0,
    dequant = the constant) must agree across engines, including an
    all-zero dimension and exact-duplicate vectors forcing cosine
    ties broken by neighbor_id."""
    import numpy as np
    import pandas as pd

    from programmers_data_spark import registry
    from programmers_data_spark.testing import compare_to_oracle

    registry.load_all()
    d = tmp_path / "sf"
    d.mkdir()
    rng = np.random.default_rng(3)
    vecs = [rng.standard_normal(8).astype(np.float32) for _ in range(30)]
    for v in vecs:
        v[0] = 2.5  # constant dimension: mx == mn != 0
        v[1] = 0.0  # constant zero dimension: mx == mn == 0
    vecs[7] = vecs[3].copy()  # exact duplicate → cosine tie at 1.0
    pd.DataFrame(
        {
            "vec_id": np.arange(30, dtype=np.int64),
            "embedding": vecs,
            "label": (np.arange(30) % 3).astype(np.int32),
        }
    ).to_parquet(d / "embeddings.parquet", index=False)

    df = registry.QUERIES["sq8_topk_recall"](spark, str(d))
    result = compare_to_oracle(
        "sq8_topk_recall", df, registry.ORACLE["sq8_topk_recall"], str(d)
    )
    assert result.ok, str(result)
