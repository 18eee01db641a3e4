"""Load strategies — the reference's core IP (SURVEY §2.2, K1-K8).

Reference semantics re-expressed Spark-first on parquet paths:

- K1/K2  full refresh (DELETE+INSERT / DROP+CREATE in a txn)
         → ``full_refresh``: overwrite write; job atomicity replaces
         the transaction (NameGenderCSVtoRedshift.py:42-61,
         UpdateSymbol.py:37-63).
- K5     incremental distinct (temp-table union + SELECT DISTINCT *)
         → ``incremental_distinct`` (UpdateSymbol_v2.py:55-84).
- K6     keep-latest dedup (ROW_NUMBER PARTITION BY key ORDER BY
         created DESC, seq=1) → ``keep_latest``
         (UpdateSymbol_v3.py:77-83, Weather_to_Redshift_v2.py:78-91).
- K7     keyed UPSERT (S3ToRedshift method="UPSERT")
         → ``upsert`` as anti-join + union
         (MySQL_to_Redshift_v2.py:51-63).
- K8     CTAS + validate + atomic swap (temp table, count checks,
         transactional rename) → ``publish_swap``: write to a staging
         dir, validate, atomically rename into place
         (plugins/redshift_summary.py:139-178).

Incremental strategies that read and rewrite the same path stage
through K8's swap — never read-your-own-overwrite (SURVEY §7 gotcha).

Scale posture: on a real cluster these paths live on an object store
where a transactional table format (Delta/Iceberg MERGE) replaces the
directory rename; the operator semantics (union+distinct, keep-latest
window, anti-join upsert) are format-independent and stay as written.
The upsert anti-join broadcasts the delta side when small — the common
CDC case — so the target table never shuffles.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .catalog import footer_row_count, read_parquet
from .quality import (
    CountCheck,
    DriftCheck,
    NonEmptyCheck,
    assert_non_empty,
    run_df_checks,
)

# ---------------------------------------------------------------- transforms


def keep_latest(
    df: DataFrame, keys: list[str], order_by: str | list[str], tie_break: str | None = None
) -> DataFrame:
    """K6: one row per key, the latest by ``order_by`` (desc).

    Matches ROW_NUMBER() OVER (PARTITION BY <keys> ORDER BY <ts> DESC)
    ... WHERE seq = 1 (UpdateSymbol_v3.py:80-83). ``tie_break`` makes
    the winner deterministic when order values tie.
    """
    order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
    ordering = [F.desc(c) for c in order_cols]
    if tie_break:
        ordering.append(F.desc(tie_break))
    w = Window.partitionBy(*keys).orderBy(*ordering)
    return (
        df.withColumn("__seq", F.row_number().over(w))
        .filter(F.col("__seq") == 1)
        .drop("__seq")
    )


def distinct_union(old: DataFrame, new: DataFrame) -> DataFrame:
    """K5 core: accumulate + SELECT DISTINCT * (UpdateSymbol_v2.py:69-78)."""
    return old.unionByName(new).dropDuplicates()


def upsert(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """K7: keyed upsert — source rows win, unmatched target rows kept.

    Anti-join + union (MySQL_to_Redshift_v2.py:60-61 semantics without
    a transactional store). The source is usually a small delta →
    broadcast the anti-join build side so the big target never
    shuffles; with a transactional format this becomes MERGE INTO.
    """
    survivors = target.join(F.broadcast(source.select(*keys)), keys, "left_anti")
    return survivors.unionByName(source)


# ------------------------------------------------------------------- writers


def full_refresh(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """K1/K2: replace the table wholesale."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def _validate_staged(
    staged: DataFrame, path: str, checks: list[CountCheck] | None, context: str
) -> int:
    """The empty guard, then ``checks`` in order, on one row count of
    the staged table at ``path``; returns the count. The count is read
    from the written files' footers, or by one ``count()`` where the
    footer rule does not apply (a partitioned write). Both gates stay
    behind their module-level names, which perfbench's traced runs
    time."""
    n = footer_row_count(path)
    if not checks:
        return assert_non_empty(staged, context=context, count=n)
    return run_df_checks(staged, [NonEmptyCheck(context), *checks], count=n)


def publish_swap(
    df: DataFrame,
    path: str,
    checks: list[CountCheck] | None = None,
    partition_by: list[str] | None = None,
) -> int:
    """K8: write staging → validate → atomic swap into place.

    On check failure the staging dir is removed and the previous
    table state is untouched (redshift_summary.py:171-178 semantics:
    the swap only happens after validation passes).

    Atomicity caveat: the swap is two sequential renames (live→trash,
    staging→live), not the single transaction the reference gets from
    Redshift — a reader racing the swap can see the path briefly
    absent, and a crash between the renames leaves the previous state
    in the trash dir (recoverable by renaming it back) rather than
    live. On a real deployment use a transactional table format
    (Delta/Iceberg commit) or a versioned-directory + pointer-file
    layout where the pointer replace is the single atomic op; the
    validation-before-visibility contract is unchanged either way.

    The reference's post-swap GRANT SELECT (redshift_summary.py:176)
    has no parquet analogue — filesystem/object-store ACLs live
    outside the table writer and survive the rename, so it is N/A by
    design here; a real deployment attaches permissions at the
    catalog (Unity/Glue/HMS) or bucket-policy level once, not per
    publish.
    """
    staging = f"{path}.staging-{uuid.uuid4().hex[:8]}"
    trash = f"{path}.trash-{uuid.uuid4().hex[:8]}"
    try:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)

        spark = df.sparkSession
        staged = read_parquet(spark, staging)
        n = _validate_staged(staged, staging, checks, f"staged write for {path}")

        if os.path.exists(path):
            os.rename(path, trash)
        os.rename(staging, path)
        shutil.rmtree(trash, ignore_errors=True)
        return n
    except Exception:
        shutil.rmtree(staging, ignore_errors=True)
        raise


def incremental_append(
    spark: SparkSession,
    path: str,
    new_rows: DataFrame,
    checks: list[CountCheck] | None = None,
    allow_schema_evolution: bool = False,
) -> int:
    """Append new rows to the target through the checked swap: read
    current ∪ batch → validate → swap. Unlike a raw append-mode write,
    readers never see a half-written batch and failed validation
    leaves the target untouched; unlike publish_swap alone, earlier
    rows survive. On a transactional table format this is a plain
    ACID append.

    ``allow_schema_evolution``: a batch may add or drop columns; the
    published schema becomes the union, with absent-side values null —
    the incremental analogue of the reference's schema-drift handling
    (K2 recreates the whole table on drift, UpdateSymbol.py:37-63;
    here history is preserved and the schema widens in place). Default
    is STRICT: a drifted batch raises, because silent widening hides
    upstream contract breaks unless the caller opted in."""
    if os.path.exists(path):
        merged = read_parquet(spark, path).unionByName(
            new_rows, allowMissingColumns=allow_schema_evolution
        )
    else:
        merged = new_rows
    return publish_swap(merged, path, checks=checks)


def incremental_distinct(spark: SparkSession, path: str, new_rows: DataFrame) -> int:
    """K5: target ∪ new → DISTINCT → swap back into the target path."""
    if os.path.exists(path):
        merged = distinct_union(read_parquet(spark, path), new_rows)
    else:
        merged = new_rows.dropDuplicates()
    return publish_swap(merged, path)


def incremental_keep_latest(
    spark: SparkSession,
    path: str,
    new_rows: DataFrame,
    keys: list[str],
    order_by: str,
    tie_break: str | None = None,
) -> int:
    """K6 as a load strategy: append + keep-latest-per-key + swap
    (UpdateSymbol_v3.py:58-83 pattern)."""
    if os.path.exists(path):
        merged = read_parquet(spark, path).unionByName(new_rows)
    else:
        merged = new_rows
    return publish_swap(keep_latest(merged, keys, order_by, tie_break), path)


def incremental_upsert(
    spark: SparkSession, path: str, source: DataFrame, keys: list[str]
) -> int:
    """K7 as a load strategy: keyed upsert into the target path."""
    if os.path.exists(path):
        merged = upsert(read_parquet(spark, path), source, keys)
    else:
        merged = source
    return publish_swap(merged, path)


# ------------------------------------------------- versioned publish

_CURRENT_POINTER = "_CURRENT"
_GEN_PREFIX = "gen-"
_VALIDATED_MARKER = "_VALIDATED"

# Claim-heartbeat cadence while a publish's Spark write / validation
# is in flight. vacuum_versioned's inactivity guard is only sound if
# a LIVE publisher keeps its claim mtime fresh THROUGHOUT the write —
# a single multi-hour writer.parquet() call with no mid-flight
# refresh would age exactly like a crash orphan (the failure mode the
# removed 60s retention guard had, at a larger threshold). Choose
# vacuum's min_claim_age_s >> this interval, not >> the longest write.
HEARTBEAT_INTERVAL_S = 60.0


@contextlib.contextmanager
def _claim_heartbeat(claim_path: str):
    """Refresh ``claim_path``'s mtime every HEARTBEAT_INTERVAL_S from a
    daemon thread for the duration of the ``with`` block, so a claim's
    age measures publisher INACTIVITY even while a blocking Spark
    write is in flight. A vanished claim (raced with its own cleanup)
    ends the beat quietly — there is nothing left to keep alive."""
    stop = threading.Event()
    interval = HEARTBEAT_INTERVAL_S

    def _beat() -> None:
        while not stop.wait(interval):
            try:
                os.utime(claim_path)
            except OSError:
                return

    t = threading.Thread(target=_beat, name="claim-heartbeat", daemon=True)
    t.start()
    try:
        yield
    finally:
        stop.set()
        t.join()


def _versioned_generations(table_dir: str) -> list[int]:
    """Existing generation numbers, ascending (orphans included)."""
    if not os.path.isdir(table_dir):
        return []
    out = []
    for name in os.listdir(table_dir):
        if name.startswith(_GEN_PREFIX):
            try:
                out.append(int(name[len(_GEN_PREFIX):]))
            except ValueError:
                continue
    return sorted(out)


def _validated_generations(table_dir: str) -> list[int]:
    """Generation numbers whose data passed validation (marker file
    present), ascending. A crash mid-write or pre-validation leaves a
    generation directory WITHOUT the marker — an orphan that must
    never count toward retention, never serve a rollback, and never
    be read as history."""
    return [
        g
        for g in _versioned_generations(table_dir)
        if os.path.exists(
            os.path.join(table_dir, _gen_name(g), _VALIDATED_MARKER)
        )
    ]


def _versioned_current(table_dir: str) -> int | None:
    """Generation the pointer file currently designates, or None."""
    p = os.path.join(table_dir, _CURRENT_POINTER)
    if not os.path.exists(p):
        return None
    with open(p, encoding="utf-8") as f:
        name = f.read().strip()
    return int(name[len(_GEN_PREFIX):])


def _gen_name(n: int) -> str:
    return f"{_GEN_PREFIX}{n:06d}"


def publish_versioned(
    df: DataFrame,
    table_dir: str,
    checks: list[CountCheck] | None = None,
    partition_by: list[str] | None = None,
    keep_generations: int = 2,
    drift_checks: list[DriftCheck] | None = None,
) -> int:
    """K8 with SINGLE-ATOMIC-OP visibility: the upgrade path
    publish_swap's docstring points at. Data lands in a fresh
    ``gen-NNNNNN`` directory (invisible to readers), is validated
    there, and becomes current only when the ``_CURRENT`` pointer
    file is swapped via os.replace — one atomic filesystem op, so a
    racing reader always resolves to a complete generation and never
    sees the table absent (the two-rename gap publish_swap documents).

    Retained generations double as history: ``read_versioned(...,
    generation=n)`` time-travels, ``rollback_versioned`` repoints to
    the previous generation without rewriting data — the
    transactional-table-format pattern (Delta/Iceberg's version
    pointer) in plain files. A crashed publish leaves an orphan
    generation directory WITHOUT the validation marker; orphans never
    count toward retention, never serve rollback or time travel, and
    the next successful publish numbers past them and deletes them.

    ``keep_generations`` bounds history over VALIDATED generations
    (the current one is always kept).

    Concurrent publishers are safe: each claims its generation number
    atomically (gen-N.claim, O_EXCL) before staging, so two writers
    can never share a directory; completion order decides the pointer
    (last-completed-wins) and every completed generation remains
    retained and readable. Retention never touches a generation whose
    claim file still exists — any claim is presumed live (a routine
    multi-hour Spark write must never age into sweepability), so
    hard-killed publishers' orphans are collected only by the explicit
    ``vacuum_versioned``; retention also re-derives the keep set
    before sweeping anything validated (a racer may have completed
    since the snapshot).
    Object-store note: os.replace maps to the atomic
    put-if-generation-matches / rename primitive; data dirs are
    immutable once published, so retention is pure garbage collection.
    """
    os.makedirs(table_dir, exist_ok=True)
    # claim the generation NUMBER atomically (O_CREAT|O_EXCL on a
    # gen-N.claim file) so two concurrent publishers can never compute
    # the same next number and overwrite each other's staged data —
    # each retries onto the next free number instead. The claim must
    # be a separate file, not the data directory itself: Spark's
    # overwrite write momentarily DELETES its target dir, which would
    # reopen the race mid-write. Completion order then decides the
    # pointer (last-completed-wins, the documented concurrent-publish
    # semantics); every completed generation stays retained and
    # readable either way.
    while True:
        taken = set(_versioned_generations(table_dir))
        for name in os.listdir(table_dir):
            if name.startswith(_GEN_PREFIX) and name.endswith(".claim"):
                try:
                    taken.add(int(name[len(_GEN_PREFIX):-len(".claim")]))
                except ValueError:
                    continue
        nxt = (max(taken) + 1) if taken else 1
        gen = _gen_name(nxt)
        data_dir = os.path.join(table_dir, gen)
        claim_path = data_dir + ".claim"
        try:
            os.close(os.open(claim_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
            break
        except FileExistsError:
            continue

    try:
        # heartbeat: a daemon thread refreshes the claim mtime every
        # HEARTBEAT_INTERVAL_S for the whole write+validation span —
        # the blocking (possibly hours-long) writer.parquet() call
        # would otherwise leave the claim untouched in flight and
        # vacuum's inactivity guard would degrade to age-since-write-
        # start. Explicit refreshes after the write and after
        # validation remain as progress floor markers.
        with _claim_heartbeat(claim_path):
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(data_dir)
            os.utime(claim_path)  # progress marker: write finished

            spark = df.sparkSession
            staged = read_parquet(spark, data_dir)
            n = _validate_staged(
                staged, data_dir, checks, f"staged write for {table_dir}"
            )
            if drift_checks:
                cur = _versioned_current(table_dir)
                if cur is not None:  # first publish: no baseline
                    baseline = read_parquet(
                        spark, os.path.join(table_dir, _gen_name(cur))
                    )
                    for dc in drift_checks:
                        dc.evaluate(staged, baseline)

            os.utime(claim_path)  # progress marker: validation done
        # validation passed: mark the generation as servable BEFORE it
        # can become current — rollback/time-travel trust this marker
        with open(
            os.path.join(data_dir, _VALIDATED_MARKER), "w", encoding="utf-8"
        ) as f:
            f.write("ok")
        tmp = os.path.join(table_dir, f".ptr-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(gen)
        os.replace(tmp, os.path.join(table_dir, _CURRENT_POINTER))
    except Exception:
        shutil.rmtree(data_dir, ignore_errors=True)
        # release the number claim with the data gone — the number may
        # be reused, and nothing half-written remains under it
        try:
            os.remove(claim_path)
        except OSError:
            pass
        raise
    finally:
        # success: the generation dir itself now holds the number, so
        # the claim file has done its job. A hard-killed publisher
        # leaks its claim and that number is simply never reused by
        # routine publishes — a dirless claim is indistinguishable
        # from a LIVE writer inside Spark's delete-then-write
        # overwrite window, so only vacuum_versioned's long-inactivity
        # threshold may sweep it
        try:
            os.remove(claim_path)
        except OSError:
            pass

    # retention: newest keep_generations VALIDATED generations plus
    # the current pointer target (they coincide except right after a
    # rollback). Everything else — older history AND unvalidated
    # crash orphans — is deleted; stale pointer temp files from
    # crashed swaps are swept too.
    cur = _versioned_current(table_dir)
    validated = _validated_generations(table_dir)
    keep = set(validated[-max(keep_generations, 1):])
    if cur is not None:
        keep.add(cur)
    for g in _versioned_generations(table_dir):
        if g in keep:
            continue
        # a LIVE concurrent publisher's generation is unvalidated
        # until its marker lands — indistinguishable from a crash
        # orphan except by its claim file, which the publisher holds
        # until AFTER its pointer swap. ANY existing claim is treated
        # as live: an age guard here would let a routine >guard-length
        # Spark write age past it and get rmtree'd MID-WRITE, whose
        # surviving part-file subset could pass count-only validation
        # downstream. Hard-killed publishers' orphan claims are
        # collected only by the explicit vacuum_versioned(), whose
        # much larger threshold measures heartbeat-refreshed
        # inactivity, not creation age.
        claim = os.path.join(table_dir, _gen_name(g) + ".claim")
        if os.path.exists(claim):
            continue
        # a racer that COMPLETED since our keep-set snapshot has a
        # marker but is missing from the stale snapshot — re-derive
        # the keep set freshly before touching a validated generation
        if os.path.exists(
            os.path.join(table_dir, _gen_name(g), _VALIDATED_MARKER)
        ):
            validated2 = _validated_generations(table_dir)
            keep2 = set(validated2[-max(keep_generations, 1):])
            cur2 = _versioned_current(table_dir)
            if cur2 is not None:
                keep2.add(cur2)
            if g in keep2:
                continue
        shutil.rmtree(
            os.path.join(table_dir, _gen_name(g)), ignore_errors=True
        )
    # sweep pointer temp files from CRASHED swaps only: an age guard
    # keeps the sweep off a concurrent publisher's live temp, which
    # exists for milliseconds between creation and os.replace —
    # sweeping it mid-swap made the racing publish fail spuriously
    now = time.time()
    for name in os.listdir(table_dir):
        if name.startswith(".ptr-"):
            p = os.path.join(table_dir, name)
            try:
                if now - os.path.getmtime(p) > 60:
                    os.remove(p)
            except OSError:
                pass
    return n


def vacuum_versioned(
    table_dir: str, min_claim_age_s: float = 24 * 3600
) -> list[str]:
    """Collect hard-killed publishers' leftovers that routine
    retention deliberately refuses to touch.

    Routine retention (end of ``publish_versioned``) treats ANY
    existing ``gen-N.claim`` as a live writer, because a claim's age
    cannot distinguish a crash from a long Spark write — sweeping on
    an age guard once destroyed live staging directories mid-write.
    This explicit vacuum closes the loop for true orphans: a claim is
    collected only when it has been INACTIVE for ``min_claim_age_s``
    (default 24h). publish_versioned heartbeats the claim mtime from a
    background thread every ``HEARTBEAT_INTERVAL_S`` for the entire
    write+validation span (plus explicit refreshes after each step),
    so inactivity here means the publisher stopped making progress —
    even mid-write — not that it started long ago. Choose the
    threshold >> HEARTBEAT_INTERVAL_S; it need NOT exceed the longest
    single write.

    For each sufficiently stale claim:
    - unvalidated staged data under it is removed (crash orphan);
    - validated data is LEFT IN PLACE (the publisher completed and
      died between pointer swap and claim cleanup — the data is
      history, retention policy owns it) and only the claim is swept.

    Returns the removed paths. Callers choose the threshold to exceed
    their longest plausible HEARTBEAT stall (driver GC pause, NFS
    hiccup) — a few missed 60s beats, not the length of a write —
    this is an operator-invoked or scheduled maintenance op, never
    part of the publish hot path.
    """
    removed: list[str] = []
    if not os.path.isdir(table_dir):
        return removed
    now = time.time()
    for name in sorted(os.listdir(table_dir)):
        if not (name.startswith(_GEN_PREFIX) and name.endswith(".claim")):
            continue
        claim = os.path.join(table_dir, name)
        try:
            if now - os.path.getmtime(claim) < min_claim_age_s:
                continue
        except OSError:
            continue  # raced with its publisher's own cleanup
        gen_dir = os.path.join(table_dir, name[: -len(".claim")])
        if os.path.isdir(gen_dir) and not os.path.exists(
            os.path.join(gen_dir, _VALIDATED_MARKER)
        ):
            shutil.rmtree(gen_dir, ignore_errors=True)
            removed.append(gen_dir)
        try:
            os.remove(claim)
            removed.append(claim)
        except OSError:
            pass
    return removed


def read_versioned(
    spark: SparkSession, table_dir: str, generation: int | None = None
) -> DataFrame:
    """Read the current generation (pointer-resolved), or time-travel
    to a retained one with ``generation=``."""
    gen = generation if generation is not None else _versioned_current(table_dir)
    if gen is None:
        raise FileNotFoundError(f"no published generation in {table_dir}")
    path = os.path.join(table_dir, _gen_name(gen))
    if not os.path.isdir(path) or not os.path.exists(
        os.path.join(path, _VALIDATED_MARKER)
    ):
        raise FileNotFoundError(
            f"generation {gen} not retained in {table_dir} "
            f"(have {_validated_generations(table_dir)})"
        )
    return read_parquet(spark, path)


def rollback_versioned(table_dir: str) -> int:
    """Repoint the table at the generation preceding the current one
    — no data rewrite, same atomic pointer swap as publish. Only
    VALIDATED generations are rollback targets (a half-written crash
    orphan must never become current). Raises if no earlier validated
    generation is retained."""
    cur = _versioned_current(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no published generation in {table_dir}")
    earlier = [g for g in _validated_generations(table_dir) if g < cur]
    if not earlier:
        raise ValueError(
            f"no earlier generation retained in {table_dir} to roll back to"
        )
    prev = earlier[-1]
    tmp = os.path.join(table_dir, f".ptr-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(_gen_name(prev))
    os.replace(tmp, os.path.join(table_dir, _CURRENT_POINTER))
    return prev

