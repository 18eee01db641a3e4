"""Shared-artifact stores — where a published derived table lives, and
how it is built once per corpus version and read afterwards (see
SCALE.md "Published artifacts").

Two requirements the naive ``$TMPDIR/fixed_name`` default violates:

- multi-user hosts: a fixed, predictable path under the WORLD-WRITABLE
  shared tempdir lets another user pre-create the directory and plant
  an artifact that consumers would serve unverified (r8 ADVICE). The
  default is therefore per-uid and created mode 0700, and an existing
  base is rejected unless the current user owns it and it is not
  writable by others.
- reproducibility: callers (bench.py, the driver) can still pin an
  explicit base via an env var — an operator-chosen location is
  trusted as given, like any configured warehouse path.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import stat
import tempfile
from collections.abc import Callable

from .catalog import footer_row_count
from .memo import memoized
from .quality import EmptyTableError, NonEmptyCheck

# Every env var that names a store base: the published artifacts and
# the scratch trees of ingest, interchange and audit queries. bench.py
# isolates each one per run; tests/test_artifacts.py checks that every
# base the package resolves is listed.
STORE_ENVS = (
    "SPARK_GRAFT_PAIR_STORE", "SPARK_GRAFT_DERIV_STORE",
    "SPARK_GRAFT_IMG_STORE", "SPARK_GRAFT_AUDIO_STORE",
    "SPARK_GRAFT_VIDEO_STORE", "SPARK_GRAFT_EMB_STORE",
    "SPARK_GRAFT_EMB_INGEST_STORE", "SPARK_GRAFT_TEXT_INGEST_STORE",
    "SPARK_GRAFT_IMG_INGEST_STORE", "SPARK_GRAFT_JSONL_STORE",
    "SPARK_GRAFT_ORC_STORE", "SPARK_GRAFT_UPSERT_PUB_STORE",
    "SPARK_GRAFT_LATE_STORE", "SPARK_GRAFT_DEDUP_AUDIT_STORE",
    "SPARK_GRAFT_AUDIO_INGEST_STORE", "SPARK_GRAFT_VIDEO_INGEST_STORE",
)

def store_base(env_var: str, name: str) -> str:
    """Resolve the base directory for a named shared-artifact store.

    ``env_var`` overrides unconditionally (operator-owned location).
    Otherwise default to ``$TMPDIR/<name>_u<uid>``, created 0700;
    refuse a pre-existing default the current user does not own or
    that other users can write, instead of silently trusting planted
    content.
    """
    override = os.environ.get(env_var)
    if override:
        return override
    base = os.path.join(
        tempfile.gettempdir(), f"{name}_u{os.getuid()}"
    )
    try:
        os.makedirs(base, mode=0o700)
    except FileExistsError:
        st = os.stat(base)
        if st.st_uid != os.getuid():
            raise PermissionError(
                f"shared-artifact store {base} is owned by uid "
                f"{st.st_uid}, not the current user — refusing to "
                f"serve its content; set ${env_var} to a trusted path"
            )
        if st.st_mode & (stat.S_IWGRP | stat.S_IWOTH):
            raise PermissionError(
                f"shared-artifact store {base} is group/other-"
                f"writable — refusing to serve its content; "
                f"chmod 0700 it or set ${env_var}"
            )
    return base


def artifact_dir(
    env: str, default_name: str, sf_dir: str, fixture: str, key: str, leaf: str
) -> str:
    """Content-addressed location of one artifact derived from one
    fixture table: ``store_base(env, default_name)/<fp>/leaf`` where
    fp hashes the fixture's (abspath, size, mtime_ns) plus ``key`` —
    the derivation's LIVE parameters, so a regenerated fixture or a
    changed constant re-keys the store instead of serving stale
    rows."""
    base = store_base(env, default_name)
    f = os.path.abspath(os.path.join(sf_dir, fixture))
    try:
        st = os.stat(f)
        ident = f"{f}|{st.st_size}|{st.st_mtime_ns}"
    except OSError:
        ident = f"{f}|missing"
    fp = hashlib.md5(f"{ident}|{key}".encode()).hexdigest()[:16]
    return os.path.join(base, fp, leaf)


def _build_on_miss(read: Callable, build: Callable, write: Callable, path: str):
    """``read()``; if the artifact is not there yet, ``write(build())``
    and read it back. The build is evaluated once, by the write: an
    empty build is refused by the publish's own empty guard
    (EmptyTableError) and returned as it is, unpublished, with the
    directories the write made on the way to ``path`` removed."""
    try:
        return read()
    except FileNotFoundError:
        pass
    computed = build()
    made = []
    d = path
    while not os.path.exists(d):
        made.append(d)
        d = os.path.dirname(d)
    try:
        write(computed)
    except EmptyTableError:
        for d in made:  # leaf first; stop at a dir someone else filled
            try:
                os.rmdir(d)
            except FileNotFoundError:
                continue
            except OSError:
                break
        return computed
    return read()


@memoized
def _read_published(spark, table_dir: str):
    from .publish import read_versioned

    return read_versioned(spark, table_dir)


def published(spark, table_dir: str, build: Callable):
    """Read the artifact at ``table_dir``; on a miss, publish
    ``build()`` through the K8 validated swap (publish_versioned) and
    read it back."""
    from .publish import publish_versioned

    return _build_on_miss(
        lambda: _read_published(spark, table_dir),
        build,
        lambda df: publish_versioned(df, table_dir),
        table_dir,
    )


@memoized
def _registered_bucketed(
    spark, path: str, name: str, ddl: str, bucket_by: tuple, n_buckets: int
):
    if not spark.catalog.tableExists(name):
        if not (os.path.isdir(path) and any(
            f.endswith(".parquet") for f in os.listdir(path)
        )):
            raise FileNotFoundError(path)
        spark.sql(
            f"CREATE TABLE {name} ({ddl}) USING PARQUET "
            f"CLUSTERED BY ({', '.join(bucket_by)}) "
            f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
        )
    return spark.table(name)


def _save_bucketed(
    df, name: str, path: str, bucket_by: list[str], n_buckets: int
) -> None:
    """sinks.save_bucketed, then the empty guard on the written rows:
    an empty table is dropped from the catalog and its files removed
    before the guard raises."""
    from . import sinks

    sinks.save_bucketed(
        df, name, path, bucket_by=bucket_by, n_buckets=n_buckets, sort_by=bucket_by
    )
    n = footer_row_count(path)
    if n is None:
        n = df.sparkSession.table(name).count()
    if n == 0:
        df.sparkSession.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(path, ignore_errors=True)
    NonEmptyCheck(f"bucketed build for {path}").evaluate(n)


def published_bucketed(
    spark,
    path: str,
    prefix: str,
    ddl: str,
    bucket_by: list[str],
    n_buckets: int,
    build: Callable,
):
    """The bucketed twin of :func:`published`: the artifact at
    ``path`` is an external table hash-bucketed (and sorted) by
    ``bucket_by``, so every join on that key plans with no Exchange
    on its side. Files already on disk are re-registered through DDL
    (columns ``ddl``); otherwise ``build()`` is written via
    sinks.save_bucketed. The catalog name binds the FULL path, so two
    store bases in one session never share a table entry."""
    name = f"{prefix}_" + hashlib.md5(path.encode()).hexdigest()[:12]
    return _build_on_miss(
        lambda: _registered_bucketed(
            spark, path, name, ddl, tuple(bucket_by), n_buckets
        ),
        build,
        lambda df: _save_bucketed(df, name, path, bucket_by, n_buckets),
        path,
    )
