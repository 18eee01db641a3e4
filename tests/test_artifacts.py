"""The published-artifact helpers in storeutil: addressing,
build-on-miss through the validated swap, the bucketed twin, the memo
key, and the store env-var registry bench.py isolates."""

from __future__ import annotations

import ast
import glob
import hashlib
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from programmers_data_spark import storeutil  # noqa: E402
from programmers_data_spark.memo import clear_memo_caches  # noqa: E402

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "programmers_data_spark"


def _gens(table_dir) -> list[str]:
    return sorted(
        d for d in glob.glob(os.path.join(str(table_dir), "gen-*"))
        if not d.endswith(".claim")
    )


def test_published_miss_builds_one_generation_then_reads(spark, tmp_path):
    table_dir = str(tmp_path / "t")
    built = []

    def build():
        built.append(1)
        return spark.range(3)

    first = storeutil.published(spark, table_dir, build)
    assert sorted(r.id for r in first.collect()) == [0, 1, 2]
    assert len(_gens(table_dir)) == 1 and built == [1]
    # memo hit: same handle, no build
    assert storeutil.published(spark, table_dir, build) is first
    clear_memo_caches()
    again = storeutil.published(spark, table_dir, build)
    assert sorted(r.id for r in again.collect()) == [0, 1, 2]
    assert built == [1], "a published artifact must be read, not rebuilt"
    assert len(_gens(table_dir)) == 1


def test_published_miss_evaluates_its_build_once(spark, tmp_path):
    """The miss writes the build and reads the written files back: the
    build's rows are computed once, not once more by an emptiness
    probe. The UDF feeds an aggregate whose output is filtered, so
    neither column pruning nor a pushed-down limit can skip it."""
    from pyspark.sql import functions as F

    seen = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def tally(x):
        seen.add(1)
        return x % 10

    def build():
        return (
            spark.range(0, 40, 1, 2)
            .select(tally("id").alias("v"))
            .groupBy("v")
            .agg(F.count("*").alias("n"))
            .filter("n > 0")
        )

    out = storeutil.published(spark, str(tmp_path / "once"), build)
    assert sorted((r.v, r.n) for r in out.collect()) == [(v, 4) for v in range(10)]
    assert seen.value == 40


def test_published_empty_build_is_returned_unpublished(spark, tmp_path):
    table_dir = str(tmp_path / "fp" / "empty")
    built = []

    def build():
        built.append(1)
        return spark.range(0)

    out = storeutil.published(spark, table_dir, build)
    assert out.count() == 0
    assert _gens(table_dir) == []
    # no directory is left on the way to the refused store
    assert not os.path.exists(tmp_path / "fp")
    # nothing memoized: the next call builds again
    storeutil.published(spark, table_dir, build)
    assert built == [1, 1]


def test_published_memo_binds_the_table_dir(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    ra = storeutil.published(spark, a, lambda: spark.range(2))
    rb = storeutil.published(spark, b, lambda: spark.range(5))
    assert (ra.count(), rb.count()) == (2, 5)
    assert len(_gens(a)) == 1 and len(_gens(b)) == 1


def _bucketed(spark, path, build):
    return storeutil.published_bucketed(
        spark, path, "t_ids", "id BIGINT", ["id"], 2, build
    )


def test_bucketed_miss_writes_once_then_reads(spark, tmp_path):
    path = str(tmp_path / "bk")
    built = []

    def build():
        built.append(1)
        return spark.range(6)

    first = _bucketed(spark, path, build)
    assert sorted(r.id for r in first.collect()) == list(range(6))
    files = sorted(glob.glob(path + "/*.parquet"))
    assert files and built == [1]
    clear_memo_caches()
    _bucketed(spark, path, build)
    # a fresh session: the catalog forgot the table, the files remain
    name = "t_ids_" + hashlib.md5(path.encode()).hexdigest()[:12]
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    clear_memo_caches()
    again = _bucketed(spark, path, build)
    assert sorted(r.id for r in again.collect()) == list(range(6))
    assert built == [1], "existing files must be re-registered, not rebuilt"
    assert sorted(glob.glob(path + "/*.parquet")) == files
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_empty_build_is_returned_unpublished(spark, tmp_path):
    path = str(tmp_path / "bk_empty")
    out = _bucketed(spark, path, lambda: spark.range(0))
    assert out.count() == 0
    assert not os.path.exists(path)


def test_bucketed_empty_build_is_left_unregistered(spark, tmp_path):
    path = str(tmp_path / "fp" / "bk_empty")
    name = "t_ids_" + hashlib.md5(path.encode()).hexdigest()[:12]
    built = []

    def build():
        built.append(1)
        return spark.range(6).filter("id > 10")

    assert _bucketed(spark, path, build).count() == 0
    assert not spark.catalog.tableExists(name)
    assert not os.path.exists(tmp_path / "fp")
    # nothing memoized: the next call builds again
    _bucketed(spark, path, build)
    assert built == [1, 1]


def test_bucketed_memo_binds_the_path(spark, tmp_path):
    a, b = str(tmp_path / "ba"), str(tmp_path / "bb")
    ra = _bucketed(spark, a, lambda: spark.range(2))
    rb = _bucketed(spark, b, lambda: spark.range(5))
    assert (ra.count(), rb.count()) == (2, 5)
    for p in (a, b):
        name = "t_ids_" + hashlib.md5(p.encode()).hexdigest()[:12]
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_pair_store_follows_a_mid_session_store_env_change(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """The pair store's memo binds the resolved store dir: re-pinning
    SPARK_GRAFT_PAIR_STORE mid-session publishes under the new base
    instead of serving the artifact read from the old one."""
    from programmers_data_spark.queries import dedup_ops

    a, b = tmp_path / "a", tmp_path / "b"
    monkeypatch.setenv(dedup_ops.PAIR_STORE_ENV, str(a))
    first = dedup_ops.verified_pair_store(spark, sf_smoke).collect()
    assert first, "the smoke corpus must have near-dup pairs"
    assert glob.glob(str(a / "*" / "minhash_pairs" / "gen-*"))
    monkeypatch.setenv(dedup_ops.PAIR_STORE_ENV, str(b))
    second = dedup_ops.verified_pair_store(spark, sf_smoke).collect()
    assert glob.glob(str(b / "*" / "minhash_pairs" / "gen-*"))
    assert second == first


def test_store_addresses_keep_their_layout(sf_smoke, tmp_path, monkeypatch):
    """Each family's address is base/md5(fixture identity|key)[:16]/leaf
    with the key strings artifacts were first published under, so
    stores written before the helper existed are still found."""
    from programmers_data_spark import derived_store, embedding_index, media_index
    from programmers_data_spark.queries import dedup_ops
    from programmers_data_spark.queries.round12_ops import IMAGE_SPEC

    for env in storeutil.STORE_ENVS:
        monkeypatch.setenv(env, str(tmp_path / env))

    def expect(env, fixture, key, leaf):
        f = os.path.abspath(os.path.join(sf_smoke, fixture))
        st = os.stat(f)
        ident = f"{f}|{st.st_size}|{st.st_mtime_ns}|{key}"
        fp = hashlib.md5(ident.encode()).hexdigest()[:16]
        return os.path.join(str(tmp_path / env), fp, leaf)

    dd = dedup_ops
    assert derived_store._table(
        sf_smoke, "events.parquet", "activity_months", "m"
    ) == expect(
        "SPARK_GRAFT_DERIV_STORE", "events.parquet",
        "activity_months|m|v1", "activity_months",
    )
    assert dd.pair_store_dir(sf_smoke) == expect(
        "SPARK_GRAFT_PAIR_STORE", "documents.parquet",
        f"minhash|{dd.N_HASHES}|{dd.BAND_SIZE}|j{dd.JACCARD_THRESHOLD}|v1",
        "minhash_pairs",
    )
    assert media_index.store_table_dir(IMAGE_SPEC, sf_smoke, "bands") == (
        expect(
            "SPARK_GRAFT_IMG_STORE", "documents.parquet",
            IMAGE_SPEC.algo_fp, "image_bands",
        )
    )
    assert embedding_index.store_table_dir(sf_smoke, "emb_sigs") == expect(
        "SPARK_GRAFT_EMB_STORE", "embeddings.parquet",
        embedding_index._algo_fp(), "emb_sigs",
    )


def _store_env_args() -> set[str]:
    """Every env var the package passes to store_base(, artifact_dir(,
    store_env= or ingest_env=, resolved through module-level string
    constants."""
    consts: dict[str, str] = {}
    args: list[ast.expr] = []
    for path in PKG.rglob("*.py"):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for node in tree.body:
            if (
                isinstance(node, ast.Assign)
                and isinstance(node.value, ast.Constant)
                and isinstance(node.value.value, str)
            ):
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        consts[t.id] = node.value.value
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = getattr(node.func, "id", getattr(node.func, "attr", None))
            if fn in ("store_base", "artifact_dir") and node.args:
                args.append(node.args[0])
            args += [
                kw.value for kw in node.keywords
                if kw.arg in ("store_env", "ingest_env")
            ]
    found = set()
    for a in args:
        if isinstance(a, ast.Constant):
            found.add(a.value)
        elif isinstance(a, ast.Name) and a.id in consts:
            found.add(consts[a.id])
    return found


def test_every_store_env_is_registered():
    """bench.py isolates exactly storeutil.STORE_ENVS, so a store base
    the tuple misses would leak artifacts across bench runs."""
    from programmers_data_spark.queries import media_lifecycle_ops, round12_ops

    found = _store_env_args()
    assert len(found) >= 10, found
    missing = found - set(storeutil.STORE_ENVS)
    assert not missing, missing
    # the media specs compute their ingest env from the spec name
    for spec in (
        round12_ops.IMAGE_SPEC,
        media_lifecycle_ops.AUDIO_SPEC,
        media_lifecycle_ops.VIDEO_SPEC,
    ):
        assert spec.store_env in storeutil.STORE_ENVS
        assert spec.ing_env in storeutil.STORE_ENVS


def test_harness_store_envs_agree():
    """The benchmark harness keeps its own copy of the tuple; both
    isolation paths (bench.py and perfbench) must cover the same
    bases."""
    tree = ast.parse((REPO / "perfbench" / "harness.py").read_text("utf-8"))
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == "STORE_ENVS" for t in node.targets
        ):
            got = ast.literal_eval(node.value)
            assert set(got) == set(storeutil.STORE_ENVS)
            return
    pytest.fail("no STORE_ENVS in perfbench/harness.py")
