"""The near-dup tier's shared rules — the band probe, the Hamming and
Jaccard verifiers and the cluster labeller — each have one home, and
behave as their contracts say."""

from __future__ import annotations

import ast
import os
from pathlib import Path

from pyspark.sql import functions as F

import programmers_data_spark as pkg
from programmers_data_spark import media_index, storeutil
from programmers_data_spark.operators import band_probe, label_clusters

# one home per rule: (function, the one module allowed to call it)
_HOMES = {
    "F.bit_count": "media_index.py",
    "F.array_intersect": "queries/dedup_ops.py",
}


def _is_aliased_id(node) -> bool:
    """A column reference through the probe's "a"/"b" join aliases:
    "a.x", f"a.{col}" or F.col(...) over one of those."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value.startswith(("a.", "b."))
    if isinstance(node, ast.JoinedStr) and node.values:
        return _is_aliased_id(node.values[0])
    if isinstance(node, ast.Call) and ast.unparse(node.func) in ("F.col", "col"):
        return any(_is_aliased_id(a) for a in node.args)
    return False


def _rule_violations(tree, rel: str) -> list[tuple[int, str]]:
    found = []
    probe_lines: set[int] = set()
    if rel == "operators/__init__.py":
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "band_probe":
                probe_lines = set(range(node.lineno, node.end_lineno + 1))
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        func = ast.unparse(node.func)
        if func in _HOMES and rel != _HOMES[func]:
            found.append((node.lineno, func))
        if (
            func in ("F.coalesce", "coalesce")
            and rel != "operators/__init__.py"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == "component"
        ):
            found.append((node.lineno, "coalesce(component)"))
        if (
            func in ("F.least", "F.greatest")
            and node.lineno not in probe_lines
            and any(_is_aliased_id(a) for a in node.args)
        ):
            found.append((node.lineno, func))
    return found


def test_neardup_rules_have_one_home():
    """The Hamming expression lives in media_index, the Jaccard
    expression in dedup_ops, the singleton label in operators and the
    pair normalization in band_probe. SQL strings are not checked."""
    root = Path(pkg.__file__).parent
    found = {
        rel: lines
        for p in sorted(root.rglob("*.py"))
        if (lines := _rule_violations(
            ast.parse(p.read_text()), rel := str(p.relative_to(root))))
    }
    assert not found, f"hand copy of a near-dup rule: {found}"
    planted = ast.parse(
        "ham = F.bit_count(F.col('lo_a').bitwiseXOR(F.col('lo_b')))\n"
        "n = F.size(F.array_intersect('sh_a', 'sh_b'))\n"
        "c = F.coalesce('component', 'doc_id')\n"
        "x = F.least('a.vec_id', 'b.vec_id')\n"
        "y = F.greatest(f'a.{id_col}', f'b.{id_col}')\n"
        "z = F.least(F.col('a.media_id'), F.col('b.media_id'))\n"
        "ok = F.least('sa', 'sb')\n"
        "sql = 'SELECT bit_count(xor(a, b))'\n"
    )
    assert sorted(ln for ln, _ in _rule_violations(planted, "queries/x.py")) == [
        1, 2, 3, 4, 5, 6
    ]


def test_band_probe_normalizes_and_dedups(spark):
    index = spark.createDataFrame(
        [(1, 0, 7), (2, 0, 7), (3, 0, 7), (3, 1, 5), (2, 1, 5), (4, 0, 9)],
        "id long, band int, bval long",
    )
    arrivals = index.filter(F.col("id") >= 2)
    got = band_probe(arrivals, index, "id", ("band", "bval"), ("p", "q"))
    assert got.columns == ["p", "q"]
    # 2-3 meets itself from both arrival sides and in two bands: one row
    assert sorted(map(tuple, got.collect())) == [(1, 2), (1, 3), (2, 3)]


def test_label_clusters_keeps_singletons(spark):
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    edges = spark.createDataFrame([(2, 5), (5, 3), (4, 6)], "x long, y long")
    got = label_clusters(ids, edges, "doc_id", ("x", "y"))
    assert got.columns == ["doc_id", "cluster_id"]
    assert sorted(map(tuple, got.collect())) == [
        (1, 1), (2, 2), (3, 2), (4, 4), (5, 2), (6, 4)
    ]


def test_verifiers_apply_their_thresholds(spark):
    from programmers_data_spark.queries.dedup_ops import jaccard_verify
    from programmers_data_spark.media_index import HAM_T

    hashes = spark.createDataFrame(
        [(1, 0, 0), (2, (1 << HAM_T) - 1, 0), (3, (1 << (HAM_T + 1)) - 1, 0)],
        "media_id long, dhash_lo long, dhash_hi long",
    )
    cand = spark.createDataFrame([(1, 2), (1, 3)], "media_a long, media_b long")
    assert [tuple(r) for r in media_index.hamming_verify(cand, hashes).collect()] == [
        (1, 2, HAM_T)
    ]
    sigs = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["a", "b", "d"]), (3, ["a", "x", "y"])],
        "doc_id long, shingles array<string>",
    )
    cand = spark.createDataFrame([(1, 2), (1, 3)], "doc_a long, doc_b long")
    # |{a,b}| / |{a,b,c,d}| = 0.5 passes; 1/5 does not
    assert [tuple(r) for r in jaccard_verify(cand, sigs).collect()] == [(1, 2, 0.5)]


def test_empty_media_index_builds_nothing(
    spark, tmp_path, tmp_path_factory, monkeypatch
):
    """An empty hash table publishes no store: the pair store and the
    serving read return 0 rows with their usual schemas and leave no
    file under the store bases."""
    import pandas as pd

    from programmers_data_spark.queries.media_lifecycle_ops import _hamming_topk

    for env in storeutil.STORE_ENVS:
        monkeypatch.setenv(env, str(tmp_path / env.lower()))

    def no_hashes(s, docs, scenes, canon_mod=None):
        return s.createDataFrame(
            [], "media_id long, scene long, dhash_lo long, dhash_hi long"
        )

    spec = media_index.MediaIndexSpec(
        name="nullmedia",
        store_env="SPARK_GRAFT_IMG_STORE",
        algo_fp="nullmedia|v1",
        hash_frame=no_hashes,
        arrival_residue=0,
    )
    sf = tmp_path_factory.mktemp("nullmedia_sf")
    pd.DataFrame(
        {"doc_id": [1, 2], "text": ["a b", "c d"], "lang": ["en"] * 2,
         "source": ["s"] * 2, "n_chars": [3, 3]}
    ).to_parquet(sf / "documents.parquet", index=False)
    pairs = media_index.pair_store(spark, str(sf), spec)
    assert pairs.count() == 0
    assert pairs.schema.simpleString() == (
        "struct<media_a:bigint,media_b:bigint,ham_d:int>"
    )
    topk = _hamming_topk(spark, str(sf), spec)
    assert topk.count() == 0
    assert topk.schema.simpleString() == (
        "struct<query_id:bigint,rnk:int,neighbor_id:bigint,ham_d:int>"
    )
    left = [
        os.path.join(d, f) for d, _, files in os.walk(tmp_path) for f in files
    ]
    assert left == []
