"""The published media stores are the one source of each modality's
full-corpus fingerprint, pair and cluster tables: once they exist,
no full-corpus media query re-runs an Arrow hash kernel."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from programmers_data_spark import registry, storeutil  # noqa: E402
from programmers_data_spark.memo import clear_memo_caches  # noqa: E402

registry.load_all()

_KERNEL_QUERIES = {
    "image": "image_dhash",
    "audio": "audio_fingerprint",
    "video": "video_framehash",
}
# physical nodes that run Python: the kernels' mapInPandas and any
# Arrow or pickled UDF evaluation
_PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython")


@pytest.mark.parametrize("modality", ["image", "audio", "video"])
def test_full_corpus_media_queries_read_only_stores(
    spark, sf_smoke, tmp_path, monkeypatch, modality
):
    for env in storeutil.STORE_ENVS:
        monkeypatch.setenv(env, str(tmp_path / env.lower()))
    names = [
        _KERNEL_QUERIES[modality],
        f"{modality}_neardup_pairs",
        f"{modality}_neardup_clusters",
        f"{modality}_lsh_recall",
    ]
    clear_memo_caches()
    for n in names:  # builds the stores
        registry.QUERIES[n](spark, sf_smoke).collect()
    clear_memo_caches()
    for n in names:
        plan = registry.QUERIES[n](spark, sf_smoke)._jdf.queryExecution()
        text = plan.executedPlan().toString()
        found = [p for p in _PYTHON_NODES if p in text]
        assert not found, f"{n} plans {found}:\n{text}"
    clear_memo_caches()
