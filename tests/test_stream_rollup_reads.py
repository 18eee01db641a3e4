"""The streaming sketch rollups merge into an existing grid only after
reading it: an existing grid that cannot be read stops the stream and
is left as it was, never replaced by one batch."""

from __future__ import annotations

import hashlib
import os
import re

import pytest


def _garbage_grid(path: str) -> dict[str, str]:
    os.makedirs(path)
    with open(os.path.join(path, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file " * 64)
    return _digests(path)


def _digests(path: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out[name] = hashlib.md5(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("rollup", ["hll", "cms"])
def test_unreadable_grid_raises_and_stays(spark, sf_smoke, tmp_path, rollup):
    from programmers_data_spark.streaming import (
        read_events_stream,
        stream_cms_rollup,
        stream_sketch_rollup,
    )

    path = str(tmp_path / "grid")
    before = _garbage_grid(path)
    stream = read_events_stream(spark, sf_smoke)
    cp = str(tmp_path / "cp")
    # the failure must be the read of the garbage grid itself, not
    # some earlier checkpoint or source error
    bad = re.escape(os.path.join(path, "part-00000.parquet"))
    with pytest.raises(Exception, match=f"{bad} is not a Parquet file"):
        if rollup == "hll":
            stream_sketch_rollup(stream, path, checkpoint=cp)
        else:
            stream_cms_rollup(stream, path, checkpoint=cp)
    assert _digests(path) == before

