from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from programmers_data_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(
        app_name="pds-tests", master=f"local[{cpus}]", shuffle_partitions=8
    )
    yield spark


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE


@pytest.fixture(scope="session")
def corpus_kernel(spark):
    """``run(sf_dir, spec)``: spec's Arrow kernel over sf_dir's whole
    corpus, unpublished — the reference a media hash store equals."""
    from programmers_data_spark import media_index
    from programmers_data_spark.catalog import load_table

    def run(sf_dir, spec):
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        return spec.hash_frame(spark, docs, media_index._scenes(spark, sf_dir))

    return run
