from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from es_loaders_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def count_jobs(spark, label, fn) -> int:
    """Run ``fn()`` under job group ``label``; return the Spark jobs it
    submitted (the status tracker's count for that group)."""
    sc = spark.sparkContext
    sc.setJobGroup(label, label)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(list(sc.statusTracker().getJobIdsForGroup(label)))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("es-loaders-spark-tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="session")
def web_pages(spark):
    from es_loaders_spark.corpus import synthesize_web_pages

    return synthesize_web_pages(spark, n_docs=400, seed=42).cache()
