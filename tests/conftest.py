"""Shared fixtures. One session-scoped SparkSession (local[4], library
defaults, so shuffle/state partitions = 4 cores) keeps the suite fast;
tests that need different static conf must not — everything here is
runtime-settable."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from denormalized_spark.session import get_spark

    s = get_spark(
        "tests",
        master=os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[4]"),
    )
    yield s


@pytest.fixture(scope="session")
def compiled_classes(spark):
    """Callable: the number of classes Janino has compiled in this JVM
    so far (Spark's ``CodegenMetrics`` compile counter; a codegen
    cache hit does not count)."""
    metrics = getattr(spark._jvm, "org.apache.spark.metrics.source.CodegenMetrics")
    return metrics.METRIC_COMPILATION_TIME().getCount


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def events(spark, sf_dir):
    from denormalized_spark.sources.files import load_table

    return load_table(spark, sf_dir, "events")


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    from denormalized_spark.sources.files import load_table

    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="session")
def embeddings(spark, sf_dir):
    from denormalized_spark.sources.files import load_table

    return load_table(spark, sf_dir, "embeddings")
