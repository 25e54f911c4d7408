"""Shared fixtures: one tuned SparkSession per test run, testdata dirs."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

from mcp_server_vector_search_spark.cache import release_scratch  # noqa: E402
from mcp_server_vector_search_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(autouse=True)
def _release_scratch():
    """Each test owns the results it consumes: release the scratch its
    queries left (cached blocks, directories, memory-sink views)."""
    yield
    release_scratch()


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correctness():
    return SF_CORRECTNESS
