from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vectorsearch_applications_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def make_spark():
    """The test session (also used to regenerate tests/plan_shapes.tsv)."""
    return get_spark(cpus=8, shuffle_partitions=8)


@pytest.fixture(scope="session")
def spark():
    s = make_spark()
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
