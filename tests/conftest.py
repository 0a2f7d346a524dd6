from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from prisma_migrator_spark.operators.driver_state import release_pins  # noqa: E402
from prisma_migrator_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("PMS_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("pms-tests", cpus=os.environ.get("PMS_TEST_CPUS", "4"),
                      shuffle_partitions=4)
    yield spark


@pytest.fixture(autouse=True)
def _release_pins():
    """Tests call pinning library functions directly, outside the
    registry that would release their pins: release after each test."""
    yield
    release_pins()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
