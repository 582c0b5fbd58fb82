from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from de_project_airflow_etl_spark.session import get_spark  # noqa: E402

SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")

# The session's 48g default heap is sized for a 32-core box. On a 16 GB
# host the suite's JVM heap grows past physical memory and the JVM is
# OOM-killed mid-run; capped at 8g the default tier peaks near 6 GB RSS.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_CORRECTNESS


@pytest.fixture(scope="session")
def duck(sf_dir):
    from tests.harness import duck_connection
    con = duck_connection(sf_dir)
    yield con
    con.close()
