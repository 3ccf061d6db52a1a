from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apache_jira_scraper_spark.session import get_spark  # noqa: E402

# The suite runs sf0.001 tables; session.py's 16g default heap is sized for
# sf0.1 bench runs. On a 16 GB host the 16g session JVM had grown to ~8.4 GB
# RSS by the time the DuckDB oracle of text_quality_signals (~10.4 GB in
# this process) ran, and the kernel killed the whole suite there. An
# explicit SPARK_GRAFT_DRIVER_MEM still wins.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR
