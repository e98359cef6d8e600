"""Shared fixtures: one SparkSession for the whole test run.

JVM startup dominates test wall-clock, so the session is session-scoped
and small (local[4], 4 shuffle partitions) - tests exercise semantics,
not scale; parity/bench cover the scale posture.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

SF_DIR = "/root/testdata/sf0.001"


def pytest_configure(config) -> None:
    config.addinivalue_line(
        "markers",
        "parity: Spark-vs-DuckDB oracle comparison of registered queries "
        "(tools/parity.py); runs by default",
    )


@pytest.fixture(scope="session")
def spark():
    from etl_marketdata_downloader_archived_spark.session import get_spark

    s = get_spark("pytest", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
