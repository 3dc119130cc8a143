"""Shared test fixtures: one small local SparkSession for the whole run.

local[4] with 4 shuffle partitions keeps the suite fast on tiny frames while
still exercising multi-partition paths (shuffles, map-side combine).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session", autouse=True)
def git_hooks():
    """Install the repo's pre-commit hook (untracked, so a fresh clone lacks
    it) through the same tracked installer ``tools/run_all.py`` uses."""
    from tools.install_hooks import ensure_hooks

    ensure_hooks()


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("ago_sisdb_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_small():
    if not os.path.isdir(SF_SMALL):
        pytest.skip(f"{SF_SMALL} not present")
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_mid():
    if not os.path.isdir(SF_MID):
        pytest.skip(f"{SF_MID} not present")
    return SF_MID
