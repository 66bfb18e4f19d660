from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession  # noqa: E402

from metrocloud_data_pipeline_spark.session import (  # noqa: E402
    CODEGEN_CACHE_CONF,
    CODEGEN_CACHE_MAX_ENTRIES,
)

_SLOW_SKIP_REASON = (
    "slow tier — set SPARK_GRAFT_FULL_TESTS=1 to run it (skipped by "
    "default so the suite fits its verify time budget)"
)


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: heavy verification tier (iterative training loops, the "
        "crash-replay matrix, naive-reference cross-checks) — skipped "
        "by default so the suite fits the driver's verify window "
        "(VERDICT r15 #3); set SPARK_GRAFT_FULL_TESTS=1 to run it "
        "(the builder runs the full tier at least once per round).",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1":
        return
    skip = pytest.mark.skip(reason=_SLOW_SKIP_REASON)
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


def pytest_terminal_summary(terminalreporter):
    """Say how many slow-tier tests this run skipped, so the tier cannot
    go unrun unnoticed."""
    n = sum(
        1
        for rep in terminalreporter.stats.get("skipped", [])
        if isinstance(rep.longrepr, tuple) and rep.longrepr[2].endswith(_SLOW_SKIP_REASON)
    )
    if n:
        terminalreporter.write_line(
            f"{n} slow tests skipped; run them with "
            "SPARK_GRAFT_FULL_TESTS=1 python -m pytest tests/"
        )


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = (
        SparkSession.builder.master("local[4]")
        .appName("mds-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_MAX_ENTRIES))
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
