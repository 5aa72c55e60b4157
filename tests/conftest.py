"""Shared pytest fixtures (SURVEY.md §5).

One SparkSession for the whole test run. ``get_spark`` picks the master
(``local[$SPARK_GRAFT_CPUS]``, so one Python worker per core); the
shuffle partition count stays small because fixture data is tiny.
Scale behavior is exercised by perfbench/ and scripts/scaling_bench.py,
not pytest.
"""

from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from relation_extraction_spark.session import get_spark

    s = get_spark(app_name="kg-pytest", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"
