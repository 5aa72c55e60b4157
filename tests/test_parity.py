"""Driver-contract parity: every oracle-backed registry query must match
DuckDB on the sf0.001 fixtures (the driver runs the same comparison at
sf0.01 -> CORRECTNESS_r{N}.json). One test per query for -x locality."""

from __future__ import annotations

import pytest

from relation_extraction_spark.plans.queries import QUERIES

from .parity import compare, duck_connection

ORACLE_QUERIES = sorted(n for n, (_f, s) in QUERIES.items() if s is not None)
ROWS_ONLY = sorted(n for n, (_f, s) in QUERIES.items() if s is None)


@pytest.fixture(scope="module")
def duck(sf_dir):
    return duck_connection(sf_dir)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_parity(spark, sf_dir, duck, name):
    fn, sql = QUERIES[name]
    errs = compare(fn(spark, sf_dir).toPandas(), duck.sql(sql).df())
    assert not errs, f"{name}: {errs[:3]}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, sf_dir, name):
    """Non-SQL-expressible ops at least run and return a stable schema."""
    fn, _ = QUERIES[name]
    df = fn(spark, sf_dir)
    assert df.columns, name
    assert df.count() >= 0

