"""Entry-point contract (__spark_entry__.py): ``entry()`` returns the
flagship top-20 triples, and ``queries()`` / ``oracle_sql()`` are exact
views of the registry in plans/queries.py."""

from __future__ import annotations

import __spark_entry__ as E
from relation_extraction_spark.plans.queries import QUERIES

# registry entries with no DuckDB oracle (non-SQL-expressible ops)
ROWS_ONLY = {
    "kg_canonicalize_entities",
    "kg_detect_mentions",
    "kg_extract_triples",
    "kg_link_mentions",
    "kg_materialize_edges",
    "kg_segment_sentences",
}


def test_entry_returns_top20_triples_by_count(spark):
    df = E.entry(spark)
    assert df.columns == ["subj", "pred", "obj", "weight"]
    rows = [tuple(r) for r in df.collect()]
    assert 0 < len(rows) <= 20
    # count descending, ties broken on (subj, pred, obj)
    assert rows == sorted(rows, key=lambda r: (-r[3], r[0], r[1], r[2]))


def test_queries_cover_the_registry():
    assert set(E.queries()) == set(QUERIES)
    assert all(callable(fn) for fn in E.queries().values())


def test_oracle_sql_is_the_oracle_backed_subset():
    sql = E.oracle_sql()
    assert set(sql) == set(QUERIES) - ROWS_ONLY
    assert all(sql[n] == QUERIES[n][1] for n in sql)
