"""Every registered query hash-matches its DuckDB oracle SQL, or runs
rows-only when it has none. The check runs on the query's one build in
the session's ``query_gate`` (tests/conftest.py), the same build the
plan invariants in test_plan_invariants.py read."""

from __future__ import annotations

import pytest

from cube_builder_spark.queries import all_queries

QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, query_gate):
    problems = query_gate(name, "oracle")
    assert not problems, f"{name}: " + "; ".join(problems)


def test_entry_smoke(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.queries()).issuperset(set(e.oracle_sql()))
