"""Engine-wide physical-plan invariants over EVERY registered query,
plus plan pins for single operators.

The per-query invariants read the query's one build in the session's
``query_gate`` (tests/conftest.py): no CartesianProduct and no
BatchEvalPython in the executed plan, and no forced broadcast of a
linearly-scaling table in the analyzed plan."""

from __future__ import annotations

import pytest

from cube_builder_spark.queries import all_queries

QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_no_pickled_udf(name, query_gate):
    problems = query_gate(name, "plan")
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_forced_broadcast_of_linear_table(name, query_gate):
    problems = query_gate(name, "broadcast")
    assert not problems, f"{name}: " + "; ".join(problems)


def test_c35_change_matrix_single_exchange_after_plane(spark, sf_dir):
    """The pixel plane's persisted (tile, pixel) clustering must keep
    BOTH pre-matrix groupBys exchange-free: the executed plan may
    contain exactly ONE Exchange above the InMemoryTableScan (the
    final bounded 12x12 matrix shuffle). A second exchange means the
    (t,p,half,q) or (t,p) aggregation stopped reusing the plane's
    partitioning — the co-location this operator's 100 TB story
    depends on."""
    df = QUERIES["c35_change_matrix"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    above, below = plan.split("InMemoryTableScan", 1)[0], None
    n_exchanges = above.count("Exchange")
    assert n_exchanges == 1, (
        f"expected exactly 1 Exchange above the persisted plane, "
        f"found {n_exchanges}")
