from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The session's driver JVM defaults to a 48g heap; on a machine with
# less RAM it can grow until the OOM killer takes it, together with the
# subprocess JVM test_cli.py starts (which inherits this setting).
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from cube_builder_spark.session import get_spark
    spark = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def in_job_group(spark):
    """``run(name, fn)`` -> the ``metrics.record`` of ``fn()``, run
    under the Spark job group ``name``."""
    from cube_builder_spark.metrics import record
    return lambda name, fn: record(spark, name, fn)


@pytest.fixture(scope="session")
def duck(sf_dir):
    from cube_builder_spark.oracle import duckdb_connection
    return duckdb_connection(sf_dir)


# ---------------------------------------------------------------------------
# The per-query gate. Every registered query is built ONCE per session,
# and that one frame is checked three ways; the per-query tests in
# test_plan_invariants.py and test_queries_oracle.py each report one of
# the three results (the graded CORRECTNESS run hash-checks the first
# 50 registry entries at sf0.01; this runs all of them at sf0.001).
#
# 1. "plan": the executed plan, taken before any action. Two patterns
#    must never appear at any scale:
#
#    - ``CartesianProduct`` — an unconstrained pair space. Intentional
#      1-row/broadcast cross joins compile to BroadcastNestedLoopJoin,
#      which is allowed; a shuffled cartesian is always a bug.
#    - ``BatchEvalPython`` — a row-at-a-time (pickled) Python UDF. All
#      executor-side Python in this engine must be Arrow-batched
#      (ArrowEvalPython / mapInPandas / applyInPandas*).
#    - a ``LogicalRDD`` leaf of the optimized plan whose RDD lineage
#      runs through ``PythonRDD`` — a pickled Python row source, i.e. a
#      ``spark.createDataFrame(list)`` frame that unpickles its rows in
#      a Python worker on every action. Driver-local rows go through
#      ``tables.local_df`` (a ``LocalRelation``). ``localCheckpoint``
#      leaves are ``LogicalRDD`` too, over a ``LocalCheckpointRDD``,
#      and pass.
#
# 2. "broadcast": the analyzed plan holds no forced broadcast of a
#    linearly-scaling table (``_forced_linear_broadcasts``).
# 3. "oracle": hash-match the DuckDB oracle SQL, or a rows-only run
#    when the query has no oracle.
#
# Queries whose CONSTRUCTION runs bounded driver-side jobs (centroid
# collects, bloom builds, checkpoints) pay those jobs once per query;
# each build is a ``metrics.record`` under the query's job group, and
# the session's terminal summary lists the costliest constructions.
# ---------------------------------------------------------------------------

# query name -> (construction seconds, construction jobs), per session
_CONSTRUCTIONS = pytest.StashKey[dict]()

# A ``F.broadcast()`` hint on an unfiltered scan of a table that grows
# with scale factor (customer/supplier/part/orders/lineitem/events/
# documents/embeddings) wins at sf0.1 and OOMs a 1000-executor cluster
# at 100x — and the hint *disables* AQE's ability to choose correctly.
# Hints are allowed only when something between the hint and the scan
# shrinks the data (Filter / Aggregate / Deduplicate / Limit / Join) —
# e.g. a selective slice or a grouped summary.

# sentinel first-columns that identify each linearly-scaling relation
_LINEAR = {
    "c_custkey#": "customer", "s_suppkey#": "supplier",
    "p_partkey#": "part", "o_orderkey#": "orders",
    "l_orderkey#": "lineitem", "event_id#": "events",
    "doc_id#": "documents", "vec_id#": "embeddings",
}
# logical nodes that reduce cardinality on the hint->scan path
_SHRINKING = ("Filter", "Aggregate", "Deduplicate", "GlobalLimit",
              "LocalLimit", "Join", "Window", "Generate", "MapInPandas",
              "FlatMapGroupsInPandas", "Sample")

_PREFIX = re.compile(r"^[:+\- ]*")


def _forced_linear_broadcasts(analyzed: str) -> list[str]:
    """Return names of linear tables scanned with no shrinking node
    between an enclosing broadcast ResolvedHint and the scan."""
    lines = analyzed.splitlines()
    parsed = []  # (depth, node_text)
    for ln in lines:
        ind = _PREFIX.match(ln).end()
        parsed.append((ind // 3, ln[ind:]))
    bad = []
    for i, (d, txt) in enumerate(parsed):
        if not (txt.startswith("ResolvedHint") and "broadcast" in txt):
            continue
        # walk the hint's subtree
        path = {}  # depth -> node text (current ancestor chain)
        for j in range(i + 1, len(parsed)):
            dj, tj = parsed[j]
            if dj <= d:
                break
            path[dj] = tj
            if tj.startswith("Relation"):
                tbl = next((name for s, name in _LINEAR.items() if s in tj),
                           None)
                if tbl is None:
                    continue
                chain = [path[k] for k in range(d + 1, dj) if k in path]
                if not any(c.startswith(_SHRINKING) for c in chain):
                    bad.append(tbl)
    return bad


def _outcome(check):
    """The problems ``check()`` returns, or the exception it raised."""
    try:
        return check()
    except Exception as e:  # reported by the test that reads this check
        return e


@pytest.fixture(scope="session")
def query_gate(request, spark, duck, sf_dir):
    """``query_gate(name, check)`` -> the problem list of one check
    ("plan", "broadcast" or "oracle") on the query's single build;
    raises what the build or the check raised."""
    from cube_builder_spark import tables
    from cube_builder_spark.metrics import record
    from cube_builder_spark.oracle import compare
    from cube_builder_spark.queries import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    results = {}
    constructions = request.config.stash.setdefault(_CONSTRUCTIONS, {})

    def plan_problems(qe):
        plan = qe.executedPlan().toString()
        problems = []
        if "CartesianProduct" in plan:
            problems.append("cartesian join")
        if "BatchEvalPython" in plan:
            problems.append(
                "row-at-a-time Python UDF (use Arrow-batched forms)")
        leaves = qe.optimizedPlan().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if (leaf.nodeName() == "LogicalRDD"
                    and "PythonRDD" in leaf.rdd().toDebugString()):
                problems.append("pickled Python RDD source (build "
                                "driver-local rows with tables.local_df)")
        return problems

    def broadcast_problems(name, qe):
        if not _forced_linear_broadcasts(qe.analyzed().toString()):
            return []
        # Simulate the 100 TB regime: every stats-gated hint
        # (tables.broadcast_if_small) degrades to no-hint, and the plan
        # built under THAT regime must contain no forced broadcast of a
        # linear-scaling table. (At sf0.001 the gates legitimately fire
        # — that is their point.) The flag only drops hints, so the
        # no-hint plan can flag only what the hinted plan already
        # flags: a clean hinted plan needs no second build.
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(tables, "FORCE_NO_BROADCAST_HINTS", True)
            rebuilt = queries[name](spark, sf_dir)
        bad = _forced_linear_broadcasts(
            rebuilt._jdf.queryExecution().analyzed().toString())
        return [f"forced broadcast() of unfiltered linearly-scaling "
                f"table(s) {bad} — drop the hint or gate it on table "
                f"size"] if bad else []

    def oracle_problems(name, sdf):
        if name in oracles:
            return compare(sdf, duck, oracles[name])
        assert sdf.count() >= 0  # rows-only check
        return []

    def run(name):
        try:
            rec = record(spark, name, lambda: queries[name](spark, sf_dir))
        except Exception as e:
            return dict.fromkeys(("plan", "broadcast", "oracle"), e)
        constructions[name] = (rec.construct_s, rec.construct_jobs)
        sdf = rec.result
        qe = sdf._jdf.queryExecution()
        return {"plan": _outcome(lambda: plan_problems(qe)),
                "broadcast": _outcome(lambda: broadcast_problems(name, qe)),
                "oracle": _outcome(lambda: oracle_problems(name, sdf))}

    def gate(name, check):
        if name not in results:
            results[name] = run(name)
        outcome = results[name][check]
        if isinstance(outcome, Exception):
            raise outcome
        return outcome

    return gate


def pytest_terminal_summary(terminalreporter, config):
    constructions = config.stash.get(_CONSTRUCTIONS, {})
    if not constructions:
        return
    costliest = sorted(constructions.items(), key=lambda kv: -kv[1][0])[:15]
    terminalreporter.section("costliest query constructions (query_gate)")
    for name, (seconds, jobs) in costliest:
        terminalreporter.write_line(f"{seconds:8.2f}s {jobs:4d} jobs  {name}")
