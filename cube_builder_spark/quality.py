"""Declarative data-quality checks — the expectations layer a
pipeline runs before publishing a table.

The reference validates inputs imperatively and per-file
(`validate_merges`, `cube_builder/utils/processing.py`); a warehouse
needs TABLE-level contracts: key uniqueness, referential integrity,
ranges, null budgets, set membership. Checks are declared as data and
compiled into as few passes as possible:

- all row-local checks on one table (not-null / range / in-set)
  compile into ONE aggregation over one scan — adding a check adds a
  conditional-sum column, not a pass;
- uniqueness is `count(*) − count(distinct key)` piggybacked on the
  same scan's aggregate;
- referential integrity is a broadcast-or-shuffle LEFT ANTI join per
  (child, parent) pair — the only check that needs a second input.

Output is uniform: (check_name, n_rows, n_violations, passed) — tiny
regardless of table size, safe to collect, publishable as a report.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class TableChecks:
    """Declarative check set for one table."""
    df: DataFrame
    not_null: list[str] = field(default_factory=list)
    ranges: dict[str, tuple[float, float]] = field(default_factory=dict)
    in_set: dict[str, list] = field(default_factory=dict)
    unique: list[list[str]] = field(default_factory=list)


def _violation(cond: Column) -> Column:
    """Count rows FAILING the expectation (null counts as failing for
    range/set checks — an unknown value does not satisfy a contract)."""
    return F.sum(F.when(cond, 0).otherwise(1))


def run_table_checks(tc: TableChecks, table: str) -> DataFrame:
    """One aggregation pass → (check_name, n_rows, n_violations,
    passed) for every declared row-local and uniqueness check."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    names: list[str] = []

    def add(name: str, cond: Column):
        aggs.append(_violation(cond).alias(f"_v{len(names)}"))
        names.append(name)

    for c in tc.not_null:
        add(f"{table}.{c} not_null", F.col(c).isNotNull())
    for c, (lo, hi) in tc.ranges.items():
        add(f"{table}.{c} range[{lo},{hi}]", F.col(c).between(lo, hi))
    for c, allowed in tc.in_set.items():
        add(f"{table}.{c} in_set", F.col(c).isin(allowed))
    for cols in tc.unique:
        aggs.append(
            (F.count(F.lit(1)) - F.count_distinct(*[F.col(c) for c in cols]))
            .alias(f"_v{len(names)}"))
        names.append(f"{table}.({','.join(cols)}) unique")

    row = tc.df.agg(*aggs)
    # ONE subtree: the report rows explode out of the single agg row —
    # a union of per-check selects would re-evaluate the aggregation
    # (and the scan) once per check
    checks = F.array(*[
        F.struct(F.lit(name).alias("check_name"),
                 F.col("_n").cast("long").alias("n_rows"),
                 F.col(f"_v{i}").cast("long").alias("n_violations"))
        for i, name in enumerate(names)])
    return (row.select(F.explode(checks).alias("r"))
            .select("r.*")
            .withColumn("passed", F.col("n_violations") == 0))


def check_foreign_key(child: DataFrame, child_col: str,
                      parent: DataFrame, parent_col: str,
                      name: str) -> DataFrame:
    """Orphan child keys via LEFT ANTI join (null child keys are
    orphans too — they reference nothing)."""
    n_rows = child.agg(F.count(F.lit(1)).alias("n")).withColumnRenamed(
        "n", "n_rows")
    orphans = (child.select(F.col(child_col).alias("_k"))
               .join(parent.select(F.col(parent_col).alias("_k")), "_k",
                     "left_anti")
               .agg(F.count(F.lit(1)).alias("n_violations")))
    return (n_rows.crossJoin(F.broadcast(orphans))
            .select(F.lit(name).alias("check_name"),
                    F.col("n_rows").cast("long"),
                    F.col("n_violations").cast("long"),
                    (F.col("n_violations") == 0).alias("passed")))


def combine(*reports: DataFrame) -> DataFrame:
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


class AuditFailed(Exception):
    """Raised by publish_with_audit; carries the failing report rows."""

    def __init__(self, failures: list):
        self.failures = failures
        super().__init__(
            "; ".join(f"{r['check_name']}: {r['n_violations']} violations"
                      for r in failures))


def publish_with_audit(store, df: DataFrame, tc: TableChecks, table: str,
                       mode: str = "append", branch: str = "main") -> int:
    """Write-audit-publish: stage the data, run the declared checks
    against the STAGED copy, and only then commit the manifest — a
    failed audit leaves no new version (the staged files are orphans
    for vacuum). This is the WAP pattern from Iceberg deployments,
    here expressed with the snapshot store's write-last-manifest
    invariant: auditing before the manifest commit IS the isolation.

    The checks run on the staged parquet (one extra read of the new
    files only), not the input plan — what was audited is exactly
    what readers will see.

    The commit follows ``store.write``'s full discipline (round-12
    fix): parent = MAIN'S HEAD (not the globally-latest version — on
    a store with branch refs that could chain the publish onto a
    staging branch), the main ref ADVANCES to the new version (the
    round-12 differential session found the old no-advance commit
    left the audited batch invisible on main and silently orphaned by
    the next write, which forked from the stale head), and the
    parent's pending merge-on-read delete sidecars + per-file
    sequence numbers carry forward on append (dropping them would
    resurrect deleted rows).

    ``branch`` (round-12 ADVICE) gives the audited path API parity
    with ``store.write``: a WAP flow that stages onto an isolation
    branch and fast-forwards main only after downstream validation
    commits with ``branch="audit"`` — the parent and ref advance then
    follow THAT branch's head, exactly as commit_staged defines."""
    new_files = store.stage(df.write)
    staged = df.sparkSession.read.parquet(*new_files)
    report = run_table_checks(
        TableChecks(df=staged, not_null=tc.not_null, ranges=tc.ranges,
                    in_set=tc.in_set, unique=tc.unique), table)
    failures = [r.asDict() for r in report.filter(~F.col("passed"))
                .collect()]
    if failures:
        raise AuditFailed(failures)
    return store.commit_staged(new_files, f"wap-{mode}", mode=mode,
                               branch=branch)
