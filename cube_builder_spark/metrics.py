"""Execution-metrics introspection — read back what a job actually
did (rows scanned, shuffle volume, spills) instead of guessing.

Spark attaches SQLMetrics to every physical operator; the UI renders
them but pipelines rarely consume them. This walks the executed plan
tree after an action and returns the metrics as plain rows, so a job
can assert its own physical behavior ("the probe side scanned fewer
rows than the fact table", "no spill") the same way tests assert
logical results — the programmatic form of reading `.explain()`.

Driver-side only and bounded by plan size; call AFTER an action so
the metrics are populated (AQE finalizes the plan on first
execution).

``record`` is the per-query recorder every harness shares (bench.py,
tools/perf_probe.py, tools/check_oracle.py, the test gate): one job
group per query, with the construction and the action timed, and
their jobs and codegen compiles counted, separately.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession


def collect_metrics(df: DataFrame) -> list[dict]:
    """[{node, metric, value}] for every operator in the EXECUTED
    plan (AQE final plan). Values are the accumulated totals across
    tasks."""
    plan = df._jdf.queryExecution().executedPlan()
    out: list[dict] = []

    def walk(node):
        name = node.nodeName()
        metrics = node.metrics()
        it = metrics.iterator()
        while it.hasNext():
            kv = it.next()
            metric = kv._1()
            sql_metric = kv._2()
            out.append({"node": name, "metric": str(metric),
                        "value": int(sql_metric.value())})
        # adaptive nodes hide their executed subtree behind
        # executedPlan/finalPhysicalPlan accessors
        cls = node.getClass().getName()
        if cls.endswith("AdaptiveSparkPlanExec"):
            walk(node.executedPlan())
            return
        if cls.endswith(("QueryStageExec", "ShuffleQueryStageExec",
                         "BroadcastQueryStageExec", "ResultQueryStageExec")):
            walk(node.plan())
            return
        ch = node.children()
        cit = ch.iterator()
        while cit.hasNext():
            walk(cit.next())

    walk(plan)
    return out


def metric_total(df: DataFrame, metric_substr: str,
                 node_substr: str = "") -> int:
    """Sum of all metrics whose KEY contains ``metric_substr`` (and
    whose node contains ``node_substr``) — e.g. ('numOutputRows',
    'Scan') = total rows read from sources. Keys are the camelCase
    SQLMetric names ('numOutputRows', 'shuffleBytesWritten',
    'spillSize', ...), not the UI display strings."""
    return sum(m["value"] for m in collect_metrics(df)
               if metric_substr in m["metric"]
               and node_substr in m["node"])


def shuffle_bytes(df: DataFrame) -> int:
    """Total shuffle bytes written by the (executed) query — the
    number to watch when validating a partitioning strategy."""
    return metric_total(df, "shuffleBytesWritten")


def spill_bytes(df: DataFrame) -> int:
    """Total disk spill — nonzero means partitions exceeded executor
    memory: repartition finer or raise parallelism."""
    return metric_total(df, "spillSize")


@dataclass(frozen=True)
class Record:
    """What one :func:`record` call did. ``result`` is the action's
    return value, or the built value when there was no action."""
    result: Any
    construct_s: float
    action_s: float
    construct_jobs: int
    action_jobs: int
    compiles: int
    _spark: SparkSession = field(repr=False, compare=False)
    _job_ids: frozenset = field(repr=False, compare=False)

    def plans(self) -> list[str]:
        """The physical plans of the SQL executions that ran this
        record's jobs, read from the SQL status store (which keeps only
        the session's newest ``spark.sql.ui.retainedExecutions``)."""
        execs = (self._spark._jsparkSession.sharedState().statusStore()
                 .executionsList())
        to_java = self._spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        return [e.physicalPlanDescription() for e in
                (execs.apply(i) for i in range(execs.size()))
                if {int(j) for j in to_java(e.jobs().keySet())} & self._job_ids]


def record(spark: SparkSession, name: str, build: Callable[[], Any],
           action: Callable[[Any], Any] | None = None) -> Record:
    """Run ``build()`` and then ``action(result)`` under the job group
    ``name``. Job counts are set differences of the group's job ids
    (``spark.ui.retainedJobs`` evicts old ones), so a second record
    under the same name counts only its own jobs; the listener bus is
    drained between the phases, outside the timed regions."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    compiled = (sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())

    def job_ids() -> set[int]:
        bus.waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(name))

    seen = job_ids()
    sc.setJobGroup(name, name)
    try:
        c0 = compiled.getCount()
        t0 = time.perf_counter()
        result = build()
        construct_s = time.perf_counter() - t0
        built = job_ids()
        action_s = 0.0
        if action is not None:
            t0 = time.perf_counter()
            result = action(result)
            action_s = time.perf_counter() - t0
        compiles = compiled.getCount() - c0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    done = job_ids()
    return Record(result, construct_s, action_s, len(built - seen),
                  len(done - built), compiles, spark, frozenset(done - seen))


def _identity(batches):
    yield from batches


def warm_python_workers(spark: SparkSession) -> None:
    """Start the session's Python workers and their Arrow channels
    (an identity ``mapInPandas`` over 32 partitions), so the first
    pandas-UDF query a harness times is not charged their start-up."""
    spark.range(256).repartition(32).mapInPandas(_identity, "id long").count()
