#!/usr/bin/env python3
"""Benchmark of the cube builder, end to end and layer by layer.

    python3 perfbench/run.py --workload ingest_build --seed 1 --seconds 10 --trace 0

Run it from the root of a source checkout. It generates its inputs
from ``--seed`` under ``perfbench/.work/``, starts one local Spark
session on every core the process may use, sets up, then runs passes
of the workload's ops for ``--seconds`` seconds (at least one pass),
checking every op's output. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` Spark's event
log is on, program entry points get spans, each layer is also forced
on its own, and the metrics are the per-layer ones. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import tracing  # noqa: E402
from perfbench.workloads import (ANALYTICS_QUERIES, WORKLOADS, Run,  # noqa: E402
                                 dir_stats)

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_geomean_s": "s",
              "jvm_peak_rss_mb": "MB"}

SPARK_COUNTERS = ("jobs", "tasks", "task_failures", "executor_run_s",
                  "executor_cpu_s", "gc_s", "shuffle_write_mb",
                  "shuffle_read_mb", "spill_mb")

PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s", "pixelplane.persist_s": "s",
    "sources.scan_s": "s",
    "operators.warp.warp_s": "s", "operators.warp.python_boot_s": "s",
    "operators.warp.python_init_s": "s", "operators.warp.python_total_s": "s",
    "operators.warp.arrow_sent_mb": "MB",
    "plans.build_cube.merge_s": "s", "plans.build_cube.blend_s": "s",
    "plans.build_cube.index_s": "s", "plans.build_cube.publish_s": "s",
    "plans.build_cube.rebuild_s": "s",
    **{f"plans.build_cube.{call}_{k}": u for call in ("build", "rebuild")
       for k, u in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("driver_gap_s", "s"))},
    "sinks.cube_write_s": "s", "sinks.cog_export_s": "s",
    "sinks.bytes_written": "bytes", "sinks.files_written": "count",
    **{f"queries.{q}.{k}": u for q in ANALYTICS_QUERIES
       for k, u in (("construct_s", "s"), ("collect_s", "s"), ("jobs", "count"))},
    **{f"spark.{k}": ("count" if k in ("jobs", "tasks", "task_failures") else
                      "MB" if k.endswith("_mb") else "s") for k in SPARK_COUNTERS},
    "spark.driver_gap_s": "s",
    "spark.cached_rdds_end": "count",
    "hygiene.work_bytes_before": "bytes", "hygiene.work_bytes_after": "bytes",
    "trace.pass_s": "s", "trace.unattributed_frac": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str, trace: bool) -> int:
    """Keep every file Spark and Python write inside ``work``; returns
    the core count for ``local[n]``."""
    for d in ("spark-local", "tmp", "warehouse") + (("eventlog",) if trace else ()):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the driver JVM shares a 15 GB machine with the Python workers
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--driver-java-options", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    ]
    if trace:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
                   "--conf", "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    return cpus


# A pass during which the hypervisor took more than STEAL_LIMIT of the
# machine's CPU time measures the host, not the program: such a pass is
# repeated, up to MAX_PASSES in all, and the least-stolen pass is the
# one reported. On a quiet host every run makes one pass.
STEAL_LIMIT = 0.04
MAX_PASSES = 2


def cpu_steal(since=None):
    """Cumulative (steal, total) CPU jiffies of the machine, or, given an
    earlier reading, the share of CPU time stolen since then."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    now = (fields[7], sum(fields))
    if since is None:
        return now
    return (now[0] - since[0]) / max(1, now[1] - since[1])


def start_session(cpus: int, phases: dict):
    from cube_builder_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus)
    spark.range(1).count()
    phases["session.start_s"] = time.perf_counter() - t0
    spark.sparkContext.setJobGroup("perfbench", "benchmark")
    return spark


def jvm_memory_mb(spark) -> tuple[float, float]:
    """(peak RSS of the driver JVM, its live heap after a full GC)."""
    jvm = spark.sparkContext._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        peak = next(int(line.split()[1]) / 1024.0 for line in fh
                    if line.startswith("VmHWM:"))
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return peak, (rt.totalMemory() - rt.freeMemory()) / 2**20


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and with it every Python
    worker it forked) has exited."""
    import subprocess

    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def trace_metrics(run: Run, passes, log_dir: str) -> dict:
    """Per-layer metrics from the spans, the layer probes and the
    event log of a traced run."""
    tracer = run.tracer
    stats, intervals = tracing.read_event_log(log_dir)
    op_spans = {s.op: s for s in tracer.spans if s.parent is None and s.op}
    out = dict(run.layers)

    def gap(op_id):
        s = op_spans[op_id]
        return tracing.driver_gap(s.start, s.end, intervals.get(op_id, []))

    def stat(op_id, key):
        return getattr(stats.get(op_id, tracing.GroupStats()), key)

    per_pass = []
    for i, ops in enumerate(passes):
        ids = [f"{o.name}:{i}" for o in ops]
        row = {k: sum(stat(op_id, k) for op_id in ids) for k in SPARK_COUNTERS}
        row["driver_gap_s"] = sum(gap(op_id) for op_id in ids)
        per_pass.append(row)
    for k in (*SPARK_COUNTERS, "driver_gap_s"):
        out[f"spark.{k}"] = tracing.median([r[k] for r in per_pass])

    for call in ("build", "rebuild"):
        ids = [f"{call}:{i}" for i in range(len(passes))
               if f"{call}:{i}" in op_spans]
        if ids:
            for k in ("jobs", "stages", "tasks"):
                out[f"plans.build_cube.{call}_{k}"] = tracing.median(
                    [stat(op_id, k) for op_id in ids])
            out[f"plans.build_cube.{call}_driver_gap_s"] = tracing.median(
                [gap(op_id) for op_id in ids])
    rebuilds = [o.seconds for o in run.ops if o.name == "rebuild" and o.ok]
    if rebuilds:
        out["plans.build_cube.rebuild_s"] = tracing.median(rebuilds)

    for q in ANALYTICS_QUERIES:
        for part in ("construct", "collect"):
            d = [s.end - s.start for s in tracer.spans
                 if s.name == f"queries.{q}.{part}"]
            if d:
                out[f"queries.{q}.{part}_s"] = tracing.median(d)
        ids = [op_id for op_id in op_spans if op_id.startswith(f"{q}:")]
        if ids:
            out[f"queries.{q}.jobs"] = tracing.median([stat(i, "jobs") for i in ids])

    out["trace.unattributed_frac"] = max(
        tracer.self_time(s) / (s.end - s.start) for s in op_spans.values())
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "cube_builder_spark"))
            and os.path.isfile(os.path.join(ROOT, "tools", "build_local.py"))):
        print(f"perfbench: no program sources under {ROOT} "
              "(cube_builder_spark/, tools/build_local.py)", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = run_benchmark(args, work, configure_env(work, bool(args.trace)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run_benchmark(args, work: str, cpus: int) -> dict:
    """Set up, measure and check one run; returns the result object."""
    phases: dict[str, float] = {}
    run = Run(spark=None, work=work, seed=args.seed,
              tracer=tracing.Tracer() if args.trace else None)
    wl = WORKLOADS[args.workload](run)
    wl.prepare()                 # seeded inputs, before the program starts
    bytes_before = dir_stats(work)[1]
    spark = None
    try:
        spark = run.spark = start_session(cpus, phases)
        wl.setup()
        phases.update(run.setup_phases)
        for e in run.errors:
            print(f"SETUP_CHECK_FAILED {e}", file=sys.stderr)

        passes, steal = [], []
        instrumented = (tracing.instrument(run.tracer, wl.traced_calls())
                        if run.tracer else contextlib.nullcontext())
        t0 = time.perf_counter()
        with instrumented:
            while (not passes or time.perf_counter() - t0 < args.seconds
                   or (min(steal) > STEAL_LIMIT and len(passes) < MAX_PASSES)):
                s0 = cpu_steal()
                passes.append(wl.run_pass(len(passes)))
                steal.append(cpu_steal(s0))
        cached_rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
        rss, live_heap = jvm_memory_mb(spark)
        if run.tracer:
            run.layers.update(wl.probe_layers())
        bytes_after = dir_stats(work)[1] - dir_stats(os.path.join(work, "eventlog"))[1]
    finally:
        if spark is not None:
            stop_session(spark)

    failed = [o for o in run.ops if not o.ok]
    for o in failed:
        print(f"OP_FAILED {o.name}: {o.error}", file=sys.stderr)
    pass_times = [sum(o.seconds for o in ops) for ops in passes
                  if all(o.ok for o in ops)]
    clean = [i for i, ops in enumerate(passes) if all(o.ok for o in ops)]
    best = min(clean, key=lambda i: steal[i]) if clean else None
    latencies = wl.op_latencies(passes[best]) if best is not None else []
    pass_s = sum(o.seconds for o in passes[best]) if best is not None else 0.0
    tail = tracing.tail_percentile(latencies)
    print("INFO " + json.dumps({
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "passes": len(passes), "ops": len(run.ops),
        "setup_phases": phases, "pass_s": pass_times,
        "pass_steal": steal, "reported_pass": best,
        "op_latency_samples": len(latencies),
        "op_p50_s": tracing.median(latencies) if latencies else None,
        "op_tail": None if tail is None else {"pct": tail[0], "s": tail[1]},
        "jvm_live_heap_mb": live_heap,
    }))

    if args.trace:
        layers = trace_metrics(run, passes, os.path.join(work, "eventlog"))
        layers.update({k: v for k, v in phases.items() if k in PER_LAYER})
        layers["spark.cached_rdds_end"] = cached_rdds
        layers["hygiene.work_bytes_before"] = bytes_before
        layers["hygiene.work_bytes_after"] = bytes_after
        layers["trace.pass_s"] = pass_s
        out_dir = os.path.join(HERE, ".out")
        os.makedirs(out_dir, exist_ok=True)
        run.tracer.write(os.path.join(
            out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        print("SELF_TIMES " + json.dumps(run.tracer.self_times()))
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": sum(phases.values()),
            "pass_s": pass_s,
            "op_geomean_s": (math.exp(sum(map(math.log, latencies)) / len(latencies))
                             if latencies else 0.0),
            "jvm_peak_rss_mb": rss,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": not failed and not run.errors,
            "attempted": len(run.ops), "failed": len(failed), "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
