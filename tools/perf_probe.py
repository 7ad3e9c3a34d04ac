"""Optimization-round measurement probe (guide §1).

Usage:
  python tools/perf_probe.py plan  DIR TAG q1 q2 ... # capture explain("formatted") to DIR/<q>_<TAG>.txt
  python tools/perf_probe.py time  N   q1 q2 ...   # min-of-N wall + its job count (collect, bench methodology)
  python tools/perf_probe.py noop  N   q1 q2 ...   # min-of-N wall (noop sink, isolates compute from collect)

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
Each run is one job group named after the query; the fastest run's job
count and its number of generated classes compiled (the CodegenMetrics
count delta: 0 when every class came from the codegen cache) are printed.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cube_builder_spark.queries import all_queries
from cube_builder_spark.session import get_spark


def main() -> None:
    mode, arg2, *names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("perf-probe")
    qs = all_queries()

    if mode == "plan":
        out_dir, tag, names = arg2, names[0], names[1:]
        os.makedirs(out_dir, exist_ok=True)
        for n in names:
            df = qs[n](spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            path = os.path.join(out_dir, f"{n}_{tag}.txt")
            with open(path, "w") as fh:
                fh.write(txt)
            n_ex = txt.count("Exchange")
            print(f"{n}: wrote {path}  (Exchange mentions: {n_ex})")
        return

    n_runs = int(arg2)
    # warm JVM + python workers like bench.py does
    qs[names[0]](spark, sf_dir).collect()

    def _identity(it):
        yield from it
    spark.range(256).repartition(32).mapInPandas(_identity, "id long").count()

    sc = spark.sparkContext
    compiled = sc._jvm.org.apache.spark.metrics.source \
        .CodegenMetrics.METRIC_COMPILATION_TIME()
    for n in names:
        runs, jobs, compiles, seen = [], [], [], set()
        for _ in range(n_runs):
            sc.setJobGroup(n, n)
            c0 = compiled.getCount()
            t0 = time.perf_counter()
            df = qs[n](spark, sf_dir)
            if mode == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.collect()
            runs.append(round(time.perf_counter() - t0, 4))
            compiles.append(compiled.getCount() - c0)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            # a set difference: spark.ui.retainedJobs evicts old jobs
            ids = set(sc.statusTracker().getJobIdsForGroup(n))
            jobs.append(len(ids - seen))
            seen |= ids
        fastest = runs.index(min(runs))
        print(f"{n}: min={min(runs):.3f} jobs={jobs[fastest]} "
              f"compiles={compiles[fastest]} runs={runs}")


if __name__ == "__main__":
    main()
