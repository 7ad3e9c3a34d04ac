"""SparkSession factory tuned for this engine.

Local mode mirrors the driver contract (``local[$SPARK_GRAFT_CPUS]``);
on a real cluster the same conf keys apply, with AQE doing runtime
shuffle-partition coalescing and skew-join splitting so the plans scale
from the sf0.01 correctness runs to the 100 TB target without retuning.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def _fast_local_dir() -> str | None:
    """RAM-backed Spark scratch for local mode.

    Shuffle/spill files on this box land on a throttled virtio disk
    (~50 MB/s buffered) — putting ``spark.local.dir`` on tmpfs removes
    that from every shuffle. Cluster managers (YARN/K8s) override
    local dirs with their own NVMe scratch via env, so this only
    affects single-JVM local runs."""
    if os.access("/dev/shm", os.W_OK):
        d = "/dev/shm/spark-local"
        os.makedirs(d, exist_ok=True)
        return d
    return None


# defer_cleanup's session registry: one live scratch dir per key. The
# scratch lives on tmpfs, so without the purge a long session running
# the same query repeatedly (bench: 3x each) accumulates full cube
# copies in RAM — the round-5 advisor's "traded an RDD leak for
# unbounded tmpfs growth" finding.
_DEFERRED_DIRS: dict[str, str] = {}


def defer_cleanup(path: str, key: str | None = None) -> str:
    """Register ``path`` for removal at interpreter exit and return it.

    Query functions that hand back a DataFrame READING from a scratch
    dir use this instead of eager-localCheckpoint-then-rmtree: the
    checkpoint variant pins one persisted RDD per call in the block
    manager for the session's lifetime (the round-4 x_cube_reuse
    monotone-slowdown: +1 persistentRDD per run), while a deferred
    rmtree leaves the result lazy and leak-free.

    ``key`` bounds tmpfs growth: when a NEW path registers under the
    same key, the PREVIOUS path is removed immediately — by then the
    prior run's lazy DataFrame is dead (the caller re-built it), so
    one scratch copy per query name is live at any time instead of
    one per invocation."""
    import atexit
    import shutil
    if key is not None:
        prev = _DEFERRED_DIRS.get(key)
        if prev is not None and prev != path:
            shutil.rmtree(prev, ignore_errors=True)
        _DEFERRED_DIRS[key] = path
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


# Session-level durable-scratch root (round-12 verdict #6):
# global_rank(durable=True) exists for preemptible-executor jobs, but
# its scratch fallback is a DRIVER-LOCAL temp dir — on a real cluster
# that silently defeats the durability the flag asks for (executors
# can't replay blocks from the driver's /dev/shm). One session knob —
# set_scratch_root() or $SPARK_GRAFT_SCRATCH_ROOT — supplies a
# cluster-shared default so callers can't foot-gun per call.
_SCRATCH_ROOT: str | None = None


def set_scratch_root(path: str | None) -> None:
    """Set (or clear, with None) the session's durable-scratch root —
    a cluster-shared filesystem path (HDFS/S3A/NFS) under which
    ``durable=True`` materializations allocate their per-call
    subdirectories. Overrides ``$SPARK_GRAFT_SCRATCH_ROOT``."""
    global _SCRATCH_ROOT
    _SCRATCH_ROOT = path


def durable_scratch_root() -> str | None:
    """The configured durable-scratch root: ``set_scratch_root``'s
    value, else ``$SPARK_GRAFT_SCRATCH_ROOT``, else None (callers fall
    back to a driver-session temp dir — fine in local mode, documented
    footgun on a cluster)."""
    return _SCRATCH_ROOT or os.environ.get("SPARK_GRAFT_SCRATCH_ROOT")


def scratch_dir(prefix: str) -> str:
    """mkdtemp for EPHEMERAL per-query outputs (oracle-harness cube
    builds, streaming checkpoints in tests) — RAM-backed when tmpfs is
    available so the measured cost is the compute, not the scratch
    disk. Real deployments pass durable output paths to the plans;
    nothing durable goes through this."""
    base = "/dev/shm" if os.access("/dev/shm", os.W_OK) else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def get_spark(app_name: str = "cube-builder-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Settings rationale:
    - AQE on: runtime coalescing of small shuffle partitions + skew-join
      splitting — the scale path for the blend/mosaic group-bys.
    - Arrow on: every pandas-UDF operator (block blend, minhash batch,
      raster reader) moves data in Arrow batches, not pickles.
    - session timezone UTC: parity with the DuckDB oracle (naive UTC).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    # Python workers fork from spark_daemon.py, which does two jobs:
    # its zipimporters re-read Spark's zip archives only when an
    # archive changed (stock CPython <= 3.12 re-reads them all before
    # every task: 144-262 ms per task on a 4-core VM), and it imports
    # pandas/pyarrow once for all workers (~2.3 s per fresh worker
    # otherwise). The JVM spawns the daemon with the inherited
    # PYTHONPATH, so the repo root is put on it BEFORE the JVM starts.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pp if pp else ""))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.python.daemon.module",
                "cube_builder_spark.spark_daemon")
        # Long-session hygiene (r15): a bench/ETL driver that runs
        # hundreds of distinct queries in one session accumulates
        # per-query status state (job/stage/SQL-execution records with
        # full plan graphs) in the driver heap even with the UI off.
        # Bound the status stores. (A shorter
        # spark.cleaner.periodicGC.interval was tried and rejected: a
        # forced full System.gc() can land inside a timed query;
        # CPython's refcounting already releases py4j-held JVM state
        # promptly.)
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "5000")
        .config("spark.sql.ui.retainedExecutions", "50")
        # Generated-class cache (static). At Spark's default of 100
        # entries every warm op recompiles: 44-58 classes per perfbench
        # build and 88-99 per pass of its 13 analytics queries, against
        # 0 with a larger cache. Counted with an unbounded cache, a
        # bench.py session compiles 2,495 distinct classes and a Tier-1
        # session 7,377; at 2000 entries the Tier-1 session compiled
        # 9,543 (2,166 recompiles), so the cache holds 8192. Metaspace
        # after the bench session: 224 MB at 100 entries, 210 MB
        # unbounded.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # NOTE: spark.sql.adaptive.autoBroadcastJoinThreshold is left at
        # its default, which IS this static value — the round-7 attempt
        # to set it separately was a measured no-op. The filtered-slice
        # broadcast case is handled where the information lives: parquet
        # footer stats in tables.broadcast_if_small(predicate=...).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS); read as long and convert
        # in tables.load_table (Spark has no native nanos timestamp).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Partition-aware union (Spark 4's zip-style UnionExec when all
        # children share a hash partitioning) mis-plans NESTED unions
        # whose children disagree on partition count: the inner union
        # concatenates (3x8 partitions) while still advertising the
        # children's partitioning, and the outer consumer zips 8-vs-24
        # -> "Can't zip RDDs with unequal numbers of partitions"
        # (reproduced by chaining incremental_mv_minmax cycles lazily;
        # an explicit repartition after the union gets ELIDED as
        # redundant against the advertised partitioning, so it cannot
        # be defended against at the query level). The optimization
        # only saves a re-shuffle of union output — our unions feed
        # aggregates or tiny MV planes — so correctness wins.
        .config("spark.sql.unionOutputPartitioning", "false")
        # numpy-kernel parity: x/0 -> NULL (not error), like the
        # reference's masked-array arithmetic; oracles use NULLIF.
        .config("spark.sql.ansi.enabled", "false")
        # InferFiltersFromGenerate synthesizes a `size(arr) > 0` filter
        # under every explode; predicate pushdown then drags it below
        # our repartition/projection chain, where alias substitution
        # re-inlines the array-building lambda into the filter — for
        # the shingle plane that means an O(tokens × shingles)
        # INTERPRETED re-evaluation of the whole transform per row at
        # the scan (measured: 4.3s -> 0.9s warm on d_minhash at sf0.1
        # with the rule off). Explode already skips empty arrays at
        # execution, so the rule is pure overhead for generated arrays.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    )
    fast = _fast_local_dir()
    if fast is not None:
        builder = builder.config("spark.local.dir", fast)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
