"""Test-data table loading and view registration.

The driver provides deterministic TPC-H-ish parquet tables
(``TESTDATA.md``). These play the role of the reference's catalog plane
(PostGIS tables, ``cube_builder/controller.py``) plus the document /
embedding tables for the training-data-pipeline operators.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# parquet is compressed+encoded; in-memory rows decompress ~3x
_INMEM_FACTOR = 3.0

# Tests set True to simulate the 100 TB regime: every stats-gated hint
# then degrades to "no hint, let AQE decide", and the plan invariants
# assert THAT plan has no forced broadcast of a linear-scaling table.
FORCE_NO_BROADCAST_HINTS = False


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``createDataFrame`` for DRIVER-LOCAL row lists that plans as a
    JVM ``LocalRelation``.

    ``spark.createDataFrame(list, schema)`` parks the rows in a pickled
    Python RDD, so EVERY action on the frame (and on anything joined
    above it) schedules a Python worker task just to unpickle a handful
    of rows — measured ~0.30 s per action at local[32] vs ~0.005 s for a
    LocalRelation. Here the rows become one ``pyarrow.Table``, one column
    per schema field, which Spark embeds in the plan whatever the
    session's Arrow settings. There is no other path:

    - ``schema`` is a DDL string (``"a long, b string"``);
    - a dict row is read by field name (a missing key is NULL, as in
      ``createDataFrame``); a tuple, list or ``Row`` is read by position;
    - a float NaN stays NaN, distinct from NULL, inside arrays too;
    - a naive ``datetime`` is UTC wall time, whatever the host or
      session time zone;
    - a value Arrow cannot convert to its field's type raises."""
    struct = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    rows = list(rows)
    table = pa.Table.from_arrays([
        pa.array([r.get(f.name) if isinstance(r, dict) else r[i]
                  for r in rows], type=f.type)
        for i, f in enumerate(arrow_schema)], schema=arrow_schema)
    return spark.createDataFrame(table, schema=struct)


def _table_bytes(sf_dir: str, name: str) -> int | None:
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _dirs, files in os.walk(path)
            for f in files if f.endswith(".parquet"))
    except OSError:
        return None


def _parquet_files(sf_dir: str, name: str) -> list[str]:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        return [path]
    return [
        os.path.join(dp, f)
        for dp, _dirs, files in os.walk(path)
        for f in files if f.endswith(".parquet")]


def _stat_to_float(v) -> float | None:
    """Normalize a parquet row-group stat (int/float/datetime/date) to a
    float on a common axis so overlap fractions can be interpolated."""
    import datetime
    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).timestamp() if v.tzinfo is None else v.timestamp()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).timestamp()
    return None


def slice_bytes(sf_dir: str, name: str, column: str,
                lo=None, hi=None) -> int | None:
    """Predicate-aware on-disk byte estimate from parquet FOOTER stats.

    For a range predicate ``lo <= column < hi``, walk every row group's
    min/max statistic for ``column`` and charge the group:

    - 0 bytes when its [min, max] does not overlap [lo, hi) — the
      row-group-pruning case, which at 100 TB with time-ordered ingest
      is MOST groups;
    - its full compressed bytes scaled by the linear overlap fraction
      of [lo, hi) within [min, max] otherwise (uniform-within-group
      assumption — the same one Spark's own CBO range estimator makes).

    This is what lets a filtered slice of a big table earn a broadcast
    hint the whole table can't: the whole-table gate sees total bytes,
    this sees only the bytes the predicate can reach. Returns None when
    stats are absent/unusable (caller falls back to whole-table bytes).
    Driver-side footer reads only — no data pages are touched.
    """
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is baked in
        return None
    flo, fhi = _stat_to_float(lo), _stat_to_float(hi)
    if lo is not None and flo is None:
        return None
    if hi is not None and fhi is None:
        return None
    total = 0.0
    saw_group = False
    try:
        for path in _parquet_files(sf_dir, name):
            md = pq.ParquetFile(path).metadata
            if md.num_row_groups == 0:
                continue    # zero-row-group file: no bytes, no stats
            col_idx = None
            for i in range(md.num_columns):
                if md.row_group(0).column(i).path_in_schema == column:
                    col_idx = i
                    break
            if col_idx is None:
                return None
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                saw_group = True
                gbytes = rg.total_byte_size  # uncompressed: matches _INMEM-free use
                st = rg.column(col_idx).statistics
                if st is None or not st.has_min_max:
                    total += gbytes  # no stats -> can't prune this group
                    continue
                gmin, gmax = _stat_to_float(st.min), _stat_to_float(st.max)
                if gmin is None or gmax is None:
                    total += gbytes
                    continue
                lo_c = gmin if flo is None else max(flo, gmin)
                hi_c = gmax if fhi is None else min(fhi, gmax)
                if hi_c < lo_c:
                    continue  # pruned: predicate range misses the group
                if gmax > gmin:
                    frac = (hi_c - lo_c) / (gmax - gmin)
                else:
                    frac = 1.0
                total += gbytes * min(1.0, max(0.0, frac))
    except (OSError, ValueError, KeyError):
        return None
    if not saw_group:
        return None
    return int(total)


def broadcast_if_small(df: DataFrame, sf_dir: str, name: str,
                       threshold: int = 10 * 1024 * 1024,
                       predicate: tuple | None = None) -> DataFrame:
    """Stats-gated broadcast hint for LINEAR-scaling tables.

    A bare ``F.broadcast(customer)`` wins at sf0.1 and OOMs a 100x
    cluster — AND disables AQE's ability to choose. Dropping the hint
    entirely is scale-safe but pays AQE's sequential query-stage
    materialization (measured +0.5s on a 5-join TPC-H Q5 at sf0.1).
    This is the middle path the round-4 review prescribed ("gate hints
    on ANALYZE stats"): hint ONLY when the table's actual on-disk
    bytes x decompression inflation fit the broadcast threshold — the
    same estimate stats.advise_join uses. At 100x the gate fails and
    the plan degrades to AQE's choice, never a forced broadcast.
    Fixed-size dims (nation/region) keep their unconditional hints.

    ``predicate=(column, lo, hi)`` makes the gate PREDICATE-AWARE: the
    byte estimate comes from parquet row-group footer stats restricted
    to ``lo <= column < hi`` (``slice_bytes``), so a filtered slice of
    a big table (e.g. q5's two-year orders window) earns a hint the
    whole table can't. The whole-table estimate stays the fallback
    when footer stats are unusable, so the gate never gets LOOSER than
    before without evidence.
    """
    if FORCE_NO_BROADCAST_HINTS:
        return df
    est = None
    if predicate is not None:
        column, lo, hi = predicate
        sliced = slice_bytes(sf_dir, name, column, lo, hi)
        if sliced is not None:
            # slice_bytes works on uncompressed (in-memory-shaped) row
            # group sizes; no further inflation factor.
            est = sliced
    if est is None:
        nbytes = _table_bytes(sf_dir, name)
        est = None if nbytes is None else nbytes * _INMEM_FACTOR
    if est is not None and est < threshold:
        from pyspark.sql import functions as F
        return F.broadcast(df)
    return df


# Session-scoped DataFrame cache. spark.read.parquet costs ~50ms of
# driver-side listing + footer/schema work PER TABLE; a 6-table query
# re-paid ~0.35s of it on every invocation (measured, q5 at sf0.1 —
# over a third of its warm latency). DataFrames are immutable plans, so
# reuse within a session is safe; the key carries the path mtime so a
# rewritten table (test fixtures) re-reads. Keyed on id(spark) because
# sessions here are process-lifetime singletons (driver + bench + tests).
_TABLE_CACHE: dict[tuple, DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one parquet table. Column pruning + predicate pushdown reach
    the scan because these are plain parquet reads (no UDF in between)."""
    # Session-independent engine conf (the grading driver builds its own
    # SparkSession): exclude InferFiltersFromGenerate so sessions that
    # did not come from session.py get the same plan shapes — its
    # synthesized size()>0 filter re-evaluates array-building lambdas
    # interpreted at the scan (see session.py for the measurement).
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    if name == "events":
        # events.parquet carries TIMESTAMP(NANOS) which Spark rejects
        # unless nanosAsLong is on. Set it HERE, not in session.py: the
        # grading driver builds its own SparkSession, so the engine must
        # be session-independent (conf is runtime-settable).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = None
    key = (id(spark), sf_dir, name, mtime)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(path)
    if name == "events":
        # ts is TIMESTAMP(NANOS) in the file, surfaced as long nanos via
        # spark.sql.legacy.parquet.nanosAsLong; truncate to micros
        # (exactly what DuckDB's TIMESTAMP read does).
        from pyspark.sql import functions as F
        from pyspark.sql import types as T
        if isinstance(df.schema["ts"].dataType, T.LongType):
            # integer div: nanos exceed 2^53, double division loses µs
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    _TABLE_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str,
                names: list[str] | None = None) -> dict[str, DataFrame]:
    """Load tables and register them as temp views (for the SQL surface)."""
    out = {}
    for name in names or TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
