"""The benchmark's workloads: one closed-loop client each.

A workload prepares its seeded inputs (before the program is called),
sets up (timed into ``setup_s``), then runs passes of ops until the
measuring window is over. Every op is checked against a reference
computed outside the program (DuckDB), and every op runs under
``setJobGroup(op_id)`` so the traced run can match Spark's event log
to it.

- ``ingest_build``: the paper's files -> cube path. One op builds a
  cube from the scene directory (warp onto the Albers tiles, LCF blend,
  NDVI, items, COGs); the pass then re-runs the same build, which must
  publish nothing.
- ``cube_analytics``: a fixed mix of pixel-plane and relational/event
  queries, in a seeded order per pass.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import random
import shutil
import time
import traceback
from dataclasses import dataclass, field

from . import inputs

ANALYTICS_QUERIES = (
    "c1_suite", "c2_blend_lcf", "c3_blend_med", "c11_scene_efficacy",
    "c21_pixel_trend", "c22_gap_fill", "c25_zonal_stats", "c28_focal_stats",
    "c44_bap_composite", "q1_pricing_summary", "q18_large_orders",
    "e_dn_retention", "r24_unpivot_revenue",
)


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    error: str = ""


@dataclass
class Run:
    """Shared state of one benchmark run."""
    spark: object
    work: str
    seed: int
    tracer: object = None            # tracing.Tracer in a traced run
    ops: list = field(default_factory=list)
    errors: list = field(default_factory=list)   # set-up check failures
    setup_phases: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)   # per-layer metrics

    def span(self, name, op=None):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, op)

    def run_op(self, op_id: str, name: str, fn, check) -> Op:
        """Time ``fn()`` under job group ``op_id``, then check its
        result outside the timing. Exceptions fail the op, never the
        run."""
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, name)
        try:
            with self.span(name, op_id):
                t0 = time.perf_counter()
                result = fn()
                seconds = time.perf_counter() - t0
            problem = check(result)
            op = Op(name, seconds, problem is None, problem or "")
        except Exception:
            op = Op(name, float("nan"), False, traceback.format_exc(limit=4))
        finally:
            sc.setJobGroup("perfbench", "benchmark")
        self.ops.append(op)
        return op


def digest_rows(lines) -> str:
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
                files += 1
            except FileNotFoundError:   # Spark removed a temp file mid-walk
                pass
    return files, size


def _identity(batches):
    yield from batches


def spawn_python_workers(spark) -> None:
    """One task per core through a pandas UDF, so every Python worker
    exists before the first timed op."""
    n = spark.sparkContext.defaultParallelism
    spark.range(256).repartition(n).mapInPandas(_identity, "id long").count()


# ingest_build --------------------------------------------------------------

# LCF + NDVI over the warped observations, written from the documented
# blend semantics (operators/blend.py, plans/build_cube.py), not from
# the program's plans: per (tile, date) efficacy = 100 * clear / all
# quality pixels; per (tile, period, band, pixel) the clear observation
# of the highest (efficacy, date) wins, else the highest valid one;
# NDVI = 10000 * (B8A - B04) / (B8A + B04), truncated, int16-clamped,
# no-data where undefined.
LCF_NDVI_SQL = """
WITH q AS (
  SELECT tile_id, pixel_id, date, value AS quality FROM obs WHERE band = 'SCL'),
eff AS (
  SELECT tile_id, date,
         sum(CASE WHEN quality IN (4, 5, 6) THEN 1 ELSE 0 END) * 100.0
           / count(*) AS efficacy
  FROM q GROUP BY tile_id, date),
j AS (
  SELECT o.tile_id, o.pixel_id, o.band, o.date, o.value, q.quality, e.efficacy,
         strftime(p.ps, '%Y-%m-%d') || '_' || strftime(p.pe, '%Y-%m-%d') AS period
  FROM obs o
  JOIN q USING (tile_id, pixel_id, date)
  JOIN eff e USING (tile_id, date)
  JOIN periods p ON o.date BETWEEN p.ps AND p.pe
  WHERE o.band <> 'SCL'),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY tile_id, period, band, pixel_id
      ORDER BY (quality IN (4, 5, 6)) DESC, efficacy DESC, date DESC) AS rk
  FROM j WHERE value <> {nodata}),
lcf AS (SELECT tile_id, period, band, pixel_id, value FROM ranked WHERE rk = 1),
wide AS (
  SELECT tile_id, period, pixel_id,
         max(CASE WHEN band = 'B04' THEN value END) AS red,
         max(CASE WHEN band = 'B8A' THEN value END) AS nir
  FROM lcf GROUP BY tile_id, period, pixel_id),
ndvi AS (
  SELECT tile_id, period, 'NDVI' AS band, pixel_id,
         CASE WHEN red IS NULL OR nir IS NULL OR red = {nodata} OR nir = {nodata}
                   OR red + nir = 0 THEN {nodata}
              ELSE CAST(trunc(greatest(-32768.0, least(32767.0,
                   10000.0 * (nir - red) / (nir + red)))) AS BIGINT) END AS value
  FROM wide)
SELECT * FROM lcf UNION ALL SELECT * FROM ndvi
"""


def cube_lines(cube) -> list[str]:
    """Canonical, sorted 'tile|period|band|pixel|value' lines of a cube
    given as a pandas frame."""
    return sorted(f"{int(t)}|{p}|{b}|{int(px)}|{int(v)}" for t, p, b, px, v in zip(
        cube["tile_id"], cube["period"], cube["band"], cube["pixel_id"],
        cube["value"]))


def read_cube_files(cube_path: str):
    """The published cube, read from its parquet files with pyarrow
    (hive partitions tile_id=/period=), not through Spark."""
    import pyarrow.dataset as ds
    t = ds.dataset(cube_path, format="parquet", partitioning="hive").to_table(
        columns=["tile_id", "period", "band", "pixel_id", "value"])
    return t.to_pandas()


class IngestBuild:
    name = "ingest_build"

    def __init__(self, run: Run):
        self.run = run
        self.scenes = os.path.join(run.work, "scenes")
        self.grid = inputs.grid_tiles()
        self.expected = None
        self.n_items = 0

    def prepare(self) -> None:
        inputs.write_scenes(self.scenes, self.run.seed)

    def config(self):
        from cube_builder_spark.plans.build_cube import CubeJobConfig
        return CubeJobConfig(start=inputs.START, end=inputs.END, step=inputs.STEP_DAYS,
                             export_tiffs=True)

    def build(self, out_dir: str) -> dict:
        from tools.build_local import build_from_directory
        return build_from_directory(
            self.run.spark, self.scenes, out_dir, self.config(),
            grid=self.grid, src_crs=inputs.SCENE_CRS,
            dst_crs=inputs.BDC_AEA)

    def observations(self):
        """The warped observations exactly as the build receives them."""
        from pyspark.sql import functions as F

        from cube_builder_spark.operators.warp import warp_scenes
        from cube_builder_spark.sources.local_scan import scan_directory
        assets = scan_directory(self.run.spark, self.scenes, with_content=True)
        return warp_scenes(
            assets.withColumn("date_s", F.col("date").cast("string"))
            .select("path", "content", "band", "date_s"),
            self.grid, inputs.BDC_AEA, inputs.SCENE_CRS,
            nodata=inputs.NODATA, extra_cols=("band", "date_s"))

    def reference(self) -> list[str]:
        import duckdb
        import pandas as pd
        obs = self.observations().toPandas()
        obs["date"] = pd.to_datetime(obs["date_s"]).dt.date
        periods = pd.DataFrame(inputs.periods(), columns=["ps", "pe"])
        con = duckdb.connect()
        con.register("obs", obs)
        con.register("periods", periods)
        ref = con.execute(LCF_NDVI_SQL.format(nodata=inputs.NODATA)).df()
        con.close()
        self.n_items = len(self.grid) * len(periods)
        return cube_lines(ref)

    def check_build(self, out_dir: str, summary: dict) -> str | None:
        if summary.get("new_items") != self.n_items:
            return f"new_items {summary.get('new_items')} != {self.n_items}"
        if summary.get("tiffs") != self.n_items * 3:
            return f"tiffs {summary.get('tiffs')} != {self.n_items * 3}"
        got = cube_lines(read_cube_files(summary["cube_path"]))
        if got != self.expected:
            return (f"cube differs from the LCF+NDVI reference "
                    f"({len(got)} rows vs {len(self.expected)})")
        n_files, _ = dir_stats(os.path.join(out_dir, "tiff"))
        if n_files != self.n_items * 3:
            return f"{n_files} COG files on disk, expected {self.n_items * 3}"
        return None

    def setup(self) -> None:
        """Spawn the Python workers, then run one full build (the JIT
        warm-up), checked like every timed build."""
        t0 = time.perf_counter()
        spawn_python_workers(self.run.spark)
        self.run.setup_phases["session.warm_s"] = time.perf_counter() - t0
        warm = os.path.join(self.run.work, "warmup")
        t0 = time.perf_counter()
        summary = self.build(warm)
        self.run.setup_phases["warmup_s"] = time.perf_counter() - t0
        self.expected = self.reference()
        problem = self.check_build(warm, summary)
        if problem:
            self.run.errors.append(f"warm-up build: {problem}")
        shutil.rmtree(warm, ignore_errors=True)

    def run_pass(self, i: int) -> list[Op]:
        out = os.path.join(self.run.work, f"op{i}")
        ops = [self.run.run_op(f"build:{i}", "build", lambda: self.build(out),
                               lambda s: self.check_build(out, s))]
        if self.run.tracer is not None and i == 0:
            files, size = dir_stats(out)
            self.run.layers["sinks.files_written"] = files
            self.run.layers["sinks.bytes_written"] = size
        ops.append(self.run.run_op(
            f"rebuild:{i}", "rebuild", lambda: self.build(out),
            lambda s: None if s.get("new_items") == 0
            else f"rebuild published {s.get('new_items')} items"))
        shutil.rmtree(out, ignore_errors=True)
        return ops

    def op_latencies(self, ops) -> list[float]:
        return [o.seconds for o in ops if o.name == "build"]

    def traced_calls(self):
        """Program entry points that get spans in a traced run."""
        import importlib
        mod = importlib.import_module
        bc = "cube_builder_spark.plans.build_cube"
        frame_cls = type(self.run.spark.range(1))
        return [
            (mod("cube_builder_spark.sources.local_scan"), "scan_directory",
             "sources.scan_directory"),
            (mod("cube_builder_spark.operators.warp"), "warp_scenes",
             "operators.warp.warp_scenes"),
            (mod(bc), "build_cube", "plans.build_cube"),
            *((mod(bc), f, f"plans.build_cube.{f}") for f in (
                "merge_stage", "blend_stage", "index_stage", "publish_stage",
                "existing_items", "_append_job_log")),
            (mod("cube_builder_spark.streaming.incremental"), "upsert_partitioned",
             "sinks.upsert_partitioned"),
            (mod("cube_builder_spark.sinks.cog"), "export_band_tiffs",
             "sinks.export_band_tiffs"),
            (frame_cls, "count", "spark.count"),
            (frame_cls, "collect", "spark.collect"),
        ]

    def probe_layers(self) -> dict:
        """Force each layer on its own, on persisted inputs, so lazy
        plan boundaries do not hide where build time goes."""
        from pyspark.sql import functions as F

        from cube_builder_spark import metrics
        from cube_builder_spark.plans import build_cube as bc
        from cube_builder_spark.sinks.cog import export_band_tiffs
        from cube_builder_spark.sources.local_scan import scan_directory
        from cube_builder_spark.streaming.incremental import upsert_partitioned
        spark, cfg = self.run.spark, self.config()
        probe_dir = os.path.join(self.run.work, "probe")
        out: dict[str, float] = {}

        def forced(name, fn):
            spark.sparkContext.setJobGroup(f"probe:{name}", name)
            t0 = time.perf_counter()
            result = fn()
            out[name] = time.perf_counter() - t0
            return result

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        forced("sources.scan_s", lambda: noop(
            scan_directory(spark, self.scenes, with_content=True)))
        pixels = self.observations()
        forced("operators.warp.warp_s", pixels.toArrow)
        py = {}
        for m in metrics.collect_metrics(pixels):
            if m["metric"].startswith("python"):
                py[m["metric"]] = py.get(m["metric"], 0) + m["value"]
        out["operators.warp.python_boot_s"] = py.get("pythonBootTime", 0) / 1000
        out["operators.warp.python_init_s"] = py.get("pythonInitTime", 0) / 1000
        out["operators.warp.python_total_s"] = py.get("pythonTotalTime", 0) / 1000
        out["operators.warp.arrow_sent_mb"] = py.get("pythonDataSent", 0) / 2**20

        # the observation frame tools/build_local.py hands to build_cube
        obs = (pixels
               .withColumn("date", F.col("date_s").cast("date"))
               .withColumn("doy", F.dayofyear("date").cast("long"))
               .withColumn("source_idx", F.lit(0))
               .withColumn("scene_order", F.lit(0))
               .select("tile_id", "pixel_id", "band", "date", "doy",
                       "value", "source_idx", "scene_order")).persist()
        persisted = [obs]
        try:
            obs.count()
            merged = bc.merge_stage(
                bc.assign_periods(obs, bc.periods_df(spark, cfg)), cfg)
            forced("plans.build_cube.merge_s", lambda: noop(merged))
            merged = merged.persist()
            persisted.append(merged)
            merged.count()
            blended = bc.blend_stage(merged, cfg)
            forced("plans.build_cube.blend_s", lambda: noop(blended))
            blended = blended.persist()
            persisted.append(blended)
            blended.count()
            def index_forced():
                cube = bc.index_stage(blended, cfg)   # runs an eager job itself
                noop(cube)
                return cube
            cube = forced("plans.build_cube.index_s", index_forced)
            forced("plans.build_cube.publish_s",
                   lambda: noop(bc.publish_stage(merged, cfg)))
            cube_path = os.path.join(probe_dir, "cube")
            forced("sinks.cube_write_s", lambda: upsert_partitioned(cube, cube_path))
            forced("sinks.cog_export_s", lambda: export_band_tiffs(
                spark.read.parquet(cube_path), os.path.join(probe_dir, "tiff"),
                cog=cfg.cog, cog_tile=cfg.cog_tile).count())
        finally:
            for df in persisted:
                df.unpersist()
            spark.sparkContext.setJobGroup("perfbench", "benchmark")
            shutil.rmtree(probe_dir, ignore_errors=True)
        return out


# cube_analytics ------------------------------------------------------------

class CachedOracle:
    """Stands in for the DuckDB connection in ``oracle.compare``: every
    statement was run once before the program started, so comparing
    costs no DuckDB time inside set-up."""

    class _Result:
        def __init__(self, description, rows):
            self.description, self._rows = description, rows

        def fetchall(self):
            return self._rows

    def __init__(self, con, sqls):
        self._cache = {}
        for sql in sqls:
            for stmt in (sql, f"DESCRIBE {sql}"):
                try:
                    res = con.execute(stmt)
                    self._cache[stmt] = self._Result(res.description, res.fetchall())
                except Exception as exc:     # replayed by execute()
                    self._cache[stmt] = exc

    def execute(self, stmt):
        got = self._cache[stmt]
        if isinstance(got, Exception):
            raise got
        return got


class CubeAnalytics:
    name = "cube_analytics"

    def __init__(self, run: Run):
        self.run = run
        self.tables = os.path.join(run.work, "tables")
        self.digests: dict[str, str | None] = {}
        self.oracle = None

    def prepare(self) -> None:
        from cube_builder_spark import oracle
        from cube_builder_spark.queries import all_oracles
        inputs.write_tables(self.tables, self.run.seed)
        sqls = all_oracles()
        con = oracle.duckdb_connection(self.tables)
        self.oracle = CachedOracle(con, [sqls[q] for q in ANALYTICS_QUERIES])
        con.close()
        for q in ANALYTICS_QUERIES:
            res = self.oracle.execute(sqls[q])
            if isinstance(res, CachedOracle._Result):
                cols = [d[0] for d in res.description]
                self.digests[q] = digest_rows(oracle.canon(res.fetchall(), cols))

    def query(self, name: str):
        from cube_builder_spark.queries import all_queries
        return all_queries()[name]

    def setup(self) -> None:
        """Persist the pixel plane, then run every query once against
        its oracle (the warm-up pass)."""
        from cube_builder_spark import oracle
        from cube_builder_spark.pixelplane import pixel_plane
        from cube_builder_spark.queries import all_oracles
        spark = self.run.spark
        t0 = time.perf_counter()
        pixel_plane(spark, self.tables).count()
        self.run.setup_phases["pixelplane.persist_s"] = time.perf_counter() - t0
        sqls = all_oracles()
        t0 = time.perf_counter()
        for q in ANALYTICS_QUERIES:
            try:
                problems = oracle.compare(self.query(q)(spark, self.tables),
                                          self.oracle, sqls[q])
            except Exception:
                problems = [traceback.format_exc(limit=4)]
            if problems:
                self.digests[q] = None
                self.run.errors.append(f"{q} vs oracle: {problems}")
        self.run.setup_phases["warmup_s"] = time.perf_counter() - t0

    def run_pass(self, i: int) -> list[Op]:
        from cube_builder_spark import oracle
        order = list(ANALYTICS_QUERIES)
        random.Random(self.run.seed * 1000 + i).shuffle(order)
        ops = []
        for q in order:
            fn = self.query(q)

            def op(q=q, fn=fn):
                with self.run.span(f"queries.{q}.construct"):
                    df = fn(self.run.spark, self.tables)
                with self.run.span(f"queries.{q}.collect"):
                    return df.columns, df.collect()

            def check(result, q=q):
                cols, rows = result
                got = digest_rows(oracle.canon([tuple(r) for r in rows], cols))
                return None if got == self.digests.get(q) else \
                    f"{q}: result digest differs from the verified oracle result"

            ops.append(self.run.run_op(f"{q}:{i}", q, op, check))
        return ops

    def op_latencies(self, ops) -> list[float]:
        return [o.seconds for o in ops]

    def traced_calls(self):
        return []

    def probe_layers(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (IngestBuild, CubeAnalytics)}
