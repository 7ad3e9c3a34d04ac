"""S4 — local directory scan: files -> an assets DataFrame.

Reference: ``local_accessor.py:120-209``: a GDALCubes-style format
JSON gives a per-band filename regex and a datetime regex/format; the
accessor globs a folder, classifies each file into (band, datetime),
and filters by band set, date window, and ROI intersect.

Spark-native: ``spark.read.format("binaryFile")`` (or a cheap
``text``-less listing via the same source with content pruned) turns
the directory into a DataFrame of paths; band/date classification is
``F.regexp_extract`` on the path — predicate pushdown prunes by path
glob before content is touched, and the scan parallelizes over the
file listing at any directory size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the format dict of the reference's tests (local_accessor.load_format)
DEFAULT_FORMAT = {
    "pattern": r".*\.tif$",
    "bands": {"B04": r".*_(B04)\.tif$", "B8A": r".*_(B8A)\.tif$",
              "SCL": r".*_(SCL)\.tif$"},
    "datetime": {"pattern": r".*_(\d{8})T\d{6}_.*", "format": "yyyyMMdd"},
}


def classify_assets(df: DataFrame, fmt: dict = None) -> DataFrame:
    """Classify a path manifest into (…, band, date) rows via the
    format dict's per-band regex + datetime regex/format
    (local_accessor.py:161-188 applied as pure column expressions —
    works on a live ``binaryFile`` listing or any path DataFrame).
    Paths matching no band regex or no parseable datetime drop, exactly
    as the reference accessor skips unclassifiable files."""
    fmt = fmt or DEFAULT_FORMAT
    band = None
    for name, regex in sorted(fmt["bands"].items()):
        hit = F.regexp_extract(F.col("path"), regex, 1) != ""
        band = F.when(hit, F.lit(name)) if band is None else band.when(hit, F.lit(name))
    # try_to_date: a path whose timestamp token fails the format must
    # classify as NULL (and drop), not kill the scan
    date = F.try_to_date(
        F.regexp_extract(F.col("path"), fmt["datetime"]["pattern"], 1),
        fmt["datetime"]["format"])
    return (df.withColumn("band", band)
            .withColumn("date", date)
            .filter(F.col("band").isNotNull() & F.col("date").isNotNull()))


def scan_directory(spark: SparkSession, folder: str | list[str],
                   fmt: dict = None, recursive: bool = True,
                   with_content: bool = False) -> DataFrame:
    """List a raster folder (or read a list of raster files) into an
    assets DataFrame (path, length, band, date). Content bytes stay out
    of the plan unless ``with_content`` — listing-only scans never read
    files."""
    cols = ["path", "length"] + (["content"] if with_content else [])
    df = (spark.read.format("binaryFile")
          .option("recursiveFileLookup", str(recursive).lower())
          .option("pathGlobFilter", "*.tif")
          .load(folder)
          .select(*cols))
    return classify_assets(df, fmt)


def filter_assets(assets: DataFrame, bands: list[str] | None = None,
                  start: str | None = None, end: str | None = None) -> DataFrame:
    """Band-set + date-window filter (local_accessor.py:161-188)."""
    if bands:
        assets = assets.filter(F.col("band").isin(*bands))
    if start:
        assets = assets.filter(F.col("date") >= F.lit(start).cast("date"))
    if end:
        assets = assets.filter(F.col("date") <= F.lit(end).cast("date"))
    return assets
