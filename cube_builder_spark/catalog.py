"""Catalog plane: cube (collection) definition and metadata generation.

Reference §3.2 (``controller.py:100-286``): creating a cube always
creates the Identity (IDT) collection plus the composed one (LCF/MED),
band rows with default ranges/scales, and the standard quality-summary
bands by composite function (``constants.py:25-74``). Here the catalog
is plain DataFrames (collections / bands / items), so every listing
endpoint (R1-R8) is a DataFrame query.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from .tables import local_df

# Auto-band attributes (reference constants.py:25-74)
CLEAR_OBSERVATION = dict(name="CLEAROB", common_name="ClearOb", data_type="uint8",
                         nodata=0.0, min_value=0.0, max_value=255.0,
                         scale_mult=1.0, scale_add=0.0)
TOTAL_OBSERVATION = dict(name="TOTALOB", common_name="TotalOb", data_type="uint8",
                         nodata=0.0, min_value=0.0, max_value=255.0,
                         scale_mult=1.0, scale_add=0.0)
PROVENANCE = dict(name="PROVENANCE", common_name="Provenance", data_type="int16",
                  nodata=-1.0, min_value=1.0, max_value=366.0,
                  scale_mult=1.0, scale_add=0.0)
DATASOURCE = dict(name="DATASOURCE", common_name="Datasource", data_type="uint8",
                  nodata=255.0, min_value=0.0, max_value=254.0,
                  scale_mult=1.0, scale_add=0.0)

DEFAULT_MIN, DEFAULT_MAX = -10000.0, 10000.0
DEFAULT_SCALE = 0.0001


@dataclass
class CubeDefinition:
    """The POST /cubes payload shape (forms.py:148-212)."""
    name: str
    version: int
    composite_function: str          # IDT | LCF | MED
    grid: str
    resolution: float
    quality_band: str
    temporal_schema: dict
    bands: list[dict]                # name, common_name, data_type, nodata
    indexes: dict = field(default_factory=dict)   # name -> expression
    is_combined: bool = False

    def identifier(self, composed: bool = True) -> str:
        """'{name}-{version}' composed, '{name}_IDT-{version}' identity
        (matches create_cube's collection identifiers)."""
        name = self.name if composed else f"{self.name}_IDT"
        return f"{name}-{self.version}"


def create_cube(defn: CubeDefinition) -> tuple[list[dict], list[dict]]:
    """Build (collections_rows, bands_rows): identity + composed cubes
    (controller.py:242-286), expression/index bands (199-202), and the
    composite-function auto bands (222-238)."""
    collections = []
    identity = dict(name=defn.name, version=defn.version,
                    identifier=f"{defn.name}_IDT-{defn.version}",
                    composite_function="IDT", grid=defn.grid,
                    resolution=defn.resolution, quality_band=defn.quality_band,
                    source_collection=None)
    collections.append(identity)
    if defn.composite_function != "IDT":
        collections.append(dict(
            name=defn.name, version=defn.version,
            identifier=f"{defn.name}-{defn.version}",
            composite_function=defn.composite_function, grid=defn.grid,
            resolution=defn.resolution, quality_band=defn.quality_band,
            source_collection=identity["identifier"]))

    bands = []
    for coll in collections:
        for b in defn.bands:
            bands.append(dict(
                collection=coll["identifier"], name=b["name"],
                common_name=b.get("common_name", b["name"]),
                data_type=b.get("data_type", "int16"),
                nodata=float(b.get("nodata", -9999)),
                min_value=float(b.get("min_value", DEFAULT_MIN)),
                max_value=float(b.get("max_value", DEFAULT_MAX)),
                scale_mult=float(b.get("scale_mult", DEFAULT_SCALE)),
                scale_add=float(b.get("scale_add", 0.0)),
                expression=None))
        for name, expression in defn.indexes.items():
            bands.append(dict(
                collection=coll["identifier"], name=name, common_name=name.lower(),
                data_type="int16", nodata=-9999.0,
                min_value=DEFAULT_MIN, max_value=DEFAULT_MAX,
                scale_mult=DEFAULT_SCALE, scale_add=0.0, expression=expression))
        if coll["composite_function"] in ("LCF", "MED"):
            autos = [CLEAR_OBSERVATION, TOTAL_OBSERVATION]
            if coll["composite_function"] == "LCF":
                autos.append(PROVENANCE)
                if defn.is_combined:
                    autos.append(DATASOURCE)
            for auto in autos:
                bands.append(dict(collection=coll["identifier"], expression=None, **auto))
    return collections, bands


# The two fixture cubes of the reference test-suite (FIXTURES.md §2;
# tests/data/json/lc8-16d-stk.json + s2-16d-lcf.json).
LC8_16D = CubeDefinition(
    name="LC8-16D", version=1, composite_function="LCF", grid="BDC_MD_TESTE",
    resolution=30.0, quality_band="Fmask4",
    temporal_schema=dict(schema="cyclic", unit="day", step=16,
                         cycle=dict(unit="year", step=1)),
    bands=[
        dict(name="sr_band2", common_name="blue", data_type="int16", nodata=-9999),
        dict(name="sr_band3", common_name="green", data_type="int16", nodata=-9999),
        dict(name="sr_band4", common_name="red", data_type="int16", nodata=-9999),
        dict(name="sr_band5", common_name="nir", data_type="int16", nodata=-9999),
        dict(name="Fmask4", common_name="quality", data_type="uint8", nodata=255,
             min_value=0, max_value=255, scale_mult=1.0),
    ],
    indexes={
        "NDVI": "10000.*((sr_band5-sr_band4)/(sr_band5+sr_band4))",
        "EVI": "10000.*2.5*(sr_band5-sr_band4)/(sr_band5+6.*sr_band4-7.5*sr_band2+10000.)",
    })

S2_16D = CubeDefinition(
    name="S2-16D", version=1, composite_function="LCF", grid="BDC_SM_TESTE",
    resolution=10.0, quality_band="SCL",
    temporal_schema=dict(schema="cyclic", unit="day", step=16,
                         cycle=dict(unit="year", step=1)),
    bands=[
        dict(name="B02", common_name="blue", data_type="int16", nodata=0),
        dict(name="B03", common_name="green", data_type="int16", nodata=0),
        dict(name="B04", common_name="red", data_type="int16", nodata=0),
        dict(name="B8A", common_name="nir", data_type="int16", nodata=0),
        dict(name="SCL", common_name="quality", data_type="uint8", nodata=0,
             min_value=0, max_value=11, scale_mult=1.0),
    ],
    indexes={
        "NDVI": "10000.*((B8A-B04)/(B8A+B04))",
        "EVI": "10000.*2.5*(B8A-B04)/(B8A+6.*B04-7.5*B02+10000.)",
    })


def bands_df(spark: SparkSession, defns: list[CubeDefinition]) -> DataFrame:
    rows = []
    for d in defns:
        rows.extend(create_cube(d)[1])
    return local_df(spark,
        rows,
        schema=("collection string, name string, common_name string, data_type string, "
                "nodata double, min_value double, max_value double, scale_mult double, "
                "scale_add double, expression string"))


def collections_df(spark: SparkSession, defns: list[CubeDefinition]) -> DataFrame:
    rows = []
    for d in defns:
        rows.extend(create_cube(d)[0])
    return local_df(spark,
        rows,
        schema=("name string, version int, identifier string, composite_function string, "
                "grid string, resolution double, quality_band string, source_collection string"))


def quicklook_rows(defn: CubeDefinition) -> list[dict]:
    """Quicklook RGB triple per cube (controller.py:204-209): the
    red/green/blue common-name bands drive K2/K3."""
    by_common = {b.get("common_name"): b["name"] for b in defn.bands}
    rows = []
    for composed in (False, True):
        if composed and defn.composite_function == "IDT":
            continue
        rows.append(dict(
            collection=defn.identifier(composed),
            red=by_common.get("red"), green=by_common.get("green"),
            blue=by_common.get("blue")))
    return rows


_BAND_REF_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def band_src_rows(defn: CubeDefinition) -> list[dict]:
    """BandSRC provenance for expression bands (controller.py:199-202):
    one row per (index band, referenced source band)."""
    band_names = {b["name"] for b in defn.bands}
    rows = []
    for composed in (False, True):
        if composed and defn.composite_function == "IDT":
            continue
        coll = defn.identifier(composed)
        for name, expression in defn.indexes.items():
            for ref in sorted(set(_BAND_REF_RE.findall(expression)) & band_names):
                rows.append(dict(collection=coll, band=name, src_band=ref))
    return rows


def quicklook_df(spark: SparkSession, defns: list[CubeDefinition]) -> DataFrame:
    rows = [r for d in defns for r in quicklook_rows(d)]
    return local_df(spark, rows,
                    "collection string, red string, green string, blue string")


def band_src_df(spark: SparkSession, defns: list[CubeDefinition]) -> DataFrame:
    rows = [r for d in defns for r in band_src_rows(d)]
    return local_df(spark, rows,
                    "collection string, band string, src_band string")
