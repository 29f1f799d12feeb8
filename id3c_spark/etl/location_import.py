"""Location import (reference: lib/id3c/cli/command/location.py:110-305).

GeoJSON features → staged frame (identifier, scale, hierarchy, point/
polygon WKT) → left join of a sidecar simplified-polygons set →
upsert with on-conflict mode switch + import stats (the five
``count(*) filter (where ...)`` aggregates, location.py:271-279).

CRS contract: inputs must already be EPSG:4326 (the reference re-projects
with fiona; without geo deps we validate the declared CRS and reject
others). Hierarchy text parses with the hstore parser and is
right-bias-merged on conflict (etl/__init__.py:450-456).
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from id3c_spark.etl.warehouse import Warehouse, transactional
from id3c_spark.functions.hstore import hstore_concat, parse_hstore


def _geom_to_wkt(geom: dict | None, reproject=None) -> str | None:
    def pt(p):
        x, y = p[:2]
        if reproject:
            x, y = reproject(x, y)
        return x, y

    if not geom:
        return None
    t = geom.get("type")
    if t == "Point":
        x, y = pt(geom["coordinates"])
        return f"POINT ({x} {y})"
    if t == "Polygon":
        ring = ", ".join(f"{x} {y}" for x, y in map(pt, geom["coordinates"][0]))
        return f"POLYGON (({ring}))"
    if t == "MultiPolygon":
        first = geom["coordinates"][0][0]
        ring = ", ".join(f"{x} {y}" for x, y in map(pt, first))
        return f"POLYGON (({ring}))"     # outer ring of first polygon
    return None


def stage_features(
    spark: SparkSession, feature_collection: dict, scale: str | None = None
) -> DataFrame:
    """GeoJSON FeatureCollection → staged location frame
    (parse_features parity, location.py:316-352).

    CRS: any EPSG code resolvable by geo.to_wgs84_transform — 4326/CRS84
    pass through, 3857 (spherical mercator) and the WGS84 UTM zones
    (326xx/327xx) are built in, and callers can inject other codes with
    geo.register_crs_transform (the fiona/PROJ role in the reference).
    Unknown codes raise, matching the reference's unsupported-CRS error.
    """
    from id3c_spark.geo import to_wgs84_transform

    crs = str(
        feature_collection.get("crs", {}).get("properties", {}).get("name", "EPSG:4326")
    )
    if "CRS84" in crs:
        reproject = None
    else:
        # the code is the LAST numeric field — versioned URN forms like
        # 'urn:ogc:def:crs:EPSG:8.5:4326' carry an authority version
        # before the code, so concatenating all digits would be wrong
        m = re.search(r"(\d+)\s*$", crs)
        if not m:
            raise ValueError(f"cannot parse an EPSG code out of CRS {crs!r}")
        reproject = to_wgs84_transform(int(m.group(1)))
    rows = []
    for feat in feature_collection.get("features", []):
        props = feat.get("properties", {})
        rows.append((
            str(feat.get("id") or props.get("id")),
            props.get("scale") or scale,
            props.get("hierarchy"),
            _geom_to_wkt(feat.get("geometry"), reproject),
        ))
    staged = spark.createDataFrame(
        rows, "identifier string, scale string, hierarchy_text string, polygon_wkt string"
    )
    return staged.select(
        "identifier", "scale",
        parse_hstore(F.col("hierarchy_text")).alias("hierarchy"),
        "polygon_wkt",
    )


@transactional
def import_locations(
    spark: SparkSession,
    warehouse: Warehouse,
    staged: DataFrame,
    simplified: DataFrame | None = None,
    mode: str = "update",          # 'update' | 'nothing' (on-conflict modes)
) -> dict[str, int]:
    """Staged import with conflict-mode switch + import stats."""
    if simplified is not None:
        staged = staged.join(
            simplified.select("identifier", F.col("polygon_wkt").alias("simplified_polygon_wkt")),
            "identifier", "left",
        )
    else:
        staged = staged.withColumn("simplified_polygon_wkt", F.lit(None).cast("string"))

    current = warehouse.read("location")
    if mode == "nothing":
        # on conflict do nothing: only brand-new (scale, identifier) land
        new_only = staged.join(
            current.select("scale", "identifier"), ["scale", "identifier"], "left_anti"
        )
        updates = new_only
    else:
        # hierarchy right-biased merge with existing rows
        existing_h = current.select("scale", "identifier", F.col("hierarchy").alias("old_h"))
        updates = (
            staged.join(existing_h, ["scale", "identifier"], "left")
            .withColumn("hierarchy", hstore_concat(F.col("old_h"), F.col("hierarchy")))
            .drop("old_h")
        )
    result = warehouse.upsert_location(updates)

    # import stats: count(*) filter (where ...) ×N (location.py:271-279)
    stats_row = staged.agg(
        F.count("*").alias("staged"),
        F.count_if(F.col("polygon_wkt").isNotNull()).alias("with_polygon"),
        F.count_if(F.col("simplified_polygon_wkt").isNotNull()).alias("with_simplified"),
        F.count_if(F.col("hierarchy").isNotNull()).alias("with_hierarchy"),
    ).collect()[0]
    return {**stats_row.asDict(), "total_locations": result.count()}
