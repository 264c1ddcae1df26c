"""Named-region catalog (reference regions.py:42-130): resolve
``<collection>.<region>`` specs to polygons and to Spark-side polygon
DataFrames, so a user can query a cube by region NAME instead of hauling
vertex lists around — the reference's notebook entry point
(``polygon_for_region('modis_tiles.h10v09')``, regions.py:119-130).

Spark-first shape: a catalog is driver-side metadata (a few hundred
polygons, like the reference's geojson assets); the polygon lands in the
engine as a tiny vertex table whose ring the scanline point-in-polygon
mask (operators/polygon.py) collects and turns into one column
predicate — never a per-row UDF.
Collections load from geojson or shapefile via sources/vector.py (the
reference shells out to OGR; the pure-python readers cover its asset
subset, and both formats share the {name: ring} contract).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from rastercube_spark.sources.vector import (
    Ring,
    polygons_df,
    read_geojson,
    read_shapefile,
)


class RegionCatalog:
    """Name-indexed registry of region collections.

    Rings are (lng, lat) WGS84 pairs as stored by sources/vector.py —
    the reference swaps to (lat, lng) in memory (regions.py:87-88); the
    accessors here keep file order and expose an explicit latlng
    accessor instead, so no silent axis convention rides along.
    """

    def __init__(self) -> None:
        self._collections: dict[str, dict[str, Ring]] = {}

    # --- registration (reference register_regions_collection) ----------
    def register_geojson(self, path: str, name: str | None = None) -> str:
        cname = name or os.path.splitext(os.path.basename(path))[0]
        self._collections[cname] = read_geojson(path)
        return cname

    def register_shapefile(self, base_path: str, name: str | None = None) -> str:
        cname = name or os.path.basename(base_path)
        self._collections[cname] = read_shapefile(base_path)
        return cname

    # --- lookup (reference polygon_for_region) -------------------------
    def collections(self) -> list[str]:
        return sorted(self._collections)

    def region_names(self, collection: str) -> list[str]:
        return sorted(self._collection(collection))

    def polygon_for_region(self, regspec: str) -> Ring:
        """``<collection>.<region>`` → ring, reference regspec format
        (e.g. ``modis_tiles.h10v09``)."""
        colname, _, regname = regspec.partition(".")
        if not regname:
            raise ValueError(
                f"region spec must be <collection>.<region>, got {regspec!r}"
            )
        col = self._collection(colname)
        if regname not in col:
            raise KeyError(
                f"unknown region {regname!r} in collection {colname!r} "
                f"(has: {', '.join(sorted(col)[:5])}...)"
            )
        return col[regname]

    def polygon_latlng(self, regspec: str) -> list[tuple[float, float]]:
        """Ring as (lat, lng) pairs — the reference's in-memory order."""
        return [(lat, lng) for lng, lat in self.polygon_for_region(regspec)]

    # --- Spark handoff --------------------------------------------------
    def region_df(self, spark: SparkSession, collection: str) -> DataFrame:
        """Whole collection as the region_polygons vertex schema
        (region_name, vertex_idx, vx, vy) consumed by
        operators/polygon.py — small by construction (catalog
        collections are driver-side assets)."""
        return polygons_df(spark, self._collection(collection))

    def _collection(self, name: str) -> dict[str, Ring]:
        if name not in self._collections:
            raise KeyError(
                f"unknown region collection {name!r} "
                f"(registered: {', '.join(self.collections()) or 'none'})"
            )
        return self._collections[name]
