"""Scanline point-in-polygon (P4) — replaces GDAL raster-burn masks.

The reference rasterizes polygons with PIL and masks arrays
(reference imutils.py:5-17, jgrid/utils.py:27-51). Spark-first formulation,
after Raptor (VLDB 2019): intersect the polygon's edges with each pixel row
once, on the driver, and keep a pixel by its row's crossings. The ring is
collected (bounded by the vertex count); the crossing table is one SQL
array literal of ``bbox rows × crossings per row`` doubles. The mask is a
single filter on ``points``: literal ``x``/``y`` bbox bounds that push into
the parquet scan, plus a per-row parity test against the row's crossings.
It runs inside the scan stage — no join, no exchange, no aggregate, no UDF.

Convention (same as the DuckDB oracle below): pixel (x, y) is tested at its
centre (x+0.5, y+0.5); edge (x1,y1)→(x2,y2) crosses row py when
``(y1 > py) != (y2 > py)`` (half-open), at
``(x2-x1)*(py-y1)/(y2-y1)+x1``; the pixel is inside iff an odd number of
its row's crossings lie strictly right of x+0.5. ``x``/``y`` must be
integral pixel indices.
"""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType


def _ring_edges(rows) -> list[tuple[float, float, float, float]]:
    """Ring rows (vertex_idx, vx, vy) → edges vertex_idx → vertex_idx+1,
    the same pairing as the oracle's self-join."""
    by_idx = defaultdict(list)
    for r in rows:
        by_idx[r["vertex_idx"]].append((r["vx"], r["vy"]))
    return [a + b for i, vs in by_idx.items() for a in vs for b in by_idx.get(i + 1, [])]


def _first_row_at_or_above(v: float) -> int:
    """Smallest integer n with n + 0.5 >= v."""
    n = math.ceil(v - 0.5)
    while n + 0.5 < v:
        n += 1
    while n - 0.5 >= v:
        n -= 1
    return n


def _last_row_at_or_below(v: float) -> int:
    """Largest integer n with n + 0.5 <= v."""
    n = math.floor(v - 0.5)
    while n + 0.5 > v:
        n -= 1
    while n + 1.5 <= v:
        n += 1
    return n


def _row_crossings(edges, y0: int, y1: int) -> list[list[float]]:
    """Sorted crossing x of every pixel row y0..y1 (inclusive). Each edge
    visits only the rows its y-span can cross; the exact half-open test
    decides."""
    rows: list[list[float]] = [[] for _ in range(y1 - y0 + 1)]
    for ax, ay, bx, by in edges:
        lo, hi = min(ay, by), max(ay, by)
        for y in range(max(y0, math.floor(lo - 0.5) - 1), min(y1, math.ceil(hi - 0.5) + 1) + 1):
            py = y + 0.5
            if (ay > py) != (by > py):
                rows[y - y0].append((bx - ax) * (py - ay) / (by - ay) + ax)
    return [sorted(r) for r in rows]


def _table_sql(rows: list[list[float]]) -> str:
    """One array<array<double>> literal; ``repr(c)D`` round-trips exactly."""
    return "array(" + ", ".join(
        "array(" + ", ".join(repr(c) + "D" for c in r) + ")" if r else "CAST(array() AS ARRAY<DOUBLE>)"
        for r in rows
    ) + ")"


def points_in_polygon(
    points: DataFrame, poly_df: DataFrame, region: str, x: str = "x", y: str = "y"
) -> DataFrame:
    """Filter ``points`` to those whose pixel center (x+0.5, y+0.5) lies
    inside ``region`` (ray cast to +x, odd crossing count). A per-row
    filter: duplicate input rows are all kept or all dropped."""
    for c in (x, y):
        if not isinstance(points.schema[c].dataType, IntegralType):
            raise TypeError(f"points_in_polygon: column {c!r} must be an integral pixel index")
    ring = (
        poly_df.where(F.col("region_name") == region)
        .select("vertex_idx", "vx", "vy")
        .collect()
    )
    edges = [e for e in _ring_edges(ring) if None not in e]
    if not edges:
        return points.where(F.lit(False))
    xs = [v for e in edges for v in (e[0], e[2])]
    ys = [v for e in edges for v in (e[1], e[3])]
    x0, x1 = _first_row_at_or_above(min(xs)), _last_row_at_or_below(max(xs))
    y0, y1 = _first_row_at_or_above(min(ys)), _last_row_at_or_below(max(ys))
    if x0 > x1 or y0 > y1:
        return points.where(F.lit(False))
    # count(c > px) = position of px in the row's crossings sorted
    # descending with px inserted, minus one. Lambda-free on purpose: Spark
    # pushes a filter whose lambda reads an outer column below a join to
    # one side, as if that column were not referenced, and the task then
    # fails with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND.
    row = F.get(F.expr(_table_sql(_row_crossings(edges, y0, y1))), (F.col(y) - y0).cast("int"))
    px = F.col(x) + F.lit(0.5)
    odd = F.array_position(F.sort_array(F.concat(row, F.array(px)), asc=False), px) % 2 == 0
    return points.where(
        (F.col(x) >= x0) & (F.col(x) <= x1) & (F.col(y) >= y0) & (F.col(y) <= y1) & odd
    )


# Same ray-cast as SQL (DuckDB oracle), one row at a time so duplicate
# rows keep their own parity; format with the pixels relation, polygon
# parquet path and region name.
POINTS_IN_POLYGON_SQL = """
    SELECT p.*
    FROM ({points}) p
    WHERE (
        SELECT COUNT(*)
        FROM read_parquet('{poly_path}') a
        JOIN read_parquet('{poly_path}') b
          ON a.region_name = b.region_name AND b.vertex_idx = a.vertex_idx + 1
        WHERE a.region_name = '{region}'
          AND ((a.vy > p.{y} + 0.5) <> (b.vy > p.{y} + 0.5))
          AND (p.{x} + 0.5 < (b.vx - a.vx) * (p.{y} + 0.5 - a.vy)
                             / (b.vy - a.vy) + a.vx)
    ) % 2 = 1
"""
