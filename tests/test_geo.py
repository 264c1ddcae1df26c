"""Property tests for coordinate math and polygon masking (SURVEY §5.2):
geo round-trips mirror reference tests/test_jgrid3.py:45-69
(latlng2xy ∘ xy2latlng ≈ id), frac math invariants, and the scanline
polygon mask vs a pure-python ray cast on the fixture polygon and on
seeded random rings, plus its degenerate inputs."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from rastercube_spark.functions.geo import (
    MODIS_GT,
    affine_geo2xy,
    affine_xy2geo,
    latlng_to_modis_xy,
    modis_xy_to_latlng,
)
from rastercube_spark.sources.raster import CubeHeader

# --- pure-python frac math properties (no Spark needed) -----------------

HDR = CubeHeader(
    width=160, height=120, frac_width=20, frac_height=20,
    dtype="int16", frac_ndates=5, timestamps_ms=list(range(11)),
)


@given(
    x=st.integers(min_value=0, max_value=159),
    y=st.integers(min_value=0, max_value=119),
)
def test_frac_for_xy_consistent(x, y):
    f = HDR.frac_for_xy(x, y)
    x1, x2, y1, y2 = HDR.frac_xyranges(f)
    assert x1 <= x < x2 and y1 <= y < y2
    assert f in HDR.fracs_for_rect_xy((x, y), (x + 1, y + 1))


@given(
    x1=st.integers(min_value=0, max_value=158),
    y1=st.integers(min_value=0, max_value=118),
    w=st.integers(min_value=1, max_value=80),
    h=st.integers(min_value=1, max_value=60),
)
def test_fracs_for_rect_cover(x1, y1, w, h):
    x2, y2 = min(x1 + w, 160), min(y1 + h, 120)
    fracs = set(HDR.fracs_for_rect_xy((x1, y1), (x2, y2)))
    # every corner pixel's fraction is in the cover; no fraction outside
    for px, py in [(x1, y1), (x2 - 1, y1), (x1, y2 - 1), (x2 - 1, y2 - 1)]:
        assert HDR.frac_for_xy(px, py) in fracs
    for f in fracs:
        fx1, fx2, fy1, fy2 = HDR.frac_xyranges(f)
        assert fx1 < x2 and fx2 > x1 and fy1 < y2 and fy2 > y1


@given(t1=st.integers(0, 10), n=st.integers(1, 11))
def test_chunks_for_trange_cover(t1, n):
    t2 = min(t1 + n, 11)
    chunks = HDR.chunks_for_trange(t1, t2)
    covered = set()
    for c in chunks:
        a, b = HDR.frac_time_range(c)
        covered.update(range(a, b))
    assert set(range(t1, t2)) <= covered


# --- Spark-side geo round-trips (one batch per test, not per example) ---

def test_affine_roundtrip(spark):
    gt = (-20015109.354, 231.65635826395825, 0.0, 10007554.677, 0.0, -231.65635826395825)
    df = (
        spark.range(500)
        .select(
            ((F.col("id") * 7919) % 86400).cast("double").alias("x"),
            ((F.col("id") * 104729) % 43200).cast("double").alias("y"),
        )
    )
    xg, yg = affine_xy2geo(F.col("x"), F.col("y"), gt)
    xb, yb = affine_geo2xy(xg, yg, gt)
    bad = df.select(
        (F.abs(xb - F.col("x")) + F.abs(yb - F.col("y"))).alias("err")
    ).where(F.col("err") > 1e-6)
    assert bad.count() == 0


def test_modis_latlng_xy_roundtrip(spark):
    """xy → latlng (pixel center) → xy is identity for in-range pixels
    (reference test_jgrid3.py:45-69)."""
    df = (
        spark.range(1000)
        .select(
            ((F.col("id") * 7919) % (36 * 4800)).alias("x"),
            ((F.col("id") * 104729 + 13) % (18 * 4800)).alias("y"),
        )
    )
    lat, lng = modis_xy_to_latlng(F.col("x").cast("double"), F.col("y").cast("double"))
    x2, y2 = latlng_to_modis_xy(lat, lng)
    bad = df.select(F.col("x"), F.col("y"), x2.alias("x2"), y2.alias("y2")).where(
        (F.col("x") != F.col("x2")) | (F.col("y") != F.col("y2"))
    )
    assert bad.count() == 0


# --- polygon ray-cast vs pure-python oracle -----------------------------

def _py_point_in_poly(px: float, py: float, verts: list[tuple[float, float]]) -> bool:
    inside = False
    for (x1, y1), (x2, y2) in zip(verts, verts[1:]):
        if (y1 > py) != (y2 > py):
            xc = x1 + (x2 - x1) * (py - y1) / (y2 - y1)
            if px < xc:
                inside = not inside
    return inside


def test_polygon_mask_vs_python(spark):
    from rastercube_spark.operators.polygon import points_in_polygon
    from rastercube_spark.sources.tables import load

    polys = load(spark, "", "region_polygons")
    name = polys.select("region_name").distinct().orderBy("region_name").first()[0]
    verts = [
        (r["vx"], r["vy"])
        for r in polys.where(F.col("region_name") == name)
        .orderBy("vertex_idx")
        .collect()
    ]
    pts = (
        spark.range(160)
        .select(F.col("id").cast("int").alias("x"))
        .crossJoin(spark.range(120).select(F.col("id").cast("int").alias("y")))
    )
    got = {
        (r["x"], r["y"])
        for r in points_in_polygon(pts, polys, name).select("x", "y").collect()
    }
    want = {
        (x, y)
        for x in range(160)
        for y in range(120)
        if _py_point_in_poly(x + 0.5, y + 0.5, verts)
    }
    assert got == want


# --- scanline mask properties: random rings, duplicates, degenerate input
# (frames come from spark.range / pandas-via-Arrow: no Python worker tasks)

_RING_SCHEMA = "region_name string, vertex_idx int, vx double, vy double"


def _ring_df(spark, verts, name="r"):
    import pandas as pd

    rows = [(name, i, float(a), float(b)) for i, (a, b) in enumerate(verts)]
    cols = ["region_name", "vertex_idx", "vx", "vy"]
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols), _RING_SCHEMA)


def _grid_df(spark, lo: int, n: int, copies: int = 1, x: str = "x", y: str = "y"):
    """Every (x, y) in [lo, lo+n)², each ``copies`` times."""
    i = F.col("id") % (n * n)
    return spark.range(copies * n * n).select(
        ((i / n).cast("int") + lo).alias(x),
        ((i % n).cast("int") + lo).alias(y),
    )


def _random_ring(seed: int) -> list[tuple[float, float]]:
    """3–14 vertices snapped to a 0.5, 0.01 or 1.0 grid (pixel-centre rows
    hit vertices and horizontal edges exactly); self-intersection allowed."""
    import random

    rng = random.Random(seed)
    grid = (0.5, 0.01, 1.0)[seed % 3]
    verts = [
        (round(rng.uniform(-4, 36) / grid) * grid, round(rng.uniform(-4, 36) / grid) * grid)
        for _ in range(rng.randint(3, 14))
    ]
    return verts + verts[:1]


@pytest.mark.parametrize("seed", range(12))
def test_scanline_mask_random_rings_vs_python(spark, seed):
    """Every pixel appears twice: both copies come back or neither, and
    the kept set is exactly the pure-python ray cast."""
    from collections import Counter

    from rastercube_spark.operators.polygon import points_in_polygon

    verts = _random_ring(seed)
    pts = _grid_df(spark, -6, 44, copies=2)
    got = Counter(tuple(r) for r in points_in_polygon(pts, _ring_df(spark, verts), "r").collect())
    want = {
        (x, y): 2
        for x in range(-6, 38)
        for y in range(-6, 38)
        if _py_point_in_poly(x + 0.5, y + 0.5, verts)
    }
    assert got == want


def test_scanline_mask_degenerate_inputs(spark):
    from rastercube_spark.operators.polygon import points_in_polygon

    square = [(2.0, 2.0), (8.0, 2.0), (8.0, 8.0), (2.0, 8.0), (2.0, 2.0)]
    poly = _ring_df(spark, square)
    pts = _grid_df(spark, 0, 10).withColumn("v", F.col("x") * 100 + F.col("y"))
    far = _ring_df(spark, [(a + 500.0, b + 500.0) for a, b in square])
    cases = {
        "unknown region": points_in_polygon(pts, poly, "nope"),
        "empty polygon table": points_in_polygon(pts, poly.limit(0), "r"),
        "empty points": points_in_polygon(pts.limit(0), poly, "r"),
        "polygon outside extent": points_in_polygon(pts, far, "r"),
    }
    for case, df in cases.items():
        assert df.schema == pts.schema, case
        assert df.collect() == [], case

    # custom column names; NULL coordinates are never inside
    nulls = spark.range(3).select(
        F.when(F.col("id") != 1, None).otherwise(F.lit(4)).cast("int").alias("col"),
        F.when(F.col("id") != 0, None).otherwise(F.lit(4)).cast("int").alias("row"),
    )
    named = _grid_df(spark, 0, 10, x="col", y="row").unionByName(nulls)
    got = {tuple(r) for r in points_in_polygon(named, poly, "r", x="col", y="row").collect()}
    want = {
        (x, y) for x in range(10) for y in range(10) if _py_point_in_poly(x + 0.5, y + 0.5, square)
    }
    assert got == want and len(want) == 36
