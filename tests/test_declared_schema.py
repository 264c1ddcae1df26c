"""Declared schemas: the cube reads with the schema its header records,
and test tables infer theirs once per file.

A bare ``spark.read.parquet`` runs one Spark job to read parquet footers
and infer a schema. These tests pin that (1) building a cube read or a
repeated table load runs no job at all, and (2) the declared schema is
exactly the one Spark would infer, after every cube writer and for every
table, so declaring it changes no value and no plan.
"""

from __future__ import annotations

import glob
import json
import os
import uuid

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from rastercube_spark.sources import tables
from rastercube_spark.sources.geotiff import ingest_tiles
from rastercube_spark.sources.raster import CubeHeader, RasterCube

W, H, ND = 40, 40, 5
NODATA = -3000


def _jobs(spark, build) -> int:
    """Number of Spark jobs ``build()`` runs."""
    sc = spark.sparkContext
    group = f"declared-schema-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _header(dtype: str = "int16", ndates: int = ND) -> CubeHeader:
    return CubeHeader(
        width=W,
        height=H,
        frac_width=20,
        frac_height=20,
        dtype=dtype,
        nodataval=NODATA if dtype.startswith("int") else None,
        frac_ndates=2,
        timestamps_ms=[86_400_000 * (i + 1) for i in range(ndates)],
    )


def _data(ndates: int = ND, seed: int = 3) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randint(-2000, 10001, size=(H, W, ndates)).astype(np.int16)


def _assert_declared(spark, cube: RasterCube) -> None:
    inferred = spark.read.parquet(cube.data_path).schema
    assert cube.df(spark).schema == inferred
    # the recorded columns survive the header round-trip
    assert RasterCube.open(cube.root).df(spark).schema == inferred


@pytest.fixture(scope="module")
def plain_cube(spark, tmp_path_factory):
    cube = RasterCube(str(tmp_path_factory.mktemp("declared") / "cube"), _header())
    cube.write_arrays(spark, _data())
    return cube


def test_cube_construction_runs_no_jobs(spark, plain_cube):
    assert _jobs(spark, lambda: plain_cube.df(spark)) == 0
    assert (
        _jobs(spark, lambda: plain_cube.load_slice_xy(spark, (5, 5), (30, 25), 1, 4))
        == 0
    )


def test_second_table_load_runs_no_jobs(spark, sf_dir):
    for name in ("lineitem", "events", "ndvi_pixels"):
        tables.load(spark, sf_dir, name)
        assert _jobs(spark, lambda: tables.load(spark, sf_dir, name)) == 0, name


def test_declared_equals_inferred_write_arrays(spark, plain_cube):
    _assert_declared(spark, plain_cube)
    assert plain_cube.header.columns == [
        ["x", "int"], ["y", "int"], ["t", "int"], ["value", "smallint"]
    ]


@pytest.mark.parametrize("extra,zorder", [(False, False), (True, False), (True, True)])
def test_declared_equals_inferred_write_long(spark, plain_cube, tmp_path, extra, zorder):
    rows = plain_cube.df(spark).select("frac_num", "time_chunk", "x", "y", "t", "value")
    if extra:
        rows = rows.withColumn("qa", (F.col("x") * 7 + F.col("t")).cast("int"))
    cube = RasterCube(str(tmp_path / "long"), _header())
    cube.write_long(spark, rows, zorder=zorder)
    _assert_declared(spark, cube)
    assert ("qa" in [n for n, _ in cube.header.columns]) == extra
    if extra:
        assert cube.df(spark).where(F.col("qa").isNull()).count() == 0


@pytest.mark.parametrize("dtype", ["int16", "uint16", "float32"])
def test_declared_equals_inferred_ingest(spark, tmp_path, dtype):
    full = np.abs(_data(seed=9)).astype(dtype)
    tile_dir = tmp_path / "tiles"
    tile_dir.mkdir()
    for t in range(ND):
        np.save(tile_dir / f"tile_0_0_t{t}.npy", full[:, :, t])
    cube = RasterCube(str(tmp_path / "cube"), _header(dtype))
    ingest_tiles(spark, cube, f"{tile_dir}/*.npy")
    _assert_declared(spark, cube)
    np.testing.assert_array_equal(cube.load_slice_array(spark, (0, 0), (W, H)), full)


def test_declared_equals_inferred_append_and_repair(spark, tmp_path):
    # ND=5 dates at frac_ndates=2: the last chunk is ragged, so the
    # append reads its rows back through the declared schema
    cube = RasterCube(str(tmp_path / "cube"), _header())
    base = _data()
    cube.write_arrays(spark, base)
    extra = _data(ndates=2, seed=4)
    assert cube.append_dates(spark, extra, [86_400_000 * 10, 86_400_000 * 11])
    _assert_declared(spark, cube)
    np.testing.assert_array_equal(
        cube.load_slice_array(spark, (0, 0), (W, H)), np.concatenate([base, extra], axis=2)
    )

    # overgrow the last chunk, then repair it
    last = (cube.header.ndates - 1) // cube.header.frac_ndates
    bogus = (
        cube.df(spark)
        .where((F.col("time_chunk") == last) & (F.col("t") == cube.header.ndates - 1))
        .withColumn("t", F.lit(cube.header.ndates).cast("int"))
    )
    bogus.write.mode("append").partitionBy("frac_num", "time_chunk").parquet(cube.data_path)
    assert cube.repair_truncate(spark) == 1
    _assert_declared(spark, cube)
    assert cube.df(spark).where(F.col("t") >= cube.header.ndates).count() == 0


def _typed(dtype: str, ndates: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    if dtype == "float32":
        return (rng.randint(-2000, 10001, size=(H, W, ndates)) / 7.0).astype(dtype)
    hi = 256 if dtype == "uint8" else 10001
    lo = 0 if dtype.startswith("u") else -2000
    return rng.randint(lo, hi, size=(H, W, ndates)).astype(dtype)


@pytest.mark.parametrize("dtype", ["int16", "uint8", "uint16", "float32"])
def test_numpy_writers_layout_and_schema(spark, tmp_path, dtype):
    """write_arrays, a ragged-chunk append and a new-chunk append run no
    Spark job and leave one parquet file per partition, rows in (y, x, t)
    order, the values written and the schema Spark would infer."""
    import pyarrow.parquet as pq

    cube = RasterCube(str(tmp_path / "cube"), _header(dtype))
    want = [_typed(dtype, ND, seed=1)]
    assert _jobs(spark, lambda: cube.write_arrays(spark, want[0])) == 0
    for k in range(2):  # t=5 lands in ragged chunk 2, t=6 opens chunk 3
        want.append(_typed(dtype, 1, seed=2 + k))
        ts = [86_400_000 * (20 + k)]
        assert _jobs(spark, lambda: cube.append_dates(spark, want[-1], ts)) == 0
    assert cube.header.ndates == ND + 2
    _assert_declared(spark, cube)
    np.testing.assert_array_equal(
        cube.load_slice_array(spark, (0, 0), (W, H)), np.concatenate(want, axis=2)
    )

    parts = glob.glob(os.path.join(cube.data_path, "frac_num=*", "time_chunk=*"))
    assert len(parts) == cube.header.num_fracs * 4
    for part in parts:
        files = glob.glob(os.path.join(part, "*.parquet"))
        assert len(files) == 1, part
        t = pq.read_table(files[0], columns=["x", "y", "t"])
        order = np.lexsort([t[c].to_numpy() for c in ("t", "x", "y")])
        np.testing.assert_array_equal(order, np.arange(t.num_rows), err_msg=part)


def test_header_without_columns_reads_pixel_columns():
    """A header written before columns were recorded reads as a plain
    pixel cube."""
    raw = json.loads(_header().to_json())
    raw.pop("columns")
    old = CubeHeader.from_json(json.dumps(raw))
    assert old.read_schema == (
        "`x` int, `y` int, `t` int, `value` smallint, `frac_num` int, `time_chunk` int"
    )


@pytest.mark.parametrize("name", [*tables.TABLES, *tables.FIXTURE_TABLES])
def test_table_cache_equals_fresh_inference(spark, sf_dir, name):
    fixture = name in tables.FIXTURE_TABLES
    path = tables.fixture_path(name) if fixture else f"{sf_dir}/{name}.parquet"
    first = tables.load(spark, sf_dir, name).schema
    assert tables.load(spark, sf_dir, name).schema == first
    st = os.stat(path)
    assert tables._SCHEMAS[(path, st.st_size, st.st_mtime_ns)] == spark.read.parquet(path).schema


def test_table_cache_sees_rewrite(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pd.DataFrame({"a": np.arange(3, dtype=np.int32)}).to_parquet(path)
    assert tables.load(spark, str(tmp_path), "region").columns == ["a"]
    assert tables.load(spark, str(tmp_path), "region").columns == ["a"]
    pd.DataFrame({"a": np.arange(3, dtype=np.int32), "b": ["x", "y", "z"]}).to_parquet(path)
    df = tables.load(spark, str(tmp_path), "region")
    assert df.columns == ["a", "b"]
    assert sorted(r["b"] for r in df.collect()) == ["x", "y", "z"]


def test_stale_fixture_cube_is_rebuilt_with_qa(spark, tmp_path, monkeypatch):
    """A fixture cube built before headers recorded columns would read
    without its ``qa`` column; the qr fixture builder rebuilds it."""
    from rastercube_spark.queries import raster as qr

    root = str(tmp_path / "ndvi_cube")
    monkeypatch.setattr(qr, "_CUBE_ROOT", root)
    stale = RasterCube(root, _header())
    stale.write_arrays(spark, _data())
    raw = json.loads(stale.header.to_json())
    raw.pop("columns")
    with open(stale.header_path, "w") as f:
        f.write(json.dumps(raw))

    cube = qr._ndvi_cube(spark)
    assert "qa" in cube.df(spark).columns
    _assert_declared(spark, cube)
    assert cube.df(spark).count() == tables.load(spark, "", "ndvi_pixels").count()
