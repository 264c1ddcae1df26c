"""Vector (polygon) source/sink: GeoJSON + ESRI shapefile (S9/S13).

The reference loads region polygons from shapefiles/GeoJSON with OGR
(reference rastercube/datasources/shputils.py:11-62 load, 65-111 write;
worldgrid/regions.py:42-101 geojson regions). No OGR here — both formats
are public specs and the polygons are tiny driver-side dimension data, so:

- GeoJSON: stdlib json round-trip.
- Shapefile: a minimal encoder/decoder for the subset the engine uses —
  shape type 5 (Polygon), single outer ring per record, with the .shx
  index and a .dbf attribute table carrying the region name (dBASE III
  'C' field). Enough for GDAL/ogrinfo to read what we write.

Polygons land in the engine as the long-form (region_name, vertex_idx,
vx, vy) relation that operators/polygon.py consumes (driver-sized: the
mask collects one ring; the pixel scan is the scale path, never the
polygon table).
"""

from __future__ import annotations

import json
import os
import struct

from pyspark.sql import DataFrame, SparkSession

Ring = list[tuple[float, float]]


def polygons_df(spark: SparkSession, polys: dict[str, Ring]) -> DataFrame:
    """dict name → closed ring (first == last vertex) → long-form table."""
    rows = [
        (name, i, float(x), float(y))
        for name, ring in sorted(polys.items())
        for i, (x, y) in enumerate(ring)
    ]
    return spark.createDataFrame(
        rows, "region_name string, vertex_idx int, vx double, vy double"
    )


# --- GeoJSON ------------------------------------------------------------

def write_geojson(path: str, polys: dict[str, Ring]) -> None:
    fc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"name": name},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[list(p) for p in ring]],
                },
            }
            for name, ring in sorted(polys.items())
        ],
    }
    with open(path, "w") as f:
        json.dump(fc, f)


def read_geojson(path: str) -> dict[str, Ring]:
    with open(path) as f:
        fc = json.load(f)
    out: dict[str, Ring] = {}
    for feat in fc["features"]:
        name = feat["properties"]["name"]
        ring = [tuple(p) for p in feat["geometry"]["coordinates"][0]]
        out[name] = ring
    return out


# --- ESRI shapefile (type 5, single-ring) ------------------------------

def write_shapefile(base_path: str, polys: dict[str, Ring]) -> None:
    """Write ``base_path``.shp/.shx/.dbf (≡ reference shputils.py:65-111)."""
    items = sorted(polys.items())
    records = []
    for name, ring in items:
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        content = struct.pack("<i", 5)  # Polygon
        content += struct.pack("<4d", min(xs), min(ys), max(xs), max(ys))
        content += struct.pack("<2i", 1, len(ring))  # numparts, numpoints
        content += struct.pack("<i", 0)  # part 0 start
        for x, y in ring:
            content += struct.pack("<2d", x, y)
        records.append(content)

    all_x = [p[0] for _, r in items for p in r]
    all_y = [p[1] for _, r in items for p in r]
    bbox = (min(all_x), min(all_y), max(all_x), max(all_y)) if items else (0, 0, 0, 0)

    def main_header(file_len_words: int) -> bytes:
        h = struct.pack(">7i", 9994, 0, 0, 0, 0, 0, file_len_words)
        h += struct.pack("<2i", 1000, 5)  # version, shape type
        h += struct.pack("<4d", *bbox)
        h += struct.pack("<4d", 0.0, 0.0, 0.0, 0.0)  # z/m ranges
        return h

    shp = b""
    shx = b""
    offset_words = 50  # header = 100 bytes
    for i, content in enumerate(records):
        words = len(content) // 2
        shp += struct.pack(">2i", i + 1, words) + content
        shx += struct.pack(">2i", offset_words, words)
        offset_words += 4 + words

    with open(base_path + ".shp", "wb") as f:
        f.write(main_header(50 + sum(4 + len(c) // 2 for c in records)))
        f.write(shp)
    with open(base_path + ".shx", "wb") as f:
        f.write(main_header(50 + 4 * len(records)))
        f.write(shx)

    # dBASE III: one 'C' field "NAME" width 64
    nrec, width = len(items), 64
    dbf = struct.pack(
        "<B3BIHH20x", 0x03, 126, 1, 1, nrec, 32 + 32 + 1, 1 + width
    )
    dbf += b"NAME".ljust(11, b"\x00") + b"C" + b"\x00" * 4 + bytes([width]) + b"\x00" * 15
    dbf += b"\x0d"
    for name, _ in items:
        dbf += b" " + name.encode()[:width].ljust(width, b" ")
    dbf += b"\x1a"
    with open(base_path + ".dbf", "wb") as f:
        f.write(dbf)


def read_shapefile(base_path: str) -> dict[str, Ring]:
    """Read back the subset ``write_shapefile`` emits (≡ reference
    shputils.py:11-62 load_polygons_from_shapefile)."""
    with open(base_path + ".shp", "rb") as f:
        buf = f.read()
    assert struct.unpack(">i", buf[:4])[0] == 9994, "not a shapefile"
    (shape_type,) = struct.unpack("<i", buf[32:36])
    assert shape_type == 5, f"unsupported shape type {shape_type}"
    rings: list[Ring] = []
    pos = 100
    while pos < len(buf):
        _, words = struct.unpack(">2i", buf[pos : pos + 8])
        content = buf[pos + 8 : pos + 8 + words * 2]
        numparts, numpoints = struct.unpack("<2i", content[36:44])
        assert numparts == 1, "multi-ring polygons not supported"
        pts_off = 44 + 4 * numparts
        ring = [
            struct.unpack("<2d", content[pts_off + 16 * i : pts_off + 16 * i + 16])
            for i in range(numpoints)
        ]
        rings.append([(x, y) for x, y in ring])
        pos += 8 + words * 2

    names: list[str] = []
    if os.path.exists(base_path + ".dbf"):
        with open(base_path + ".dbf", "rb") as f:
            dbf = f.read()
        nrec, hdr_size, rec_size = struct.unpack("<IHH", dbf[4:12])
        for i in range(nrec):
            rec = dbf[hdr_size + i * rec_size : hdr_size + (i + 1) * rec_size]
            names.append(rec[1:].decode().strip())
    else:
        names = [f"poly_{i}" for i in range(len(rings))]
    return dict(zip(names, rings))
