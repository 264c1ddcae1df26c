"""Seeded input generators for the benchmark.

Everything here is pure numpy/pandas/pyarrow: the program under test
never sees a seed, only the files these functions write. The same
``(seed, size)`` always yields byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

NODATA = -3000


@dataclass(frozen=True)
class CubeSize:
    width: int = 300
    height: int = 300
    frac: int = 150  # fraction (partition) edge in pixels; also the tile edge
    frac_ndates: int = 4
    ndates: int = 10  # 4 + 4 + 2: the last time chunk is ragged
    absent_fracs: int = 1
    n_polygons: int = 6
    n_zones: int = 9


@dataclass(frozen=True)
class CorpusSize:
    n_base: int = 1200  # distinct documents before planting duplicates
    n_exact: int = 120  # exact copies (case / whitespace variants)
    n_near: int = 120  # one-token edits of a base document
    n_short: int = 60  # below quality_score's length band
    n_vectors: int = 1500
    dim: int = 64
    n_queries: int = 30


TINY_CUBE = CubeSize(width=200, height=200, frac=100, ndates=6, n_polygons=4, n_zones=4)
TINY_CORPUS = CorpusSize(n_base=300, n_exact=30, n_near=30, n_short=15, n_vectors=400, n_queries=10)


# --- raster cube -----------------------------------------------------------

def cube_arrays(seed: int, size: CubeSize) -> dict:
    """NDVI (int16, ~5% nodata) and MODIS-style QA (int32) arrays of
    shape (height, width, ndates), the absent fraction ids, and the
    timestamps."""
    rng = np.random.default_rng([seed, 1])
    h, w, t = size.height, size.width, size.ndates
    yy, xx = np.mgrid[0:h, 0:w]
    field = 3000 + 2500 * np.sin(xx / 37.0 + seed % 7) * np.cos(yy / 53.0)
    season = 1500 * np.sin(np.arange(t) * 2 * np.pi / 23.0)
    ndvi = field[:, :, None] + season[None, None, :]
    ndvi = ndvi + rng.normal(0, 400, size=(h, w, t))
    ndvi = np.clip(ndvi, -2000, 10000).astype(np.int16)
    ndvi[rng.random((h, w, t)) < 0.05] = NODATA
    qa = qa_words(rng, (h, w, t))
    absent = absent_ids(size)
    ts = [1_420_070_400_000 + i * 16 * 86_400_000 for i in range(t)]
    return {"ndvi": ndvi, "qa": qa, "absent": absent, "timestamps_ms": ts}


def absent_ids(size: CubeSize) -> list[int]:
    """The last fractions are absent in every seed: seeds change values
    and positions, not how much data the cube holds."""
    n_fracs = (size.width // size.frac) * (size.height // size.frac)
    return list(range(n_fracs - size.absent_fracs, n_fracs))


def qa_words(rng: np.random.Generator, shape) -> np.ndarray:
    """16-bit MODIS QA words: mostly 'land' (bits 11-13 == 1) with a
    seeded share of cloud/aerosol/snow gate bits, so roughly half the
    pixels keep a non-zero confidence."""
    qa = (rng.integers(0, 3, shape) & 3)  # MODLAND 0..2
    qa |= rng.integers(0, 16, shape) << 2  # usefulness
    qa |= np.where(rng.random(shape) < 0.1, 3, rng.integers(0, 3, shape)) << 6
    qa |= (rng.random(shape) < 0.15).astype(np.int64) << 8
    qa |= (rng.random(shape) < 0.1).astype(np.int64) << 10
    qa |= np.where(rng.random(shape) < 0.85, 1, rng.integers(0, 8, shape)) << 11
    qa |= (rng.random(shape) < 0.05).astype(np.int64) << 14
    qa |= (rng.random(shape) < 0.05).astype(np.int64) << 15
    return qa.astype(np.int32)


def append_array(seed: int, size: CubeSize, k: int) -> np.ndarray:
    """The k-th one-date append (shape (height, width, 1), int16)."""
    rng = np.random.default_rng([seed, 2, k])
    a = rng.integers(-2000, 10000, (size.height, size.width, 1)).astype(np.int16)
    a[rng.random(a.shape) < 0.05] = NODATA
    return a


def present_fracs(size: CubeSize) -> list[int]:
    """Ids of the fractions that hold data."""
    n_fracs = (size.width // size.frac) * (size.height // size.frac)
    return [f for f in range(n_fracs) if f not in absent_ids(size)]


def present_mask(size: CubeSize, absent: list[int]) -> np.ndarray:
    """(height, width) bool: pixels whose fraction has data on disk."""
    nxf = size.width // size.frac
    yy, xx = np.mgrid[0 : size.height, 0 : size.width]
    frac = (yy // size.frac) * nxf + (xx // size.frac)
    return ~np.isin(frac, absent)


def write_tiles(out_dir: str, ndvi: np.ndarray, size: CubeSize, absent: list[int]) -> int:
    """One deflate GeoTIFF per (present fraction, date), named the way
    ``geotiff_tile_codec`` parses: ``tile_{x0}_{y0}_t{t}.tif``."""
    from rastercube_spark.sources.geotiff import write_geotiff

    os.makedirs(out_dir, exist_ok=True)
    nxf = size.width // size.frac
    n = 0
    for t in range(ndvi.shape[2]):
        for fy in range(size.height // size.frac):
            for fx in range(nxf):
                if fy * nxf + fx in absent:
                    continue
                x0, y0 = fx * size.frac, fy * size.frac
                write_geotiff(
                    os.path.join(out_dir, f"tile_{x0}_{y0}_t{t}.tif"),
                    ndvi[y0 : y0 + size.frac, x0 : x0 + size.frac, t],
                    (0.0, 1.0, 0.0, 0.0, 0.0, 1.0),
                    nodataval=NODATA,
                    compress="deflate",
                    predictor=2,
                )
                n += 1
    return n


def long_frame(arr: np.ndarray, size: CubeSize, absent: list[int], value_col: str) -> pd.DataFrame:
    """Cube-layout long rows (frac_num, time_chunk, x, y, t, value) of
    the present fractions."""
    h, w, t = arr.shape
    ys, xs, ts = np.meshgrid(np.arange(h), np.arange(w), np.arange(t), indexing="ij")
    nxf = size.width // size.frac
    frac = (ys // size.frac) * nxf + (xs // size.frac)
    keep = ~np.isin(frac, absent)
    return pd.DataFrame(
        {
            "frac_num": frac[keep].astype(np.int32),
            "time_chunk": (ts[keep] // size.frac_ndates).astype(np.int32),
            "x": xs[keep].astype(np.int32),
            "y": ys[keep].astype(np.int32),
            "t": ts[keep].astype(np.int32),
            value_col: arr[keep],
        }
    )


def zone_grid(seed: int, size: CubeSize) -> np.ndarray:
    """(height, width) int32 zone ids: nearest of ``n_zones`` seeded
    sites (a Voronoi partition, so zones are ragged, not blocks)."""
    rng = np.random.default_rng([seed, 3])
    sites = rng.uniform(0, [size.width, size.height], (size.n_zones, 2))
    yy, xx = np.mgrid[0 : size.height, 0 : size.width]
    d = (xx[..., None] - sites[:, 0]) ** 2 + (yy[..., None] - sites[:, 1]) ** 2
    return d.argmin(axis=2).astype(np.int32)


def polygons(seed: int, size: CubeSize) -> pd.DataFrame:
    """Star-shaped (concave) closed rings in the ``region_polygons``
    layout: region_name, vertex_idx, vx, vy, with the first vertex
    repeated last. Every ring has 10 vertices, alternating long and short
    radii about evenly spaced angles, and its bounding box lies inside
    one present fraction (the fractions taken in turn), so every polygon
    op reads the same number of files and masks about as many pixels."""
    rng = np.random.default_rng([seed, 4])
    present = present_fracs(size)
    nxf = size.width // size.frac
    rows = []
    n, r_max = 10, 0.44 * size.frac
    slack = size.frac / 2 - r_max  # how far the centre may move off the fraction's
    for p in range(size.n_polygons):
        f = present[p % len(present)]
        cx = (f % nxf + 0.5) * size.frac + rng.uniform(-slack, slack)
        cy = (f // nxf + 0.5) * size.frac + rng.uniform(-slack, slack)
        ang = (np.arange(n) + rng.uniform(-0.2, 0.2, n)) * 2 * np.pi / n
        rad = r_max * np.where(np.arange(n) % 2 == 0, rng.uniform(0.9, 1.0, n), rng.uniform(0.55, 0.7, n))
        vx = np.round(cx + rad * np.cos(ang), 2)
        vy = np.round(cy + rad * np.sin(ang), 2)
        for i in range(n + 1):
            rows.append((f"p{p}", i, float(vx[i % n]), float(vy[i % n])))
    return pd.DataFrame(rows, columns=["region_name", "vertex_idx", "vx", "vy"]).astype(
        {"vertex_idx": "int32"}
    )


def inside_mask(poly: pd.DataFrame, region: str, height: int, width: int) -> np.ndarray:
    """numpy ray cast with the engine's convention: pixel centre at
    +0.5, half-open crossing rule, odd crossings inside."""
    ring = poly[poly.region_name == region].sort_values("vertex_idx")
    vx, vy = ring.vx.to_numpy(), ring.vy.to_numpy()
    yy, xx = np.mgrid[0:height, 0:width]
    px, py = xx + 0.5, yy + 0.5
    cross = np.zeros((height, width), dtype=np.int64)
    for x1, y1, x2, y2 in zip(vx[:-1], vy[:-1], vx[1:], vy[1:]):
        with np.errstate(divide="ignore", invalid="ignore"):
            hit = ((y1 > py) != (y2 > py)) & (px < (x2 - x1) * (py - y1) / (y2 - y1) + x1)
        cross += hit
    return cross % 2 == 1


# --- corpus ----------------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "is")


def corpus(seed: int, size: CorpusSize) -> pd.DataFrame:
    """Documents with planted exact copies (case and whitespace
    variants), one-token near copies and short low-quality docs."""
    rng = np.random.default_rng([seed, 5])
    vocab = np.array([f"w{i}" for i in range(4000)])
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    p /= p.sum()

    def fresh(n_tok: int, tag: str) -> list[str]:
        toks = list(rng.choice(vocab, n_tok, p=p))
        # a unique tag keeps distinct documents distinct; stopwords keep
        # them inside quality_score's stopword band
        for s in rng.choice(STOPWORDS, 4):
            toks.insert(int(rng.integers(0, len(toks))), str(s))
        toks.insert(int(rng.integers(0, len(toks))), tag)
        return toks

    texts: list[str] = []
    for i in range(size.n_base):
        texts.append(" ".join(fresh(int(rng.integers(45, 80)), f"u{i}")))
    for j in range(size.n_exact):
        b = int(rng.integers(0, size.n_base))
        toks = texts[b].split(" ")
        k = int(rng.integers(0, len(toks)))
        toks[k] = toks[k].upper()  # case variant
        texts.append(" ".join(toks[:3]) + "  " + " ".join(toks[3:]))  # whitespace variant
    for j in range(size.n_near):
        b = int(rng.integers(0, size.n_base))
        toks = texts[b].split(" ")
        toks[int(rng.integers(0, len(toks)))] = f"n{j}"
        texts.append(" ".join(toks))
    for j in range(size.n_short):
        texts.append(f"s{j} " + " ".join(rng.choice(vocab[:50], 5)))  # no stopword
    order = rng.permutation(len(texts))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype=np.int64),
            "text": [texts[i] for i in order],
        }
    )
    return docs


def embeddings(seed: int, size: CorpusSize) -> dict:
    """Unit-free float64 vectors; every 5th row (id % 5 == 1) is a small
    perturbation of its predecessor, so true near-duplicate pairs exist.
    Queries are fresh perturbations of seeded corpus rows."""
    rng = np.random.default_rng([seed, 6])
    e = rng.standard_normal((size.n_vectors, size.dim))
    e[1::5] = e[0::5][: len(e[1::5])] + 0.05 * rng.standard_normal(e[1::5].shape)
    e = np.round(e, 6)
    src = rng.choice(size.n_vectors, size.n_queries, replace=False)
    q = np.round(e[src] + 0.05 * rng.standard_normal((size.n_queries, size.dim)), 6)
    return {"vectors": e, "queries": q, "query_src": src}


def write_parquet(df: pd.DataFrame, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def vectors_frame(v: np.ndarray, id_name: str, vec_name: str) -> pd.DataFrame:
    return pd.DataFrame(
        {id_name: np.arange(len(v), dtype=np.int64), vec_name: [row for row in v]}
    )
