"""Workload ``cube_query``: interactive analyst traffic on the jGrid cube,
plus the storage layer's write path at a lower rate: the base cube is
ingested from GeoTIFF tiles, and every pass ends with a one-date append,
a checksum of the chunk it wrote and an idempotent re-run of it.

Reads are restricted to the base time axis, so the appends that grow
the cube during a run never change what a read returns or how many
time chunks it may touch.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np

import gen
from core import Op
from spans import Tracer

GT = (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)


def _checksum_np(arr: np.ndarray, xs: np.ndarray, ys: np.ndarray, ts: np.ndarray) -> tuple[int, int, int]:
    v = arr.astype(np.int64)
    w = (xs.astype(np.int64) * 1009 + ys) * 31 + ts
    return int(v.size), int(v.sum()), int((v * w).sum())


class CubeQuery:
    name = "cube_query"

    def __init__(self, spark, work: str, seed: int, size: gen.CubeSize):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.tiles = os.path.join(work, "tiles")
        self.n_appends = 0

    # --- setup ---------------------------------------------------------
    def generate(self) -> dict:
        s = self.size
        a = gen.cube_arrays(self.seed, s)
        self.ndvi, self.qa, self.absent, self.ts = a["ndvi"], a["qa"], a["absent"], a["timestamps_ms"]
        self.present = gen.present_mask(s, self.absent)
        n_tiles = gen.write_tiles(self.tiles, self.ndvi, s, self.absent)
        self.zones = gen.zone_grid(self.seed, s)
        yy, xx = np.mgrid[0 : s.height, 0 : s.width]
        import pandas as pd

        gen.write_parquet(
            pd.DataFrame(
                {"x": xx.ravel().astype(np.int32), "y": yy.ravel().astype(np.int32), "zone": self.zones.ravel()}
            ),
            os.path.join(self.work, "zones.parquet"),
        )
        self.poly = gen.polygons(self.seed, s)
        gen.write_parquet(self.poly, os.path.join(self.work, "polygons.parquet"))
        gen.write_parquet(gen.long_frame(self.qa, s, self.absent, "qa"), os.path.join(self.work, "qa_long.parquet"))
        # expected state of the NDVI cube: base dates + appended dates
        self.appended: list[np.ndarray] = []
        return {
            "cube_px": s.width * s.height,
            "ndates": s.ndates,
            "pixel_dates": int(self.present.sum()) * s.ndates,
            "tiles": n_tiles,
        }

    def build(self, tracer: Tracer) -> None:
        """Base ingest: NDVI from GeoTIFF tiles, QA from long rows."""
        from rastercube_spark.sources.geotiff import geotiff_tile_codec, ingest_tiles
        from rastercube_spark.sources.raster import CubeHeader, RasterCube

        s = self.size
        hdr = dict(
            width=s.width, height=s.height, frac_width=s.frac, frac_height=s.frac,
            frac_ndates=s.frac_ndates, timestamps_ms=list(self.ts), geot=GT,
        )
        self.cube = RasterCube(os.path.join(self.work, "ndvi"), CubeHeader(dtype="int16", nodataval=gen.NODATA, **hdr))
        self.qcube = RasterCube(os.path.join(self.work, "qa"), CubeHeader(dtype="int32", value_col="qa", **hdr))
        with tracer.span("geotiff.ingest", op_id=-1):
            ingest_tiles(self.spark, self.cube, os.path.join(self.tiles, "*.tif"), codec=geotiff_tile_codec)
        with tracer.span("raster.write", op_id=-2):
            self.qcube.write_long(self.spark, self.spark.read.parquet(os.path.join(self.work, "qa_long.parquet")))

    # --- expected values -------------------------------------------------
    def _valid(self, x0, x1, y0, y1, t0, t1) -> tuple[np.ndarray, np.ndarray]:
        """Values and validity (present fraction, not nodata) of a base
        window, shape (y, x, t)."""
        v = self.ndvi[y0:y1, x0:x1, t0:t1]
        ok = self.present[y0:y1, x0:x1, None] & (v != gen.NODATA)
        return v, ok

    def rows_and_parts(self, x0, x1, y0, y1, t0, t1):
        """Stored rows in a base window and the (frac, chunk) partitions
        holding at least one valid row of it."""
        s = self.size
        _, ok = self._valid(x0, x1, y0, y1, t0, t1)
        rows = int(self.present[y0:y1, x0:x1].sum()) * (t1 - t0)
        ys, xs, ts = np.nonzero(ok)
        nxf = s.width // s.frac
        parts = set(zip(((ys + y0) // s.frac) * nxf + (xs + x0) // s.frac, (ts + t0) // s.frac_ndates))
        return rows, len(parts)

    # --- ops -------------------------------------------------------------
    def make_pass(self, k: int) -> list[Op]:
        """Pass ``k`` of the loop; pass 0 is the warm-up's source and
        holds every op type."""
        s, T = self.size, self.size.ndates
        rng = np.random.default_rng([self.seed, 7, k])
        ops: list[Op] = []
        # Latency blocks: append_rerun, two pixel_series and checksum
        # below, three window_agg in the middle and as many ops above
        # (the single op, append_date and two polygon_mean, the slowest),
        # so the median falls in the middle of the window_agg block and
        # the tail percentile (run.TAIL_PCT) in the polygon_mean block.
        # Pixels and windows (of one size) lie inside one present
        # fraction, as the polygons do, so ops of one type cost alike;
        # the zonal, QA, resample and reproject windows are not.
        for _ in range(2):
            ops.append(self._pixel_series(*self._frac_xy(rng, 1)))
        w = int(s.width * 0.3)
        for _ in range(3):
            ops.append(self._window_agg(*self._frac_xy(rng, w), w))
        for region in rng.choice(sorted(set(self.poly.region_name)), 2, replace=False):
            ops.append(self._polygon_mean(str(region)))
        half = 4 * (s.width // 8)  # a multiple of the 4x resample factor
        qw = int(s.width * 0.4)
        # resample_down first: passes 1-3 of a run must hold the op
        # types the per-layer metrics read; reproject_near comes fourth
        singles = [
            lambda: self._resample(4 * int(rng.integers(0, half // 4)), 4 * int(rng.integers(0, half // 4)), half, int(rng.integers(0, T))),
            lambda: self._qa_mean(int(rng.integers(0, s.width - qw)), int(rng.integers(0, s.height - qw)), qw, int(rng.integers(0, T - 3))),
            lambda: self._zonal(int(rng.integers(0, half)), int(rng.integers(0, half)), half, int(rng.integers(0, T))),
            lambda: self._reproject(round(float(rng.uniform(0, s.width / 4)), 2), round(float(rng.uniform(0, s.height / 4)), 2), int(rng.integers(0, T))),
        ]
        # one of the four single ops per pass, in turn, so a pass is short
        # enough for three to fit in a run of the time budget
        if k > 0:
            singles = [singles[(k - 1) % len(singles)]]
        ops += [make() for make in singles]
        rng.shuffle(ops)
        # the write path runs as the pass's tail, in the order the
        # append-cube command issues it
        return ops + self._append()

    def _frac_xy(self, rng: np.random.Generator, w: int) -> tuple[int, int]:
        """Origin of a w×w window inside one seeded present fraction."""
        s = self.size
        f = int(rng.choice(gen.present_fracs(s)))
        fx, fy = f % (s.width // s.frac), f // (s.width // s.frac)
        return fx * s.frac + int(rng.integers(0, s.frac - w + 1)), fy * s.frac + int(rng.integers(0, s.frac - w + 1))

    def _slice(self, x0, y0, x1, y1, t0, t1):
        return self.cube.load_slice_xy(self.spark, (x0, y0), (x1, y1), t0, t1)

    def _pixel_series(self, x: int, y: int) -> Op:
        T = self.size.ndates

        def run(tr: Tracer):
            with tr.span("raster.construct"):
                df = self._slice(x, y, x + 1, y + 1, 0, T).select("t", "value")
            with tr.span("raster.execute"):
                return sorted((r["t"], r["value"]) for r in df.collect())

        def check(out) -> bool:
            if not self.present[y, x]:
                return out == []
            return out == [(t, int(self.ndvi[y, x, t])) for t in range(T)]

        op = Op("pixel_series", run, check)
        op.meta["window"] = (x, x + 1, y, y + 1, 0, T)
        return op

    def _window_agg(self, x0: int, y0: int, w: int) -> Op:
        from pyspark.sql import functions as F

        T = self.size.ndates

        def run(tr: Tracer):
            with tr.span("raster.construct"):
                df = (
                    self._slice(x0, y0, x0 + w, y0 + w, 0, T)
                    .where(F.col("value") != gen.NODATA)
                    .agg(F.count("*").alias("n"), F.sum("value").alias("s"), F.min("value").alias("lo"), F.max("value").alias("hi"))
                )
            with tr.span("raster.execute"):
                r = df.collect()[0]
                return (r["n"], r["s"], r["lo"], r["hi"])

        def check(out) -> bool:
            v, ok = self._valid(x0, x0 + w, y0, y0 + w, 0, T)
            vv = v[ok].astype(np.int64)
            if vv.size == 0:
                return out == (0, None, None, None)
            return out == (vv.size, int(vv.sum()), int(vv.min()), int(vv.max()))

        op = Op("window_agg", run, check)
        op.meta["window"] = (x0, x0 + w, y0, y0 + w, 0, T)
        return op

    def _polygon_mean(self, region: str) -> Op:
        from pyspark.sql import functions as F

        s, T = self.size, self.size.ndates
        ring = self.poly[self.poly.region_name == region]
        x0, x1 = max(0, int(np.floor(ring.vx.min()))), min(s.width, int(np.ceil(ring.vx.max())) + 1)
        y0, y1 = max(0, int(np.floor(ring.vy.min()))), min(s.height, int(np.ceil(ring.vy.max())) + 1)
        path = os.path.join(self.work, "polygons.parquet")

        def run(tr: Tracer):
            from rastercube_spark.operators.polygon import points_in_polygon

            with tr.span("raster.construct"):
                pts = self._slice(x0, y0, x1, y1, 0, T).where(F.col("value") != gen.NODATA)
            with tr.span("polygon.construct"):
                df = points_in_polygon(pts, self.spark.read.parquet(path), region).agg(
                    F.count("*").alias("n"), F.sum("value").alias("s")
                )
            with tr.span("polygon.execute"):
                r = df.collect()[0]
                return (r["n"], r["s"])

        inside = gen.inside_mask(self.poly, region, s.height, s.width)
        ok = inside[:, :, None] & self.present[:, :, None] & (self.ndvi != gen.NODATA)
        vv = self.ndvi[ok].astype(np.int64)
        expected = (int(vv.size), int(vv.sum()) if vv.size else None)
        op = Op("polygon_mean", run, lambda out: out == expected)
        op.meta["inside_px"] = expected[0]
        op.meta["window"] = (x0, x1, y0, y1, 0, T)
        return op

    def _zonal(self, x0: int, y0: int, w: int, t: int) -> Op:
        from pyspark.sql import functions as F

        path = os.path.join(self.work, "zones.parquet")

        def run(tr: Tracer):
            with tr.span("raster.construct"):
                px = self._slice(x0, y0, x0 + w, y0 + w, t, t + 1).where(F.col("value") != gen.NODATA)
            with tr.span("zonal.construct"):
                df = (
                    px.join(self.spark.read.parquet(path), ["x", "y"])
                    .groupBy("zone")
                    .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
                )
            with tr.span("zonal.execute"):
                return sorted((r["zone"], r["n"], r["s"]) for r in df.collect())

        def check(out) -> bool:
            v, ok = self._valid(x0, x0 + w, y0, y0 + w, t, t + 1)
            z = self.zones[y0 : y0 + w, x0 : x0 + w][ok[:, :, 0]]
            vv = v[:, :, 0][ok[:, :, 0]].astype(np.int64)
            n = np.bincount(z, minlength=self.size.n_zones)
            sm = np.bincount(z, weights=vv, minlength=self.size.n_zones)
            exp = [(i, int(n[i]), int(round(sm[i]))) for i in range(len(n)) if n[i] > 0]
            return out == exp

        op = Op("zonal_stats", run, check)
        op.meta["window"] = (x0, x0 + w, y0, y0 + w, t, t + 1)
        return op

    def _qa_mean(self, x0: int, y0: int, w: int, t0: int) -> Op:
        from pyspark.sql import functions as F

        def run(tr: Tracer):
            from rastercube_spark.functions.qa import qaconf_col

            with tr.span("raster.construct"):
                nd = self._slice(x0, y0, x0 + w, y0 + w, t0, t0 + 4).where(F.col("value") != gen.NODATA)
                qa = self.qcube.load_slice_xy(self.spark, (x0, y0), (x0 + w, y0 + w), t0, t0 + 4)
            with tr.span("qa.construct"):
                conf = qaconf_col(F.col("qa"))
                df = (
                    nd.join(qa.select("x", "y", "t", "qa"), ["x", "y", "t"])
                    .groupBy("t")
                    .agg(F.sum(conf).alias("w"), F.sum(conf * F.col("value")).alias("wv"))
                )
            with tr.span("qa.execute"):
                return sorted((r["t"], r["w"], r["wv"]) for r in df.collect())

        def check(out) -> bool:
            from rastercube_spark.functions.qa import qaconf_numpy

            v, ok = self._valid(x0, x0 + w, y0, y0 + w, t0, t0 + 4)
            c = qaconf_numpy(self.qa[y0 : y0 + w, x0 : x0 + w, t0 : t0 + 4])
            exp = []
            for i in range(4):
                m = ok[:, :, i]
                if m.any():
                    exp.append((t0 + i, float(c[:, :, i][m].sum()), float((c[:, :, i][m] * v[:, :, i][m]).sum())))
            return len(out) == len(exp) and all(
                a[0] == b[0] and np.isclose(a[1], b[1], rtol=1e-9) and np.isclose(a[2], b[2], rtol=1e-9)
                for a, b in zip(out, exp)
            )

        op = Op("qa_masked_mean", run, check)
        op.meta["window"] = (x0, x0 + w, y0, y0 + w, t0, t0 + 4)
        return op

    def _resample(self, x0: int, y0: int, w: int, t: int) -> Op:
        from pyspark.sql import functions as F

        def run(tr: Tracer):
            from rastercube_spark.operators.resample import resample_downsample

            with tr.span("raster.construct"):
                src = self._slice(x0, y0, x0 + w, y0 + w, t, t + 1).where(F.col("value") != gen.NODATA)
            with tr.span("resample.construct"):
                df = resample_downsample(src, GT, (0.0, 4.0, 0.0, 0.0, 0.0, 4.0))
            with tr.span("resample.execute"):
                return sorted((r["dst_x"], r["dst_y"], r["mode_v"], r["sum_v"], r["n_src"]) for r in df.collect())

        def check(out) -> bool:
            v, ok = self._valid(x0, x0 + w, y0, y0 + w, t, t + 1)
            exp = []
            for by in range(w // 4):
                for bx in range(w // 4):
                    m = ok[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4, 0]
                    if not m.any():
                        continue
                    vals = v[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4, 0][m].astype(np.int64)
                    cnt = Counter(vals.tolist())
                    top = max(cnt.values())
                    mode = min(val for val, c in cnt.items() if c == top)
                    exp.append(((x0 // 4) + bx, (y0 // 4) + by, mode, int(vals.sum()), int(vals.size)))
            return out == sorted(exp)

        op = Op("resample_down", run, check)
        op.meta["window"] = (x0, x0 + w, y0, y0 + w, t, t + 1)
        return op

    def _reproject(self, ox: float, oy: float, t: int) -> Op:
        s = self.size
        n = s.width // 4  # target pixels per side
        dst = (ox, 1.5, 0.0, oy, 0.0, 1.5)
        x0, y0 = int(np.floor(ox)), int(np.floor(oy))
        x1 = min(s.width, int(np.ceil(ox + 1.5 * n)) + 1)
        y1 = min(s.height, int(np.ceil(oy + 1.5 * n)) + 1)

        def run(tr: Tracer):
            from rastercube_spark.operators.resample import gather_nearest

            with tr.span("raster.construct"):
                src = self._slice(x0, y0, x1, y1, t, t + 1).select("x", "y", "value")
            with tr.span("resample.construct"):
                df = gather_nearest(self.spark, src, GT, dst, n, n)
            with tr.span("resample.execute"):
                return sorted((r["dst_x"], r["dst_y"], r["v"]) for r in df.collect())

        def check(out) -> bool:
            d = np.arange(n)
            sx = np.floor((ox + (d + 0.5) * 1.5 - 0.0) / 1.0).astype(int)
            sy = np.floor((oy + (d + 0.5) * 1.5 - 0.0) / 1.0).astype(int)
            exp = [
                (int(i), int(j), int(self.ndvi[sy[j], sx[i], t]))
                for j in range(n)
                for i in range(n)
                if x0 <= sx[i] < x1 and y0 <= sy[j] < y1 and self.present[sy[j], sx[i]]
            ]
            return out == sorted(exp)

        op = Op("reproject_near", run, check)
        op.meta["window"] = (x0, x1, y0, y1, t, t + 1)
        return op

    # --- write path --------------------------------------------------------
    def _checksum_expected(self, chunk: int) -> tuple[int, int, int]:
        """Checksum of one time chunk of the expected cube: base dates
        (present fractions only) plus every append so far (all pixels)."""
        s = self.size
        t0, t1 = chunk * s.frac_ndates, (chunk + 1) * s.frac_ndates
        full = np.concatenate([self.ndvi] + self.appended, axis=2) if self.appended else self.ndvi
        t1 = min(t1, full.shape[2])
        yy, xx = np.mgrid[0 : s.height, 0 : s.width]
        vals, xs, ys, ts = [], [], [], []
        for t in range(t0, t1):
            m = self.present if t < s.ndates else np.ones_like(self.present)
            vals.append(full[:, :, t][m])
            xs.append(xx[m])
            ys.append(yy[m])
            ts.append(np.full(int(m.sum()), t))
        return _checksum_np(np.concatenate(vals), np.concatenate(xs), np.concatenate(ys), np.concatenate(ts))

    def _checksum(self, chunk: int) -> Op:
        from pyspark.sql import functions as F

        expected = self._checksum_expected(chunk)

        def run(tr: Tracer):
            with tr.span("raster.construct"):
                df = self.cube.df(self.spark).where(F.col("time_chunk") == chunk)
                v = F.col("value").cast("bigint")
                wgt = (F.col("x").cast("bigint") * 1009 + F.col("y")) * 31 + F.col("t")
                df = df.agg(F.count("*").alias("n"), F.sum(v).alias("s"), F.sum(v * wgt).alias("w"))
            with tr.span("raster.execute"):
                r = df.collect()[0]
                return (r["n"], r["s"] or 0, r["w"] or 0)

        return Op("checksum", run, lambda out: out == expected)

    def _append(self) -> list[Op]:
        k = self.n_appends
        self.n_appends += 1
        arr = gen.append_array(self.seed, self.size, k)
        ts = [self.ts[-1] + (k + 1) * 16 * 86_400_000]

        def run_append(tr: Tracer):
            with tr.span("raster.append"):
                return self.cube.append_dates(self.spark, arr, ts)

        checksum_chunk = (self.size.ndates + k) // self.size.frac_ndates
        append = Op("append_date", run_append, lambda out: out is True)
        append.meta["appended_px"] = int(arr.size)
        self.appended.append(arr)
        return [append, self._checksum(checksum_chunk), Op("append_rerun", run_append, lambda out: out is False)]
