"""RasterCube: the engine's chunked raster store (S1/S3/S4/S10/S11, D2).

Spark-first re-expression of the reference's jGrid3 (reference
rastercube/jgrid/jgrid3.py:100-205 Header, 429-586 write/slice API):

- **storage**: long-form parquet under ``{root}/data``, hive-partitioned by
  ``(frac_num, time_chunk)`` — the reference's fraction file
  ``jdata/{frac_num}.{chunk}.jdata`` becomes a partition directory, so
  partition pruning replaces its hand-rolled fraction-file selection.
- **header**: JSON sidecar ``{root}/header.json`` mirroring jgrid3's
  Header fields (width/height/frac geometry/timestamps/nodata/geot/WKT).
- **reads**: the schema comes from the header (its recorded stored
  columns plus the two partition columns), so opening the cube runs no
  parquet schema-inference job. Windowed / temporal queries *generate
  prune predicates* (``frac_num IN (...) AND time_chunk IN (...)``) from
  the header's pure python frac math (reference jgrid3.py:459-489), so
  Catalyst prunes partition directories before any IO; x/y/t residual
  predicates push into parquet row-group stats.
- **writes**: numpy in → one parquet file per partition, written from
  the driver with pyarrow (no Spark job), the way jgrid3 writes one
  ``.jdata`` file per chunk (jgrid3.py:307-308); DataFrame in → Spark's
  writer (``write_long``, GeoTIFF ingest, repairs).
- **append**: idempotent time-append (D2, reference
  scripts/complete_ndvi_worldgrid.py:59-186) — only the trailing/new
  ``time_chunk`` partitions are rewritten, each staged outside ``data/``
  and swapped in by directory rename, and re-running the same append is
  a no-op.

Scale notes (100 TB): fraction geometry is the sizing knob, exactly as in
the reference (grids.py:115-123 one fraction ≈ one HDFS block): pick
``frac_width/frac_height/frac_ndates`` so one (frac_num, time_chunk)
partition holds ~128 MB. Every writer leaves one file per partition (no
small-file explosion); the numpy writers hold one partition's rows on the
driver at a time; reads never list more partitions than the prune set.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType


# numpy dtype → the Spark type its parquet column reads back as; unsigned
# types widen to the next signed type, as Spark's parquet reader does
SPARK_TYPES = {
    "int8": "tinyint",
    "uint8": "smallint",
    "int16": "smallint",
    "uint16": "int",
    "int32": "int",
    "int64": "bigint",
    "float32": "float",
    "float64": "double",
}

PARTITION_COLUMNS = (("frac_num", "int"), ("time_chunk", "int"))


def _ddl(columns) -> str:
    return ", ".join(f"`{name}` {typ}" for name, typ in columns)


@dataclass
class CubeHeader:
    """Grid metadata ≡ reference jgrid3.Header (jgrid3.py:100-205).

    ``columns`` lists the stored non-partition columns as
    ``[name, Spark DDL type]`` pairs, in file order. It defaults to
    ``x, y, t int`` plus ``value_col`` typed from ``dtype``;
    :meth:`RasterCube.write_long` replaces it with the columns it actually
    wrote (e.g. an extra ``qa`` column). Reads declare ``read_schema``
    instead of inferring one from parquet footers.
    """

    width: int
    height: int
    frac_width: int
    frac_height: int
    dtype: str
    nodataval: float | int | None = None
    frac_ndates: int | None = None
    timestamps_ms: list[int] = field(default_factory=list)
    geot: tuple[float, ...] = (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)
    sr_wkt: str = ""
    value_col: str = "value"
    meta: dict = field(default_factory=dict)
    columns: list[list[str]] | None = None

    def __post_init__(self) -> None:
        assert self.width % self.frac_width == 0
        assert self.height % self.frac_height == 0
        if self.frac_ndates is None:
            self.frac_ndates = max(len(self.timestamps_ms), 1)
        if self.columns is None:
            self.columns = self.pixel_columns()

    # --- schema ----------------------------------------------------------
    def pixel_columns(self) -> list[list[str]]:
        """The stored columns of a plain pixel cube: x, y, t, value."""
        value_type = SPARK_TYPES[str(self.dtype)]
        return [["x", "int"], ["y", "int"], ["t", "int"], [self.value_col, value_type]]

    @property
    def long_schema(self) -> str:
        """DDL of the long pixel rows the GeoTIFF decoder builds:
        partition columns first, then ``pixel_columns``."""
        return _ddl([*PARTITION_COLUMNS, *self.pixel_columns()])

    @property
    def read_schema(self) -> str:
        """DDL the cube reads with: the stored columns (all nullable),
        then the partition columns — the schema Spark would infer."""
        return _ddl([*self.columns, *PARTITION_COLUMNS])

    # --- fraction math (reference jgrid3.py:278-306) -------------------
    @property
    def num_x_fracs(self) -> int:
        return self.width // self.frac_width

    @property
    def num_y_fracs(self) -> int:
        return self.height // self.frac_height

    @property
    def num_fracs(self) -> int:
        return self.num_x_fracs * self.num_y_fracs

    @property
    def ndates(self) -> int:
        return len(self.timestamps_ms)

    @property
    def num_dates_fracs(self) -> int:
        return max(int(math.ceil(self.ndates / float(self.frac_ndates))), 1)

    def frac_num(self, frac_x: int, frac_y: int) -> int:
        return frac_y * self.num_x_fracs + frac_x

    def x_start(self, frac_num: int) -> int:
        return (frac_num % self.num_x_fracs) * self.frac_width

    def y_start(self, frac_num: int) -> int:
        return (frac_num // self.num_x_fracs) * self.frac_height

    def frac_xyranges(self, frac_num: int) -> tuple[int, int, int, int]:
        x1, y1 = self.x_start(frac_num), self.y_start(frac_num)
        return (x1, x1 + self.frac_width, y1, y1 + self.frac_height)

    def frac_for_xy(self, x: int, y: int) -> int:
        assert 0 <= x < self.width and 0 <= y < self.height
        return (y // self.frac_height) * self.num_x_fracs + (x // self.frac_width)

    def fracs_for_rect_xy(
        self, xy_from: tuple[int, int], xy_to: tuple[int, int]
    ) -> list[int]:
        """Fractions covering [from, to) — end-exclusive like numpy
        (reference jgrid3.py:470-489)."""
        fx1 = xy_from[0] // self.frac_width
        fx2 = (xy_to[0] - 1) // self.frac_width
        fy1 = xy_from[1] // self.frac_height
        fy2 = (xy_to[1] - 1) // self.frac_height
        return sorted(
            self.frac_num(fx, fy)
            for fx in range(fx1, fx2 + 1)
            for fy in range(fy1, fy2 + 1)
        )

    def frac_time_range(self, time_chunk: int) -> tuple[int, int]:
        t1 = time_chunk * self.frac_ndates
        return (t1, min(self.ndates, t1 + self.frac_ndates))

    def chunks_for_trange(self, t_from: int, t_to: int) -> list[int]:
        """time_chunks covering [t_from, t_to) — end-exclusive."""
        if t_to <= t_from:
            return []
        return list(range(t_from // self.frac_ndates, (t_to - 1) // self.frac_ndates + 1))

    # --- (de)serialization --------------------------------------------
    def to_json(self) -> str:
        return json.dumps(
            {
                "width": self.width,
                "height": self.height,
                "frac_width": self.frac_width,
                "frac_height": self.frac_height,
                "dtype": self.dtype,
                "nodataval": self.nodataval,
                "frac_ndates": self.frac_ndates,
                "timestamps_ms": list(self.timestamps_ms),
                "geot": list(self.geot),
                "sr_wkt": self.sr_wkt,
                "value_col": self.value_col,
                "meta": self.meta,
                "columns": self.columns,
            },
            indent=2,
        )

    @classmethod
    def from_json(cls, s: str) -> "CubeHeader":
        d = json.loads(s)
        d["geot"] = tuple(d.get("geot", (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)))
        return cls(**d)


def _part(base: str, frac: int, chunk: int) -> str:
    return os.path.join(base, f"frac_num={frac}", f"time_chunk={chunk}")


def _move(src: str, dst: str) -> None:
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.rename(src, dst)


class RasterCube:
    """Parquet-backed chunked raster cube (see module docstring)."""

    def __init__(self, root: str, header: CubeHeader):
        self.root = root
        self.header = header

    @property
    def data_path(self) -> str:
        return os.path.join(self.root, "data")

    @property
    def header_path(self) -> str:
        return os.path.join(self.root, "header.json")

    def save_header(self) -> None:
        os.makedirs(self.root, exist_ok=True)
        with open(self.header_path, "w") as f:
            f.write(self.header.to_json())

    @classmethod
    def open(cls, root: str) -> "RasterCube":
        with open(os.path.join(root, "header.json")) as f:
            return cls(root, CubeHeader.from_json(f.read()))

    # --- write ---------------------------------------------------------
    def _write_arrays(self, data: np.ndarray, t_offset: int) -> None:
        """Write dates ``[t_offset, t_offset + T)`` of the HxWxT array
        ``data`` from the driver, one snappy parquet file per touched
        (frac_num, time_chunk) partition, with no Spark job.

        Rows are typed by ``header.columns`` (extra stored columns are
        NULL) and ordered (y, x, t). A chunk that starts below
        ``t_offset`` (the ragged tail of an append) keeps its stored rows
        with ``t < header.ndates``, every stored column included; rows at
        or past the header's axis, left by an append that crashed before
        its header save, are dropped rather than duplicated.

        Each partition is built, written to ``{root}/_staging`` and
        released before the next, so driver memory stays bounded by one
        partition and a failure leaves ``data/`` untouched. Then the staged
        partitions replace theirs by directory rename — the whole
        ``data/`` directory when ``t_offset == 0`` — and staging is
        removed. A crash between the two renames of a swap leaves the old
        copy under staging; the next write moves it back first.
        """
        h = self.header
        if data.shape[:2] != (h.height, h.width):
            raise ValueError(
                f"array shape {data.shape} does not match the {h.height}x{h.width} grid"
            )
        schema = to_arrow_schema(DataType.fromDDL(_ddl(h.columns)))
        stage = os.path.join(self.root, "_staging")
        staged, aside, old_table = (os.path.join(stage, n) for n in ("data", "old", "table"))
        # undo a swap cut short between its two renames
        if os.path.isdir(old_table) and not os.path.exists(self.data_path):
            os.rename(old_table, self.data_path)
        for d in glob.glob(os.path.join(aside, "frac_num=*", "time_chunk=*")):
            dest = os.path.join(self.data_path, os.path.relpath(d, aside))
            if not os.path.exists(dest):
                _move(d, dest)
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(staged)
        t_end = t_offset + data.shape[2]
        parts = [
            (frac, chunk)
            for frac in range(h.num_fracs)
            for chunk in range(t_offset // h.frac_ndates, (t_end - 1) // h.frac_ndates + 1)
        ]
        try:
            for frac, chunk in parts:
                table = self._partition_rows(data, t_offset, frac, chunk, schema)
                os.makedirs(_part(staged, frac, chunk))
                pq.write_table(
                    table,
                    os.path.join(_part(staged, frac, chunk), "part-00000.snappy.parquet"),
                    compression="snappy",
                )
                del table  # free it before the next partition is built
            if t_offset == 0:
                if os.path.exists(self.data_path):
                    os.rename(self.data_path, old_table)
                _move(staged, self.data_path)
            else:
                for frac, chunk in parts:
                    dest = _part(self.data_path, frac, chunk)
                    if os.path.exists(dest):
                        _move(dest, _part(aside, frac, chunk))
                    _move(_part(staged, frac, chunk), dest)
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def _partition_rows(
        self, data: np.ndarray, t_offset: int, frac: int, chunk: int, schema: pa.Schema
    ) -> pa.Table:
        """One partition's rows: ``data``'s block for (frac, chunk) in
        meshgrid (y, x, t) order, merged with the stored rows below
        ``t_offset`` when the chunk starts there."""
        h = self.header
        x1, x2, y1, y2 = h.frac_xyranges(frac)
        t1 = max(chunk * h.frac_ndates, t_offset)
        t2 = min((chunk + 1) * h.frac_ndates, t_offset + data.shape[2])
        ys, xs, ts = np.meshgrid(
            np.arange(y1, y2, dtype=np.int32),
            np.arange(x1, x2, dtype=np.int32),
            np.arange(t1, t2, dtype=np.int32),
            indexing="ij",
        )
        cols = {"x": xs.ravel(), "y": ys.ravel(), "t": ts.ravel()}
        cols[h.value_col] = data[y1:y2, x1:x2, t1 - t_offset : t2 - t_offset].ravel()
        table = pa.table(
            [
                pa.array(cols[f.name]).cast(f.type) if f.name in cols else pa.nulls(ts.size, f.type)
                for f in schema
            ],
            schema=schema,
        )
        stored = _part(self.data_path, frac, chunk)
        if t1 == chunk * h.frac_ndates or not os.path.isdir(stored):
            return table
        old = pq.read_table(stored, schema=schema)
        merged = pa.concat_tables([old.filter(pc.less(old["t"], h.ndates)), table])
        return merged.take(np.lexsort([merged[c].to_numpy() for c in ("t", "x", "y")]))

    def write_long(
        self, spark: SparkSession, df: DataFrame, zorder: bool = False
    ) -> None:
        """Write an already-long-form relation (frac_num, time_chunk, x, y,
        t, value...) as the cube's data — the distributed ingest path: the
        input arrives partitioned however it likes; one shuffle lands it on
        the cube layout with one file per partition.

        ``zorder=True`` sorts each partition file on the Morton index of
        (x, y) instead of row-major (y, x): with production-sized
        fractions (many row groups per file), 2-D window reads then prune
        row groups on the z column's min/max stats instead of scanning the
        full fraction. Read results are identical either way.

        The header records ``df``'s non-partition columns as the cube's
        stored columns (schema analysis only; no job runs).
        """
        from rastercube_spark.functions.zorder import z_index

        # the partition columns MUST prefix the sort: FileFormatWriter
        # requires ordering on them and otherwise inserts its own sort,
        # which makes Catalyst eliminate ours as redundant (observed: the
        # z order silently vanished from the written files)
        sort_cols = (
            [z_index(F.col("x"), F.col("y")).alias("__z"), F.col("t")]
            if zorder
            else [F.col("y"), F.col("x"), F.col("t")]
        )
        (
            df.repartition("frac_num", "time_chunk")
            .sortWithinPartitions(F.col("frac_num"), F.col("time_chunk"), *sort_cols)
            # full-cube writes must replace the WHOLE table: under a
            # session-global dynamic partitionOverwriteMode (e.g. leaked
            # from another writer), "overwrite" would keep partitions the
            # new data doesn't touch — rewriting a cube with fewer
            # partitions would leave stale ones behind
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy("frac_num", "time_chunk")
            .parquet(self.data_path)
        )
        parts = {name for name, _ in PARTITION_COLUMNS}
        self.header.columns = [
            [f.name, f.dataType.simpleString()]
            for f in df.schema.fields
            if f.name not in parts
        ]
        self.save_header()

    def write_arrays(self, spark: SparkSession, data: np.ndarray) -> None:
        """Full-grid write (S10; reference jgrid3.py:444-457 write_all):
        replaces the whole table with one parquet file per
        (frac_num, time_chunk) partition, written from the driver without
        a Spark job (see ``_write_arrays``). The header's stored columns
        become the plain pixel columns."""
        assert data.shape[2] == self.header.ndates
        self.header.columns = self.header.pixel_columns()
        self._write_arrays(data, t_offset=0)
        self.save_header()

    def append_dates(
        self,
        spark: SparkSession,
        data: np.ndarray,
        new_timestamps_ms: list[int],
    ) -> bool:
        """Idempotent time-append (D2; reference
        scripts/complete_ndvi_worldgrid.py:59-186): extend the time axis by
        ``data.shape[2]`` dates, rewriting ONLY the trailing/new time_chunk
        partitions, one file each, from the driver with no Spark job (see
        ``_write_arrays``). A ragged trailing chunk keeps its stored rows
        and columns; the new dates' extra stored columns are NULL. The
        header is saved last, so an append that crashed before it re-runs
        cleanly; re-running a completed append is detected via the header
        and is a no-op.

        Returns True if data was written, False if already applied.
        """
        h = self.header
        assert data.shape[2] == len(new_timestamps_ms)
        if (
            len(h.timestamps_ms) >= len(new_timestamps_ms)
            and h.timestamps_ms[-len(new_timestamps_ms):] == list(new_timestamps_ms)
        ):
            return False  # append already applied → idempotent no-op
        self._write_arrays(data, t_offset=h.ndates)
        h.timestamps_ms = list(h.timestamps_ms) + list(new_timestamps_ms)
        self.save_header()
        return True

    def repair_truncate(self, spark: SparkSession) -> int:
        """D4 chunk repair (reference jgrid3 chunk clamp): drop rows whose
        ``t`` lies beyond the header's time axis (overgrown chunks from an
        interrupted append). Only the affected trailing partitions are
        rewritten (dynamic overwrite); partitions whose rows are ALL
        overgrown have no surviving rows to rewrite, so their directories
        are deleted outright — dynamic overwrite alone would leave them on
        disk forever while reporting them "fixed" (false idempotence).
        Returns the number of time chunks fixed; a second run returns 0.
        """
        import shutil

        h = self.header
        last_chunk = (h.ndates - 1) // h.frac_ndates
        tail = self.df(spark).where(F.col("time_chunk") >= last_chunk)
        overgrown = tail.where(F.col("t") >= h.ndates)
        # partition inventories are catalog-sized (one row per partition)
        # and MUST be collected before the write below mutates the files
        # the lazy frames read from
        bad_parts = {
            (r["frac_num"], r["time_chunk"])
            for r in overgrown.select("frac_num", "time_chunk").distinct().collect()
        }
        if not bad_parts:
            return 0
        bad_chunks = sorted({c for _, c in bad_parts})
        survivors = tail.where(
            F.col("time_chunk").isin(bad_chunks) & (F.col("t") < h.ndates)
        )
        surv_parts = {
            (r["frac_num"], r["time_chunk"])
            for r in survivors.select("frac_num", "time_chunk").distinct().collect()
        }
        if surv_parts:
            (
                survivors.repartition("frac_num", "time_chunk")
                .sortWithinPartitions("frac_num", "time_chunk", "y", "x", "t")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("frac_num", "time_chunk")
                .parquet(self.data_path)
            )
        for frac, chunk in sorted(bad_parts - surv_parts):
            # local-filesystem path assumed (asserted in __init__ via the
            # os.path handling throughout); a silent rmtree failure would
            # report the chunk "fixed" while its directory survives —
            # exactly the false idempotence this method exists to remove —
            # so failures propagate and survival is an error.
            d = os.path.join(
                self.data_path, f"frac_num={frac}", f"time_chunk={chunk}"
            )
            shutil.rmtree(d)
            if os.path.isdir(d):
                raise OSError(f"repair_truncate: {d} survived removal")
        return len(bad_chunks)

    # --- read ----------------------------------------------------------
    def df(self, spark: SparkSession) -> DataFrame:
        """The whole cube, read with the header's declared schema."""
        return spark.read.schema(self.header.read_schema).parquet(self.data_path)

    def load_slice_xy(
        self,
        spark: SparkSession,
        xy_from: tuple[int, int],
        xy_to: tuple[int, int],
        t_from: int | None = None,
        t_to: int | None = None,
    ) -> DataFrame:
        """Windowed read (S3; reference jgrid3.py:491-586 load_slice_xy).

        End-exclusive like numpy. The frac/chunk IN-lists are partition
        predicates (pruned before IO); x/y/t ranges prune row groups.
        """
        h = self.header
        t1 = 0 if t_from is None else t_from
        t2 = h.ndates if t_to is None else t_to
        fracs = h.fracs_for_rect_xy(xy_from, xy_to)
        chunks = h.chunks_for_trange(t1, t2)
        df = self.df(spark).where(
            F.col("frac_num").isin(fracs)
            & F.col("time_chunk").isin(chunks)
            & (F.col("x") >= xy_from[0])
            & (F.col("x") < xy_to[0])
            & (F.col("y") >= xy_from[1])
            & (F.col("y") < xy_to[1])
            & (F.col("t") >= t1)
            & (F.col("t") < t2)
        )
        return df

    def load_slice_array(
        self,
        spark: SparkSession,
        xy_from: tuple[int, int],
        xy_to: tuple[int, int],
        t_from: int | None = None,
        t_to: int | None = None,
    ) -> np.ndarray:
        """Driver-side dense materialization of a *bounded* window —
        the numpy-oracle path for tests and GeoTIFF export, never for
        analytics (those stay DataFrames)."""
        h = self.header
        t1 = 0 if t_from is None else t_from
        t2 = h.ndates if t_to is None else t_to
        ny, nx, nt = xy_to[1] - xy_from[1], xy_to[0] - xy_from[0], t2 - t1
        fill = h.nodataval if h.nodataval is not None else 0
        out = np.full((ny, nx, nt), fill, dtype=np.dtype(h.dtype))
        rows = (
            self.load_slice_xy(spark, xy_from, xy_to, t1, t2)
            .select("x", "y", "t", h.value_col)
            .collect()
        )
        for r in rows:
            out[r["y"] - xy_from[1], r["x"] - xy_from[0], r["t"] - t1] = r[h.value_col]
        return out
