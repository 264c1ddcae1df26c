"""RasterCube core tests, generalizing the reference's suite:

- random array → cube → load_slice_xy ≡ numpy slicing
  (reference tests/test_jgrid3.py:201-230)
- idempotent time-append: run twice ≡ run once
  (reference tests/scripts/test_complete_ndvi_worldgrid.py:105-106)
- prune-predicate generation actually reaches the scan as partition
  filters (the 100 TB contract: a window read lists only its fractions)
"""

from __future__ import annotations

import numpy as np
import pytest

from rastercube_spark.sources.raster import CubeHeader, RasterCube

W, H, ND = 80, 60, 7
FRAC_W = FRAC_H = 20
FRAC_NDATES = 3
NODATA = -3000


@pytest.fixture(scope="module")
def cube(spark, tmp_path_factory):
    rng = np.random.RandomState(7)
    data = rng.randint(-2000, 10001, size=(H, W, ND)).astype(np.int16)
    data[rng.rand(H, W, ND) < 0.05] = NODATA
    root = str(tmp_path_factory.mktemp("cube") / "ndvi")
    header = CubeHeader(
        width=W,
        height=H,
        frac_width=FRAC_W,
        frac_height=FRAC_H,
        dtype="int16",
        nodataval=NODATA,
        frac_ndates=FRAC_NDATES,
        timestamps_ms=[1000 * 86400 * (i + 1) for i in range(ND)],
    )
    c = RasterCube(root, header)
    c.write_arrays(spark, data)
    return c, data


def test_roundtrip_full(spark, cube):
    c, data = cube
    got = c.load_slice_array(spark, (0, 0), (W, H))
    np.testing.assert_array_equal(got, data)


@pytest.mark.parametrize(
    "xy_from,xy_to,t_from,t_to",
    [
        ((0, 0), (20, 20), None, None),      # exactly one fraction
        ((5, 7), (33, 29), 1, 5),            # straddles 4 fractions + 2 chunks
        ((19, 19), (21, 21), 0, 1),          # 2x2 crossing a corner
        ((60, 40), (80, 60), 6, 7),          # last fraction, ragged last chunk
        ((0, 0), (80, 60), 2, 3),            # full extent, single date
    ],
)
def test_roundtrip_windows(spark, cube, xy_from, xy_to, t_from, t_to):
    c, data = cube
    got = c.load_slice_array(spark, xy_from, xy_to, t_from, t_to)
    t1 = 0 if t_from is None else t_from
    t2 = ND if t_to is None else t_to
    want = data[xy_from[1]:xy_to[1], xy_from[0]:xy_to[0], t1:t2]
    np.testing.assert_array_equal(got, want)


def test_open_reads_header(cube):
    c, _ = cube
    c2 = RasterCube.open(c.root)
    assert c2.header.width == W and c2.header.ndates == ND
    assert c2.header.nodataval == NODATA
    assert c2.header.fracs_for_rect_xy((0, 0), (40, 20)) == [0, 1]


def test_partition_pruning_in_plan(spark, cube):
    c, _ = cube
    df = c.load_slice_xy(spark, (0, 0), (20, 20), 0, 3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one fraction, one time chunk → scan must list exactly 1 partition
    assert "PartitionFilters" in plan
    n_parts = df.select("frac_num", "time_chunk").distinct().count()
    assert n_parts == 1


def test_append_idempotent(spark, cube, tmp_path):
    c, data = cube
    rng = np.random.RandomState(11)
    extra = rng.randint(-2000, 10001, size=(H, W, 2)).astype(np.int16)
    new_ts = [1000 * 86400 * (ND + 1 + i) for i in range(2)]

    root = str(tmp_path / "appended")
    c2 = RasterCube(root, CubeHeader.from_json(c.header.to_json()))
    c2.write_arrays(spark, data)

    assert c2.append_dates(spark, extra, new_ts) is True
    full_once = c2.load_slice_array(spark, (0, 0), (W, H))
    assert full_once.shape == (H, W, ND + 2)
    np.testing.assert_array_equal(full_once[:, :, :ND], data)
    np.testing.assert_array_equal(full_once[:, :, ND:], extra)

    # run twice ≡ run once (reference test_complete_ndvi_worldgrid.py:105)
    assert c2.append_dates(spark, extra, new_ts) is False
    full_twice = c2.load_slice_array(spark, (0, 0), (W, H))
    np.testing.assert_array_equal(full_twice, full_once)
    assert RasterCube.open(root).header.ndates == ND + 2


def test_repair_truncate(spark, cube, tmp_path):
    """D4: rows beyond the header's time axis (interrupted append) are
    clamped away; intact chunks untouched."""
    c, data = cube
    root = str(tmp_path / "overgrown")
    c2 = RasterCube(root, CubeHeader.from_json(c.header.to_json()))
    c2.write_arrays(spark, data)
    # simulate an interrupted append: bogus rows with t beyond the axis
    # landing in the last chunk's partitions
    from pyspark.sql import functions as F
    last_chunk = (ND - 1) // FRAC_NDATES
    bogus = (
        c2.df(spark)
        .where((F.col("time_chunk") == last_chunk) & (F.col("t") == ND - 1))
        .withColumn("t", F.lit(ND).cast("int"))
    )
    bogus.write.mode("append").partitionBy("frac_num", "time_chunk").parquet(
        c2.data_path
    )
    assert c2.df(spark).where(F.col("t") >= ND).count() > 0

    fixed = c2.repair_truncate(spark)
    assert fixed >= 1
    assert c2.df(spark).where(F.col("t") >= ND).count() == 0
    got = c2.load_slice_array(spark, (0, 0), (W, H))
    np.testing.assert_array_equal(got, data)
    # idempotent: second repair is a no-op
    assert c2.repair_truncate(spark) == 0


# --- numpy appends: stored columns, crash retries ------------------------

SMALL = 20  # a 20x20 cube of one fraction: 400 rows per date


def _small_header(ndates: int = 3) -> CubeHeader:
    return CubeHeader(
        width=SMALL,
        height=SMALL,
        frac_width=SMALL,
        frac_height=SMALL,
        dtype="int16",
        nodataval=NODATA,
        frac_ndates=2,
        timestamps_ms=[86_400_000 * (i + 1) for i in range(ndates)],
    )


def _small_data(ndates: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randint(-2000, 10001, size=(SMALL, SMALL, ndates)).astype(np.int16)


def test_append_keeps_extra_stored_columns(spark, tmp_path):
    """The ragged chunk's stored rows keep every stored column; the new
    date's extra columns are NULL."""
    import pandas as pd

    base = _small_data(3, seed=1)
    ys, xs, ts = np.meshgrid(
        np.arange(SMALL), np.arange(SMALL), np.arange(3), indexing="ij"
    )
    rows = pd.DataFrame(
        {
            "frac_num": np.zeros(ys.size, np.int32),
            "time_chunk": (ts.ravel() // 2).astype(np.int32),
            "x": xs.ravel().astype(np.int32),
            "y": ys.ravel().astype(np.int32),
            "t": ts.ravel().astype(np.int32),
            "value": base.ravel(),
            "qa": (xs * 7 + ts).ravel().astype(np.int32),
        }
    )
    c = RasterCube(str(tmp_path / "qa"), _small_header())
    c.write_long(
        spark,
        spark.createDataFrame(rows, c.header.long_schema + ", `qa` int"),
    )
    extra = _small_data(1, seed=2)
    assert c.append_dates(spark, extra, [86_400_000 * 4]) is True

    df = RasterCube.open(c.root).df(spark)
    t2 = df.where("t = 2")
    assert t2.count() == SMALL * SMALL
    assert t2.where("qa = x * 7 + 2").count() == SMALL * SMALL
    t3 = df.where("t = 3")
    assert t3.count() == SMALL * SMALL
    assert t3.where("qa IS NULL").count() == SMALL * SMALL
    np.testing.assert_array_equal(
        c.load_slice_array(spark, (0, 0), (SMALL, SMALL)),
        np.concatenate([base, extra], axis=2),
    )


def test_append_retried_after_crash_before_header_save(spark, tmp_path):
    """Data committed, header not saved: reopening and re-running the
    append rewrites the ragged chunk without duplicating the new date."""
    c = RasterCube(str(tmp_path / "retry"), _small_header())
    base = _small_data(3, seed=3)
    c.write_arrays(spark, base)
    with open(c.header_path) as f:
        old_header = f.read()
    extra = _small_data(1, seed=4)
    assert c.append_dates(spark, extra, [86_400_000 * 4]) is True
    with open(c.header_path, "w") as f:
        f.write(old_header)

    again = RasterCube.open(c.root)
    assert again.append_dates(spark, extra, [86_400_000 * 4]) is True
    assert again.df(spark).where("t = 3").count() == SMALL * SMALL
    np.testing.assert_array_equal(
        again.load_slice_array(spark, (0, 0), (SMALL, SMALL)),
        np.concatenate([base, extra], axis=2),
    )


def test_append_failure_leaves_cube_unchanged(spark, tmp_path, monkeypatch):
    """A write that fails while staging the second partition changes no
    row and no header byte, leaves no staging directory, and the append
    succeeds when retried."""
    import os

    import pyarrow.parquet as pq

    header = _small_header()
    header.frac_width = header.frac_height = SMALL // 2  # 4 fractions
    c = RasterCube(str(tmp_path / "fail"), header)
    base = _small_data(3, seed=5)
    c.write_arrays(spark, base)
    before = sorted(c.df(spark).collect())
    with open(c.header_path) as f:
        header_before = f.read()

    write_table = pq.write_table
    calls = []

    def failing(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise OSError("injected write failure")
        return write_table(*args, **kwargs)

    monkeypatch.setattr(pq, "write_table", failing)
    extra = _small_data(1, seed=6)
    with pytest.raises(OSError, match="injected"):
        c.append_dates(spark, extra, [86_400_000 * 4])
    monkeypatch.undo()

    with open(c.header_path) as f:
        assert f.read() == header_before
    assert sorted(os.listdir(c.root)) == ["data", "header.json"]
    reopened = RasterCube.open(c.root)
    assert sorted(reopened.df(spark).collect()) == before

    assert reopened.append_dates(spark, extra, [86_400_000 * 4]) is True
    np.testing.assert_array_equal(
        reopened.load_slice_array(spark, (0, 0), (SMALL, SMALL)),
        np.concatenate([base, extra], axis=2),
    )


def test_append_cut_between_swap_renames_is_undone(spark, tmp_path, monkeypatch):
    """A partition moved aside whose replacement never landed is moved
    back by the next write, which then completes the append."""
    from rastercube_spark.sources import raster

    c = RasterCube(str(tmp_path / "cut"), _small_header())
    base = _small_data(3, seed=7)
    c.write_arrays(spark, base)
    before = sorted(c.df(spark).collect())

    move = raster._move

    def cut(src, dst):  # the old partition moves aside, then the process dies
        move(src, dst)
        raise KeyboardInterrupt

    monkeypatch.setattr(raster, "_move", cut)
    monkeypatch.setattr(raster.shutil, "rmtree", lambda *a, **k: None)
    extra = _small_data(1, seed=8)
    with pytest.raises(KeyboardInterrupt):
        c.append_dates(spark, extra, [86_400_000 * 4])
    monkeypatch.undo()

    reopened = RasterCube.open(c.root)
    assert reopened.header.ndates == 3
    assert reopened.append_dates(spark, extra, [86_400_000 * 4]) is True
    assert sorted(reopened.df(spark).where("t < 3").collect()) == before
    np.testing.assert_array_equal(
        reopened.load_slice_array(spark, (0, 0), (SMALL, SMALL)),
        np.concatenate([base, extra], axis=2),
    )
