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


def test_kept_schema_plans_without_jobs(spark, cube, spark_jobs):
    """After a cube's first read has inferred the data schema, building a
    window read's plan runs no Spark job (no per-call schema inference)."""
    c, _ = cube
    c2 = RasterCube.open(c.root)
    c2.df(spark)
    with spark_jobs() as jobs:
        c2.load_slice_xy(spark, (5, 7), (33, 29), 1, 5)
    assert jobs == []


@pytest.mark.parametrize(
    "value_col,extra_qa", [("ndvi", True), ("v", False)], ids=["qa", "v"]
)
def test_kept_schema_equals_footers(spark, cube, tmp_path, value_col, extra_qa):
    """The kept schema is the footers' schema, not one rebuilt from the
    header: an extra qa column and a value column named v survive, and
    append_dates (a writer) re-reads it."""
    from pyspark.sql import functions as F

    c0, data = cube
    header = CubeHeader.from_json(c0.header.to_json())
    header.value_col = value_col
    c = RasterCube(str(tmp_path / "cube"), header)
    long = c._long_df(spark, data)
    if extra_qa:
        long = long.withColumn("qa", (F.col("x") % 4).cast("tinyint"))
    c.write_long(spark, long)
    assert c.df(spark).schema == spark.read.parquet(c.data_path).schema
    if extra_qa:
        assert "qa" in c.df(spark).columns
    extra = np.full((H, W, 2), 7, dtype=np.int16)
    assert c.append_dates(spark, extra, [10**12, 10**12 + 1]) is True
    assert c.df(spark).schema == spark.read.parquet(c.data_path).schema
    got = c.load_slice_array(spark, (0, 0), (W, H))
    np.testing.assert_array_equal(got[:, :, :ND], data)
    np.testing.assert_array_equal(got[:, :, ND:], extra)


@pytest.fixture(scope="module")
def sparse_cube(spark, cube, tmp_path_factory):
    """The module cube's data with fraction 0 missing entirely and every
    nodata pixel stored as no row, plus the array reads must return."""
    from pyspark.sql import functions as F

    c, data = cube
    sparse = RasterCube(
        str(tmp_path_factory.mktemp("sparse") / "cube"),
        CubeHeader.from_json(c.header.to_json()),
    )
    long = sparse._long_df(spark, data).where(
        (F.col("frac_num") != 0) & (F.col("value") != NODATA)
    )
    sparse.write_long(spark, long)
    want = data.copy()
    want[:FRAC_H, :FRAC_W, :] = NODATA
    return sparse, want


@pytest.mark.parametrize(
    "xy_from,xy_to,t_from,t_to,empty",
    [
        ((2, 3), (18, 17), 0, ND, True),    # inside the missing fraction
        ((10, 10), (30, 25), 0, 2, False),  # straddles the missing fraction
        ((21, 5), (47, 39), 2, 5, False),   # straddles time chunks 0 and 1
    ],
    ids=["empty", "missing_fraction", "chunk_straddle"],
)
def test_slice_array_matches_numpy_on_sparse_cube(
    spark, sparse_cube, xy_from, xy_to, t_from, t_to, empty
):
    c, want = sparse_cube
    rows = c.load_slice_xy(spark, xy_from, xy_to, t_from, t_to).count()
    assert (rows == 0) == empty
    got = c.load_slice_array(spark, xy_from, xy_to, t_from, t_to)
    expect = want[xy_from[1]:xy_to[1], xy_from[0]:xy_to[0], t_from:t_to]
    assert got.dtype == expect.dtype
    np.testing.assert_array_equal(got, expect)
