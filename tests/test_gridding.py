"""Gridding operators (A1-A3) vs a pandas oracle and salted-vs-plain parity."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

from rgr_pdal_topo_spark.grid import GridSpec
from rgr_pdal_topo_spark.operators import gridding
from rgr_pdal_topo_spark.synth import points_df

GRID = GridSpec()


@pytest.fixture(scope="module")
def pts_pdf(spark):
    return points_df(spark, SF_DIR).toPandas()


def _cells(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    out["cell_col"] = np.floor(out.x / GRID.cell).astype(int)
    out["cell_row"] = (GRID.nrows - 1 - np.floor(out.y / GRID.cell)).astype(int)
    return out


def test_grid_mean_matches_pandas(spark, pts_pdf):
    got = (
        gridding.grid_points(points_df(spark, SF_DIR), GRID, output_type="mean")
        .toPandas()
        .sort_values(["cell_row", "cell_col"])
        .reset_index(drop=True)
    )
    exp = (
        _cells(pts_pdf)
        .groupby(["cell_row", "cell_col"])
        .agg(value=("z", "mean"), n=("z", "size"))
        .reset_index()
        .sort_values(["cell_row", "cell_col"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    np.testing.assert_allclose(got.value, exp.value, rtol=1e-12)
    assert (got.n.to_numpy() == exp.n.to_numpy()).all()


def test_grid_idw_matches_pandas(spark, pts_pdf):
    got = (
        gridding.grid_points(points_df(spark, SF_DIR), GRID, output_type="idw")
        .toPandas()
        .sort_values(["cell_row", "cell_col"])
        .reset_index(drop=True)
    )
    c = _cells(pts_pdf)
    cx = (c.cell_col + 0.5) * GRID.cell
    cy = (GRID.nrows - 1 - c.cell_row + 0.5) * GRID.cell
    d2 = (c.x - cx) ** 2 + (c.y - cy) ** 2 + gridding.IDW_EPS
    c["w"] = 1.0 / d2
    c["wz"] = c.w * c.z
    exp = (
        c.groupby(["cell_row", "cell_col"])
        .agg(swv=("wz", "sum"), sw=("w", "sum"))
        .reset_index()
    )
    exp["value"] = exp.swv / exp.sw
    exp = exp.sort_values(["cell_row", "cell_col"]).reset_index(drop=True)
    np.testing.assert_allclose(got.value, exp.value, rtol=1e-9)


def test_salted_equals_plain(spark):
    pts = points_df(spark, SF_DIR)
    plain = (
        gridding.grid_points(pts, GRID, output_type="idw")
        .toPandas()
        .sort_values(["cell_row", "cell_col"])
        .reset_index(drop=True)
    )
    salted = (
        gridding.grid_points(pts, GRID, output_type="idw", salt=8)
        .toPandas()
        .sort_values(["cell_row", "cell_col"])
        .reset_index(drop=True)
    )
    assert (plain.n.to_numpy() == salted.n.to_numpy()).all()
    np.testing.assert_allclose(plain.value, salted.value, rtol=1e-9)


def test_count_min_max(spark, pts_pdf):
    pts = points_df(spark, SF_DIR)
    cnt = gridding.grid_points(pts, GRID, output_type="count").toPandas()
    assert cnt.value.sum() == len(pts_pdf)
    mx = (
        gridding.grid_points(pts, GRID, output_type="max")
        .toPandas()
        .sort_values(["cell_row", "cell_col"])
    )
    exp = (
        _cells(pts_pdf)
        .groupby(["cell_row", "cell_col"])["z"].max()
        .reset_index()
        .sort_values(["cell_row", "cell_col"])
    )
    np.testing.assert_allclose(mx.value.to_numpy(), exp.z.to_numpy())


def _fill_twin(arr: np.ndarray, g: GridSpec, window: int) -> np.ndarray:
    """NumPy whole-grid twin of fill_empty_cells (the formula of
    perfbench/oracle.py ``_fill_empty``): each NaN cell takes the
    1/d^2-weighted mean of the non-NaN cells within Chebyshev radius
    ``window``, centre excluded."""
    n, m = arr.shape
    pad = np.pad(arr, window, constant_values=np.nan)
    sw = np.zeros_like(arr)
    swv = np.zeros_like(arr)
    for dr in range(-window, window + 1):
        for dc in range(-window, window + 1):
            if dr == 0 and dc == 0:
                continue
            v = pad[window + dr:window + dr + n, window + dc:window + dc + m]
            w = 1.0 / ((dr * g.cell) ** 2 + (dc * g.cell) ** 2)
            ok = ~np.isnan(v)
            sw += np.where(ok, w, 0.0)
            swv += np.where(ok, w * v, 0.0)
    with np.errstate(invalid="ignore", divide="ignore"):
        fills = swv / sw
    return np.where(np.isnan(arr), fills, arr)


def _grid_rows(spark, src: np.ndarray, rows: np.ndarray):
    """Long-form (cell_row, cell_col, value, n) rows for the cells where
    ``rows`` is true; n = 1 + cell_row + cell_col."""
    rr, cc = np.nonzero(rows)
    return spark.createDataFrame(pd.DataFrame({
        "cell_row": rr.astype("int32"), "cell_col": cc.astype("int32"),
        "value": src[rr, cc], "n": (1 + rr + cc).astype("int64"),
    }))


def _check_fill(out, src, n, g, window):
    """The whole fill_empty_cells output against the twin: the dense row
    set (unreachable cells as NULL rows), value, n and filled.  ``src``
    holds the input values (NaN = no row or a NaN value), ``n`` the input
    counts."""
    got = out.toPandas()
    assert len(got) == g.nrows * g.ncols
    assert not got.duplicated(["cell_row", "cell_col"]).any()
    r, c = got.cell_row.to_numpy(), got.cell_col.to_numpy()
    exp = _fill_twin(src, g, window)[r, c]
    val = got.value.to_numpy(dtype="float64")
    assert np.array_equal(np.isnan(val), np.isnan(exp))
    ok = ~np.isnan(exp)
    np.testing.assert_allclose(val[ok], exp[ok], rtol=1e-12, atol=0)
    had = ~np.isnan(src[r, c])
    np.testing.assert_array_equal(got.n, np.where(had, n[r, c], 0))
    np.testing.assert_array_equal(got.filled, (~had & ok).astype(int))
    return got


def test_fill_empty_cells(spark, pts_pdf):
    pts = points_df(spark, SF_DIR).filter("cls = 2")
    g = gridding.grid_points(pts, GRID, output_type="mean")
    base = g.toPandas()
    src = np.full((GRID.nrows, GRID.ncols), np.nan)
    src[base.cell_row, base.cell_col] = base.value
    n = np.zeros((GRID.nrows, GRID.ncols), dtype="int64")
    n[base.cell_row, base.cell_col] = base.n
    got = _check_fill(gridding.fill_empty_cells(g, GRID, window_size=6),
                      src, n, GRID, 6)
    assert (got.filled == 1).sum() > 0


def _ramp(g: GridSpec, seed: int):
    """Noisy planar values and the n = 1 + row + col counts."""
    r, c = np.meshgrid(np.arange(g.nrows), np.arange(g.ncols), indexing="ij")
    rng = np.random.default_rng(seed)
    return 100.0 + 0.3 * r - 0.1 * c + rng.random(r.shape), 1 + r + c, rng


def test_fill_empty_cells_multi_tile_exact(spark):
    """2x3 tiles of 64 cells: holes straddle the tile seams and a 30x40
    block is wider than the window, so its interior stays unreachable."""
    g = GridSpec(cell=10.0, nrows=100, ncols=140)
    value, n, rng = _ramp(g, 5)
    rows = rng.random(value.shape) > 0.3
    rows[58:70, :] &= rng.random((12, g.ncols)) > 0.8  # row seam at 64
    rows[:, 122:134] = False  # column seam at 128
    rows[10:40, 70:110] = False
    src = np.where(rows, value, np.nan)
    got = _check_fill(
        gridding.fill_empty_cells(_grid_rows(spark, src, rows), g), src, n,
        g, 6,
    )
    assert got.value.isna().sum() > 0
    assert (got.filled == 1).sum() > 0


def test_fill_empty_cells_nan_is_nodata(spark):
    """A NaN-valued input cell is NoData: it is filled from its neighbors
    like an empty cell and never poisons another cell's fill."""
    g = GridSpec(cell=10.0, nrows=20, ncols=20)
    value, n, rng = _ramp(g, 3)
    rows = rng.random(value.shape) > 0.25
    rows[9:12, 9:12] = True
    src = np.where(rows, value, np.nan)
    src[10, 10] = np.nan
    # pandas NaN arrives as NULL: make the (10, 10) row's value a real NaN
    inp = _grid_rows(spark, src, rows).withColumn("value", F.when(
        (F.col("cell_row") == 10) & (F.col("cell_col") == 10),
        F.lit(float("nan")),
    ).otherwise(F.col("value")))
    assert inp.filter(F.isnan("value")).count() == 1
    out = gridding.fill_empty_cells(inp, g, window_size=2)
    assert out.filter(F.isnan("value")).count() == 0
    got = _check_fill(out, src, n, g, 2)
    assert not got.value.isna().any()
    nan_cell = got[(got.cell_row == 10) & (got.cell_col == 10)].iloc[0]
    assert nan_cell.filled == 1 and nan_cell.n == 0


def test_fill_empty_cells_empty_input(spark):
    g = GridSpec(cell=10.0, nrows=30, ncols=70)
    empty = spark.createDataFrame(
        [], "cell_row int, cell_col int, value double, n bigint"
    )
    got = gridding.fill_empty_cells(empty, g).toPandas()
    assert len(got) == g.nrows * g.ncols
    assert not got.duplicated(["cell_row", "cell_col"]).any()
    assert got.value.isna().all()
    assert (got.n == 0).all() and (got.filled == 0).all()


def test_auto_salt_detects_skew_and_matches_plain(spark):
    """80% of points piled into one cell: the pre-pass must pick salt > 0
    and the salted result must equal the plain aggregation."""
    import pandas as pd

    from rgr_pdal_topo_spark.operators.gridding import (
        detect_max_cell_count,
        grid_points,
        grid_points_auto,
    )

    n = 200_000
    rng = np.random.default_rng(4)
    heavy = rng.random(n) < 0.8
    x = np.where(heavy, 2.0 + rng.random(n) * 6.0, rng.random(n) * 1000.0)
    y = np.where(heavy, 2.0 + rng.random(n) * 6.0, rng.random(n) * 1000.0)
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(n), "x": x, "y": y,
                      "z": rng.random(n) * 10.0})
    )
    est = detect_max_cell_count(pts, GRID, fraction=0.05)
    assert est > 100_000  # the dense cell is visible in the sample
    auto = grid_points_auto(
        pts, GRID, output_type="mean", max_rows_per_task=10_000,
        sample_fraction=0.05,
    ).toPandas().sort_values(["cell_row", "cell_col"]).reset_index(drop=True)
    plain = grid_points(pts, GRID, output_type="mean").toPandas().sort_values(
        ["cell_row", "cell_col"]
    ).reset_index(drop=True)
    assert (auto.n.to_numpy() == plain.n.to_numpy()).all()
    np.testing.assert_allclose(auto.value, plain.value, rtol=1e-9)
