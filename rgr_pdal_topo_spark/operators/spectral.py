"""Distributed spectral suite (SURVEY.md §2.9, X1-X6, A6, X10).

Spark mapping:

  * X1 plane fit — exact closed-form least squares via ONE distributed
    aggregation of the normal-equation sums + Cramer's rule (no collect of
    data, only the 3x3 system);
  * X2 detrend — columnar subtraction with broadcast coefficients;
  * X3-X5 FFT forward/filter/inverse — the stencil engine's tile runner
    (operators/stencils.py ``run_tiles``, ``applyInArrow``) with halo 0,
    running the reference kernels verbatim (functions/spectral_kernels.py):
    a tile is the reference's whole grid; spectral analysis windows are
    tile-local by construction, so no halo and no shuffle beyond the
    tile hash;
  * A6 binned median power — computed inside the same per-tile pass
    (bin edges are per-grid in the reference, fftGrid.py:243-269);
  * X10 permutation ensemble — deterministic integer-hash noise grids
    unioned with a perm_id column -> per-cell median/exceedance agg
    (fully oracle-expressible, unlike np.random).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rgr_pdal_topo_spark.functions import spectral_kernels as sk
from rgr_pdal_topo_spark.grid import GridSpec, TileWindow
from rgr_pdal_topo_spark.operators.stencils import (
    core_cells,
    replicate_halo,
    run_tiles,
)

# ---------------------------------------------------------------------------
# X1: distributed plane fit (normal equations, Cramer's rule)
# ---------------------------------------------------------------------------

#: 3x3 determinant select-expressions over the aggregated sums; the SAME
#: SQL text runs in Spark and in the DuckDB oracle (queries.py), so the
#: two sides differ only in float sum order (ROUND 6 in outputs).
PLANE_SUMS_SQL = (
    "SUM(px * px) AS sxx, SUM(px * py) AS sxy, SUM(py * py) AS syy, "
    "SUM(px) AS sx, SUM(py) AS sy, COUNT(*) AS n, "
    "SUM(px * pz) AS sxz, SUM(py * pz) AS syz, SUM(pz) AS sz"
)
PLANE_DET_SQL = (
    "(sxx * (syy * n - sy * sy) - sxy * (sxy * n - sy * sx) "
    "+ sx * (sxy * sy - syy * sx))"
)
PLANE_DETA_SQL = (
    "(sxz * (syy * n - sy * sy) - sxy * (syz * n - sy * sz) "
    "+ sx * (syz * sy - syy * sz))"
)
PLANE_DETB_SQL = (
    "(sxx * (syz * n - sy * sz) - sxz * (sxy * n - sy * sx) "
    "+ sx * (sxy * sz - syz * sx))"
)
PLANE_DETC_SQL = (
    "(sxx * (syy * sz - syz * sy) - sxy * (sxy * sz - syz * sx) "
    "+ sxz * (sxy * sy - syy * sx))"
)
def plane_fit_coeffs(grid_df: DataFrame, grid: GridSpec) -> DataFrame:
    """X1: least-squares plane over cell centers
    (calcPlaneCoefficientsToGrid, dem.py:23-64) — partial+final hash agg,
    one row out; identical closed form to the lstsq normal equations."""
    pts = grid_df.select(
        grid.cell_cx(F.col("cell_col")).alias("px"),
        grid.cell_cy(F.col("cell_row")).alias("py"),
        F.col("value").alias("pz"),
    )
    sums = pts.selectExpr(PLANE_SUMS_SQL.split(", "))
    return sums.selectExpr(
        f"{PLANE_DETA_SQL} / {PLANE_DET_SQL} AS sx_coef",
        f"{PLANE_DETB_SQL} / {PLANE_DET_SQL} AS sy_coef",
        f"{PLANE_DETC_SQL} / {PLANE_DET_SQL} AS intercept",
    )


def detrend(grid_df: DataFrame, grid: GridSpec) -> DataFrame:
    """X2: subtract the fitted plane (removePlaneFromGrid, dem.py:66-88) —
    coefficients broadcast as a 1-row cross join, no collect."""
    coeffs = plane_fit_coeffs(grid_df, grid)
    return (
        grid_df.crossJoin(F.broadcast(coeffs))
        .withColumn(
            "detrended",
            F.col("value")
            - (
                grid.cell_cx(F.col("cell_col")) * F.col("sx_coef")
                + grid.cell_cy(F.col("cell_row")) * F.col("sy_coef")
                + F.col("intercept")
            ),
        )
        .drop("sx_coef", "sy_coef", "intercept")
    )


# ---------------------------------------------------------------------------
# X3-X5 / A6: per-tile FFT pipeline
# ---------------------------------------------------------------------------


def value_tiles(
    grid_df: DataFrame, grid: GridSpec, tile_cells: int, fn, schema: str,
    *carried,
) -> DataFrame:
    """Run ``fn(window, dense)`` (``stencils.run_tiles``, halo 0) on every
    tile holding input rows; ``dense`` holds the tile's ``value`` window
    and one window per extra ``carried`` column."""
    cells = grid_df.select("cell_row", "cell_col", "value", *carried)
    return run_tiles(
        replicate_halo(cells, grid, tile_cells, 0), grid, tile_cells, 0,
        fn, schema,
    )


def tile_surface(grid: GridSpec, win: TileWindow, z: np.ndarray):
    """A tile's dense (z, x, y) from its value window ``z``; missing (NaN)
    cells are filled in place with the tile's fitted plane so they
    contribute 0 after detrending (the reference assumes complete grids)."""
    nr, nc = z.shape
    rows = np.arange(win.row0, win.row0 + nr)
    cols = np.arange(win.col0, win.col0 + nc)
    x = (cols[None, :] + 0.5) * grid.cell + grid.x0
    y = ((grid.nrows - 1) - rows[:, None] + 0.5) * grid.cell + grid.y0
    x = np.broadcast_to(x, (nr, nc)).copy()
    y = np.broadcast_to(y, (nr, nc)).copy()
    miss = np.isnan(z)
    if miss.any():
        ok = ~miss
        coeffs = sk.plane_fit(x[ok], y[ok], z[ok])
        z[miss] = sk.fitted_plane(x[miss], y[miss], coeffs)
    return z, x, y


def fft_power_tiles(
    grid_df: DataFrame, grid: GridSpec, tile_cells: int = 50,
    hann: bool = False,
) -> DataFrame:
    """X3: per-tile forward FFT -> normalized spectral power per frequency
    bin (fftGrid.py:20-71)."""
    schema = (
        "tile_id long, f_row int, f_col int, wavelength double, power double"
    )

    def per_tile(win: TileWindow, dense: dict) -> dict:
        z, x, y = tile_surface(grid, win, dense["value"])
        fwd = sk.fft_forward(z, x, y, grid.cell, grid.cell, hann=hann)
        nr, nc = z.shape
        fr, fc = np.meshgrid(np.arange(nr), np.arange(nc), indexing="ij")
        return {
            "tile_id": np.full(z.size, win.tile_id, dtype="int64"),
            "f_row": fr.ravel().astype("int32"),
            "f_col": fc.ravel().astype("int32"),
            "wavelength": fwd["L"].ravel(),
            "power": fwd["power"].ravel(),
        }

    return value_tiles(grid_df, grid, tile_cells, per_tile, schema)


def fft_filter_tiles(
    grid_df: DataFrame,
    grid: GridSpec,
    filters: list[tuple[str, dict]],
    tile_cells: int = 50,
    hann: bool = False,
) -> DataFrame:
    """X4/X5: apply spectral filters and invert, per tile
    (applyFilters + inverseTransform, fftGrid.py:104-150).
    filters: [(name in spectral_kernels.FILTERS, kwargs), ...].
    Emits only the cells that had an input row."""
    schema = "cell_row int, cell_col int, value double, filtered double"

    def per_tile(win: TileWindow, dense: dict) -> dict:
        z, x, y = tile_surface(grid, win, dense["value"])
        fwd = sk.fft_forward(z, x, y, grid.cell, grid.cell, hann=hann)
        fs = [sk.FILTERS[name](fwd["L"], **kw) for name, kw in filters]
        back = sk.fft_inverse(fwd, fs)
        out = core_cells(win, value=z, filtered=back)
        had_row = ~np.isnan(dense["present"].ravel())
        return {k: v[had_row] for k, v in out.items()}

    return value_tiles(
        grid_df, grid, tile_cells, per_tile, schema,
        F.lit(1.0).alias("present"),
    )


def fft_binned_power_tiles(
    grid_df: DataFrame, grid: GridSpec, tile_cells: int = 50,
    n_bins: int = 20, hann: bool = False,
) -> DataFrame:
    """A6: per-tile wavelength-binned median spectral power + percentile
    envelope (calcWavelengthBinnedMedianPower, fftGrid.py:243-269)."""
    schema = (
        "tile_id long, bin_id int, mid_wavelength double, "
        "median_power double, p_lo double, p_hi double"
    )

    def per_tile(win: TileWindow, dense: dict) -> dict:
        z, x, y = tile_surface(grid, win, dense["value"])
        fwd = sk.fft_forward(z, x, y, grid.cell, grid.cell, hann=hann)
        b = sk.binned_median_power(fwd["L"], fwd["power"], n_bins)
        return {
            "tile_id": np.full(n_bins, win.tile_id, dtype="int64"),
            "bin_id": np.arange(n_bins, dtype="int32"),
            "mid_wavelength": b["mid_wavelength"],
            "median_power": b["median_power"],
            "p_lo": b["p_lo"],
            "p_hi": b["p_hi"],
        }

    return value_tiles(grid_df, grid, tile_cells, per_tile, schema)


# ---------------------------------------------------------------------------
# X10/A10: permutation ensemble with hash noise (oracle-expressible)
# ---------------------------------------------------------------------------

#: SQL fragment for the deterministic per-(cell, perm) noise value; the
#: identical text runs in Spark SQL and DuckDB.  cell_id is reduced mod
#: 2^31-1 before the multiply so the product stays inside int64 at any
#: raster size (a raw cell_id * A would wrap in Spark but error/diverge
#: in ANSI engines once cell ids pass ~3.5e9).
def perm_noise_sql(lo: float, rng: float) -> str:
    return (
        f"({lo!r} + {rng!r} * CAST(((cell_id % 2147483647) * 2654435761 "
        "+ perm * 40503 + 12289) % 100000 AS DOUBLE) / 100000.0)"
    )


def permutation_ensemble(
    grid_df: DataFrame, grid: GridSpec, n_perms: int = 8,
    lo: float = 100.0, rng: float = 30.0,
) -> DataFrame:
    """X10: per-cell median of an ensemble of null grids + exceedance
    count of the observed value (fftGrid.py:542-574, randomGrids.py:
    504-570, re-expressed with hash noise so the oracle can replay it)."""
    spark = grid_df.sparkSession
    perms = spark.range(n_perms).select(F.col("id").alias("perm"))
    base = grid_df.select(
        "cell_row", "cell_col",
        (F.col("cell_row").cast("long") * grid.ncols + F.col("cell_col"))
        .alias("cell_id"),
        F.col("value").alias("observed"),
    )
    noise = base.crossJoin(F.broadcast(perms)).selectExpr(
        "cell_row", "cell_col", "observed",
        perm_noise_sql(lo, rng) + " AS nval",
    )
    return noise.groupBy("cell_row", "cell_col").agg(
        F.expr("percentile(nval, 0.5)").alias("median_null"),
        F.sum(
            F.when(F.col("nval") >= F.col("observed"), 1).otherwise(0)
        ).alias("n_exceed"),
        F.first("observed").alias("observed"),
    )


def spectral_break_tiles(
    grid_df: DataFrame, grid: GridSpec, tile_cells: int = 50,
    hann: bool = False, n_breaks: int = 50,
) -> DataFrame:
    """X6: per-tile scaling-break wavelength via deterministic piecewise
    power-law regression on the spectral power
    (calcWavelengthScalingBreak, fftGrid.py:324-334)."""
    schema = (
        "tile_id long, break_wavelength double, b_left double, "
        "b_right double, sse double"
    )

    def per_tile(win: TileWindow, dense: dict) -> dict:
        z, x, y = tile_surface(grid, win, dense["value"])
        fwd = sk.fft_forward(z, x, y, grid.cell, grid.cell, hann=hann)
        fit = sk.piecewise_powerlaw(fwd["L"], fwd["power"], n_breaks)
        return {
            "tile_id": np.array([win.tile_id], dtype="int64"),
            **{k: np.array([float(fit[k])])
               for k in ("break_wavelength", "b_left", "b_right", "sse")},
        }

    return value_tiles(grid_df, grid, tile_cells, per_tile, schema)
