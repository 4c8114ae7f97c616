"""Stencil engine: tiled applyInArrow == whole-grid NumPy oracle, plus
analytic property checks matching the reference formulas (dem.py)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from rgr_pdal_topo_spark.grid import GridSpec
from rgr_pdal_topo_spark.operators.stencils import (
    apply_kernel_full,
    replicate_halo,
    run_stencil,
    run_stencils,
)

# nano-fixture scale (reference OD_10m_nanoTest.tif is 95x139)
NR, NC = 95, 139
GRID = GridSpec(x0=0.0, y0=0.0, cell=10.0, nrows=NR, ncols=NC)


def make_dem(with_nans: bool = True) -> np.ndarray:
    """Plane + Gaussian hill + pit + deterministic noise (FIXTURES.md §3)."""
    rng = np.random.default_rng(42)
    r = np.arange(NR)[:, None]
    c = np.arange(NC)[None, :]
    z = (
        100.0
        + 0.05 * c * GRID.cell
        - 0.02 * r * GRID.cell
        + 20.0 * np.exp(-(((r - 40) ** 2 + (c - 60) ** 2) / 300.0))
        - 10.0 * np.exp(-(((r - 70) ** 2 + (c - 100) ** 2) / 80.0))
        + rng.normal(0, 0.05, (NR, NC))
    )
    if with_nans:
        z[5:9, 10:15] = np.nan  # a NoData hole
    return z


def grid_to_df(spark, arr: np.ndarray):
    nr, nc = arr.shape
    rows, cols = np.meshgrid(np.arange(nr), np.arange(nc), indexing="ij")
    pdf = pd.DataFrame(
        {
            "cell_row": rows.ravel().astype("int32"),
            "cell_col": cols.ravel().astype("int32"),
            "value": arr.ravel(),
        }
    )
    pdf = pdf[~np.isnan(pdf.value)]  # sparse long form: NaN rows absent
    return spark.createDataFrame(pdf)


def df_to_grid(pdf: pd.DataFrame, col: str, nr=NR, nc=NC) -> np.ndarray:
    out = np.full((nr, nc), np.nan)
    out[pdf.cell_row.to_numpy(), pdf.cell_col.to_numpy()] = pdf[col].to_numpy()
    return out


ALL_KERNELS = [
    ("slope_x", {}),
    ("slope_y", {}),
    ("slope_mag", {}),
    ("laplacian", {}),
    ("contour_curvature", {}),
    ("hillshade", {}),
    ("aspect", {}),
    ("windowed_slope_mag", {"N": 2}),
    ("windowed_laplacian", {"N": 3}),
    ("gaussian_mean", {"pixel_width": 2.0}),
    ("windowed_std", {"pixel_width": 10}),
    ("windowed_std", {"pixel_width": 5, "circular": True}),
    ("windowed_median", {"pixel_width": 10}),
    ("tpi", {"inner_radius": 30.0, "outer_radius": 60.0}),
    ("d8_flow_dir", {}),
    ("d8_slope", {}),
]


@pytest.fixture(scope="module")
def dem_df(spark):
    return grid_to_df(spark, make_dem()).cache()


@pytest.mark.parametrize("kernel,params", ALL_KERNELS)
def test_tiled_equals_full(spark, dem_df, kernel, params):
    dem = make_dem()
    exp = apply_kernel_full(dem, GRID, kernel, params)
    got_pdf = run_stencil(dem_df, GRID, kernel, params, tile_cells=32).toPandas()
    got = df_to_grid(got_pdf, kernel)
    np.testing.assert_allclose(got, exp, rtol=1e-12, atol=1e-12, equal_nan=True)


def test_tile_size_invariance(spark, dem_df):
    """Same result for different tile sizes (halo correctness)."""
    a = run_stencil(dem_df, GRID, "tpi",
                    {"inner_radius": 30.0, "outer_radius": 60.0},
                    tile_cells=64).toPandas()
    b = run_stencil(dem_df, GRID, "tpi",
                    {"inner_radius": 30.0, "outer_radius": 60.0},
                    tile_cells=100).toPandas()
    ga, gb = df_to_grid(a, "tpi"), df_to_grid(b, "tpi")
    np.testing.assert_allclose(ga, gb, rtol=0, atol=0, equal_nan=True)


def test_null_contract_with_all_null_tile(spark, dem_df):
    """Output contract on masked input (NULL-value cells) plus one tile
    whose input cells are all NULL: the full dense row set, a missing
    output is SQL NULL and never NaN — exactly where the whole-grid
    oracle has NaN — and every other value equals the oracle bit for
    bit."""
    import pyspark.sql.functions as F

    T = 32
    masked_expr = ((F.col("cell_row") * 97 + F.col("cell_col")) % 13 == 5) | (
        (F.col("cell_row") < T) & (F.col("cell_col") >= 2 * T)
        & (F.col("cell_col") < 3 * T)
    )
    masked = dem_df.withColumn(
        "value", F.when(masked_expr, None).otherwise(F.col("value"))
    )
    dem = make_dem()
    r, c = np.meshgrid(np.arange(NR), np.arange(NC), indexing="ij")
    dem[((r * 97 + c) % 13 == 5) | ((r < T) & (c >= 2 * T) & (c < 3 * T))] = np.nan
    specs = {
        "hs": ("hillshade", {}),
        "tpi": ("tpi", {"inner_radius": 10.0, "outer_radius": 30.0}),
        "med": ("windowed_median", {"pixel_width": 5}),
    }
    out = run_stencils(masked, GRID, specs, tile_cells=T)
    assert out.count() == NR * NC
    got = out.toPandas()
    for col, (kernel, params) in specs.items():
        exp = apply_kernel_full(dem, GRID, kernel, params)
        n_null, n_nan = out.select(
            F.count(F.when(F.isnull(col), 1)),
            F.count(F.when(F.isnan(col), 1)),
        ).first()
        assert n_nan == 0, col
        assert n_null == np.isnan(exp).sum() > 0, col
        g = df_to_grid(got, col)
        assert np.array_equal(np.isnan(g), np.isnan(exp)), col
        ok = ~np.isnan(exp)
        assert np.array_equal(g[ok].view("int64"), exp[ok].view("int64")), col


@pytest.mark.parametrize("nrows,ncols,T", [(40, 48, 16), (37, 53, 7)])
def test_replicate_halo_brute_force(spark, nrows, ncols, T):
    """Every in-extent cell lands in exactly the tiles whose padded window
    holds it, one of them its home tile; out-of-extent cells land nowhere.
    Checked against a NumPy enumeration of each tile's window, and
    against GridSpec.tile_window."""
    g = GridSpec(cell=10.0, nrows=nrows, ncols=ncols)
    r, c = np.meshgrid(np.arange(-7, nrows + 7), np.arange(-7, ncols + 7),
                       indexing="ij")
    cells = spark.createDataFrame(pd.DataFrame(
        {"cell_row": r.ravel().astype("int32"),
         "cell_col": c.ravel().astype("int32")}
    ))
    ty, tx = -(-nrows // T), -(-ncols // T)
    assert g.tile_counts(T) == (ty, tx)
    for halo in (0, 1, 6):
        got = replicate_halo(cells, g, T, halo).toPandas()
        expected = set()
        for tr in range(ty):
            for tc in range(tx):
                rows = np.arange(max(tr * T - halo, 0),
                                 min((tr + 1) * T + halo, nrows))
                cols = np.arange(max(tc * T - halo, 0),
                                 min((tc + 1) * T + halo, ncols))
                tid = tr * tx + tc
                expected |= {(tid, a, b) for a in rows for b in cols}
                win = g.tile_window(tid, T, halo)
                assert (win.wr0, win.wr1) == (rows[0], rows[-1] + 1)
                assert (win.wc0, win.wc1) == (cols[0], cols[-1] + 1)
                core = np.zeros((len(rows), len(cols)), dtype=bool)
                core[win.core] = True
                assert np.array_equal(
                    core,
                    (rows[:, None] // T == tr) & (cols[None, :] // T == tc),
                )
        triples = list(zip(got.tile_id, got.cell_row, got.cell_col))
        assert len(triples) == len(set(triples)), halo
        assert set(triples) == expected, halo
        home = got[got.tile_id == (got.cell_row // T) * tx
                   + got.cell_col // T]
        assert len(home) == nrows * ncols, halo
        assert not home.duplicated(["cell_row", "cell_col"]).any(), halo


def test_empty_input_emits_null_universe(spark):
    empty = spark.createDataFrame([], "cell_row int, cell_col int, value double")
    specs = {"hs": ("hillshade", {}), "smag": ("slope_mag", {}),
             "tpi": ("tpi", {"inner_radius": 10.0, "outer_radius": 30.0})}
    out = run_stencils(empty, GRID, specs, tile_cells=32).toPandas()
    assert len(out) == NR * NC
    assert not out.duplicated(["cell_row", "cell_col"]).any()
    assert out[list(specs)].isna().all().all()


def test_multi_kernel_single_shuffle(spark, dem_df):
    out = run_stencils(
        dem_df,
        GRID,
        {
            "hs": ("hillshade", {}),
            "smag": ("slope_mag", {}),
            "rough": ("windowed_std", {"pixel_width": 5}),
        },
        tile_cells=48,
    ).toPandas()
    dem = make_dem()
    np.testing.assert_allclose(
        df_to_grid(out, "hs"), apply_kernel_full(dem, GRID, "hillshade"),
        rtol=1e-12, equal_nan=True,
    )
    np.testing.assert_allclose(
        df_to_grid(out, "rough"),
        apply_kernel_full(dem, GRID, "windowed_std", {"pixel_width": 5}),
        rtol=1e-12, atol=1e-12, equal_nan=True,
    )


def test_plane_properties(spark):
    """Reference-formula sanity: plane -> constant slopes, zero laplacian,
    uniform hillshade; TPI ~ 0 in the interior."""
    r = np.arange(40)[:, None]
    c = np.arange(50)[None, :]
    plane = 10.0 + 0.3 * c * GRID.cell - 0.1 * r * GRID.cell
    g = GridSpec(cell=10.0, nrows=40, ncols=50)
    df = grid_to_df(spark, plane)
    out = run_stencils(
        df, g,
        {"sx": ("slope_x", {}), "sy": ("slope_y", {}),
         "lap": ("laplacian", {}), "hs": ("hillshade", {}),
         "tpi": ("tpi", {"inner_radius": 20.0, "outer_radius": 40.0})},
        tile_cells=32,
    ).toPandas()
    sx = df_to_grid(out, "sx", 40, 50)[1:-1, 1:-1]
    sy = df_to_grid(out, "sy", 40, 50)[1:-1, 1:-1]
    # d z/d x = +0.3; row 0 is north so z decreases with row => Sy = +0.1
    np.testing.assert_allclose(sx, 0.3, rtol=1e-9)
    np.testing.assert_allclose(sy, 0.1, rtol=1e-9)
    np.testing.assert_allclose(
        df_to_grid(out, "lap", 40, 50)[1:-1, 1:-1], 0.0, atol=1e-9
    )
    hs = df_to_grid(out, "hs", 40, 50)[1:-1, 1:-1]
    assert np.nanstd(hs) < 1e-9
    t = df_to_grid(out, "tpi", 40, 50)[4:-4, 4:-4]
    np.testing.assert_allclose(t, 0.0, atol=1e-8)


def test_d8_codes_point_downhill(spark):
    """Single peak drains outward with ArcGIS codes
    (flowRoutingGrids.py:52-65)."""
    n = 11
    r = np.arange(n)[:, None]
    c = np.arange(n)[None, :]
    bowl = 100.0 + ((r - 5.0) ** 2 + (c - 5.0) ** 2)
    g = GridSpec(cell=10.0, nrows=n, ncols=n)
    out = run_stencil(grid_to_df(spark, bowl), g, "d8_flow_dir",
                      tile_cells=16).toPandas()
    fd = df_to_grid(out, "d8_flow_dir", n, n)
    # cells drain toward the pit: east side flows west (16), west side flows
    # east (1), south side flows north (64), north side flows south (4)
    assert fd[5, 7] == 16.0
    assert fd[5, 3] == 1.0
    assert fd[7, 5] == 64.0
    assert fd[3, 5] == 4.0
    assert fd[5, 5] == 0.0  # pit: no positive descent -> code 0


def test_tpi_oracle_divisor_and_dense_parity():
    """Regression for a live bug (rounds 1-2): the q_tpi oracle divided
    the annulus sum by 112 while the kernel normalizes by
    footprint.sum() == 84 — invisible because no 13x13 window fully
    populates at driver data density.  Pin the divisors the SQL strings
    hardcode to the kernel's footprint counts, and check the oracle
    formula (value - s_ann / n) against the kernel on a fully dense
    grid for both annulus configs."""
    import numpy as np

    from rgr_pdal_topo_spark.functions.kernels import tpi, tpi_halo
    from rgr_pdal_topo_spark.queries import ORACLES

    for inner, outer, members, square in [
        (30.0, 60.0, 84, 169),   # dedicated tpi query
        (10.0, 20.0, 8, 25),     # stencil_suite (non-vacuous at sf0.01)
    ]:
        wx = int(np.ceil(outer / 10.0))
        X, Y = np.meshgrid(
            np.arange(-wx, wx + 1) * 10.0, np.arange(-wx, wx + 1) * 10.0
        )
        dist = np.sqrt(X * X + Y * Y)
        ann = (dist > inner) & (dist <= outer)
        assert ann.sum() == members
        assert (2 * wx + 1) ** 2 == square

        rng = np.random.default_rng(3)
        grid = rng.uniform(90.0, 130.0, size=(40, 40))
        h = tpi_halo(outer, 10.0, 10.0)
        p = np.pad(grid, h, mode="constant", constant_values=np.nan)
        k = tpi(p, 10.0, 10.0, inner_radius=inner, outer_radius=outer)
        # oracle arithmetic on the same dense interior
        for r, c in [(h + 1, h + 2), (20, 20), (39 - h - 1, 39 - h - 1)]:
            win = grid[r - wx : r + wx + 1, c - wx : c + wx + 1]
            if win.shape != (2 * wx + 1, 2 * wx + 1):
                continue
            expect = grid[r, c] - win[ann].sum() / members
            assert abs(k[r, c] - expect) < 1e-9, (inner, outer, r, c)

    # and the SQL strings actually carry those divisors
    assert "s_ann / 84.0" in ORACLES["tpi"]
    assert "s_ann / 8.0" in ORACLES["stencil_suite"]
    assert "112" not in ORACLES["tpi"]
