"""SMRF ground classification on a synthetic scene: flat-ish terrain with
box 'buildings' — roofs must classify non-ground, open terrain ground."""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd

from rgr_pdal_topo_spark.grid import GridSpec
from rgr_pdal_topo_spark.operators.smrf import classify_ground, smrf_surface


def _scene() -> pd.DataFrame:
    """4 points/cell over a 60x60-cell (600 m) area: gentle plane +
    two 10-cell-wide, 8 m-tall buildings."""
    rng = np.random.default_rng(7)
    n = 4 * 60 * 60
    x = rng.uniform(0, 600, n)
    y = rng.uniform(0, 600, n)
    ground = 50.0 + 0.01 * x + 0.005 * y
    z = ground + rng.uniform(0, 0.2, n)
    in_b1 = (x >= 100) & (x < 200) & (y >= 100) & (y < 200)
    in_b2 = (x >= 350) & (x < 450) & (y >= 300) & (y < 400)
    z = np.where(in_b1 | in_b2, ground + 8.0, z)
    return pd.DataFrame(
        {
            "pid": np.arange(n),
            "x": x,
            "y": y,
            "z": z,
            "roof": (in_b1 | in_b2).astype(int),
        }
    )


def test_smrf_surface_removes_buildings():
    """Kernel-level: opening flattens an 8 m box on a plane."""
    g = np.zeros((40, 40))
    g[10:20, 10:20] = 8.0  # 10-cell box: removed once 2r+1 > 10 (r=5),
    # where the drop 8 m > slope*r*cell = 7.5 m -> flagged as object
    h = 2 * sum(range(1, 7))  # halo for max_window=6
    p = np.pad(g, h, constant_values=np.nan)
    out = smrf_surface(p, 10.0, 10.0, max_window=6, slope=0.15)
    assert np.nanmax(out[12:18, 12:18]) < 1.0
    # terrain far away untouched
    assert abs(out[30, 30]) < 1e-12


def test_smrf_surface_all_nan_tile_is_silent_nan():
    """Edge tile: an all-NaN min-z grid (no points in the tile or its
    halo) opens to an all-NaN surface without a warning."""
    h = 2 * sum(range(1, 5))  # halo for the default max_window=4
    p = np.full((6 + 2 * h, 6 + 2 * h), np.nan)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = smrf_surface(p, 1.0, 1.0)
    assert out.shape == (6, 6)
    assert np.isnan(out).all()


def test_classify_ground_scene(spark):
    pdf = _scene()
    grid = GridSpec(x0=0.0, y0=0.0, cell=10.0, nrows=60, ncols=60)
    df = spark.createDataFrame(pdf)
    out = classify_ground(
        df, grid, max_window=6, slope=0.12, dh_threshold=0.6, tile_cells=60
    ).toPandas()
    merged = out.merge(pdf[["pid", "roof"]], on="pid", suffixes=("", "_y"))
    roof = merged[merged.roof_y == 1]
    open_t = merged[merged.roof_y == 0]
    # roofs: overwhelmingly non-ground
    assert (roof.is_ground == 0).mean() > 0.95
    # open terrain: overwhelmingly ground
    assert (open_t.is_ground == 1).mean() > 0.90


def test_oracle_matches_kernel_on_edge_ridge(ddb):
    """Adversarial boundary case: a ridge on the outermost grid rows.  The
    engine's NaN-margin opening keeps border relief that an in-grid-only
    erosion universe would flatten (20/400 cells differed before the
    oracle gained the extended erosion universe); replay the SQL oracle's
    morphology on a synthetic 20x20 grid and require bit-equality with
    the NumPy kernel."""
    import numpy as np
    import pandas as pd

    from rgr_pdal_topo_spark.operators.smrf import _smrf_halo, smrf_surface
    from rgr_pdal_topo_spark.queries import _smrf_oracle_sql

    n, cell = 20, 10.0
    z = np.zeros((n, n))
    z[0, :] = 10.0       # ridge on the border
    z[:, n - 1] = 10.0
    z[7, 7] = np.nan     # interior hole

    h = _smrf_halo({"max_window": 4})
    arr = np.full((n + 2 * h, n + 2 * h), np.nan)
    arr[h:-h, h:-h] = z
    expected = smrf_surface(arr, cell, cell)

    rows = [
        (r * n + c, float(z[r, c]))
        for r in range(n) for c in range(n)
        if not np.isnan(z[r, c])
    ]
    con = ddb.cursor()
    con.execute("CREATE TEMP TABLE ridge(pid BIGINT, zz DOUBLE)")
    con.executemany("INSERT INTO ridge VALUES (?, ?)", rows)
    prelude = (
        f"WITH cells AS (SELECT pid, CAST(pid // {n} AS INT) AS cell_row, "
        f"CAST(pid % {n} AS INT) AS cell_col, zz AS z, 2 AS cls "
        "FROM ridge), "
    )
    sql = _smrf_oracle_sql(n=n, cell=cell, prelude=prelude, final="cells")
    got_df = con.execute(sql).df()
    got = np.full((n, n), np.nan)
    got[got_df.cell_row, got_df.cell_col] = got_df.v.to_numpy()
    np.testing.assert_array_equal(got, expected)
