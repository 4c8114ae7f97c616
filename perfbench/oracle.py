"""Expected checksums of every stage, computed without Spark.

DuckDB evaluates the engine's shared SQL fragments (``synth.points_sql``,
``polygons_sql``, ``gps_sql``, ``segments_values_sql``,
``pages.GEO_HTML_SQL``/``GEO_RE``, the grid and cell encoders) over the
same generated parquet.  Raster stages that SQL cannot express are checked
against the engine's whole-grid single-process references
(``stencils.apply_kernel_full``, ``flow_kernels.priority_flood``).

Integers (row counts, non-null counts, integer sums) must match exactly.
Double sums are compared with a relative tolerance of 1e-6: Spark and
DuckDB add in different orders, and grid values are averages, so the last
bits differ while any real defect moves a sum far more.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd

from rgr_pdal_topo_spark import synth
from rgr_pdal_topo_spark.functions.cells import quad_cell_sql
from rgr_pdal_topo_spark.functions.flow_kernels import priority_flood
from rgr_pdal_topo_spark.functions.hexcells import hex_cell_sql
from rgr_pdal_topo_spark.grid import GridSpec
from rgr_pdal_topo_spark.operators import pages
from rgr_pdal_topo_spark.operators.gridding import IDW_EPS
from rgr_pdal_topo_spark.operators.stencils import apply_kernel_full

from workloads import (
    CELL_MOD, DEM_GRID, FLOW_GRID, KNN_BUCKET, SMRF_GRID,
    STENCIL_SPECS, Workload,
)

RTOL = 1e-6


def compare(obs: dict, expected: dict) -> str | None:
    """None when every expected key matches, else a description."""
    bad = []
    for k, e in expected.items():
        a = obs.get(k)
        if a is None:
            a = 0
        if isinstance(e, int):
            ok = a == e
        else:
            ok = math.isclose(a, e, rel_tol=RTOL, abs_tol=RTOL)
        if not ok:
            bad.append(f"{k}={a!r} expected {e!r}")
    return "; ".join(bad) or None


def _row(con, sql: str) -> dict:
    df = con.execute(sql).df()
    return {k: _py(v) for k, v in df.iloc[0].items()}


def _py(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return 0
    if isinstance(v, (int, np.integer)):
        return int(v)
    return float(v)


def _sums_sql(src: str, *cols: str) -> str:
    parts = ["COUNT(*) AS rows"]
    for c in cols:
        parts += [f"SUM({c}) AS sum_{c}", f"COUNT({c}) AS nn_{c}"]
    return f"SELECT {', '.join(parts)} FROM ({src}) t"


def _array_sums(cols: dict[str, np.ndarray]) -> dict:
    out = {}
    for k, a in cols.items():
        ok = ~np.isnan(a)
        out[f"sum_{k}"] = float(a[ok].sum())
        out[f"nn_{k}"] = int(ok.sum())
    return out


def _cells_sql(g: GridSpec, src: str) -> str:
    return (
        f"SELECT *, {g.sql_row_of('y')} AS cell_row, "
        f"{g.sql_col_of('x')} AS cell_col FROM ({src}) s"
    )


def _grid_array(con, g: GridSpec, sql: str) -> np.ndarray:
    """Dense (nrows, ncols) array of a (cell_row, cell_col, value) query."""
    df = con.execute(sql).df()
    arr = np.full((g.nrows, g.ncols), np.nan)
    arr[df["cell_row"].to_numpy(), df["cell_col"].to_numpy()] = df["value"]
    return arr


def _grid_sql(g: GridSpec, agg: str) -> str:
    return (
        f"SELECT cell_row, cell_col, {agg} AS value, COUNT(*) AS n "
        f"FROM ({_cells_sql(g, 'SELECT * FROM pts')}) c "
        "GROUP BY cell_row, cell_col"
    )


def _idw_sql(g: GridSpec) -> str:
    dx = f"(x - {g.sql_cell_cx('cell_col')})"
    dy = f"(y - {g.sql_cell_cy('cell_row')})"
    w = f"(1.0 / ({dx} * {dx} + {dy} * {dy} + {IDW_EPS!r}))"
    return (
        f"SELECT cell_row, cell_col, SUM({w} * z) / SUM({w}) AS value, "
        f"COUNT(*) AS n FROM ({_cells_sql(g, 'SELECT * FROM pts')}) c "
        "GROUP BY cell_row, cell_col"
    )


def _stencils(arr: np.ndarray, g: GridSpec) -> dict:
    out = {
        name: apply_kernel_full(arr, g, kernel, params)
        for name, (kernel, params) in STENCIL_SPECS.items()
    }
    return {"rows": g.nrows * g.ncols, **_array_sums(out)}


def _points(con) -> dict:
    return _row(con, _sums_sql("SELECT * FROM pts", "x", "y", "z", "cls",
                               "intensity"))


def _profile(con) -> dict:
    cand = (
        "SELECT p.pid, s.profile_id, s.seg_idx, s.x1, s.y1, s.x2, s.y2, "
        "s.l_start, p.x, p.y, "
        "((p.x - s.x1) * (s.x2 - s.x1) + (p.y - s.y1) * (s.y2 - s.y1)) / s.l2"
        " AS t FROM pts p CROSS JOIN seg s"
    )
    proj = (
        "SELECT *, x1 + t * (x2 - x1) AS px, y1 + t * (y2 - y1) AS py "
        "FROM cand WHERE t >= 0 AND t <= 1"
    )
    first = (
        "SELECT profile_id, seg_idx, "
        "SQRT((px - x) * (px - x) + (py - y) * (py - y)) AS d, "
        "l_start + SQRT((px - x1) * (px - x1) + (py - y1) * (py - y1)) AS l, "
        "ROW_NUMBER() OVER (PARTITION BY pid, profile_id ORDER BY seg_idx) "
        "AS rn FROM proj"
    )
    return _row(con, (
        f"WITH seg AS ({synth.segments_values_sql()}), cand AS ({cand}), "
        f"proj AS ({proj}), first AS ({first}) "
        + _sums_sql("SELECT * FROM first WHERE rn = 1",
                    "profile_id", "seg_idx", "d", "l")
    ))


def _knn(con, bucket: float = KNN_BUCKET) -> dict:
    """Exact k=1 neighbour per GPS query by 3x3 bucket ring; every ring
    winner lies within one bucket, so it is the true nearest point."""
    b = repr(bucket)
    sql = (
        f"WITH q AS ({synth.gps_sql('supplier')}), "
        "qb AS (SELECT gps_id, gx, gy, "
        f"CAST(FLOOR(gx / {b}) AS BIGINT) + ox AS bx, "
        f"CAST(FLOOR(gy / {b}) AS BIGINT) + oy AS by FROM q, "
        "(VALUES (-1), (0), (1)) a(ox), (VALUES (-1), (0), (1)) c(oy)), "
        f"pb AS (SELECT pid, x, y, CAST(FLOOR(x / {b}) AS BIGINT) AS bx, "
        f"CAST(FLOOR(y / {b}) AS BIGINT) AS by FROM pts), "
        "cand AS (SELECT gps_id, pid, (x - gx) * (x - gx) + (y - gy) * (y - gy)"
        " AS dist2 FROM qb JOIN pb USING (bx, by)), "
        "best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY gps_id "
        "ORDER BY dist2, pid) AS rn FROM cand) "
        "SELECT * FROM best WHERE rn = 1"
    )
    best = con.execute(sql).df()
    n_queries = con.execute("SELECT COUNT(*) FROM supplier").fetchone()[0]
    if len(best) != n_queries or (best["dist2"] > bucket * bucket).any():
        raise RuntimeError("kNN oracle: ring guarantee failed; input too sparse")
    return {
        "rows": len(best), "sum_dist2": float(best["dist2"].sum()),
        "nn_dist2": len(best), "sum_pid": int(best["pid"].sum()),
        "nn_pid": len(best),
    }


def _fill_empty(arr: np.ndarray, g: GridSpec, window: int = 6) -> np.ndarray:
    """NumPy twin of gridding.fill_empty_cells: each empty cell takes the
    1/d^2-weighted mean of the filled cells within Chebyshev radius
    ``window``."""
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


def _terrain(con) -> dict[str, dict]:
    grid = _grid_array(con, DEM_GRID, _idw_sql(DEM_GRID))
    sten = _stencils(grid, DEM_GRID)
    pip = (
        f"SELECT polygon_id, COUNT(*) AS n, AVG(z) AS mean_z FROM pts p "
        f"JOIN ({synth.polygons_sql('nation')}) g ON p.x >= g.xmin "
        "AND p.x < g.xmin + g.width AND p.y >= g.ymin "
        "AND p.y < g.ymin + g.height GROUP BY polygon_id"
    )

    minz = _grid_array(con, SMRF_GRID, _grid_sql(SMRF_GRID, "MIN(z)"))
    surf = apply_kernel_full(minz, SMRF_GRID, "smrf_surface",
                             {"max_window": 4, "slope": 0.15})
    rr, cc = np.nonzero(~np.isnan(surf))
    con.register("surf", pd.DataFrame(
        {"cell_row": rr, "cell_col": cc, "s": surf[rr, cc]}))
    smrf = _row(con, _sums_sql(
        "SELECT CAST(s IS NOT NULL AND ABS(z - s) <= 0.5 AS INT) AS is_ground,"
        f" s AS ground_surface FROM ({_cells_sql(SMRF_GRID, 'SELECT * FROM pts')})"
        " p LEFT JOIN surf USING (cell_row, cell_col)",
        "is_ground", "ground_surface"))

    coarse = _grid_array(con, FLOW_GRID, _grid_sql(FLOW_GRID, "AVG(z)"))
    dense = _fill_empty(coarse, FLOW_GRID)
    filled = (np.isnan(coarse) & ~np.isnan(dense)).astype(float)
    fill = priority_flood(dense, FLOW_GRID.cell, FLOW_GRID.cell, 1e-7)
    valid = ~np.isnan(dense)
    n_valid = int(valid.sum())
    return {
        "points": _points(con),
        "grid_idw": _row(con, _sums_sql(_idw_sql(DEM_GRID), "value", "n")),
        "stencils": sten,
        "pip_rect": _row(con, _sums_sql(pip, "n", "mean_z")),
        "profile": _profile(con),
        "knn": _knn(con),
        "smrf": smrf,
        "fill_empty": {"rows": FLOW_GRID.nrows * FLOW_GRID.ncols,
                       **_array_sums({"value": dense, "filled": filled})},
        "fill_dem": {"rows": n_valid, "below": 0,
                     **_array_sums({"fill": np.where(valid, fill, np.nan),
                                    "z": dense})},
        "checkpoint": {
            **sten,
            "sum_cell_row": DEM_GRID.ncols * sum(range(DEM_GRID.nrows)),
            "nn_cell_row": sten["rows"],
        },
    }


def _pages(con, indir: str) -> dict[str, dict]:
    geo = (
        f"SELECT doc_id, CAST(regexp_extract(html, '{pages.GEO_RE}', 1) AS BIGINT)"
        f" AS lat_milli, CAST(regexp_extract(html, '{pages.GEO_RE}', 2) AS BIGINT)"
        f" AS lon_milli FROM (SELECT doc_id, {pages.GEO_HTML_SQL} AS html "
        "FROM documents) d"
    )
    lonlat = (
        "SELECT doc_id AS pid, CAST(doc_id % 1000 AS INT) AS site, "
        "CAST(lon_milli AS DOUBLE) / 1000.0 AS x, "
        "CAST(lat_milli AS DOUBLE) / 1000.0 AS y FROM geo"
    )
    cells = (
        f"SELECT *, {hex_cell_sql('x', 'y', 6)} AS hex, "
        f"{quad_cell_sql('x', 'y', 12)} AS quad FROM ({lonlat}) l"
    )
    con.execute(f"CREATE TEMP TABLE geo AS {geo}")
    con.execute(f"CREATE TEMP TABLE cells AS {cells}")
    polys = os.path.join(indir, "page_polygons.parquet")
    rollup = (
        "SELECT polygon_id, COUNT(*) AS pages, COUNT(DISTINCT hex) AS cells, "
        f"COUNT(DISTINCT site) AS sites FROM cells c JOIN read_parquet('{polys}')"
        " g ON c.x >= g.xmin AND c.x < g.xmin + g.width AND c.y >= g.ymin "
        "AND c.y < g.ymin + g.height GROUP BY polygon_id"
    )
    m = CELL_MOD
    cells_sums = _row(con, _sums_sql("SELECT * FROM cells", "pid", "site"))
    cells_sums.update(_row(con, (
        f"SELECT SUM(((hex % {m}) + {m}) % {m}) AS hex_mod, "
        f"SUM(((quad % {m}) + {m}) % {m}) AS quad_mod FROM cells"
    )))
    extract = _row(con, _sums_sql(
        "SELECT doc_id, 0 AS mismatch FROM documents", "mismatch", "doc_id"))
    return {
        "extract": extract,
        "geo": _row(con, _sums_sql("SELECT * FROM geo", "lat_milli",
                                   "lon_milli")),
        "cells": cells_sums,
        "pip_rtree": _row(con, _sums_sql(rollup, "pages", "cells", "sites")),
    }


def expected(wl: Workload, indir: str) -> dict[str, dict]:
    """stage name -> expected observation values for ``wl`` over ``indir``."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in ("orders", "nation", "supplier", "documents"):
            path = os.path.join(indir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        if wl.name == "pages_geo":
            return _pages(con, indir)
        con.execute(f"CREATE TEMP TABLE pts AS {synth.points_sql('orders')}")
        return _terrain(con)
    finally:
        con.close()
