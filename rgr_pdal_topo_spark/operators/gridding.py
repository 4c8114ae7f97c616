"""points2grid-style gridding: the reference's ``writers.gdal`` sink (A1-A3).

Reference semantics (pointCloudCreation.py:301-324, :311-322):
  * points binned to cells of ``resolution`` metres;
  * ``output_type: "idw"``: inverse-distance-squared weighted mean of the
    points in a cell, distances measured to the CELL CENTER;
  * ``output_type: "mean"/"count"/"min"/"max"``: plain per-cell aggregates;
  * ``window_size: 6``: cells left empty get filled from already-computed
    neighbor CELL values within a square search window of up-to-6-cell
    radius, IDW-weighted by center-to-center distance (points2grid
    densification; PDAL writers.gdal window_size).

Spark shape: one hash aggregation (map-side partial + final) on the cell id —
the canonical scalable groupBy.  The fallback is a stencil kernel
(``idw_fill``, halo = window radius) on the tile runner
(operators/stencils.py), which carries each cell's ``n`` through the tile
beside its value.

Skew (north_rule): a web-scale payload can hash astronomically many records
to one cell.  ``grid_points(..., salt=N)`` runs the same aggregate as an
explicit two-phase (salted) aggregation: partial sums per (cell, salt) then
final per cell.  Results are identical because all aggregates used are
algebraic (sum/count/min/max decompose exactly).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rgr_pdal_topo_spark.grid import GridSpec, TileWindow
from rgr_pdal_topo_spark.operators.stencils import (
    core_cells, replicate_halo, run_tiles, tile_anchors,
)

#: guards 1/d^2 when a point lies exactly on a cell center; value chosen so
#: it never affects the 6-decimal rounded outputs for off-center points.
IDW_EPS = 1e-12


def with_cell(df: DataFrame, grid: GridSpec) -> DataFrame:
    """Attach (cell_row, cell_col) — relational getRowColFromXY
    (baseGrid.py:656-668)."""
    return df.withColumn("cell_col", grid.col_of(F.col("x"))).withColumn(
        "cell_row", grid.row_of(F.col("y"))
    )


def _idw_weight(grid: GridSpec) -> Column:
    dx = F.col("x") - grid.cell_cx(F.col("cell_col"))
    dy = F.col("y") - grid.cell_cy(F.col("cell_row"))
    return F.lit(1.0) / (dx * dx + dy * dy + F.lit(IDW_EPS))


def grid_points(
    points: DataFrame,
    grid: GridSpec,
    value_col: str = "z",
    output_type: str = "idw",
    salt: int = 0,
) -> DataFrame:
    """Aggregate points into a long-form grid DF
    (cell_row, cell_col, value, n).

    ``salt > 0`` forces an explicit two-phase aggregation over a salt key
    derived from the point id — the dense-cell skew strategy required by the
    north_rule (AQE skew handling remains on as backstop).
    """
    pts = with_cell(points, grid)
    v = F.col(value_col)
    if output_type == "idw":
        w = _idw_weight(grid)
        partials = {
            "swv": F.sum(w * v),
            "sw": F.sum(w),
            "n": F.count(F.lit(1)),
        }
        final = (F.col("swv") / F.col("sw")).alias("value")
    elif output_type == "mean":
        partials = {"sv": F.sum(v), "n": F.count(F.lit(1))}
        final = (F.col("sv") / F.col("n")).alias("value")
    elif output_type == "count":
        partials = {"n": F.count(F.lit(1))}
        final = F.col("n").cast("double").alias("value")
    elif output_type in ("min", "max"):
        agg = F.min(v) if output_type == "min" else F.max(v)
        partials = {"mv": agg, "n": F.count(F.lit(1))}
        final = F.col("mv").alias("value")
    else:
        raise ValueError(f"unknown output_type {output_type!r}")

    if salt > 0:
        salted = pts.withColumn("_salt", F.pmod(F.col("pid"), F.lit(salt)))
        phase1 = salted.groupBy("cell_row", "cell_col", "_salt").agg(
            *[c.alias(k) for k, c in partials.items()]
        )
        # re-combine partials: sums add, counts add, min/max re-min/max
        recomb = []
        for k in partials:
            if k in ("swv", "sw", "sv", "n"):
                recomb.append(F.sum(F.col(k)).alias(k))
            elif k == "mv":
                col = (
                    F.min(F.col(k)) if output_type == "min" else F.max(F.col(k))
                )
                recomb.append(col.alias(k))
        agged = phase1.groupBy("cell_row", "cell_col").agg(*recomb)
    else:
        agged = pts.groupBy("cell_row", "cell_col").agg(
            *[c.alias(k) for k, c in partials.items()]
        )

    return agged.select(
        "cell_row", "cell_col", final, F.col("n").alias("n")
    )


def all_cells(spark, grid: GridSpec) -> DataFrame:
    """Dense cell universe (nrows x ncols)."""
    return (
        spark.range(grid.nrows * grid.ncols)
        .selectExpr(
            f"CAST(id / {grid.ncols} AS INT) AS cell_row",
            f"CAST(id % {grid.ncols} AS INT) AS cell_col",
        )
    )


def idw_fill(
    p: np.ndarray, dx: float, dy: float, window_size: int = 6
) -> np.ndarray:
    """points2grid window fallback as a stencil kernel over a window padded
    by ``window_size`` on every side: each NaN cell takes the
    1/center-distance^2 weighted mean of the non-NaN cells within
    Chebyshev radius ``window_size`` (centre excluded); other cells keep
    their value.  NaN where no neighbor is in range."""
    w = window_size
    n, m = p.shape[0] - 2 * w, p.shape[1] - 2 * w
    sw = np.zeros((n, m))
    swv = np.zeros((n, m))
    for dr in range(-w, w + 1):
        for dc in range(-w, w + 1):
            if dr == 0 and dc == 0:
                continue
            v = p[w + dr:w + dr + n, w + dc:w + dc + m]
            ok = ~np.isnan(v)
            wt = 1.0 / ((dr * dy) ** 2 + (dc * dx) ** 2)
            sw += np.where(ok, wt, 0.0)
            swv += np.where(ok, wt * v, 0.0)
    core = p[w:w + n, w:w + m]
    with np.errstate(invalid="ignore"):
        return np.where(np.isnan(core), swv / sw, core)


def fill_empty_cells(
    grid_df: DataFrame, grid: GridSpec, window_size: int = 6,
) -> DataFrame:
    """points2grid window fallback (A3): fill empty cells from filled
    neighbor-cell values within Chebyshev radius ``window_size``, weighted
    by 1/center-distance^2 (pointCloudCreation.py:320 window_size=6).
    A NULL or NaN value is NoData: it is filled, never used as a neighbor.

    Returns the dense grid with columns (cell_row, cell_col, value, n,
    filled int) where filled=1 marks fallback-filled cells; cells with no
    value in range stay as NULL rows with n=0, filled=0.
    """
    tile_cells = max(64, window_size)  # the halo must fit inside one tile

    def fill(win: TileWindow, dense: dict) -> dict:
        # out-of-grid margins are NoData
        padded = np.pad(dense["value"], win.pads, constant_values=np.nan)
        d = float(grid.cell)
        value = idw_fill(padded, d, d, window_size)[: win.nrows, : win.ncols]
        r, c = win.row0 - win.wr0, win.col0 - win.wc0
        core = np.s_[r:r + win.nrows, c:c + win.ncols]
        had = ~np.isnan(dense["value"][core])
        return core_cells(
            win, value=value, n=np.where(had, dense["n"][core], 0.0),
            filled=(~had & ~np.isnan(value)).astype("int32"),
        )

    cells = replicate_halo(
        grid_df.select("cell_row", "cell_col", "value", "n"),
        grid, tile_cells, window_size,
    )
    anchors = tile_anchors(grid_df.sparkSession, grid, tile_cells)
    out = run_tiles(
        cells.unionByName(anchors, allowMissingColumns=True), grid,
        tile_cells, window_size, fill,
        "cell_row int, cell_col int, value double, n double, filled int",
    )
    # n rides the tile as a double (NaN = no row); back to the input type
    return out.withColumn("n", F.col("n").cast(grid_df.schema["n"].dataType))


def detect_max_cell_count(
    points: DataFrame, grid: GridSpec, fraction: float = 0.01,
    seed: int = 99,
) -> int:
    """Skew pre-pass: estimate the densest cell's row count from a seeded
    Bernoulli sample (one cheap partial agg over ~fraction of the data).
    At 10^12 rows a handful of H3 cells can hold billions of points
    (SURVEY.md §7 risk 4); this estimate decides the salting factor
    BEFORE the shuffle instead of discovering the straggler after it."""
    sampled = with_cell(points.sample(fraction=fraction, seed=seed), grid)
    row = (
        sampled.groupBy("cell_row", "cell_col")
        .count()
        .agg(F.max("count").alias("m"))
        .first()
    )
    m = row["m"] or 0
    return int(m / fraction)


def grid_points_auto(
    points: DataFrame,
    grid: GridSpec,
    value_col: str = "z",
    output_type: str = "idw",
    max_rows_per_task: int = 2_000_000,
    sample_fraction: float = 0.01,
) -> DataFrame:
    """grid_points with automatic dense-cell skew handling: a sampling
    pre-pass estimates the heaviest cell; if it exceeds the per-task
    budget the aggregation runs salted two-phase with
    salt = ceil(max_cell / budget) (capped at 64), else single-phase.
    The explicit spelling of the north_rule's "salted-repartition handling
    of dense-cell skew" (AQE remains on as backstop for joins)."""
    est = detect_max_cell_count(points, grid, sample_fraction)
    salt = 0
    if est > max_rows_per_task:
        salt = min(64, -(-est // max_rows_per_task))
    return grid_points(
        points, grid, value_col=value_col, output_type=output_type,
        salt=salt,
    )
