"""Distributed stencil execution: tile materialization + halo replication.

The reference's tiled pipeline builds per-tile requests with a halo
(``tileOverlap``, pointCloudCreation.py:458-495 at :489) and runs NumPy
kernels eagerly per grid (dem.py).  Here the same shape is Spark-native:

  1. ``replicate_halo``: long-form grid rows are assigned to their home
     tile AND replicated into the halo region of up-to-3 neighboring tiles
     (a deliberate row-duplication transform — Catalyst cannot invent it,
     SURVEY.md §4);
  2. ``run_tiles``: one grouped-map stage per tile (``applyInArrow``)
     materializes the tile's dense float64 window (NaN = missing/NoData);
     ``run_stencils`` pads it out to (T+2h) x (T+2h) and runs the
     *identical* reference kernel (functions/kernels.py);
  3. each tile emits only its own core cells (``core_cells``), so the
     union over tiles is exactly the single-machine full-grid result —
     asserted by tests/test_stencils.py against the whole-grid oracle.

Steps 1 and 2 are the engine's one way to run a per-tile raster function:
``gridding.fill_empty_cells`` runs its ``idw_fill`` kernel through them
(carrying ``n`` beside the value), ``flow.fill_dem`` its per-tile priority
flood, and the spectral/terrain tile operators run through them with
halo 0 and their own output schemas.
Tile geometry (counts, core, padded window) comes from ``GridSpec``.

Global-edge boundary conditions are applied per kernel ``pad_mode``
("repeat" = _getBCgrid edge replication, "nan" = constant-NaN,
"reflect" = scipy gaussian_filter default) with np.pad on the out-of-grid
margins only; interior tile borders always see real halo data.

Scale notes: the shuffle is one hash partition by tile_id with ~(1+2h/T)^2
replication overhead; tile size bounds executor memory at
(T+2h)^2 * 8 bytes per group regardless of total grid size.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rgr_pdal_topo_spark.functions.kernels import KERNELS, kernel_halo
from rgr_pdal_topo_spark.grid import GridSpec, TileWindow

_PAD_NUMPY_MODE = {"repeat": "edge", "reflect": "symmetric"}


def _pad(arr: np.ndarray, pad_width, pad_mode: str) -> np.ndarray:
    mode = _PAD_NUMPY_MODE.get(pad_mode)
    if mode:
        return np.pad(arr, pad_width, mode=mode)
    return np.pad(arr, pad_width, mode="constant", constant_values=np.nan)


def replicate_halo(
    df: DataFrame, grid: GridSpec, tile_cells: int, halo: int
) -> DataFrame:
    """Replicate each cell row of ``df`` into every tile whose padded
    window (``GridSpec.tile_window``) holds it, adding ``tile_id``.

    Rows outside the grid extent are dropped: they would scatter into
    wrong window positions (negative numpy indexing) or crash the worker.
    """
    if halo > tile_cells:
        raise ValueError(f"halo {halo} must be <= tile_cells {tile_cells}")
    ty, tx = grid.tile_counts(tile_cells)
    # halo <= tile_cells: a cell's tiles are its home tile and neighbours;
    # the 3x3 offsets are a generator, so no relation is broadcast
    offs = F.inline(F.array(*[
        F.struct(F.lit(a).alias("dtr"), F.lit(b).alias("dtc"))
        for a in (-1, 0, 1) for b in (-1, 0, 1)
    ]))
    t, h = F.lit(tile_cells), F.lit(halo)
    row, col = F.col("cell_row"), F.col("cell_col")
    tr, tc = F.col("tr"), F.col("tc")
    return (
        df.filter(grid.contains(row, col))
        .select("*", offs)
        .withColumn("tr", F.floor(row / t).cast("int") + F.col("dtr"))
        .withColumn("tc", F.floor(col / t).cast("int") + F.col("dtc"))
        .filter(
            (tr >= 0) & (tr < ty) & (tc >= 0) & (tc < tx)
            & (row >= tr * t - h) & (row < (tr + 1) * t + h)
            & (col >= tc * t - h) & (col < (tc + 1) * t + h)
        )
        .select(
            (tr.cast("long") * F.lit(tx) + tc).alias("tile_id"),
            *df.columns,
        )
    )


def tile_anchors(spark, grid: GridSpec, tile_cells: int) -> DataFrame:
    """One row per tile with NULL cell_row/cell_col: fed to ``run_tiles``,
    it makes every tile run whether or not it holds input rows."""
    ty, tx = grid.tile_counts(tile_cells)
    return spark.range(ty * tx).selectExpr(
        "id AS tile_id",
        "CAST(NULL AS INT) AS cell_row",
        "CAST(NULL AS INT) AS cell_col",
    )


def run_tiles(
    tiles: DataFrame,
    grid: GridSpec,
    tile_cells: int,
    halo: int,
    fn: Callable[[TileWindow, dict[str, np.ndarray]], dict[str, np.ndarray]],
    schema: str,
) -> DataFrame:
    """Per-tile runner over tile-keyed cell rows (``replicate_halo`` and
    ``tile_anchors`` output): one ``applyInArrow`` group per tile.

    Each carried column (all but tile_id/cell_row/cell_col) is scattered
    into a dense float64 window array, NaN where no row landed.
    ``fn(window, dense)`` returns equal-length columns ``{name: array}``
    with the names, order and types of ``schema`` (a DDL string);
    ``window.tile_id`` is the tile's id and ``core_cells`` builds the usual
    one row per core cell.  A row whose cell_row is NULL only makes its
    tile run.  RecordBatch columns convert to/from NumPy without the pandas
    block-manager copy on either side of the worker.
    """
    keys = ("tile_id", "cell_row", "cell_col")
    carried = [c for c in tiles.columns if c not in keys]

    def run_tile(tbl):
        import pyarrow as pa
        import pyarrow.compute as pc

        tile_id = tbl.column("tile_id")[0].as_py()
        win = grid.tile_window(tile_id, tile_cells, halo)
        data = tbl.filter(pc.is_valid(tbl.column("cell_row")))
        rr = data.column("cell_row").to_numpy().astype("int64") - win.wr0
        cc = data.column("cell_col").to_numpy().astype("int64") - win.wc0
        dense = {}
        for c in carried:
            dense[c] = np.full((win.wr1 - win.wr0, win.wc1 - win.wc0), np.nan)
            dense[c][rr, cc] = data.column(c).to_numpy().astype("float64")
        # from_pandas=True converts NaN -> NULL: a missing output value is
        # SQL NULL, never NaN
        return pa.table(
            {k: pa.array(v, from_pandas=True)
             for k, v in fn(win, dense).items()}
        )

    return tiles.groupBy("tile_id").applyInArrow(run_tile, schema=schema)


def core_cells(win: TileWindow, **outs: np.ndarray) -> dict[str, np.ndarray]:
    """(cell_row int, cell_col int, *outs) for every core cell of ``win``;
    each ``outs`` array has the core's shape."""
    rows, cols = np.meshgrid(
        np.arange(win.row0, win.row0 + win.nrows),
        np.arange(win.col0, win.col0 + win.ncols),
        indexing="ij",
    )
    return {
        "cell_row": rows.ravel().astype("int32"),
        "cell_col": cols.ravel().astype("int32"),
        **{k: v.ravel() for k, v in outs.items()},
    }


def run_stencils(
    grid_df: DataFrame,
    grid: GridSpec,
    specs: dict[str, tuple[str, dict]],
    tile_cells: int = 64,
    value_col: str = "value",
) -> DataFrame:
    """Run one or more stencil kernels over a long-form grid in ONE shuffle.

    specs: {output_column: (kernel_name, params)}.
    Returns (cell_row int, cell_col int, <out> double ...) for every cell of
    the dense grid universe (missing input cells = NaN in, NaN/kernel-defined
    out; a NaN output is emitted as SQL NULL).
    """
    halos = {
        out: kernel_halo(kname, params, grid.cell, grid.cell)
        for out, (kname, params) in specs.items()
    }
    halo = max(halos.values())
    dx = dy = float(grid.cell)

    def kernels(win: TileWindow, dense: dict) -> dict:
        """Pad the tile's window out to the full (T+2*halo) square per
        kernel pad_mode and run every kernel on it."""
        out = {}
        for name, (kname, params) in specs.items():
            k = KERNELS[kname]
            arr = _pad(dense["value"], win.pads, k.pad_mode)
            # shrink padding to this kernel's own halo, so the result
            # starts exactly at the tile origin
            s = halo - halos[name]
            if s:
                arr = arr[s:-s, s:-s]
            out[name] = k.fn(arr, dx, dy, **params)[: win.nrows, : win.ncols]
        return core_cells(win, **out)

    cells = replicate_halo(
        grid_df.select("cell_row", "cell_col", F.col(value_col).alias("value")),
        grid, tile_cells, halo,
    )
    # anchor row per tile: tiles with zero input cells must still emit
    # their (all-NaN-in) core universe so the output row set is the full
    # dense grid regardless of data sparsity (matches the SQL oracles)
    anchors = tile_anchors(grid_df.sparkSession, grid, tile_cells)
    schema = "cell_row int, cell_col int, " + ", ".join(
        f"{c} double" for c in specs
    )
    return run_tiles(
        cells.unionByName(anchors, allowMissingColumns=True), grid,
        tile_cells, halo, kernels, schema,
    )


def run_stencil(
    grid_df: DataFrame,
    grid: GridSpec,
    kernel: str,
    params: dict | None = None,
    tile_cells: int = 64,
    out_col: str | None = None,
) -> DataFrame:
    return run_stencils(
        grid_df, grid, {out_col or kernel: (kernel, params or {})},
        tile_cells,
    )


def apply_kernel_full(
    arr: np.ndarray, grid: GridSpec, kernel: str, params: dict | None = None
) -> np.ndarray:
    """Single-process whole-grid oracle: same kernel, same padding."""
    params = params or {}
    k = KERNELS[kernel]
    h = kernel_halo(kernel, params, grid.cell, grid.cell)
    return k.fn(_pad(arr, h, k.pad_mode), float(grid.cell), float(grid.cell), **params)
