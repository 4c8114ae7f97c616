"""Distributed stencil execution: tile materialization + halo replication.

The reference's tiled pipeline builds per-tile requests with a halo
(``tileOverlap``, pointCloudCreation.py:458-495 at :489) and runs NumPy
kernels eagerly per grid (dem.py).  Here the same shape is Spark-native:

  1. long-form grid rows are assigned to their home tile AND replicated
     into the halo region of up-to-3 neighboring tiles (a deliberate
     row-duplication transform — Catalyst cannot invent it, SURVEY.md §4);
  2. one grouped-map stage per tile (``applyInArrow``) materializes a dense
     (T+2h) x (T+2h) float64 array (NaN = missing/NoData) and runs the
     *identical* reference kernel (functions/kernels.py);
  3. each tile emits only its own core cells, so the union over tiles is
     exactly the single-machine full-grid result — asserted by
     tests/test_stencils.py against the whole-grid oracle.

Global-edge boundary conditions are applied per kernel ``pad_mode``
("repeat" = _getBCgrid edge replication, "nan" = constant-NaN,
"reflect" = scipy gaussian_filter default) with np.pad on the out-of-grid
margins only; interior tile borders always see real halo data.

Scale notes: the shuffle is one hash partition by tile_id with ~(1+2h/T)^2
replication overhead; tile size bounds executor memory at
(T+2h)^2 * 8 bytes per group regardless of total grid size.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rgr_pdal_topo_spark.functions.kernels import KERNELS, kernel_halo
from rgr_pdal_topo_spark.grid import GridSpec

_PAD_NUMPY_MODE = {"repeat": "edge", "reflect": "symmetric"}


def _materialize_with_halo(
    grid_df: DataFrame, grid: GridSpec, tile_cells: int, halo: int
) -> DataFrame:
    """Replicate each cell into every tile whose padded window needs it."""
    if halo > tile_cells:
        raise ValueError(f"halo {halo} must be <= tile_cells {tile_cells}")
    spark = grid_df.sparkSession
    # out-of-extent rows would scatter into wrong tile positions (negative
    # numpy indexing) or crash the worker: clamp to the grid universe
    grid_df = grid_df.filter(
        (F.col("cell_row") >= 0) & (F.col("cell_row") < grid.nrows)
        & (F.col("cell_col") >= 0) & (F.col("cell_col") < grid.ncols)
    )
    tiles_x = math.ceil(grid.ncols / tile_cells)
    tiles_y = math.ceil(grid.nrows / tile_cells)
    offs = spark.createDataFrame(
        [(i, j) for i in (-1, 0, 1) for j in (-1, 0, 1)], "dtr int, dtc int"
    )
    t = F.lit(tile_cells)
    out = (
        grid_df.withColumn("tr", F.floor(F.col("cell_row") / t).cast("int"))
        .withColumn("tc", F.floor(F.col("cell_col") / t).cast("int"))
        .crossJoin(F.broadcast(offs))
        .withColumn("tr2", F.col("tr") + F.col("dtr"))
        .withColumn("tc2", F.col("tc") + F.col("dtc"))
        .filter(
            (F.col("tr2") >= 0) & (F.col("tr2") < tiles_y)
            & (F.col("tc2") >= 0) & (F.col("tc2") < tiles_x)
            & (F.col("cell_row") >= F.col("tr2") * t - F.lit(halo))
            & (F.col("cell_row") < (F.col("tr2") + 1) * t + F.lit(halo))
            & (F.col("cell_col") >= F.col("tc2") * t - F.lit(halo))
            & (F.col("cell_col") < (F.col("tc2") + 1) * t + F.lit(halo))
        )
        .withColumn(
            "tile_id",
            (F.col("tr2").cast("long") * F.lit(tiles_x) + F.col("tc2")),
        )
    )
    return out.select("tile_id", "tr2", "tc2", "cell_row", "cell_col", "value")


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
    the dense grid universe covered by tiles (missing input cells = NaN in,
    NaN/kernel-defined out; a NaN output is emitted as SQL NULL).

    The per-tile NumPy core runs via ``applyInArrow``: RecordBatch columns
    convert to/from NumPy without the pandas block-manager copy on either
    side of the worker.
    """
    if value_col != "value":
        grid_df = grid_df.withColumn("value", F.col(value_col))
    halos = {
        out: kernel_halo(kname, params, grid.cell, grid.cell)
        for out, (kname, params) in specs.items()
    }
    halo = max(halos.values())
    dx = dy = float(grid.cell)
    nrows, ncols = grid.nrows, grid.ncols
    T = tile_cells
    out_cols = list(specs.keys())
    schema = "cell_row int, cell_col int, " + ", ".join(
        f"{c} double" for c in out_cols
    )

    def run_tile(tbl):
        """Dense-ify one tile's (row, col, value) triples with halo, run
        every kernel, return the core-region output columns."""
        import pyarrow as pa
        import pyarrow.compute as pc

        tr2 = tbl.column("tr2")[0].as_py()
        tc2 = tbl.column("tc2")[0].as_py()
        # drop the universe anchor row
        data = tbl.filter(pc.is_valid(tbl.column("cell_row")))
        rows_in = data.column("cell_row").to_numpy().astype("int64")
        cols_in = data.column("cell_col").to_numpy().astype("int64")
        vals_in = data.column("value").to_numpy().astype("float64")

        r0, c0 = tr2 * T - halo, tc2 * T - halo  # padded-window origin
        r1, c1 = tr2 * T + T + halo, tc2 * T + T + halo  # exclusive
        gr0, gc0 = max(r0, 0), max(c0, 0)
        gr1, gc1 = min(r1, nrows), min(c1, ncols)
        valid = np.full((gr1 - gr0, gc1 - gc0), np.nan)
        valid[rows_in - gr0, cols_in - gc0] = vals_in
        pads = ((gr0 - r0, r1 - gr1), (gc0 - c0, c1 - gc1))

        # core (tile-own) region size:
        n_core_r = min(T, nrows - tr2 * T)
        n_core_c = min(T, ncols - tc2 * T)

        cols: dict[str, np.ndarray] = {}
        for out, (kname, params) in specs.items():
            k = KERNELS[kname]
            h = halos[out]
            if k.pad_mode in _PAD_NUMPY_MODE and (
                pads[0][0] or pads[0][1] or pads[1][0] or pads[1][1]
            ):
                arr = np.pad(valid, pads, mode=_PAD_NUMPY_MODE[k.pad_mode])
            else:
                arr = np.pad(valid, pads, mode="constant",
                             constant_values=np.nan)
            # shrink padding to this kernel's own halo
            s = halo - h
            if s:
                arr = arr[s:-s, s:-s]
            res = k.fn(arr, dx, dy, **params)
            # arr was normalized to this kernel's halo, so res always covers
            # rows r0+halo..r1-halo-1, i.e. starts exactly at the tile origin.
            cols[out] = res[:n_core_r, :n_core_c]

        rows_idx, cols_idx = np.meshgrid(
            np.arange(tr2 * T, tr2 * T + n_core_r),
            np.arange(tc2 * T, tc2 * T + n_core_c),
            indexing="ij",
        )
        result = {
            "cell_row": rows_idx.ravel().astype("int32"),
            "cell_col": cols_idx.ravel().astype("int32"),
        }
        for out in out_cols:
            result[out] = cols[out].ravel()
        # from_pandas=True converts NaN -> NULL: the output contract is
        # missing cell = SQL NULL, never NaN
        return pa.table(
            {k: pa.array(v, from_pandas=True) for k, v in result.items()}
        )

    tiles = _materialize_with_halo(grid_df, grid, tile_cells, halo)
    # anchor row per tile: tiles with zero input cells must still emit
    # their (all-NaN-in) core universe so the output row set is the full
    # dense grid regardless of data sparsity (matches the SQL oracles)
    spark = grid_df.sparkSession
    tiles_x = math.ceil(grid.ncols / tile_cells)
    tiles_y = math.ceil(grid.nrows / tile_cells)
    anchors = spark.range(tiles_x * tiles_y).selectExpr(
        "id AS tile_id",
        f"CAST(id DIV {tiles_x} AS INT) AS tr2",
        f"CAST(id % {tiles_x} AS INT) AS tc2",
        "CAST(NULL AS INT) AS cell_row",
        "CAST(NULL AS INT) AS cell_col",
        "CAST(NULL AS DOUBLE) AS value",
    )
    tiles = tiles.unionByName(anchors)
    return tiles.groupBy("tile_id").applyInArrow(run_tile, schema=schema)


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
    mode = _PAD_NUMPY_MODE.get(k.pad_mode)
    if mode:
        p = np.pad(arr, h, mode=mode)
    else:
        p = np.pad(arr, h, mode="constant", constant_values=np.nan)
    return k.fn(p, float(grid.cell), float(grid.cell), **params)
