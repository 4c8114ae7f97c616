"""Grid / tiling model: the engine's raster data model.

Mirrors the reference's ``baseGrid`` georeferencing (a dense 2-D array plus
``_dx/_dy/_xllcenter/_yllcenter``, row 0 = northernmost row — GDAL
convention, reference baseGrid.py:19-75, :50) re-expressed relationally:

    long-form grid DF: (cell_row int, cell_col int, value double, n bigint)

A dense grid is a partitioned table keyed by spatial cell; NoData is NULL
(reference uses NaN, baseGrid.py:856-858 — NULL is the relational spelling).

Cell encoding is the relational replacement for ``getRowColFromXY``
(baseGrid.py:656-668).  Every encoding function exists twice, by design:

  * as a PySpark Column expression (JVM-side, codegen'd), and
  * as an ANSI-SQL string fragment (identical arithmetic) used verbatim in
    the DuckDB oracle queries — parity is by construction, not by luck.

For multi-tile scale-out, cells roll up into square tiles of
``tile_cells`` x ``tile_cells`` cells (``tile_id`` row-major); ``GridSpec``
owns the tile geometry (``tile_counts``, ``tile_window``, ``ring_tiles``).
Every per-tile raster operator (stencils, pit fill, empty-cell fill, FFT
and terrain tiles) materializes one tile (+halo) per ``applyInArrow``
group through the one tile runner (operators/stencils.py), mirroring the
reference's tiled requests with ``tileOverlap`` halo
(pointCloudCreation.py:458-495, overlap at :489).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import Column
from pyspark.sql import functions as F


class TileWindow(NamedTuple):
    """Tile ``tile_id``'s cells in grid coordinates.

    Core: the tile's own cells, rows ``[row0, row0 + nrows)`` x cols
    ``[col0, col0 + ncols)``, cut short at the grid's south/east edge.
    Window: the full ``tile_cells`` square grown by ``halo`` on every side
    and clipped to the grid, rows ``[wr0, wr1)`` x cols ``[wc0, wc1)``;
    ``pads`` ((top, bottom), (left, right)) is how far the unclipped
    square reaches past the grid, in ``np.pad`` form.
    """

    tile_id: int
    row0: int
    col0: int
    nrows: int
    ncols: int
    wr0: int
    wc0: int
    wr1: int
    wc1: int
    pads: tuple[tuple[int, int], tuple[int, int]]

    @property
    def core(self) -> tuple[slice, slice]:
        """The core cells as an index into the window array."""
        r, c = self.row0 - self.wr0, self.col0 - self.wc0
        return slice(r, r + self.nrows), slice(c, c + self.ncols)


@dataclass(frozen=True)
class GridSpec:
    """Georeferencing of a raster grid over the synthetic extent.

    x in [x0, x0 + ncols*cell), y in [y0, y0 + nrows*cell);
    cell_row 0 is the NORTH row (max y), matching GDAL / baseGrid.py:50.
    """

    x0: float = 0.0
    y0: float = 0.0
    cell: float = 10.0
    nrows: int = 100
    ncols: int = 100

    # ---- Spark Column encoders -------------------------------------------------
    def col_of(self, x: Column) -> Column:
        return F.floor((x - F.lit(self.x0)) / F.lit(self.cell)).cast("int")

    def row_of(self, y: Column) -> Column:
        # north-up: largest y -> row 0
        return (
            F.lit(self.nrows - 1)
            - F.floor((y - F.lit(self.y0)) / F.lit(self.cell)).cast("int")
        ).cast("int")

    def cell_id(self, row: Column, col: Column) -> Column:
        return (row.cast("long") * F.lit(self.ncols) + col.cast("long")).alias("cell_id")

    def cell_cx(self, col: Column) -> Column:
        """x of cell center."""
        return (col.cast("double") + F.lit(0.5)) * F.lit(self.cell) + F.lit(self.x0)

    def cell_cy(self, row: Column) -> Column:
        """y of cell center (row 0 = north)."""
        return (
            F.lit(float(self.nrows - 1)) - row.cast("double") + F.lit(0.5)
        ) * F.lit(self.cell) + F.lit(self.y0)

    def contains(self, row: Column, col: Column) -> Column:
        """True for cells inside the grid extent."""
        return (
            (row >= 0) & (row < self.nrows) & (col >= 0) & (col < self.ncols)
        )

    # ---- tile geometry ---------------------------------------------------------
    def tile_counts(self, tile_cells: int) -> tuple[int, int]:
        """(tiles_y, tiles_x): tiles down and across the grid."""
        return -(-self.nrows // tile_cells), -(-self.ncols // tile_cells)

    def tile_window(
        self, tile_id: int, tile_cells: int, halo: int = 0
    ) -> TileWindow:
        """Core and ``halo``-padded window of tile ``tile_id``."""
        T = tile_cells
        tr, tc = divmod(tile_id, self.tile_counts(T)[1])
        row0, col0 = tr * T, tc * T
        r0, c0 = row0 - halo, col0 - halo
        r1, c1 = row0 + T + halo, col0 + T + halo
        wr0, wc0 = max(r0, 0), max(c0, 0)
        wr1, wc1 = min(r1, self.nrows), min(c1, self.ncols)
        return TileWindow(
            tile_id, row0, col0,
            min(T, self.nrows - row0), min(T, self.ncols - col0),
            wr0, wc0, wr1, wc1, ((wr0 - r0, r1 - wr1), (wc0 - c0, c1 - wc1)),
        )

    def tile_id(self, row: Column, col: Column, tile_cells: int) -> Column:
        tiles_x = self.tile_counts(tile_cells)[1]
        return (
            F.floor(row / F.lit(tile_cells)).cast("long") * F.lit(tiles_x)
            + F.floor(col / F.lit(tile_cells)).cast("long")
        )

    def ring_tiles(self, row: Column, col: Column, tile_cells: int) -> Column:
        """Array of the ids of the tiles whose 1-cell halo ring (the
        ``tile_window`` with halo 1, minus the core) holds the cell: the
        neighbours toward which the cell sits on its own tile's edge."""
        T = tile_cells
        ty, tx = self.tile_counts(T)
        tr, tc = F.floor(row / T), F.floor(col / T)
        edge_r = {-1: row == tr * T, 0: F.lit(True), 1: row == tr * T + (T - 1)}
        edge_c = {-1: col == tc * T, 0: F.lit(True), 1: col == tc * T + (T - 1)}
        ids = [
            F.when(
                edge_r[a] & edge_c[b]
                & (tr + a >= 0) & (tr + a < ty) & (tc + b >= 0) & (tc + b < tx),
                (tr + a) * tx + (tc + b),
            )
            for a in (-1, 0, 1)
            for b in (-1, 0, 1)
            if (a, b) != (0, 0)
        ]
        return F.array_compact(F.array(*ids))

    # ---- SQL fragment encoders (DuckDB-compatible ANSI; identical math) --------
    def sql_col_of(self, x: str) -> str:
        return f"CAST(FLOOR(({x} - {self.x0!r}) / {self.cell!r}) AS INT)"

    def sql_row_of(self, y: str) -> str:
        return (
            f"CAST({self.nrows - 1} - FLOOR(({y} - {self.y0!r}) / {self.cell!r}) AS INT)"
        )

    def sql_cell_cx(self, col: str) -> str:
        return f"((CAST({col} AS DOUBLE) + 0.5) * {self.cell!r} + {self.x0!r})"

    def sql_cell_cy(self, row: str) -> str:
        return (
            f"(({float(self.nrows - 1)!r} - CAST({row} AS DOUBLE) + 0.5)"
            f" * {self.cell!r} + {self.y0!r})"
        )


#: Default grid over the synthetic 1000 m x 1000 m extent at 10 m cells —
#: the engine analogue of the reference smoke run's cell_size=1.0 m,
#: tileWidth=1e3 m geometry (pointCloudCreation.py:694-696) scaled to the
#: fixture extent.
DEFAULT_GRID = GridSpec()
