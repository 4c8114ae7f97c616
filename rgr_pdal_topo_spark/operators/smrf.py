"""X13: SMRF-style ground / non-ground classification.

The reference delegates to PDAL's C++ ``filters.smrf``
(pointCloudCreation.py:257-262, basicCreationJson.json:24-27) — the Simple
Morphological Filter of Pingel, Clarke & McBride (2013, ISPRS): a minimum-z
surface is opened with progressively growing windows; cells whose elevation
drops more than ``slope * window_radius * cell`` under opening are flagged
as objects; points close to the resulting provisional ground surface are
ground.

Spark shape (the north_star's "grouped applyInArrow morphological filter
per tile"):

  1. ``grid_points(..., 'min')``      — one hash agg: per-cell min-z;
  2. ``run_stencil(..., 'smrf_surface')`` — per-tile morphological opening
     in NumPy with halo = max window radius (operators/stencils.py);
  3. equi-join points -> their cell's provisional surface; ground iff
     |z - surface| <= dh_threshold  (same join shape as J8/HAG).

No scipy: grey erosion/dilation are built from numpy sliding windows.
"""

from __future__ import annotations

import warnings

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from numpy.lib.stride_tricks import sliding_window_view

from rgr_pdal_topo_spark.functions.kernels import KERNELS, Kernel
from rgr_pdal_topo_spark.grid import GridSpec


def _grey_op(arr: np.ndarray, radius: int, op) -> np.ndarray:
    """Grey erosion (op=np.nanmin) / dilation (op=np.nanmax) with a square
    (2r+1)^2 structuring element; NaN treated as missing (ignored).  An
    all-NaN window gives NaN; nanmin/nanmax report that with a
    warnings.warn, which errstate does not cover."""
    w = 2 * radius + 1
    p = np.pad(arr, radius, mode="edge")
    win = sliding_window_view(p, (w, w))
    with np.errstate(all="ignore"), warnings.catch_warnings():
        warnings.filterwarnings(
            "ignore", "All-NaN slice encountered", RuntimeWarning
        )
        return op(win, axis=(-2, -1))


def smrf_surface(
    p: np.ndarray,
    dx: float,
    dy: float,
    max_window: int = 4,
    slope: float = 0.15,
) -> np.ndarray:
    """Provisional ground surface from a min-z grid via progressive
    morphological opening (Pingel et al. 2013 §2.2).

    Returns the last-kept (ground) surface; flagged object cells carry the
    opened (ground-estimate) value so the classification join can measure
    each point against a ground elevation everywhere.
    """
    if max_window < 1:
        raise ValueError("max_window must be >= 1")
    surface = p.copy()
    for r in range(1, max_window + 1):
        opened = _grey_op(_grey_op(surface, r, np.nanmin), r, np.nanmax)
        thresh = slope * r * dx
        with np.errstate(invalid="ignore"):
            is_object = (surface - opened) > thresh
        surface = np.where(is_object, opened, surface)
    h = _smrf_halo({"max_window": max_window})
    return surface[h:-h, h:-h]


# register as a stencil kernel: halo must cover the cumulative reach of the
# progressive openings: sum of radii (erosion+dilation reach r each pass).
def _smrf_halo(params: dict) -> int:
    mw = int(params.get("max_window", 4))
    return 2 * sum(range(1, mw + 1))


KERNELS["smrf_surface"] = Kernel(smrf_surface, "nan", _smrf_halo)


def classify_ground(
    points: DataFrame,
    grid: GridSpec,
    max_window: int = 4,
    slope: float = 0.15,
    dh_threshold: float = 0.5,
    tile_cells: int = 64,
) -> DataFrame:
    """Full SMRF pass: returns points + (ground_surface, is_ground int).

    Mirrors filters.smrf defaults in spirit (window/slope/threshold are the
    tunables PDAL exposes); exact parity with the C++ implementation is not
    claimed — the pytest suite asserts the classification properties on
    synthetic scenes (open terrain ground, building roofs non-ground).
    """
    from rgr_pdal_topo_spark.operators.gridding import grid_points, with_cell
    from rgr_pdal_topo_spark.operators.stencils import run_stencil

    minz = grid_points(points, grid, output_type="min")
    surf = run_stencil(
        minz,
        grid,
        "smrf_surface",
        {"max_window": max_window, "slope": slope},
        tile_cells=tile_cells,
        out_col="ground_surface",
    )
    pts = with_cell(points, grid)
    out = pts.join(surf, ["cell_row", "cell_col"], "left")
    return out.withColumn(
        "is_ground",
        (
            F.col("ground_surface").isNotNull()
            & ~F.isnan(F.col("ground_surface"))
            & (F.abs(F.col("z") - F.col("ground_surface")) <= F.lit(dh_threshold))
        ).cast("int"),
    )
