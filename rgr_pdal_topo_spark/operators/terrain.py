"""Distributed procedural terrain + roughness search (SURVEY.md §2.9,
X7 diamond-square, X9 best-fit roughness).

Spark mapping: generation is embarrassingly parallel over tiles (and
ensemble members) — each tile runs on the stencil engine's tile runner
(operators/stencils.py ``run_tiles``, halo 0) and generates its surface
from a deterministic per-tile seed, so any tile batch is reproducible and
resumable without coordination (the per-tile-seed strategy SURVEY.md §7
Stage 5 calls for).  The X9 search scores every candidate roughness
against the tile's observed spectrum inside that tile's task, computing
the observed spectrum once — the reference's serial 20-iteration loop
(calcBestFittingDiamondSquareRoughness, fftGrid.py:482-539) runs per
tile, with tiles in parallel.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rgr_pdal_topo_spark.functions import spectral_kernels as sk
from rgr_pdal_topo_spark.functions.terrain import diamond_square
from rgr_pdal_topo_spark.grid import GridSpec, TileWindow
from rgr_pdal_topo_spark.operators.spectral import tile_surface, value_tiles
from rgr_pdal_topo_spark.operators.stencils import (
    core_cells,
    run_tiles,
    tile_anchors,
)


def diamond_square_tiles(
    spark: SparkSession,
    grid: GridSpec,
    roughness: float,
    starting_scale: float = 1.0,
    tile_cells: int = 50,
    seed_base: int = 771,
) -> DataFrame:
    """X7: one independent fractal surface per tile, seed = f(tile_id)."""
    schema = "tile_id long, cell_row int, cell_col int, value double"

    def per_tile(win: TileWindow, dense: dict) -> dict:
        z = diamond_square(
            win.nrows, win.ncols, roughness, starting_scale,
            seed_base + win.tile_id,
        )
        return {
            "tile_id": np.full(z.size, win.tile_id, dtype="int64"),
            **core_cells(win, value=z),
        }

    return run_tiles(
        tile_anchors(spark, grid, tile_cells), grid, tile_cells, 0,
        per_tile, schema,
    )


def best_fit_roughness(
    grid_df: DataFrame,
    grid: GridSpec,
    n_h: int = 20,
    tile_cells: int = 50,
    n_bins: int = 20,
    seed_base: int = 20406,
) -> DataFrame:
    """X9: brute-force H in linspace(0, 1, n_h) per tile
    (calcBestFittingDiamondSquareRoughness, fftGrid.py:482-539):

    observed spectrum = Hann-windowed detrended FFT, binned medians;
    candidate = diamond-square at H with starting scale = std of the
    detrended tile, Hann FFT without detrending; score = L2 of
    log10-power differences over jointly valid bins.  Each tile computes
    its observed spectrum once and scores every H; the first H with the
    lowest score wins."""
    hs = np.linspace(0.0, 1.0, num=max(n_h, 2))[:n_h]
    schema = "tile_id long, best_h double, l2 double"

    def per_tile(win: TileWindow, dense: dict) -> dict:
        z, x, y = tile_surface(grid, win, dense["value"])
        obs = sk.fft_forward(z, x, y, grid.cell, grid.cell, hann=True)
        bo = sk.binned_median_power(obs["L"], obs["power"], n_bins)
        scale = float(np.std(z - obs["plane"]))
        l2 = np.empty(len(hs))
        for h_idx, h in enumerate(hs):
            gen = diamond_square(
                z.shape[0], z.shape[1], float(h), scale,
                seed_base + win.tile_id * 1000 + h_idx,
            )
            gf = sk.fft_forward(
                gen, x, y, grid.cell, grid.cell, hann=True, detrend=False
            )
            bg = sk.binned_median_power(gf["L"], gf["power"], n_bins)
            good = (
                ~np.isnan(bo["median_power"]) & ~np.isnan(bg["median_power"])
                & (bo["median_power"] > 0) & (bg["median_power"] > 0)
            )
            l2[h_idx] = np.sum(
                (
                    np.log10(bg["median_power"][good])
                    - np.log10(bo["median_power"][good])
                )
                ** 2
            )
        best = int(np.argmin(l2))
        return {
            "tile_id": np.array([win.tile_id], dtype="int64"),
            "best_h": hs[best:best + 1],
            "l2": l2[best:best + 1],
        }

    return value_tiles(grid_df, grid, tile_cells, per_tile, schema)


# ---------------------------------------------------------------------------
# X8: random-priority-filling terrain ensembles
# ---------------------------------------------------------------------------

def random_terrain_ensemble(
    spark: SparkSession,
    grid: GridSpec,
    n_members: int,
    fill_slope: float = 0.01,
    mode: str = "random",
    seed_base: int = 4242,
    priority_grid_df: DataFrame | None = None,
    ksn: float | None = None,
    theta: float | None = None,
    area_map_df: DataFrame | None = None,
    allow_unfilled: bool = False,
) -> DataFrame:
    """X8 as a Spark ensemble: each member is one seeded sequential
    random-priority fill (functions/terrain.random_priority_fill) running
    in its own task via applyInPandas over member ids — the reference's
    getGridEnsemble loop (randomGrids.py:43-56) turned embarrassingly
    parallel.  (The reference generates null-model ensembles per basin;
    at 100 TB the unit of work stays one basin-sized grid per task and
    members x basins fan out across the cluster — no coordination, fully
    resumable per member.)

    Per member the D8 sweeps (area/L/maxL/meanDir) run in-kernel on the
    growth tree (its fd codes), so the output carries the reference's
    calculateMaxLMeanDir statistics per cell.

    Returns (member_id, cell_row, cell_col, z, fd, max_l, mean_dir).
    """
    # The priority surface and area multimap are shared read-only inputs
    # for every ensemble member: ship them ONCE per executor as torrent
    # broadcasts.  Capturing the raw arrays in the UDF closure instead
    # would re-pickle the full grid into every task (and at 100x raster
    # scale make task serialization itself the bottleneck).
    pg_bc = None
    if priority_grid_df is not None:
        pdf = priority_grid_df.toPandas()
        pg = np.full((grid.nrows, grid.ncols), np.nan)
        pg[pdf["cell_row"], pdf["cell_col"]] = pdf["value"]
        del pdf
        lo, hi = np.nanmin(pg), np.nanmax(pg)
        pg = (pg - lo) / (hi - lo) if hi > lo else np.zeros_like(pg)
        pg_bc = spark.sparkContext.broadcast(pg)
        del pg
    amap_bc = None
    if area_map_df is not None:
        ampdf = area_map_df.toPandas()
        amap_bc = spark.sparkContext.broadcast({
            float(k): g["donor_area"].to_numpy(dtype="float64")
            for k, g in ampdf.groupby("down_area")
        })
        del ampdf

    members = spark.range(n_members).select(F.col("id").alias("member_id"))
    schema = ("member_id long, cell_row int, cell_col int, z double, "
              "fd int, max_l double, mean_dir double")
    per_member = _member_fill_fn(
        grid.nrows, grid.ncols, float(grid.cell), fill_slope, seed_base,
        mode, ksn, theta, allow_unfilled, pg_bc, amap_bc,
    )
    return members.groupBy("member_id").applyInPandas(per_member, schema)


def _member_fill_fn(
    nrows, ncols, dx, fill_slope, seed_base, mode, ksn, theta,
    allow_unfilled, pg_bc, amap_bc,
):
    """Build the per-member kernel.  Separated from the plan assembly so a
    test can assert the closure serializes small — it must capture only
    scalars and Broadcast HANDLES, never the dense arrays themselves
    (tests/test_terrain_x8.py)."""
    from rgr_pdal_topo_spark.functions.flow_kernels import basin_sweeps
    from rgr_pdal_topo_spark.functions.terrain import random_priority_fill

    def per_member(pdf: pd.DataFrame) -> pd.DataFrame:
        m = int(pdf["member_id"].iloc[0])
        out = random_priority_fill(
            nrows, ncols, dx, fill_slope, seed=seed_base + m, mode=mode,
            priority_grid=None if pg_bc is None else pg_bc.value,
            ksn=ksn, theta=theta,
            area_map=None if amap_bc is None else amap_bc.value,
            allow_unfilled=allow_unfilled,
        )
        z, fd = out["z"], out["fd"]
        rr, cc = np.where(~np.isnan(z))
        zz = z[rr, cc]
        sweeps = basin_sweeps(rr, cc, zz, zz, fd[rr, cc], dx, dx)
        return pd.DataFrame({
            "member_id": m,
            "cell_row": rr.astype("int32"),
            "cell_col": cc.astype("int32"),
            "z": zz,
            "fd": fd[rr, cc].astype("int32"),
            "max_l": sweeps["max_l"],
            "mean_dir": sweeps["mean_dir"],
        })

    return per_member


def chi_area_mapping(flow_metrics: DataFrame, pxl: float) -> DataFrame:
    """Donor-area multimap for the chi-balanced generator
    (__getAreaUSAreaMapping, randomGrids.py:841-899): for every observed
    downstream-cell area, the list of donor areas (> one pixel) that
    drained to it in the template grid.  The reference builds this with a
    recursive Python walk; here it is one self-join on the flow edges —
    the template can be any size.

    Input needs (cell_row, cell_col, area, down_row, down_col).
    Returns (down_area, donor_area) rows.
    """
    donors = flow_metrics.select(
        F.col("down_row").alias("cell_row"),
        F.col("down_col").alias("cell_col"),
        F.col("area").alias("donor_area"),
    ).filter(F.col("donor_area") > pxl)
    down = flow_metrics.select("cell_row", "cell_col",
                               F.col("area").alias("down_area"))
    return down.join(donors, ["cell_row", "cell_col"]).select(
        "down_area", "donor_area"
    )


def radial_ensemble_histogram(
    ensemble: DataFrame,
    n_length_bins: int = 5,
    max_length: float = 1000.0,
    n_theta: int = 8,
    n_members: int | None = None,
) -> DataFrame:
    """lengthThetaRadialDensityPlot's ensemble statistics
    (randomGrids.py:504-606): per member, counts of cells whose
    (max_l, mean_dir) fall in each (length bin x theta sector); then
    min / median / max across ALL members per bin — the null-model
    envelope an observed grid is compared against.

    Two correctness details this spelling pins down (both found live on
    D8 data, where mean_dir is very often EXACTLY a cardinal angle):

    * sector boundaries are the shared values ``-pi + k*(2pi/n)`` so
      adjacent half-open sectors tile [-pi, pi) with no float cracks
      (mid +/- win computed per-window leaves gaps at pi/2 etc.), and
      ``mean_dir == +pi`` (atan2 of a due-west path) is normalized to
      -pi first so it lands in sector 0 instead of nowhere;
    * a member with ZERO cells in a bin still contributes 0 to the
      envelope (fixed-shape histograms, as the reference builds) — the
      bin universe is generated and members left-joined, so min_cells
      can be 0 rather than min-over-nonzero-members.

    Pure relational: generated bin/member dims, one count agg, one
    envelope agg."""
    spark = ensemble.sparkSession
    lw = max_length / n_length_bins
    tw = 2.0 * math.pi / n_theta
    theta_n = F.when(
        F.col("mean_dir") >= F.lit(math.pi), F.col("mean_dir") - 2 * math.pi
    ).otherwise(F.col("mean_dir"))
    base = (
        ensemble.filter(F.col("mean_dir").isNotNull()
                        & ~F.isnan(F.col("mean_dir"))
                        & (F.col("max_l") > 0))
        .withColumn("l_bin",
                    F.floor(F.col("max_l") / F.lit(lw)).cast("int"))
        .filter(F.col("l_bin") < n_length_bins)
        .withColumn(
            "t_bin",
            F.least(
                F.floor((theta_n + F.lit(math.pi)) / F.lit(tw)).cast("int"),
                F.lit(n_theta - 1),
            ),
        )
    )
    per_member = base.groupBy("member_id", "l_bin", "t_bin").agg(
        F.count(F.lit(1)).alias("n_cells")
    )
    if n_members is not None:
        # the member universe is known a priori — deriving it from the
        # ensemble would re-run the whole applyInPandas generation (Spark
        # does not CSE common subplans across joins)
        members = spark.range(n_members).select(
            F.col("id").alias("member_id")
        )
    else:
        members = ensemble.select("member_id").distinct()
    bins = spark.range(n_length_bins * n_theta).select(
        (F.col("id") / n_theta).cast("int").alias("l_bin"),
        F.pmod(F.col("id"), F.lit(n_theta)).cast("int").alias("t_bin"),
    )
    full = members.crossJoin(F.broadcast(bins)).join(
        per_member, ["member_id", "l_bin", "t_bin"], "left"
    ).withColumn("n_cells", F.coalesce(F.col("n_cells"), F.lit(0)))
    return full.groupBy("l_bin", "t_bin").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("n_cells").alias("min_cells"),
        F.expr("percentile(n_cells, 0.5)").alias("med_cells"),
        F.max("n_cells").alias("max_cells"),
    )
