"""The two workloads: their sizes, grids and stages.

A stage is one call into an engine layer.  ``build`` calls the engine's
public builder (everything it runs eagerly is build time); the harness
then writes the returned DataFrame to a noop sink (execute time) while a
``DataFrame.observe`` collects the checksum aggregates ``check`` names, so
the output check costs no second execution.  A stage whose output feeds a
later stage is persisted by that same write (``keep``), so every later
stage is timed with its input already materialized.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rgr_pdal_topo_spark import synth
from rgr_pdal_topo_spark.functions.cells import quad_cell
from rgr_pdal_topo_spark.functions.hexcells import hex_cell
from rgr_pdal_topo_spark.grid import GridSpec
from rgr_pdal_topo_spark.operators import flow, gridding, joins, pages, smrf, stencils
from rgr_pdal_topo_spark.plans.lineage import BatchCheckpointer

from inputs import Sizes

#: the stencil suite of the terrain workload
STENCIL_SPECS = {
    "hillshade": ("hillshade", {}),
    "slope_mag": ("slope_mag", {}),
    "wstd": ("windowed_std", {"pixel_width": 5}),
    "tpi": ("tpi", {"inner_radius": 6.0, "outer_radius": 12.0}),
}
#: modulus that keeps integer checksums of 64-bit cell ids small and exact
CELL_MOD = 1_000_003


@dataclass
class Ctx:
    """What a stage builder sees: the session, the generated input
    directory, a scratch directory for stages that write, the pass tag
    and earlier stages' (materialized) outputs."""

    spark: object
    indir: str
    scratch: str
    tag: str
    out: dict[str, DataFrame] = field(default_factory=dict)


@dataclass(frozen=True)
class Stage:
    name: str
    layer: str
    build: Callable[[Ctx], DataFrame]
    check: Callable[[], dict[str, Column]]
    keep: bool = False


@dataclass(frozen=True)
class Workload:
    name: str
    unit: str
    sizes: Sizes
    stages: tuple[Stage, ...]
    #: work items of one pass, in ``unit``
    items: int
    #: per-pass layer ratios from the stage runs (by stage name) and the
    #: event-log totals (by job group)
    ratios: Callable[[dict, dict], dict[str, float]]


def _sums(*cols: str) -> Callable[[], dict[str, Column]]:
    """count(*) plus sum and non-null count of each column."""
    def aggs() -> dict[str, Column]:
        out = {"rows": F.count(F.lit(1))}
        for c in cols:
            out[f"sum_{c}"] = F.sum(c)
            out[f"nn_{c}"] = F.count(c)
        return out
    return aggs


def _rows(runs: dict, stage: str) -> int:
    return (runs[stage].obs or {}).get("rows", 0)


def _per(a: float, b: float) -> float:
    return a / b if b else 0.0


def _terrain_ratios(points: int, grid_stage: str, grid: GridSpec):
    """points per cell and stencil halo replication; the stencil shuffle
    writes every replicated cell plus one anchor row per tile."""
    tiles = math.ceil(grid.nrows / 64) * math.ceil(grid.ncols / 64)

    def ratios(runs: dict, events: dict) -> dict[str, float]:
        cells = _rows(runs, grid_stage)
        shuffled = events.get(f"{runs['stencils'].group}:exec", {}).get(
            "shuffle_records", 0)
        return {
            "gridding.points_per_cell": _per(points, cells),
            "stencils.halo_ratio": _per(shuffled - tiles, cells),
        }
    return ratios


def _points(ctx: Ctx) -> DataFrame:
    return synth.points_df(ctx.spark, ctx.indir)


# --------------------------------------------------------------------------
# terrain: points -> DEM -> stencils, joins, ground and flow, checkpoint
# --------------------------------------------------------------------------

POINTS = 100_000
#: 1 km square extent of the synthetic cloud at every grid resolution
DEM_GRID = GridSpec(cell=5.0, nrows=200, ncols=200)
SMRF_GRID = GridSpec(cell=15.625, nrows=64, ncols=64)
FLOW_GRID = GridSpec(cell=31.25, nrows=32, ncols=32)
#: one tile covers FLOW_GRID, so fill_dem's fixpoint runs on one tile
FLOW_TILE = 32
#: kNN bucket edge (m): a 3x3 ring of these holds a few dozen points
KNN_BUCKET = 10.0


def _pip_rollup(pairs: DataFrame, points: DataFrame) -> DataFrame:
    return (
        pairs.join(points.select("pid", "z"), "pid")
        .groupBy("polygon_id")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("z").alias("mean_z"))
    )


def _rect_pip(ctx: Ctx) -> DataFrame:
    polys = synth.polygons_df(ctx.spark, ctx.indir)
    pts = ctx.out["points"]
    return _pip_rollup(joins.pip_join(pts, polys), pts)


def _fill_empty(ctx: Ctx) -> DataFrame:
    g = gridding.grid_points(ctx.out["points"], FLOW_GRID, output_type="mean")
    return gridding.fill_empty_cells(g, FLOW_GRID)


def _fill_dem(ctx: Ctx) -> DataFrame:
    return flow.fill_dem(ctx.out["fill_empty"], FLOW_GRID, tile_cells=FLOW_TILE)


def _checkpoint(ctx: Ctx) -> DataFrame:
    # a fresh directory every pass, so every pass writes every batch
    base = os.path.join(ctx.scratch, f"lineage-{ctx.tag}")
    return BatchCheckpointer(base, n_batches=2).run(
        ctx.out["stencils"], lambda df: df, batch_col="cell_row"
    )


TERRAIN = Workload(
    name="terrain",
    unit="points",
    sizes=Sizes(points=POINTS, gps=1000),
    items=POINTS,
    ratios=lambda runs, events: {
        **_terrain_ratios(POINTS, "grid_idw", DEM_GRID)(runs, events),
        "joins.pip.hit_ratio": _per(
            (runs["pip_rect"].obs or {}).get("sum_n", 0), POINTS),
        "flow.rounds": runs["fill_dem"].build_jobs,
    },
    stages=(
        Stage("points", "synth", _points,
              _sums("x", "y", "z", "cls", "intensity"), keep=True),
        Stage("grid_idw", "gridding",
              lambda c: gridding.grid_points(c.out["points"], DEM_GRID),
              _sums("value", "n"), keep=True),
        Stage("stencils", "stencils",
              lambda c: stencils.run_stencils(
                  c.out["grid_idw"], DEM_GRID, STENCIL_SPECS),
              _sums(*STENCIL_SPECS), keep=True),
        Stage("pip_rect", "joins.pip", _rect_pip, _sums("n", "mean_z")),
        Stage("profile", "joins.profile",
              lambda c: joins.profile_project(c.out["points"]),
              _sums("profile_id", "seg_idx", "d", "l")),
        Stage("knn", "joins.knn",
              lambda c: joins.knn_join_grid(
                  c.out["points"], synth.gps_df(c.spark, c.indir),
                  bucket=KNN_BUCKET),
              _sums("dist2", "pid")),
        Stage("smrf", "smrf",
              lambda c: smrf.classify_ground(c.out["points"], SMRF_GRID),
              _sums("is_ground", "ground_surface")),
        Stage("fill_empty", "gridding", _fill_empty,
              _sums("value", "filled"), keep=True),
        Stage("fill_dem", "flow", _fill_dem,
              lambda: {**_sums("fill", "z")(),
                       "below": F.sum((F.col("fill") < F.col("z")).cast("int"))}),
        Stage("checkpoint", "lineage", _checkpoint,
              _sums("cell_row", *STENCIL_SPECS)),
    ),
)


# --------------------------------------------------------------------------
# pages_geo: the web-page payload, wide string/binary rows
# --------------------------------------------------------------------------

PAGES = 25_000
PAGE_POLYGONS = 8_000


def _extract(ctx: Ctx) -> DataFrame:
    p = pages.extract_text(pages.pages_df(ctx.spark, ctx.indir))
    return p.withColumn(
        "mismatch",
        (~F.col("extracted").eqNullSafe(F.col("text"))).cast("int"),
    )


def _cells(ctx: Ctx) -> DataFrame:
    g = ctx.out["geo"]
    return g.select(
        F.regexp_extract("url", "/p/([0-9]+)$", 1).cast("long").alias("pid"),
        F.regexp_extract("url", pages.HOST_RE, 1).cast("int").alias("site"),
        F.col("lon").alias("x"),
        F.col("lat").alias("y"),
        hex_cell(F.col("lon"), F.col("lat"), 6).alias("hex"),
        quad_cell(F.col("lon"), F.col("lat"), 12).alias("quad"),
    )


def _pages_pip(ctx: Ctx) -> DataFrame:
    polys = ctx.spark.read.parquet(os.path.join(ctx.indir, "page_polygons.parquet"))
    cells = ctx.out["cells"]
    pairs = joins.pip_join(cells, polys)
    return (
        pairs.join(cells.select("pid", "hex", "site"), "pid")
        .groupBy("polygon_id")
        .agg(
            F.count(F.lit(1)).alias("pages"),
            F.countDistinct("hex").alias("cells"),
            F.countDistinct("site").alias("sites"),
        )
    )


PAGES_GEO = Workload(
    name="pages_geo",
    unit="pages",
    sizes=Sizes(pages=PAGES, page_polygons=PAGE_POLYGONS),
    items=PAGES,
    ratios=lambda runs, events: {
        "joins.pip.hit_ratio": _per(
            (runs["pip_rtree"].obs or {}).get("sum_pages", 0), PAGES),
    },
    stages=(
        Stage("extract", "pages", _extract, _sums("mismatch", "doc_id")),
        Stage("geo", "pages", lambda c: pages.geo_lonlat(c.spark, c.indir),
              _sums("lat_milli", "lon_milli"), keep=True),
        Stage("cells", "cells", _cells,
              lambda: {**_sums("pid", "site")(),
                       "hex_mod": F.sum(F.pmod("hex", F.lit(CELL_MOD))),
                       "quad_mod": F.sum(F.pmod("quad", F.lit(CELL_MOD)))},
              keep=True),
        Stage("pip_rtree", "joins.pip", _pages_pip,
              _sums("pages", "cells", "sites")),
    ),
)

WORKLOADS = {w.name: w for w in (TERRAIN, PAGES_GEO)}
