"""Distributed flow routing (SURVEY.md §2.8, G1-G13): priority-flood pit
filling, D8 direction/area/chi/order, basin labeling, channel network.

The reference computes all of this with global sequential sweeps over one
in-memory grid (flowRoutingGrids.py).  The Spark re-expression splits each
algorithm by its true data dependence:

  * pit filling (G1)    — per-tile priority flood + halo-seed fixpoint
    (Barnes et al. 2016 parallel variant): each round re-floods a tile
    seeded at its 1-cell halo ring at the neighbors' current fill
    estimates.  Fill is a min-over-paths cost, so the iteration starts
    from ABOVE (fill_0 = +inf except at true drains) and decreases
    monotonically to the sequential whole-grid fill (block Gauss-Seidel
    on the minimax Bellman equation; starting from below instead can
    lock in mutual underestimates across tile seams).  Asserted
    cell-exact in tests/test_flow.py.  A tile's flood reads only its core
    z and its halo ring, so after round 1 only tiles whose halo ring holds
    a changed cell are re-flooded; a one-tile grid takes one flood.
  * D8 direction (G2)   — pure 3x3 stencil (functions/kernels.d8_flow_dir)
    through the tiled stencil engine: one shuffle.
  * basin labeling (G8) — pointer doubling on the downstream-edge table:
    O(log longest-path) self-joins instead of per-cell BFS.
  * area/chi/order/L (G3, G5, G6, G12) — cells interact only through
    in-basin flow edges, so one ``applyInPandas`` per basin runs the
    reference's exact sequential sweeps (functions/flow_kernels.py).
    Skew note: one continental-scale basin would serialize in one task;
    the mitigation at that scale is hierarchical (sub-basin partial sweeps
    + boundary stitching), which this module documents but does not need
    at the fixture scales.
  * channel network (G11-G13) — relational: channel mask is an area
    predicate, Ksn/slope are edge-local joins, dissolved segments come
    from pointer doubling to the first downstream junction.

Distance convention: sqrt((dr*dy)^2 + (dc*dx)^2); identical to the
reference's _getNeighborIndices for square cells (flowRoutingGrids.py:617).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from rgr_pdal_topo_spark.functions.flow_kernels import (
    D8_CODE_TO_DC,
    D8_CODE_TO_DR,
    basin_sweeps,
    priority_flood,
)
from rgr_pdal_topo_spark.grid import GridSpec
from rgr_pdal_topo_spark.operators.stencils import (
    core_cells,
    replicate_halo,
    run_stencil,
    run_tiles,
)
from rgr_pdal_topo_spark.session import eager_jobs

#: Flow analyses run on a coarser DEM than the stencil suite so that the
#: sf0.01 oracle grid is dense (cells mostly non-empty): 50x50 cells of
#: 20 m over the same 1 km extent.
FLOW_GRID = GridSpec(x0=0.0, y0=0.0, cell=20.0, nrows=50, ncols=50)


# ---------------------------------------------------------------------------
# G1: distributed priority-flood pit filling
# ---------------------------------------------------------------------------


def fill_dem(
    grid_df: DataFrame,
    grid: GridSpec,
    agg_slope: float = 1e-7,
    tile_cells: int = 32,
    max_rounds: int = 64,
    value_col: str = "value",
) -> DataFrame:
    """G1: distributed pit filling.  Returns (cell_row, cell_col, z, fill)
    for every cell inside the grid extent with a value.

    Fixpoint-from-above: fill_0 = +inf; each round re-runs the reference's
    priority flood per tile with seeds at (a) the 1-cell halo ring at the
    neighbor tiles' current estimates, (b) true grid-border cells at z,
    (c) cells adjacent to NoData holes at z (the _findMaskBoundaries seed
    set, baseGrid.py:1198-1229).  Estimates decrease monotonically to the
    sequential fill.  A tile's flood reads only its core z and its halo
    ring's estimates, so after round 1 only tiles whose halo ring holds a
    cell that changed in the last round are re-run, and the fixpoint is
    reached when no halo ring changed.  A grid of one tile has no halo
    ring: its first flood is the fill, returned lazily (no Spark job).
    Each round of a multi-tile grid is one tagged checkpoint
    (``session.eager_jobs``) whose ``observe`` collects the next round's
    tiles.  Tiles go through the stencil engine's halo replication and
    per-tile runner (operators/stencils.py).
    """
    dx = dy = float(grid.cell)
    T = tile_cells
    est = (
        grid_df.select(
            "cell_row", "cell_col", F.col(value_col).cast("double").alias("z")
        )
        # NoData rows (NULL/NaN value, e.g. fill_empty_cells' explicit
        # markers) are holes, not cells: they would otherwise enter as
        # z=NaN with fill=+inf and never be touched by any tile flood.
        .filter(
            F.col("z").isNotNull() & ~F.isnan(F.col("z"))
            & grid.contains(F.col("cell_row"), F.col("cell_col"))
        )
        .withColumn("fill", F.lit(float("inf")))
    )

    def flood(win, dense: dict) -> dict:
        z, estv = dense["z"], dense["fill"]
        h, w = z.shape
        core = np.zeros((h, w), dtype=bool)
        core[win.core] = True
        valid = ~np.isnan(z)

        # flood input: z in the core, current estimates in the halo ring
        arr = np.where(core, z, estv)
        # seeds: halo ring + true-grid border + NoData-hole-adjacent cells
        seed = (~core) & valid
        border = np.zeros((h, w), dtype=bool)
        if win.wr0 == 0:
            border[0, :] = True
        if win.wr1 == grid.nrows:
            border[-1, :] = True
        if win.wc0 == 0:
            border[:, 0] = True
        if win.wc1 == grid.ncols:
            border[:, -1] = True
        hole = np.pad(valid, 1, mode="constant", constant_values=True)
        near_hole = np.zeros((h, w), dtype=bool)
        for di in range(3):
            for dj in range(3):
                near_hole |= ~hole[di : di + h, dj : dj + w]
        seed |= core & valid & (border | near_hole)

        out = priority_flood(
            arr, dx, dy, agg_slope, seed_mask=seed, seed_elev=arr
        )
        # NoData core cells come out NaN -> NULL and match no est row
        return core_cells(win, z=z[win.core], fill=out[win.core])

    schema = "cell_row int, cell_col int, z double, fill double"
    if grid.tile_counts(T) == (1, 1):
        # no halo ring: the first flood is the fill, and its rows with a
        # z are est's rows
        return run_tiles(
            replicate_halo(est, grid, T, 1), grid, T, 1, flood, schema
        ).filter(F.col("z").isNotNull())

    spark = grid_df.sparkSession
    est = est.persist()  # round 1 reads it twice; later rounds, checkpoints
    ring = grid.ring_tiles(F.col("cell_row"), F.col("cell_col"), T)
    active: list[int] | None = None  # None = all tiles
    for _ in range(max_rounds):
        tiles = replicate_halo(est, grid, T, 1)
        if active is not None:
            tiles = tiles.filter(F.col("tile_id").isin(active))
        new_fill = run_tiles(tiles, grid, T, 1, flood, schema).drop("z")
        updated = (
            est.withColumnRenamed("fill", "fill_old")
            .join(new_fill, ["cell_row", "cell_col"], "left")
            .select(
                "cell_row",
                "cell_col",
                "z",
                F.coalesce("fill", "fill_old").alias("fill"),
                (F.col("fill").isNotNull() & (F.col("fill") != F.col("fill_old")))
                .alias("changed"),
            )
        )
        # next round: the tiles whose halo ring holds a changed cell,
        # gathered by the checkpoint's own job
        obs = Observation()
        with eager_jobs(spark):
            updated = updated.observe(
                obs, F.collect_set(F.when(F.col("changed"), ring)).alias("ring")
            ).localCheckpoint(eager=True)
        est.unpersist()
        est = updated.drop("changed")
        active = sorted({t for ids in obs.get["ring"] for t in ids})
        if not active:
            return est
    raise RuntimeError(
        f"fill_dem did not converge within {max_rounds} rounds "
        "(rounds needed grow with the tile-graph diameter of the "
        "deepest depression; raise max_rounds or tile_cells)"
    )


# ---------------------------------------------------------------------------
# G2 + edges
# ---------------------------------------------------------------------------

_DR_CASE = "CASE fd " + " ".join(
    f"WHEN {code} THEN {dr}" for code, dr in D8_CODE_TO_DR.items()
) + " END"
_DC_CASE = "CASE fd " + " ".join(
    f"WHEN {code} THEN {dc}" for code, dc in D8_CODE_TO_DC.items()
) + " END"


def d8_flow_dir_df(
    fill_df: DataFrame, grid: GridSpec, tile_cells: int = 32,
    value_col: str = "fill",
) -> DataFrame:
    """G2: D8 steepest-descent codes via the tiled stencil engine
    (_assignFlowDir, flowRoutingGrids.py:549-597).  Missing neighbors are
    excluded from the argmax (the engine's NoData rule; the reference's
    np.argmax NaN poisoning is an artifact, SURVEY.md §2.8)."""
    out = run_stencil(
        fill_df.withColumnRenamed(value_col, "value"), grid, "d8_flow_dir",
        tile_cells=tile_cells, out_col="fd",
    )
    # run_stencil emits a missing code as NULL, never NaN
    return out.filter(F.col("fd").isNotNull()).select(
        "cell_row", "cell_col", F.col("fd").cast("int").alias("fd")
    )


def flow_edges(fd_df: DataFrame, grid: GridSpec) -> DataFrame:
    """Downstream edge table: (cell_row, cell_col, down_row, down_col,
    dist) — one row per cell with fd > 0."""
    cell = float(grid.cell)
    return (
        fd_df.filter(F.col("fd") > 0)
        .withColumn("dr", F.expr(_DR_CASE))
        .withColumn("dc", F.expr(_DC_CASE))
        .select(
            "cell_row",
            "cell_col",
            "fd",
            (F.col("cell_row") + F.col("dr")).alias("down_row"),
            (F.col("cell_col") + F.col("dc")).alias("down_col"),
            F.sqrt(
                (F.col("dr") * F.lit(cell)) ** 2
                + (F.col("dc") * F.lit(cell)) ** 2
            ).alias("dist"),
        )
    )


def _pointer_double(
    ptr: DataFrame, max_rounds: int = 40
) -> DataFrame:
    """Resolve each id to its terminal via pointer doubling.

    ptr: (id long, ptr long) where terminals have ptr == id.  Returns
    (id, root).  O(log longest-path) self-joins (G8: the reference's
    per-cell upstream BFS, flowRoutingGrids.py:849-902, re-expressed)."""
    p = ptr.persist()
    p.count()
    converged = False
    for _ in range(max_rounds):
        nxt = (
            p.alias("a")
            .join(
                p.select(
                    F.col("id").alias("b_id"), F.col("ptr").alias("b_ptr")
                ),
                F.col("a.ptr") == F.col("b_id"),
            )
            .select(F.col("a.id").alias("id"), F.col("b_ptr").alias("ptr"))
            .localCheckpoint(eager=True)
        )
        n_moving = (
            nxt.alias("n")
            .join(p.alias("o"), "id")
            .filter(F.col("n.ptr") != F.col("o.ptr"))
            .count()
        )
        p.unpersist()
        p = nxt.persist()
        if n_moving == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"pointer doubling did not converge within {max_rounds} "
            "rounds — the edge table likely contains a cycle"
        )
    return p.withColumnRenamed("ptr", "root")


def flow_metrics(
    grid_df: DataFrame,
    grid: GridSpec,
    do_fill: bool = True,
    agg_slope: float = 1e-7,
    a0: float = 1e6,
    theta: float = 0.45,
    amin: float | None = None,
    ksn_theta: float = 0.5,
    tile_cells: int = 32,
    value_col: str = "value",
) -> DataFrame:
    """Full flow-routing pass.  Returns one row per input cell:

    (cell_row, cell_col, z, fill, fd, slope_d8, area, L, chi, order,
    basin_id) — the engine analogues of filledGrid / flowDirGrid /
    areaGrid (fillAndRouteFlow, flowRoutingGrids.py:222-235), calcChiGrid,
    calcOrderGrid, calcD8SlopeGrid and basin labels."""
    if do_fill:
        filled = fill_dem(
            grid_df, grid, agg_slope, tile_cells, value_col=value_col
        )
    else:
        filled = grid_df.select(
            "cell_row", "cell_col",
            F.col(value_col).cast("double").alias("z"),
        ).withColumn("fill", F.col("z"))

    fd = d8_flow_dir_df(filled, grid, tile_cells)
    cells = filled.join(fd, ["cell_row", "cell_col"])

    ncols = grid.ncols
    with_id = cells.withColumn(
        "id", F.col("cell_row").cast("long") * ncols + F.col("cell_col")
    )
    ptr = with_id.select(
        "id",
        F.when(
            F.col("fd") > 0,
            (F.col("cell_row") + F.expr(_DR_CASE)).cast("long") * ncols
            + F.col("cell_col") + F.expr(_DC_CASE),
        ).otherwise(F.col("id")).alias("ptr"),
    )
    roots = _pointer_double(ptr)
    cells = with_id.join(roots, "id").withColumnRenamed("root", "basin_id")

    dx = dy = float(grid.cell)
    eff_amin = amin if amin is not None else dx * dy
    schema = (
        "cell_row int, cell_col int, area double, L double, chi double, "
        "order double, ksn double, slope_d8 double, max_l double, mean_dir double, path_step long"
    )

    def per_basin(pdf: pd.DataFrame) -> pd.DataFrame:
        res = basin_sweeps(
            pdf["cell_row"].to_numpy(),
            pdf["cell_col"].to_numpy(),
            pdf["z"].to_numpy(dtype="float64"),
            pdf["fill"].to_numpy(dtype="float64"),
            pdf["fd"].to_numpy(),
            dx, dy, a0=a0, theta=theta, amin=eff_amin, ksn_theta=ksn_theta,
        )
        return pd.DataFrame(
            {
                "cell_row": pdf["cell_row"].to_numpy(),
                "cell_col": pdf["cell_col"].to_numpy(),
                "area": res["area"],
                "L": res["L"],
                "chi": res["chi"],
                "order": res["order"],
                "ksn": res["ksn"],
                "slope_d8": res["slope_d8"],
                "max_l": res["max_l"],
                "mean_dir": res["mean_dir"],
                "path_step": res["path_step"],
            }
        )

    sweeps = cells.groupBy("basin_id").applyInPandas(
        per_basin, schema
    )

    # slope_d8 comes out of the same per-basin pass (the downstream z is
    # already in hand there) — no extra edge join/shuffle.
    return cells.join(sweeps, ["cell_row", "cell_col"]).select(
        "cell_row", "cell_col", "z", "fill", "fd", "slope_d8",
        "area", "L", "chi", "order", "ksn", "max_l", "mean_dir",
        "path_step", "basin_id",
    )


def hand_grid(
    metrics: DataFrame, grid: GridSpec, amin: float
) -> DataFrame:
    """HAND — height above nearest drainage (Rennó et al. 2008): per
    cell, the elevation drop to the FIRST stream cell (drainage area
    >= amin) on its D8 downstream path; 0 on the stream itself; NULL
    when the path reaches an outlet without ever meeting a stream.
    The flood-mapping product the reference's flow stack
    (flowRoutingGrids.py walk loops) stops one step short of.

    Nearest-marked-ancestor on the D8 pointer forest, resolved with the
    same pointer-doubling primitive as basin labels (G8,
    flowRoutingGrids.py:849-902): stream cells and outlets self-loop,
    every other cell points at its D8 neighbour, so O(log longest-path)
    self-joins resolve all cells at once — no per-cell walk.  Scale
    shape: the doubling joins shuffle on the long cell id only; the
    stream side of the final join is the channel network (a small,
    amin-bounded fraction of cells), joined once.

    metrics: flow_metrics output (needs cell_row, cell_col, z, fd,
    area).  Returns (cell_row, cell_col, hand) with hand = round(z -
    z_stream, 6)."""
    ncols = grid.ncols
    with_id = metrics.select(
        "cell_row", "cell_col", "z", "fd", "area"
    ).withColumn(
        "id", F.col("cell_row").cast("long") * ncols + F.col("cell_col")
    )
    stop = (F.col("area") >= amin) | (F.col("fd") == 0)
    ptr = with_id.select(
        "id",
        F.when(
            ~stop,
            (F.col("cell_row") + F.expr(_DR_CASE)).cast("long") * ncols
            + F.col("cell_col") + F.expr(_DC_CASE),
        ).otherwise(F.col("id")).alias("ptr"),
    )
    roots = _pointer_double(ptr)
    streams = with_id.filter(F.col("area") >= amin).select(
        F.col("id").alias("sid"), F.col("z").alias("z_s")
    )
    return (
        with_id.join(roots, "id")
        .join(streams, F.col("root") == F.col("sid"), "left")
        .select(
            "cell_row", "cell_col",
            F.round(F.col("z") - F.col("z_s"), 6).alias("hand"),
        )
    )


# ---------------------------------------------------------------------------
# G11-G13: channel network
# ---------------------------------------------------------------------------


def network_nodes(
    metrics: DataFrame, grid: GridSpec, amin: float
) -> DataFrame:
    """G11/G12: channel network nodes (area > amin, networkGraph.py:134).

    Node attributes (L from the outlet, Ksn = S * A**theta with S =
    (Z_ds - Z)/(L_ds - L), NaN at outlets — networkGraph.py:938-948, :477)
    come from the per-basin sweep; the channel mask is downstream-closed
    because area is monotone along flow, so the filtered subgraph is
    exactly the reference's network."""
    ncols = grid.ncols
    nodes = (
        metrics.filter(F.col("area") > amin)
        .withColumn(  # outlet Ksn: NaN in the kernel -> relational NULL
            "ksn",
            F.when(~F.isnan("ksn"), F.col("ksn")),
        )
        .withColumn(
            "id", F.col("cell_row").cast("long") * ncols + F.col("cell_col")
        )
    )
    return nodes.withColumn(
        "down_id",
        F.when(
            F.col("fd") > 0,
            (F.col("cell_row") + F.expr(_DR_CASE)).cast("long") * ncols
            + F.col("cell_col") + F.expr(_DC_CASE),
        ),
    )


def dissolve_network(
    nodes: DataFrame, grid: GridSpec
) -> DataFrame:
    """G13: contract degree-2 chains into segments
    (dissolvedNetworkGraph, networkGraph.py:1179-1405).

    Junctions = channel cells with >= 2 channel inflows, plus outlets.
    Every node belongs to the segment of the first junction at-or-
    downstream of it (pointer doubling); per-segment windowed slope is
    Dz/DL over member nodes (networkGraph.py:1308-1405)."""
    inflows = (
        nodes.filter(F.col("down_id").isNotNull())
        .groupBy(F.col("down_id").alias("id"))
        .agg(F.count(F.lit(1)).alias("n_in"))
    )
    flagged = nodes.join(inflows, "id", "left").withColumn(
        "is_junction",
        (F.coalesce("n_in", F.lit(0)) >= 2) | F.col("down_id").isNull(),
    )
    ptr = flagged.select(
        "id",
        F.when(F.col("is_junction"), F.col("id"))
        .otherwise(F.col("down_id"))
        .alias("ptr"),
    )
    seg = _pointer_double(ptr).withColumnRenamed("root", "seg_id")
    return (
        flagged.join(seg, "id")
        .groupBy("seg_id")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            (F.max("z") - F.min("z")).alias("dz"),
            (F.max("L") - F.min("L")).alias("dl"),
            F.avg("ksn").alias("mean_ksn"),
        )
        .select(
            (F.col("seg_id") / grid.ncols).cast("int").alias("seg_row"),
            F.pmod(F.col("seg_id"), F.lit(grid.ncols)).cast("int").alias(
                "seg_col"
            ),
            "n_nodes", "dz", "dl",
            F.when(F.col("dl") > 0, F.col("dz") / F.col("dl")).alias(
                "seg_slope"
            ),
            "mean_ksn",
        )
    )


COST_STEP_Q = 8192  #: base cost per move (1.0 in Q13 units)
COST_ROUNDS = 6     #: bounded Bellman-Ford horizon


def cost_distance(
    zgrid: DataFrame,
    seeds: DataFrame,
    rounds: int = COST_ROUNDS,
) -> DataFrame:
    """(cell_row, cell_col, cost_q): bounded-horizon least-cost
    distance over the DEM — the GIS cost-surface verb (accessibility /
    corridor analysis) the flow stack's steepest-descent-only walks
    cannot express: movement is allowed in all 8 directions and each
    move into a neighbour costs COST_STEP_Q + |zq(b) - zq(a)| (one
    base unit plus the climb/descent, all exact integers on the
    caller's zq grid).

    zgrid: (cell_row, cell_col, zq INTEGER); seeds: (cell_row,
    cell_col) cost-0 sources (e.g. the channel network).  ``rounds``
    Bellman-Ford supersteps of the relaxation
    cost(v) = min(cost(v), min_u cost(u) + w(u, v)) — the bfs_hops
    bounded-horizon contract: within ``rounds`` moves of a seed the
    cost is the true minimum (every relaxation sequence is exhausted),
    beyond it the cell is absent; a production run raises ``rounds``
    to the surface diameter or switches to delta iteration — traffic,
    not results.

    All-integer MIN folds — bit-exact, no rounding policy, and the
    unrolled-CTE oracle matches exactly.  Scale shape: each round is
    ONE 8-offset explode + equi-join on the cell key + map-side MIN —
    the Pregel shape on the raster graph."""
    g = zgrid.select("cell_row", "cell_col", "zq").localCheckpoint(
        eager=True
    )
    offs = F.explode(
        F.array(
            *[
                F.struct(F.lit(D8_CODE_TO_DR[k]).alias("dr"),
                         F.lit(D8_CODE_TO_DC[k]).alias("dc"))
                for k in D8_CODE_TO_DR
            ]
        )
    ).alias("o")
    cost = seeds.join(g, ["cell_row", "cell_col"]).select(
        "cell_row", "cell_col", F.lit(0).cast("long").alias("cost_q")
    )
    nbr = g.select(
        F.col("cell_row").alias("tr"),
        F.col("cell_col").alias("tc"),
        F.col("zq").alias("tzq"),
    )
    for _ in range(rounds):
        moved = (
            cost.join(g, ["cell_row", "cell_col"])
            .select("cell_row", "cell_col", "cost_q", "zq", offs)
            .select(
                (F.col("cell_row") + F.col("o.dr")).alias("tr"),
                (F.col("cell_col") + F.col("o.dc")).alias("tc"),
                "cost_q",
                "zq",
            )
            .join(nbr, ["tr", "tc"])
            .select(
                F.col("tr").alias("cell_row"),
                F.col("tc").alias("cell_col"),
                (
                    F.col("cost_q")
                    + F.lit(COST_STEP_Q)
                    + F.abs(F.col("tzq") - F.col("zq"))
                ).alias("cost_q"),
            )
        )
        cost = (
            cost.unionByName(moved)
            .groupBy("cell_row", "cell_col")
            .agg(F.min("cost_q").alias("cost_q"))
            .localCheckpoint(eager=True)
        )
    return cost
