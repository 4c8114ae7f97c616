"""Flow-routing parity: distributed operators vs whole-grid sequential
oracles (the reference's own algorithm shapes, functions/flow_kernels.py).

The load-bearing assertion: per-tile priority-flood with halo-seed
fixpoint and per-basin sweeps produce CELL-EXACT equality with the
single-process whole-grid algorithms, including depressions and basins
that span tile boundaries."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rgr_pdal_topo_spark.functions import flow_kernels as fk
from rgr_pdal_topo_spark.functions.kernels import KERNELS
from rgr_pdal_topo_spark.grid import GridSpec
from rgr_pdal_topo_spark.operators import flow
from rgr_pdal_topo_spark.operators.stencils import replicate_halo

GRID = GridSpec(x0=0.0, y0=0.0, cell=10.0, nrows=40, ncols=48)
AGG = 1e-7
#: jobs fill_dem launches on make_dem(with_holes=True), 3x3 tiles of 16:
#: one tagged checkpoint per round, which also yields the next round's
#: tiles (those whose halo ring changed), and no confirmation round.  A
#: count per round, a semi-join on the tiles of every changed cell and a
#: confirmation round took 42.
MULTI_TILE_BUILD_JOBS = 17


def make_dem(with_holes: bool = False) -> np.ndarray:
    """Generic-valued DEM with depressions spanning tile boundaries
    (tile_cells=16 puts tile seams at rows/cols 16 and 32)."""
    rng = np.random.default_rng(42)
    r = np.arange(GRID.nrows)[:, None]
    c = np.arange(GRID.ncols)[None, :]
    z = (
        100.0
        + 0.05 * r
        + 0.03 * c
        + 2.0 * np.sin(r / 5.0) * np.cos(c / 7.0)
        + 0.3 * rng.random((GRID.nrows, GRID.ncols))
    )
    for (cr, cc, rad, depth) in [(16, 16, 6, 5.0), (30, 40, 4, 3.0),
                                 (8, 33, 5, 4.0)]:
        d2 = (r - cr) ** 2 + (c - cc) ** 2
        z -= depth * np.exp(-d2 / (2.0 * rad**2))
    if with_holes:
        z[5:8, 5:9] = np.nan
        z[20:22, 30:31] = np.nan
    return z


def dem_df(spark, z: np.ndarray):
    rr, cc = np.nonzero(~np.isnan(z))
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "cell_row": rr.astype("int32"),
                "cell_col": cc.astype("int32"),
                "value": z[rr, cc],
            }
        )
    )


def oracle_fill(z: np.ndarray) -> np.ndarray:
    return fk.priority_flood(z, GRID.cell, GRID.cell, AGG)


def test_priority_flood_fills_pits():
    z = make_dem()
    filled = oracle_fill(z)
    assert np.all(filled >= z - 1e-12)
    # border row/col cells are seeds: never raised
    assert np.array_equal(filled[0, :], z[0, :])
    assert np.array_equal(filled[:, -1], z[:, -1])
    # the deep pit at (16,16) must have been raised
    assert filled[16, 16] > z[16, 16] + 1.0
    # after filling, every interior cell has a non-ascending path out:
    fd = KERNELS["d8_flow_dir"].fn(
        np.pad(filled, 1, constant_values=np.nan), GRID.cell, GRID.cell
    )
    interior_flat = (fd[1:-1, 1:-1] == 0).sum()
    assert interior_flat == 0


def assert_fill_matches_sequential(fill_df, z: np.ndarray) -> None:
    """fill_dem output equals the whole-grid priority flood, cell for
    cell, and holds no row for a NoData cell."""
    expected = oracle_fill(z)
    out = fill_df.toPandas()
    got = np.full_like(z, np.nan)
    got[out["cell_row"], out["cell_col"]] = out["fill"]
    valid = ~np.isnan(z)
    assert np.array_equal(got[valid], expected[valid]), (
        np.nanmax(np.abs(got - expected))
    )
    assert np.all(np.isnan(got[~valid]))


def build_jobs(spark, group: str, build):
    """Run ``build()`` under job group ``group``; return its result and
    the ids of the Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("holes", [False, True, "tile"])
def test_distributed_fill_matches_sequential(spark, holes):
    z = make_dem(with_holes=holes is True)
    if holes == "tile":
        z[0:16, 32:48] = np.nan  # the whole of tile (0, 2) is NoData
    dem = dem_df(spark, z)
    fill, jobs = build_jobs(
        spark, f"fill-3x3-{holes}",
        lambda: flow.fill_dem(dem, GRID, AGG, tile_cells=16),
    )
    if holes is True:
        assert len(jobs) <= MULTI_TILE_BUILD_JOBS
    assert_fill_matches_sequential(fill, z)


@pytest.mark.parametrize("T", [16, 7])
def test_ring_tiles_are_halo_windows_minus_home(spark, T):
    """GridSpec.ring_tiles, the tiles fill_dem re-runs for a changed cell,
    names exactly the tiles replicate_halo copies the cell to besides its
    home tile (partial tiles at the south edge included)."""
    rr, cc = np.meshgrid(
        np.arange(GRID.nrows), np.arange(GRID.ncols), indexing="ij"
    )
    cells = spark.createDataFrame(pd.DataFrame({
        "cell_row": rr.ravel().astype("int32"),
        "cell_col": cc.ravel().astype("int32"),
    }))
    row, col = F.col("cell_row"), F.col("cell_col")
    got = {
        (r.cell_row, r.cell_col): set(r.ring)
        for r in cells.select(
            row, col, GRID.ring_tiles(row, col, T).alias("ring")
        ).collect()
    }
    home = GRID.tile_id(row, col, T)
    exp = {cell: set() for cell in got}
    for r in replicate_halo(cells, GRID, T, 1).filter(
        F.col("tile_id") != home
    ).collect():
        exp[(r.cell_row, r.cell_col)].add(r.tile_id)
    assert got == exp


def test_single_tile_fill_is_one_lazy_flood(spark):
    """A one-tile grid has no halo ring, so its first flood is the fill:
    the build launches no job and the output is the sequential fill."""
    z = make_dem(with_holes=True)
    dem = dem_df(spark, z)
    assert GRID.tile_counts(48) == (1, 1)
    fill, jobs = build_jobs(
        spark, "fill-one-tile",
        lambda: flow.fill_dem(dem, GRID, AGG, tile_cells=48),
    )
    assert jobs == []
    assert_fill_matches_sequential(fill, z)


def test_fill_drops_out_of_extent_rows(spark):
    """Rows outside the grid extent (cell_row -1 and nrows, cell_col -1
    and ncols) are dropped, as run_stencils drops them: the output equals
    fill_dem over the in-extent rows alone, which is the sequential fill
    (test_distributed_fill_matches_sequential)."""
    z = make_dem()
    outside = pd.DataFrame(
        {
            "cell_row": np.array([-1, GRID.nrows, 7, 9], dtype="int32"),
            "cell_col": np.array([3, 5, -1, GRID.ncols], dtype="int32"),
            "value": 50.0,
        }
    )
    dem = dem_df(spark, z).unionByName(spark.createDataFrame(outside))
    got = (
        flow.fill_dem(dem, GRID, AGG, tile_cells=16)
        .toPandas()
        .sort_values(["cell_row", "cell_col"], ignore_index=True)
    )
    rr, cc = np.nonzero(~np.isnan(z))
    expected = pd.DataFrame(
        {
            "cell_row": rr.astype("int32"),
            "cell_col": cc.astype("int32"),
            "z": z[rr, cc],
            "fill": oracle_fill(z)[rr, cc],
        }
    )
    pd.testing.assert_frame_equal(got, expected, check_exact=True)


def test_empty_input_fills_nothing(spark):
    empty = spark.createDataFrame([], "cell_row int, cell_col int, value double")
    assert flow.fill_dem(empty, GRID, AGG, tile_cells=16).count() == 0


def test_flow_metrics_matches_sequential(spark):
    z = make_dem()
    filled = oracle_fill(z)
    fd = KERNELS["d8_flow_dir"].fn(
        np.pad(filled, 1, constant_values=np.nan), GRID.cell, GRID.cell
    )
    rr, cc = np.nonzero(~np.isnan(z))
    exp = fk.basin_sweeps(
        rr, cc, z[rr, cc], filled[rr, cc], fd[rr, cc],
        GRID.cell, GRID.cell, a0=1e6, theta=0.45,
    )
    got = (
        flow.flow_metrics(dem_df(spark, z), GRID, do_fill=True, agg_slope=AGG)
        .toPandas()
        .set_index(["cell_row", "cell_col"])
        .loc[list(zip(rr, cc))]
    )
    assert np.array_equal(got["fd"].to_numpy(), fd[rr, cc].astype("int32"))
    assert np.array_equal(got["area"].to_numpy(), exp["area"])
    assert np.array_equal(got["L"].to_numpy(), exp["L"])
    assert np.array_equal(got["chi"].to_numpy(), exp["chi"])
    assert np.array_equal(got["order"].to_numpy(), exp["order"])
    ksn_g, ksn_e = got["ksn"].to_numpy(), exp["ksn"]
    both_nan = np.isnan(ksn_g) & np.isnan(ksn_e)
    assert np.array_equal(ksn_g[~both_nan], ksn_e[~both_nan])
    assert np.array_equal(got["max_l"].to_numpy(), exp["max_l"])
    md_g, md_e = got["mean_dir"].to_numpy(), exp["mean_dir"]
    md_nan = np.isnan(md_g) & np.isnan(md_e)
    assert np.array_equal(md_g[~md_nan], md_e[~md_nan])

    # basin label = row-major id of the fd==0 root reached by the pointer
    # chase; verify against a direct sequential chase.
    down = {}
    for r, c in zip(rr, cc):
        code = int(fd[r, c])
        if code > 0:
            down[(r, c)] = (
                r + fk.D8_CODE_TO_DR[code], c + fk.D8_CODE_TO_DC[code]
            )
    roots = {}
    for cell in zip(rr, cc):
        cur = cell
        while cur in down:
            cur = down[cur]
        roots[cell] = cur[0] * GRID.ncols + cur[1]
    exp_roots = np.array([roots[(r, c)] for r, c in zip(rr, cc)])
    assert np.array_equal(got["basin_id"].to_numpy(), exp_roots)


def test_network_nodes_and_dissolve(spark):
    z = make_dem()
    m = flow.flow_metrics(
        dem_df(spark, z), GRID, do_fill=True, agg_slope=AGG
    )
    amin = 10 * GRID.cell * GRID.cell
    nodes = flow.network_nodes(m, GRID, amin).persist()
    n_nodes = nodes.count()
    assert n_nodes > 0
    # channel mask is downstream-closed: every down_id is itself a node
    ids = {r["id"] for r in nodes.select("id").collect()}
    down_ids = [
        r["down_id"] for r in nodes.select("down_id").collect()
        if r["down_id"] is not None
    ]
    assert set(down_ids) <= ids
    segs = flow.dissolve_network(nodes, GRID).toPandas()
    assert segs["n_nodes"].sum() == n_nodes
    assert (segs["n_nodes"] >= 1).all()
    nodes.unpersist()


def test_main_path_matches_reference_walk(spark):
    """G9: per-basin greatest-area path == sequential reference walk."""
    z = make_dem()
    m = (
        flow.flow_metrics(dem_df(spark, z), GRID, do_fill=True, agg_slope=AGG)
        .toPandas()
        .set_index(["cell_row", "cell_col"])
    )
    # sequential walk per outlet using the engine's own area/fd values
    fd = {idx: int(r["fd"]) for idx, r in m.iterrows()}
    area = {idx: float(r["area"]) for idx, r in m.iterrows()}
    ups = {}
    for (r, c), code in fd.items():
        if code > 0:
            d = (r + fk.D8_CODE_TO_DR[code], c + fk.D8_CODE_TO_DC[code])
            ups.setdefault(d, []).append((r, c))
    kern = {(int(fk.D8_ROW_KERNEL[k]), int(fk.D8_COL_KERNEL[k])): k
            for k in range(8)}
    expected = {}
    for cell, code in fd.items():
        if code != 0:
            continue
        cur, step = cell, 0
        expected[cur] = step
        while cur in ups:
            cands = ups[cur]
            here = cur
            cur = min(
                cands,
                key=lambda i: (
                    -area[i], kern[(i[0] - here[0], i[1] - here[1])]
                ),
            )
            step += 1
            expected[cur] = step
    got = m[m["path_step"] >= 0]["path_step"].to_dict()
    assert got == expected


def test_fill_matches_golden_sf001(spark):
    """G1 driver-shaped check: the distributed fill over the real sf0.01
    flow DEM equals the committed sequential priority-flood result
    bit-for-bit (tests/golden/flow_fill_sf0.01.parquet; regenerate by
    running fk.priority_flood on _flow_dem — see git history of this
    test)."""
    import os

    import pandas as pd

    from rgr_pdal_topo_spark.queries import FG, _flow_dem

    golden = pd.read_parquet(
        os.path.join(os.path.dirname(__file__), "golden",
                     "flow_fill_sf0.01.parquet")
    ).sort_values(["cell_row", "cell_col"]).reset_index(drop=True)
    out = (
        flow.fill_dem(_flow_dem(spark, "/root/testdata/sf0.01"), FG,
                      tile_cells=25)
        .toPandas()
        .sort_values(["cell_row", "cell_col"])
        .reset_index(drop=True)
    )
    assert len(out) == len(golden)
    assert (out.cell_row.to_numpy() == golden.cell_row.to_numpy()).all()
    assert (out.cell_col.to_numpy() == golden.cell_col.to_numpy()).all()
    np.testing.assert_array_equal(out.z.to_numpy(), golden.z.to_numpy())
    np.testing.assert_array_equal(
        out.fill.to_numpy(), golden.fill_z.to_numpy()
    )


def test_hand_matches_sequential_walk(spark):
    """HAND == a direct sequential downstream walk: per cell, z minus the
    z of the FIRST cell on its D8 path with area >= amin; 0 on channel
    cells; NaN when the path ends at a sub-threshold outlet.  Covers the
    three regimes on a DEM whose basins span tile seams."""
    z = make_dem()
    m = flow.flow_metrics(
        dem_df(spark, z), GRID, do_fill=True, agg_slope=AGG
    ).persist()
    amin = 10 * GRID.cell * GRID.cell
    got = (
        flow.hand_grid(m, GRID, amin)
        .toPandas()
        .set_index(["cell_row", "cell_col"])["hand"]
    )
    rows = m.select("cell_row", "cell_col", "z", "fd", "area").collect()
    m.unpersist()
    info = {(r.cell_row, r.cell_col): r for r in rows}
    n_zero = n_null = n_pos = 0
    for (r, c), cur in info.items():
        node = cur
        while node.area < amin and node.fd > 0:
            node = info[
                (node.cell_row + fk.D8_CODE_TO_DR[node.fd],
                 node.cell_col + fk.D8_CODE_TO_DC[node.fd])
            ]
        g = got.loc[(r, c)]
        if node.area >= amin:
            exp = round(cur.z - node.z, 6)
            assert g == exp, (r, c, g, exp)
            if (r, c) == (node.cell_row, node.cell_col):
                assert g == 0.0
                n_zero += 1
            else:
                n_pos += 1
        else:  # sub-threshold outlet: no drainage on the path
            assert pd.isna(g), (r, c, g)
            n_null += 1
    # all three regimes must actually occur for the test to mean anything
    assert n_zero > 0 and n_pos > 0 and n_null > 0


def test_hypsometry_pandas_replay(spark):
    """Replay the per-basin hypsometric integral in pandas from the
    engine's own basin labels + quantized DEM (independent of the SQL
    oracle path): same joins, same n>=8 / zmax>zmin gates, same
    sum/n - min over max - min formula."""
    from pyspark.sql import functions as FF

    from rgr_pdal_topo_spark.queries import (
        QUERIES, Q20, _flow_dem, _flow_metrics_raw, quant_col,
    )

    sf = "/root/testdata/sf0.001"
    basins = _flow_metrics_raw(spark, sf).select(
        "cell_row", "cell_col", "basin_id"
    ).toPandas()
    dem = _flow_dem(spark, sf).select(
        "cell_row", "cell_col",
        quant_col(FF.col("value"), Q20).alias("z"),
    ).toPandas()
    j = basins.merge(dem, on=["cell_row", "cell_col"])
    exp = {}
    for bid, grp in j.groupby("basin_id"):
        n, zmin, zmax = len(grp), grp["z"].min(), grp["z"].max()
        if n >= 8 and zmax > zmin:
            hi = round((grp["z"].sum() / n - zmin) / (zmax - zmin), 6)
            exp[bid] = (n, round(zmin, 6), round(zmax, 6), hi)

    got = {
        r["basin_id"]: (r["n_cells"], r["zmin"], r["zmax"], r["hi"])
        for r in QUERIES["hypsometry"](spark, sf).collect()
    }
    assert set(got) == set(exp)
    for bid in exp:
        assert got[bid][:3] == exp[bid][:3]
        assert abs(got[bid][3] - exp[bid][3]) < 2e-6
        assert 0.0 <= got[bid][3] <= 1.0  # HI is a normalized integral


def test_twi_tilted_plane_analytic(spark):
    """TWI on a uniform west-dipping plane (z = col index, cell 10 m):
    every cell flows due west, area accumulates along the row, slope is
    exactly 0.1, so twi = ln((ncols - c) * 100) analytically."""
    import math

    g = GridSpec(x0=0.0, y0=0.0, cell=10.0, nrows=8, ncols=8)
    df = spark.createDataFrame(
        [(r, c, float(c)) for r in range(8) for c in range(8)],
        "cell_row int, cell_col int, value double",
    )
    m = flow.flow_metrics(df, g, do_fill=False, tile_cells=4)
    got = {
        (r.cell_row, r.cell_col): (r.fd, r.area, r.slope_d8)
        for r in m.collect()
    }
    assert len(got) == 64
    for r in range(8):
        assert got[(r, 0)][0] == 0  # col 0: no lower neighbor -> outlet
        for c in range(1, 8):
            fd, area, s = got[(r, c)]
            assert fd == 16, (r, c)  # due west (steeper than diagonals)
            assert area == (8 - c) * 100.0
            assert s == 0.1
            # the query's spelling: ln(area / (10.0 * slope)); 10*0.1
            # rounds to exactly 1.0, so twi == ln(area) here
            assert abs(
                math.log(area / (10.0 * s)) - math.log((8 - c) * 100.0)
            ) < 1e-12


def test_slope_area_fit_python_replay(spark):
    """The OLS accumulators replay exactly in pure Python from the
    flow-metrics channel set (same quantization chain), and the fitted
    exponent is negative — slopes flatten downstream (the stream-power
    contract the analysis exists to measure)."""
    import math

    from rgr_pdal_topo_spark.queries import QUERIES, _flow_metrics_raw

    sf = "/root/testdata/sf0.001"
    m = _flow_metrics_raw(spark, sf).collect()
    q13 = lambda v: math.floor(math.log(v) * 8192 + 0.5)
    xs, ys = [], []
    for r in m:
        sq = math.floor(r.slope_d8 * 8192.0 + 0.5)
        if r.fd > 0 and r.area >= 1600.0 and sq >= 1:
            xs.append(q13(float(int(r.area / 100.0))))
            ys.append(q13(float(sq)))
    row = QUERIES["slope_area_fit"](spark, sf).collect()[0]
    assert row.n_ch == len(xs)
    assert row.sx == sum(xs) and row.sy == sum(ys)
    assert row.sxy == sum(x * y for x, y in zip(xs, ys))
    assert row.sxx == sum(x * x for x in xs)
    assert row.theta_neg < 0


def test_cost_distance_hand_computed_and_horizon(spark):
    """Exact costs on a flat 1 x 9 strip with the seed at col 0: cell
    k costs k * 8192, cells past the 6-round horizon are ABSENT; on a
    3 x 3 patch with a raised rim cell, the direct move pays the climb
    and no 2-step detour beats it."""
    def zdf(cells):
        return spark.createDataFrame(
            pd.DataFrame(
                [
                    {"cell_row": r, "cell_col": c, "zq": v}
                    for (r, c), v in cells.items()
                ]
            )
        )

    strip = {(0, c): 0 for c in range(9)}
    seeds = spark.createDataFrame(
        pd.DataFrame([{"cell_row": 0, "cell_col": 0}])
    )
    got = {
        (r["cell_row"], r["cell_col"]): r["cost_q"]
        for r in flow.cost_distance(zdf(strip), seeds, 6).collect()
    }
    assert got == {(0, c): c * 8192 for c in range(7)}  # 7, 8 absent

    patch = {(r, c): 0 for r in range(3) for c in range(3)}
    patch[(0, 1)] = 100
    patch[(2, 2)] = 30
    seeds = spark.createDataFrame(
        pd.DataFrame([{"cell_row": 1, "cell_col": 1}])
    )
    got = {
        (r["cell_row"], r["cell_col"]): r["cost_q"]
        for r in flow.cost_distance(zdf(patch), seeds, 6).collect()
    }
    assert got[(1, 1)] == 0
    assert got[(0, 1)] == 8192 + 100
    assert got[(2, 2)] == 8192 + 30
    assert got[(0, 0)] == 8192  # flat diagonal


def test_basin_drainage_pandas_replay(spark):
    """Replay per-basin drainage density in pandas from the engine's
    own basin labels + area (independent of the SQL oracle path):
    same channel threshold, same n >= 8 gate, one division."""
    from rgr_pdal_topo_spark.queries import (
        QUERIES, _KSN_AMIN, _flow_metrics_raw,
    )

    sf = "/root/testdata/sf0.001"
    m = _flow_metrics_raw(spark, sf).select("basin_id", "area").toPandas()
    exp = {}
    for bid, grp in m.groupby("basin_id"):
        n = len(grp)
        if n >= 8:
            nc = int((grp["area"] >= _KSN_AMIN).sum())
            exp[bid] = (n, nc, round(nc / n, 6))

    got = {
        r["basin_id"]: (r["n_cells"], r["n_channel"], r["drainage_density"])
        for r in QUERIES["basin_drainage"](spark, sf).collect()
    }
    assert got == exp
    assert any(v[1] > 0 for v in exp.values())  # channels exist


def test_order_census_pandas_replay(spark):
    """Replay the order census in pandas from the engine's own
    stream-order column: same counts, same LEAD ratio, NULL on the
    top order."""
    from rgr_pdal_topo_spark.queries import QUERIES, _flow_metrics_raw

    sf = "/root/testdata/sf0.001"
    orders = (
        _flow_metrics_raw(spark, sf)
        .select("order")
        .toPandas()["order"]
        .astype(int)
    )
    counts = orders.value_counts().sort_index()
    rows = {
        r["stream_order"]: r
        for r in QUERIES["order_census"](spark, sf).collect()
    }
    ks = sorted(counts.index)
    assert sorted(rows) == ks
    for i, k in enumerate(ks):
        assert rows[k]["n_cells"] == counts[k]
        if i + 1 < len(ks):
            assert rows[k]["decay_ratio"] == round(
                counts[k] / counts[ks[i + 1]], 6
            )
        else:
            assert rows[k]["decay_ratio"] is None
    assert len(ks) >= 2  # the network has at least two orders
