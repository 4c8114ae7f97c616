"""Spatial joins vs NumPy/pandas oracles implementing the reference
semantics (projectPointsOntoLine first-segment-wins; kNN argmin + maxDist
sentinel; point-in-polygon)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF_DIR

from rgr_pdal_topo_spark.grid import GridSpec
from rgr_pdal_topo_spark.operators import gridding, joins
from rgr_pdal_topo_spark.synth import (
    PROFILES,
    gps_df,
    points_df,
    polygons_df,
    profile_segments,
)

GRID = GridSpec()


@pytest.fixture(scope="module")
def pts(spark):
    return points_df(spark, SF_DIR).cache()


@pytest.fixture(scope="module")
def pts_pdf(spark, pts):
    return pts.toPandas()


def test_pip_rect_matches_pandas(spark, pts, pts_pdf):
    polys = polygons_df(spark, SF_DIR)
    got = joins.pip_join_rect(pts, polys).groupBy("polygon_id").count().toPandas()
    polys_pdf = polys.toPandas()
    exp = {}
    for _, g in polys_pdf.iterrows():
        m = (
            (pts_pdf.x >= g.xmin)
            & (pts_pdf.x < g.xmin + g.width)
            & (pts_pdf.y >= g.ymin)
            & (pts_pdf.y < g.ymin + g.height)
        )
        if m.sum():
            exp[g.polygon_id] = int(m.sum())
    got_d = dict(zip(got.polygon_id, got["count"]))
    assert got_d == exp


def test_pip_generic_matches_rect_on_rectangles(spark, pts):
    """Ray-cast generic path must agree with the range-predicate path when
    polygons are rectangles expressed as rings."""
    polys_pdf = polygons_df(spark, SF_DIR).toPandas()
    rings = []
    for _, g in polys_pdf.head(8).iterrows():
        x0, y0 = g.xmin, g.ymin
        x1, y1 = g.xmin + g.width, g.ymin + g.height
        rings.append(
            (int(g.polygon_id), [(x0, y0), (x1, y0), (x1, y1), (x0, y1)])
        )
    got = (
        joins.pip_join_generic(pts, rings)
        .groupBy("polygon_id")
        .count()
        .toPandas()
        .sort_values("polygon_id")
    )
    rect = (
        joins.pip_join_rect(
            pts,
            polygons_df(spark, SF_DIR).filter(
                f"polygon_id IN ({','.join(str(r[0]) for r in rings)})"
            ),
        )
        .groupBy("polygon_id")
        .count()
        .toPandas()
        .sort_values("polygon_id")
    )
    # boundary convention differs only on exact edges; points are at 2-dp
    # coords while polygon edges are multiples of 50 -> x==edge happens.
    # Ray cast counts (y in [ymin, ymax), x in (xmin, xmax]) — compare with
    # tolerance of boundary points.
    g = dict(zip(got.polygon_id, got["count"]))
    r = dict(zip(rect.polygon_id, rect["count"]))
    assert set(g) == set(r)
    for k in g:
        assert abs(g[k] - r[k]) <= 5, (k, g[k], r[k])


def test_pip_generic_concave_oracle(spark, pts, pts_pdf):
    """Concave (L-shaped) polygon vs a direct NumPy ray-cast oracle."""
    ring = [(100.0, 100.0), (400.0, 100.0), (400.0, 250.0), (250.0, 250.0),
            (250.0, 400.0), (100.0, 400.0)]
    got = joins.pip_join_generic(pts, [(99, ring)]).count()

    xs = np.array([p[0] for p in ring])
    ys = np.array([p[1] for p in ring])
    xs2, ys2 = np.roll(xs, -1), np.roll(ys, -1)
    qx, qy = pts_pdf.x.to_numpy(), pts_pdf.y.to_numpy()
    inside = np.zeros(len(qx), dtype=bool)
    for ax, ay, bx, by in zip(xs, ys, xs2, ys2):
        crosses = (ay > qy) != (by > qy)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (bx - ax) * (qy - ay) / (by - ay) + ax
        inside ^= crosses & (qx < xint)
    assert got == int(inside.sum())


def _project_oracle(pts_pdf: pd.DataFrame) -> pd.DataFrame:
    """projectPointsOntoLine semantics in NumPy over every point: per
    profile, the first segment (by seg_idx) with t in [0, 1] wins.  Same
    arithmetic order as the engine, so the comparison is exact."""
    x, y = pts_pdf.x.to_numpy(), pts_pdf.y.to_numpy()
    pid = pts_pdf.pid.to_numpy()
    out = []
    segs = profile_segments()
    for prof in PROFILES:
        won = np.zeros(len(x), dtype=bool)
        psegs = sorted(
            (s for s in segs if s.profile_id == prof["profile_id"]),
            key=lambda s: s.seg_idx,
        )
        for s in psegs:
            t = ((x - s.x1) * (s.x2 - s.x1) + (y - s.y1) * (s.y2 - s.y1)) / s.l2
            hit = ~won & (t >= 0) & (t <= 1)
            won |= hit
            px = s.x1 + t * (s.x2 - s.x1)
            py = s.y1 + t * (s.y2 - s.y1)
            d = np.sqrt((px - x) * (px - x) + (py - y) * (py - y))
            l = s.l_start + np.sqrt(
                (px - s.x1) * (px - s.x1) + (py - s.y1) * (py - s.y1)
            )
            out.append(pd.DataFrame({
                "pid": pid[hit], "profile_id": prof["profile_id"],
                "seg_idx": s.seg_idx, "t": t[hit], "d": d[hit], "l": l[hit],
            }))
    return pd.concat(out, ignore_index=True)


def test_profile_projection_oracle(spark, pts, pts_pdf):
    key = ["profile_id", "pid"]
    got = (
        joins.profile_project(pts)
        .select("pid", "profile_id", "seg_idx", "t", "d", "l")
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    exp = _project_oracle(pts_pdf).sort_values(key).reset_index(drop=True)
    assert len(got) == len(exp) > 0
    for c in ["pid", "profile_id", "seg_idx", "t", "d", "l"]:
        np.testing.assert_array_equal(got[c].to_numpy(), exp[c].to_numpy(), c)


def _knn_oracle(pts_pdf, gps_pdf, bucket, max_dist=100.0):
    """Brute-force argmin over every point (pid tiebreak) plus the
    max-distance sentinel; also counts the queries whose 3x3 bucket
    ring cannot prove the answer (knn_join_grid's fallback set)."""
    x, y = pts_pdf.x.to_numpy(), pts_pdf.y.to_numpy()
    pid, z = pts_pdf.pid.to_numpy(), pts_pdf.z.to_numpy()
    bx, by = np.floor(x / bucket), np.floor(y / bucket)
    rows, n_fallback = [], 0
    for g in gps_pdf.itertuples():
        d2 = (x - g.gx) * (x - g.gx) + (y - g.gy) * (y - g.gy)
        dmin = d2.min()
        i = np.flatnonzero(d2 == dmin)[np.argmin(pid[d2 == dmin])]
        dist = math.sqrt(dmin)
        rows.append((g.gps_id, pid[i], dist, z[i] if dist <= max_dist else -9999.0))
        ring = (np.abs(bx - math.floor(g.gx / bucket)) <= 1) & (
            np.abs(by - math.floor(g.gy / bucket)) <= 1
        )
        n_fallback += not ring.any() or d2[ring].min() > bucket * bucket
    exp = pd.DataFrame(rows, columns=["gps_id", "pid", "nn_dist", "nn_value"])
    return exp.sort_values("gps_id").reset_index(drop=True), n_fallback


def test_knn_broadcast_oracle(spark, pts, pts_pdf):
    """knn_join_grid against a brute-force broadcast argmin, exactly: at
    the default bucket (the ring guarantee holds for every query) and at
    a bucket small enough that some queries take the global fallback."""
    gps = gps_df(spark, SF_DIR)
    gps_pdf = gps.toPandas()
    for bucket in (50.0, 10.0):
        got = (
            joins.knn_join_grid(pts, gps, bucket=bucket, max_dist=100.0)
            .select("gps_id", "pid", "nn_dist", "nn_value")
            .toPandas()
            .sort_values("gps_id")
            .reset_index(drop=True)
        )
        exp, n_fallback = _knn_oracle(pts_pdf, gps_pdf, bucket)
        if bucket == 10.0:
            assert n_fallback > 0  # the fallback path is exercised
        assert len(got) == len(exp) == len(gps_pdf)
        for c in ["gps_id", "pid", "nn_dist", "nn_value"]:
            np.testing.assert_array_equal(
                got[c].to_numpy(), exp[c].to_numpy(), f"{c} @ {bucket}"
            )


def test_hag(spark, pts):
    ground = gridding.grid_points(pts.filter("cls = 2"), GRID, output_type="idw")
    hag = joins.height_above_ground(pts.filter("cls != 7"), ground, GRID)
    row = hag.selectExpr(
        "count(*) AS n",
        "sum(CASE WHEN ground_z IS NULL THEN 1 ELSE 0 END) AS missing",
        "avg(abs(hag)) AS mean_abs",
    ).first()
    assert row.n > 0
    # ground cells exist wherever ground points exist; non-ground-only cells
    # may miss — but HAG magnitude stays bounded by surface variation
    assert row.mean_abs < 30.0


def test_grid_residuals(spark, pts):
    a = gridding.grid_points(pts, GRID, output_type="mean")
    b = gridding.grid_points(pts, GRID, output_type="idw")
    r = joins.grid_residuals(a, b).first()
    assert r.n_cells > 0
    assert r.ssr >= 0.0


def test_profile_peaks_savgol_and_peak(spark):
    import numpy as np
    import pytest as _pt

    # one profile, one point per station, triangular apex at station 4
    zs = [0.0, 1.0, 2.0, 3.0, 10.0, 3.0, 2.0, 1.0, 0.0]
    rows = [(0, 10.0 * i + 5.0, z) for i, z in enumerate(zs)]
    df = spark.createDataFrame(rows, "profile_id int, l double, z double")
    out = {r.station: r for r in joins.profile_peaks(df).collect()}
    # only full 5-tap windows emit smoothed values
    assert sorted(out) == [2, 3, 4, 5, 6]
    c = np.array([-3.0, 12.0, 17.0, 12.0, -3.0]) / 35.0
    for s in range(2, 7):
        exp = float(np.dot(np.array(zs[s - 2:s + 3]), c))
        assert out[s].z_sm == _pt.approx(exp, rel=1e-12)
    assert [s for s in out if out[s].is_peak] == [4]


def test_profile_peaks_gap_blocks_convolution(spark):
    """An empty l-bin must be a NULL the 5-tap window sees: stations whose
    window spans the gap emit no smoothed value, and nothing pairs across
    the gap for the peak test (the reference smooths a DENSE array, so a
    hole is a NaN, not a seam)."""
    # profile 0: stations 0..4 and 6..10 populated, station 5 EMPTY
    zs = {s: float(s) for s in range(5)}
    zs.update({s: float(10 - s) + 20.0 for s in range(6, 11)})
    rows = [(0, 10.0 * s + 5.0, z) for s, z in zs.items()]
    df = spark.createDataFrame(rows, "profile_id int, l double, z double")
    out = {r.station: r for r in joins.profile_peaks(df).collect()}
    # full valid windows only: 2 (0..4) and 8 (6..10); every window
    # touching station 5 (stations 3..7) must emit nothing
    assert sorted(out) == [2, 8]
    assert not any(out[s].is_peak for s in out)



def test_pip_rtree_matches_range_join(spark):
    """The STR R-tree probe and the broadcast range join are
    output-identical on a dense random layer (200 polygons, overlaps,
    boundary points) — half-open semantics included."""
    import numpy as np

    rng = np.random.default_rng(11)
    polys = spark.createDataFrame(
        [
            (
                int(i),
                f"u{i % 7}",
                float(rng.uniform(0, 900)),
                float(rng.uniform(0, 900)),
                float(rng.uniform(5, 120)),
                float(rng.uniform(5, 120)),
            )
            for i in range(200)
        ],
        "polygon_id int, unit string, xmin double, ymin double, "
        "width double, height double",
    )
    rows = [
        (int(i), float(rng.uniform(0, 1000)), float(rng.uniform(0, 1000)))
        for i in range(2000)
    ]
    # plant exact-boundary points: xmin is IN, xmin+width is OUT
    p0 = polys.collect()[0]
    rows += [
        (9001, p0["xmin"], p0["ymin"]),
        (9002, p0["xmin"] + p0["width"], p0["ymin"]),
    ]
    pts = spark.createDataFrame(rows, "pid long, x double, y double")
    want = {
        (r.pid, r.polygon_id)
        for r in joins.pip_join_rect(pts, polys)
        .select("pid", "polygon_id")
        .collect()
    }
    got = {
        (r.pid, r.polygon_id)
        for r in joins.pip_join_rtree(pts, polys).collect()
    }
    assert got == want
    assert (9001, p0["polygon_id"]) in got
    assert all(p != 9002 or g != p0["polygon_id"] for p, g in got)


def test_pip_rtree_zero_shuffle_single_arrow_stage(spark):
    """The R-tree path must stay a map-side probe: no Exchange, no join
    operator — one Arrow stage over the scan."""
    from tests.conftest import SF_DIR

    from rgr_pdal_topo_spark.queries import QUERIES

    plan = (
        QUERIES["pip_rtree"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_pip_rtree_crossover_at_1e5_polygons(spark):
    """The R-tree strategy's stated reason to exist, measured: at 10^5
    polygons it must BEAT the BroadcastNestedLoopJoin range join on the
    same input, with identical output pairs.  (O(P/leaf_cap) vectorized
    leaf scans + member tests for hit leaves vs O(P) per-point
    predicate evaluations — see pip_join_rtree's docstring.)"""
    import time

    import numpy as np

    rng = np.random.default_rng(7)
    n_polys, n_pts = 100_000, 20_000
    px = rng.uniform(0, 10_000, n_polys)
    py = rng.uniform(0, 10_000, n_polys)
    pw = rng.uniform(5, 50, n_polys)
    ph = rng.uniform(5, 50, n_polys)
    polys = spark.createDataFrame(
        [
            (int(i), float(px[i]), float(py[i]), float(pw[i]), float(ph[i]))
            for i in range(n_polys)
        ],
        "polygon_id int, xmin double, ymin double, "
        "width double, height double",
    )
    qx = rng.uniform(0, 10_000, n_pts)
    qy = rng.uniform(0, 10_000, n_pts)
    pts = spark.createDataFrame(
        [(int(i), float(qx[i]), float(qy[i])) for i in range(n_pts)],
        "pid long, x double, y double",
    ).localCheckpoint(eager=True)  # timings must not re-pay row creation

    def timed(fn):
        df = fn(pts, polys)
        t0 = time.perf_counter()
        out = {(r.pid, r.polygon_id) for r in
               df.select("pid", "polygon_id").collect()}
        return time.perf_counter() - t0, out

    # warm both paths once (JIT, broadcast machinery) on a small slice
    small = pts.limit(100).localCheckpoint(eager=True)
    joins.pip_join_rect(small, polys).count()
    joins.pip_join_rtree(small, polys).count()

    t_tree, got_tree = timed(joins.pip_join_rtree)
    t_rect, got_rect = timed(joins.pip_join_rect)
    assert got_tree == got_rect and len(got_tree) > 1000
    # decisive at this cardinality; the margin absorbs host noise
    assert t_tree < t_rect * 0.8, (
        f"R-tree {t_tree:.2f}s not faster than range join {t_rect:.2f}s "
        f"at {n_polys} polygons"
    )


def test_pip_rtree_nan_points_do_not_poison_batch(spark):
    """A NaN-coordinate point must neither match any polygon nor drop
    the OTHER points' pairs (the batch-bbox prefilter takes its bounds
    over finite coords only)."""
    polys = spark.createDataFrame(
        [(1, 10.0, 10.0, 5.0, 5.0)],
        "polygon_id int, xmin double, ymin double, width double, "
        "height double",
    )
    pts = spark.createDataFrame(
        [(1, 12.0, 12.0), (2, float("nan"), 12.0), (3, 12.0, float("nan"))],
        "pid long, x double, y double",
    ).coalesce(1)  # all three share one batch
    got = {(r.pid, r.polygon_id)
           for r in joins.pip_join_rtree(pts, polys).collect()}
    assert got == {(1, 1)}


def test_pip_partitioned_matches_rect_and_never_broadcasts(spark):
    """The shuffle-partitioned cover-cell strategy is output-identical
    to the broadcast range join (half-open boundaries included, exactly
    one row per true pair), and with broadcasting disabled its plan is
    a genuine shuffle equi-join — the property that lets the polygon
    side exceed executor memory."""
    import numpy as np

    rng = np.random.default_rng(23)
    polys = spark.createDataFrame(
        [
            (int(i), float(rng.uniform(0, 900)), float(rng.uniform(0, 900)),
             float(rng.uniform(5, 120)), float(rng.uniform(5, 120)))
            for i in range(150)
        ],
        "polygon_id int, xmin double, ymin double, width double, "
        "height double",
    )
    rows = [
        (int(i), float(rng.uniform(0, 1000)), float(rng.uniform(0, 1000)))
        for i in range(1500)
    ]
    p0 = polys.collect()[0]
    rows += [(9001, p0["xmin"], p0["ymin"]),
             (9002, p0["xmin"] + p0["width"], p0["ymin"])]
    pts = spark.createDataFrame(rows, "pid long, x double, y double")
    want = sorted(
        (r.pid, r.polygon_id)
        for r in joins.pip_join_rect(pts, polys)
        .select("pid", "polygon_id").collect()
    )
    got = sorted(
        (r.pid, r.polygon_id)
        for r in joins.pip_join_partitioned(pts, polys)
        .select("pid", "polygon_id").collect()
    )
    assert got == want  # sorted lists: also proves exactly-once pairs

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            joins.pip_join_partitioned(pts, polys)
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)


def test_pip_join_dispatcher(spark, monkeypatch):
    """pip_join: the pure cost rule picks by cardinality, and each of the
    three routes (forced by lowering the module thresholds, which
    pip_join reads at call time) returns the pip_join_rect pair set."""
    import numpy as np

    assert joins.pick_pip_strategy(25) == "rect"
    assert joins.pick_pip_strategy(joins.PIP_RECT_MAX) == "rect"
    assert joins.pick_pip_strategy(joins.PIP_RECT_MAX + 1) == "rtree"
    assert joins.pick_pip_strategy(joins.PIP_BROADCAST_MAX) == "rtree"
    assert (
        joins.pick_pip_strategy(joins.PIP_BROADCAST_MAX + 1)
        == "partitioned"
    )

    rng = np.random.default_rng(31)
    polys = spark.createDataFrame(
        [
            (int(i), float(rng.uniform(0, 900)), float(rng.uniform(0, 900)),
             float(rng.uniform(5, 120)), float(rng.uniform(5, 120)))
            for i in range(60)
        ],
        "polygon_id int, xmin double, ymin double, width double, "
        "height double",
    )
    pts = spark.createDataFrame(
        [
            (int(i), float(rng.uniform(0, 1000)),
             float(rng.uniform(0, 1000)))
            for i in range(800)
        ],
        "pid long, x double, y double",
    )
    want = sorted(
        (r.pid, r.polygon_id)
        for r in joins.pip_join_rect(pts, polys)
        .select("pid", "polygon_id").collect()
    )
    assert want  # non-vacuous
    # (PIP_RECT_MAX, PIP_BROADCAST_MAX) -> the plan node only that route has
    routes = [
        (joins.PIP_RECT_MAX, joins.PIP_BROADCAST_MAX, "BroadcastNestedLoopJoin"),
        (10, joins.PIP_BROADCAST_MAX, "MapInPandas"),
        (10, 20, "__cover"),
    ]
    for n_rect, n_rtree, marker in routes:
        monkeypatch.setattr(joins, "PIP_RECT_MAX", n_rect)
        monkeypatch.setattr(joins, "PIP_BROADCAST_MAX", n_rtree)
        df = joins.pip_join(pts, polys)
        assert marker in df._jdf.queryExecution().executedPlan().toString()
        got = sorted((r.pid, r.polygon_id) for r in df.collect())
        assert got == want, marker


def test_zonal_overlay_hand_computed(spark):
    """Exact intersection areas on a hand-built 4x4 grid (cell=10,
    nrows=4: row 3 is y in [0,10), row 0 is [30,40)):

      * poly A (5,5,10x10) straddles 4 cells, 25 m^2 each;
      * poly B (10,0,10x20) is edge-aligned: exactly 2 cells at 100,
        the 4 cells it merely touches excluded;
      * poly C (35,35,10x10) hangs off the grid: clamped to its one
        in-grid cell with area 25;
      * poly D off-grid entirely: absent.
    """
    g = GridSpec(x0=0.0, y0=0.0, cell=10.0, nrows=4, ncols=4)
    zq = {(r, c): 100 * r + c for r in range(4) for c in range(4)}
    grid = spark.createDataFrame(
        pd.DataFrame(
            [
                {"cell_row": r, "cell_col": c, "zq": v}
                for (r, c), v in zq.items()
            ]
        )
    )
    polys = spark.createDataFrame(
        pd.DataFrame(
            [
                {"polygon_id": 0, "unit": "A", "xmin": 5.0, "ymin": 5.0,
                 "width": 10.0, "height": 10.0},
                {"polygon_id": 1, "unit": "B", "xmin": 10.0, "ymin": 0.0,
                 "width": 10.0, "height": 20.0},
                {"polygon_id": 2, "unit": "C", "xmin": 35.0, "ymin": 35.0,
                 "width": 10.0, "height": 10.0},
                {"polygon_id": 3, "unit": "D", "xmin": 50.0, "ymin": 50.0,
                 "width": 10.0, "height": 10.0},
            ]
        )
    )
    out = {
        r["polygon_id"]: r
        for r in joins.zonal_overlay(grid, polys, g).collect()
    }
    # A: y in [5,15) -> rows 2 ([10,20)) and 3 ([0,10)); x -> cols 0,1
    a = out[0]
    assert (a["n_cells"], a["area_sum"]) == (4, 100)
    assert a["wsum"] == 25 * (
        zq[(2, 0)] + zq[(2, 1)] + zq[(3, 0)] + zq[(3, 1)]
    )
    b = out[1]
    assert (b["n_cells"], b["area_sum"]) == (2, 200)
    assert b["wsum"] == 100 * (zq[(2, 1)] + zq[(3, 1)])
    c = out[2]
    assert (c["n_cells"], c["area_sum"]) == (1, 25)
    assert c["wsum"] == 25 * zq[(0, 3)]
    assert 3 not in out
