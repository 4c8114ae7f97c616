"""Spatial joins (SURVEY.md §2.3): point-in-polygon, profile projection,
kNN, grid-grid, height-above-ground.

Everything is a composition of built-in DataFrame ops; Python appears only
in the exact-geometry test of the generic-polygon path (Arrow-vectorized
ray casting), and only on cell-prefiltered candidate pairs.

Scale shapes:
  * dimension tables (polygons, profiles, gps queries) are broadcast — the
    fact side streams, no shuffle;
  * the generic-polygon path prefilters candidates by coarse cell cover
    before the exact test (the reference's buffer-prefilter idea,
    baseGrid.py:776-781, made explicit);
  * kNN is a cell-bucketed ring search with an exact broadcast fallback
    for the queries whose ring cannot prove the answer.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# J1: point-in-polygon
# --------------------------------------------------------------------------


def pip_join_rect(points: DataFrame, polygons: DataFrame) -> DataFrame:
    """Rectangle fast path: containment is a pure range predicate.

    Replaces the reference's rasterized scanline fill
    (createMaskFromGeoDataFrame, baseGrid.py:718-744) for axis-aligned
    units; Catalyst turns broadcast+range-predicate into a
    BroadcastNestedLoopJoin with the filter applied streaming-side.
    """
    p = points
    g = F.broadcast(polygons)
    return p.join(
        g,
        (p.x >= g.xmin)
        & (p.x < g.xmin + g.width)
        & (p.y >= g.ymin)
        & (p.y < g.ymin + g.height),
        "inner",
    )


def pip_join_partitioned(
    points: DataFrame, polygons: DataFrame, cell: float = 50.0
) -> DataFrame:
    """J1 for polygon layers too big to BROADCAST (the fourth strategy:
    rect/generic/rtree all ship the dimension to every task, which caps
    it at executor memory; 10^7+ cadastral/building-footprint layers
    don't fit).  Both sides shuffle on a coarse cover cell: polygons
    replicate to every cell their bbox touches (a distributed
    sequence+explode — the cover table never exists on the driver),
    points take their single containing cell, and the equi-join meets
    each (point, polygon) pair in EXACTLY ONE cell — the point's — so
    the result needs no dedup.  The exact half-open containment test
    runs as a post-join codegen filter, identical to pip_join_rect.

    ``cell`` tunes replication vs selectivity: ~the median polygon
    diameter keeps the blow-up near 4x while making buckets selective
    (the standard spatial-join grid heuristic).  Skewed cells (a
    metropolis cell with 10^6 buildings) are AQE skew-join territory —
    the join is a plain equi-join, so every built-in mitigation
    applies.  Cell ids pack as cx * 100000 + cy: valid while the
    y-extent spans < 100000 cells (documented bound, plenty at any
    sane ``cell``)."""
    c = F.lit(float(cell))
    covered = (
        polygons.withColumn(
            "__cx",
            F.explode(
                F.sequence(
                    F.floor(F.col("xmin") / c).cast("long"),
                    F.floor((F.col("xmin") + F.col("width")) / c).cast(
                        "long"
                    ),
                )
            ),
        )
        .withColumn(
            "__cy",
            F.explode(
                F.sequence(
                    F.floor(F.col("ymin") / c).cast("long"),
                    F.floor((F.col("ymin") + F.col("height")) / c).cast(
                        "long"
                    ),
                )
            ),
        )
        .withColumn(
            "__cover", F.col("__cx") * F.lit(100000) + F.col("__cy")
        )
        .drop("__cx", "__cy")
    )
    pts = points.withColumn(
        "__cover",
        F.floor(F.col("x") / c).cast("long") * F.lit(100000)
        + F.floor(F.col("y") / c).cast("long"),
    )
    return (
        pts.join(covered, "__cover")
        .filter(
            (F.col("x") >= F.col("xmin"))
            & (F.col("x") < F.col("xmin") + F.col("width"))
            & (F.col("y") >= F.col("ymin"))
            & (F.col("y") < F.col("ymin") + F.col("height"))
        )
        .drop("__cover")
    )


def pip_join_generic(
    points: DataFrame,
    polygons_xy: list[tuple[int, list[tuple[float, float]]]],
    cell: float = 50.0,
) -> DataFrame:
    """Generic-polygon containment: coarse-cell prefilter + exact ray cast.

    ``polygons_xy``: [(polygon_id, [(x, y), ...ring...]), ...] — a small
    dimension (broadcast as plan literals + closure capture).

    Plan shape: points get a coarse cell id; a broadcast cover table
    (polygon_id, cover_cell) built driver-side from polygon bboxes
    prefilters candidates (equi-join, hash), then an Arrow-vectorized
    even-odd ray cast (the exact test the reference delegates to
    skimage.draw.polygon / shapely) keeps true hits.
    """
    spark = points.sparkSession

    # --- driver-side: coarse cover cells per polygon bbox (tiny) ---
    cover_rows = []
    rings: dict[int, np.ndarray] = {}
    for pid_, ring in polygons_xy:
        arr = np.asarray(ring, dtype="float64")
        rings[pid_] = arr
        x0, y0 = np.floor(arr.min(axis=0) / cell).astype(int)
        x1, y1 = np.floor(arr.max(axis=0) / cell).astype(int)
        for cx in range(x0, x1 + 1):
            for cy in range(y0, y1 + 1):
                cover_rows.append((pid_, int(cx) * 100000 + int(cy)))
    cover = spark.createDataFrame(
        cover_rows, "polygon_id int, cover_cell long"
    )

    pts = points.withColumn(
        "cover_cell",
        F.floor(F.col("x") / F.lit(cell)).cast("long") * 100000
        + F.floor(F.col("y") / F.lit(cell)).cast("long"),
    )
    cand = pts.join(F.broadcast(cover), "cover_cell")

    @F.pandas_udf("boolean")
    def contains(px: pd.Series, py: pd.Series, poly_id: pd.Series) -> pd.Series:
        out = np.zeros(len(px), dtype=bool)
        x = px.to_numpy()
        y = py.to_numpy()
        ids = poly_id.to_numpy()
        for pid_ in np.unique(ids):
            m = ids == pid_
            ring = rings[int(pid_)]
            xs, ys = ring[:, 0], ring[:, 1]
            xs2, ys2 = np.roll(xs, -1), np.roll(ys, -1)
            inside = np.zeros(m.sum(), dtype=bool)
            qx, qy = x[m], y[m]
            for (ax, ay, bx, by) in zip(xs, ys, xs2, ys2):
                crosses = (ay > qy) != (by > qy)
                with np.errstate(divide="ignore", invalid="ignore"):
                    xint = (bx - ax) * (qy - ay) / (by - ay) + ax
                inside ^= crosses & (qx < xint)
            out[m] = inside
        return pd.Series(out)

    return cand.filter(contains(F.col("x"), F.col("y"), F.col("polygon_id"))).drop(
        "cover_cell"
    )


# --------------------------------------------------------------------------
# J2: point -> polyline projection (profile extraction)
# --------------------------------------------------------------------------


def profile_project(points: DataFrame) -> DataFrame:
    """First-segment-wins projection (projectPointsOntoLine,
    pointCloudCreation.py:41-94): for each (point, profile), the first
    segment (by seg_idx) whose projection parameter t is in [0, 1] wins;
    outputs orthogonal distance d and along-line distance l.

    Profiles are a tiny dimension, so the reference's O(points x segments)
    double loop folds into a pure column expression: per profile, a
    WHEN(seg0 valid)...WHEN(segN valid) chain evaluated inside whole-stage
    codegen — NO join, NO shuffle, perfectly parallel scan->explode(profiles)
    ->filter.  Each segment's projection parameter t, and from it the
    projected point, is computed once as a named column in a select below
    the explode; the chain refers to those columns.  Spark eliminates no
    common subexpressions inside a Generate, so inlining t there repeats
    it at every use and more than doubles the stage's generated code
    (tests/test_plan_shapes.py pins the size).
    """
    from rgr_pdal_topo_spark.synth import profile_segments

    segs = profile_segments()
    by_profile: dict[int, list] = {}
    for s in segs:
        by_profile.setdefault(s.profile_id, []).append(s)

    x, y = F.col("x"), F.col("y")
    t_cols, proj_cols = [], []
    for s in segs:
        n = f"_{s.profile_id}_{s.seg_idx}"
        t = (
            (x - F.lit(s.x1)) * F.lit(s.x2 - s.x1)
            + (y - F.lit(s.y1)) * F.lit(s.y2 - s.y1)
        ) / F.lit(s.l2)
        t_cols.append(t.alias(f"t{n}"))
        proj_cols.append(
            (F.lit(s.x1) + F.col(f"t{n}") * F.lit(s.x2 - s.x1)).alias(f"px{n}")
        )
        proj_cols.append(
            (F.lit(s.y1) + F.col(f"t{n}") * F.lit(s.y2 - s.y1)).alias(f"py{n}")
        )

    profile_structs = []
    for prof_id, plist in sorted(by_profile.items()):
        chain = F.lit(None).cast(
            "struct<seg_idx:int,t:double,d:double,l:double>"
        )
        for s in sorted(plist, key=lambda s: s.seg_idx, reverse=True):
            n = f"_{s.profile_id}_{s.seg_idx}"
            t, projx, projy = F.col(f"t{n}"), F.col(f"px{n}"), F.col(f"py{n}")
            d = F.sqrt(
                (projx - x) * (projx - x) + (projy - y) * (projy - y)
            )
            l = F.lit(s.l_start) + F.sqrt(
                (projx - F.lit(s.x1)) * (projx - F.lit(s.x1))
                + (projy - F.lit(s.y1)) * (projy - F.lit(s.y1))
            )
            chain = F.when(
                (t >= 0) & (t <= 1),
                F.struct(
                    F.lit(s.seg_idx).alias("seg_idx"),
                    t.alias("t"),
                    d.alias("d"),
                    l.alias("l"),
                ),
            ).otherwise(chain)
        profile_structs.append(
            F.struct(F.lit(prof_id).alias("profile_id"), chain.alias("hit"))
        )

    out = (
        points.select("pid", "z", "x", "y", *t_cols)
        .select("*", *proj_cols)
        .select("pid", "z", F.explode(F.array(*profile_structs)).alias("pr"))
        .filter(F.col("pr.hit").isNotNull())
    )
    return out.select(
        "pid",
        "z",
        F.col("pr.profile_id").alias("profile_id"),
        F.col("pr.hit.seg_idx").alias("seg_idx"),
        F.col("pr.hit.t").alias("t"),
        F.col("pr.hit.d").alias("d"),
        F.col("pr.hit.l").alias("l"),
    )


SAVGOL_5_2 = (-3.0, 12.0, 17.0, 12.0, -3.0)  # quadratic fit, window 5
SAVGOL_5_2_DENOM = 35.0


def profile_peaks(
    swath_pts: DataFrame, station_width: float = 10.0
) -> DataFrame:
    """X12: per-profile post-processing of the swath profile
    (PointCloud_Profiles notebook cell 0: scipy.signal savgol_filter +
    find_peaks over the binned profile; the stripped cells define the
    workflow shape, the coefficients here are the standard closed-form
    Savitzky-Golay window-5/order-2 weights).

    Input: (profile_id, l, z) swath points.  Stations are l-bins of
    ``station_width``, DENSIFIED to the full min..max station range per
    profile (the reference smooths a dense array, so an empty bin must be
    a NaN the 5-tap window sees — lag/lead over data rows alone would
    silently convolve ACROSS the gap); per station the exact median z;
    smoothing is the 5-tap convolution over consecutive stations (only
    full all-valid windows emit a value, matching mode-less convolution
    over an array with NaN holes); a peak is a strict local maximum of
    the smoothed series ON ADJACENT STATIONS (a NaN neighbor compares
    false, as in find_peaks).  Pure window functions per profile — no
    UDF, parallel across profiles at any scale; the station universe is
    a per-profile sequence (bounded by profile length / station_width,
    never by point count)."""
    binned = (
        swath_pts.withColumn(
            "station",
            F.floor(F.col("l") / F.lit(station_width)).cast("int"),
        )
        .groupBy("profile_id", "station")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("percentile(z, 0.5)").alias("z_med"),
        )
    )
    universe = (
        binned.groupBy("profile_id")
        .agg(F.min("station").alias("s0"), F.max("station").alias("s1"))
        .select(
            "profile_id",
            F.explode(F.sequence(F.col("s0"), F.col("s1"))).alias("station"),
        )
    )
    dense = universe.join(binned, ["profile_id", "station"], "left")
    w = Window.partitionBy("profile_id").orderBy("station")
    c = SAVGOL_5_2
    z_sm = (
        F.lit(c[0]) * F.lag("z_med", 2).over(w)
        + F.lit(c[1]) * F.lag("z_med", 1).over(w)
        + F.lit(c[2]) * F.col("z_med")
        + F.lit(c[3]) * F.lead("z_med", 1).over(w)
        + F.lit(c[4]) * F.lead("z_med", 2).over(w)
    ) / F.lit(SAVGOL_5_2_DENOM)
    sm = dense.withColumn("z_sm", z_sm)
    # peak test BEFORE dropping the gap rows: neighbors are station-
    # adjacent by construction, and a NULL (gap) neighbor -> not a peak
    prev = F.lag("z_sm", 1).over(w)
    nxt = F.lead("z_sm", 1).over(w)
    is_peak = (
        prev.isNotNull()
        & nxt.isNotNull()
        & (F.col("z_sm") > prev)
        & (F.col("z_sm") > nxt)
    )
    return sm.withColumn(
        "is_peak", F.when(is_peak, F.lit(True)).otherwise(F.lit(False))
    ).filter(F.col("z_sm").isNotNull())


def swath_filter(projected: DataFrame, swath_width: float) -> DataFrame:
    """F4: keep D in [0, swathWidth] (filters.range "D[0:w]",
    pointCloudCreation.py:599-604)."""
    return projected.filter(
        (F.col("d") >= 0) & (F.col("d") <= F.lit(swath_width))
    )


# --------------------------------------------------------------------------
# J4: kNN join (k=1 with max-distance cap — assignNodesClosestValues,
# networkGraph.py:688-741)
# --------------------------------------------------------------------------


def knn_join_grid(
    points: DataFrame,
    queries: DataFrame,
    qx: str = "gx",
    qy: str = "gy",
    qid: str = "gps_id",
    bucket: float = 50.0,
    max_dist: float | None = None,
    sentinel: float = -9999.0,
    value_col: str = "z",
) -> DataFrame:
    """Exact k=1 NN via cell-ring candidate generation (the scale path).

    Queries are exploded into their 3x3 neighbor buckets (broadcast) and
    equi-joined to bucketed points; the per-query argmin is one agg of
    min(struct(dist2, pid, ...)) — no global sort, no cross join.

    Exactness: if the ring-best distance is <= bucket, every closer point
    would lie inside the ring — the answer is the true NN.  Queries that
    fail that guarantee (sparse neighborhoods) fall back to the broadcast
    global argmin; at realistic densities the fallback set is empty, so the
    plan is one hash join + one agg over ~(9/ncells)·|points| candidates
    instead of |points| x |queries|.
    """
    p = points.withColumn(
        "bx", F.floor(F.col("x") / F.lit(bucket)).cast("long")
    ).withColumn("by", F.floor(F.col("y") / F.lit(bucket)).cast("long"))
    spark = points.sparkSession
    offs = spark.createDataFrame(
        [(i, j) for i in (-1, 0, 1) for j in (-1, 0, 1)], "ox long, oy long"
    )
    q = (
        queries.withColumn(
            "bx0", F.floor(F.col(qx) / F.lit(bucket)).cast("long")
        )
        .withColumn("by0", F.floor(F.col(qy) / F.lit(bucket)).cast("long"))
        .crossJoin(offs)
        .withColumn("bx", F.col("bx0") + F.col("ox"))
        .withColumn("by", F.col("by0") + F.col("oy"))
        .drop("bx0", "by0", "ox", "oy")
    )
    cand = p.join(F.broadcast(q), ["bx", "by"])
    best = _nearest(cand, qid, qx, qy, value_col)
    # best is one row per query (tiny): materialize it once so the
    # resolved/unresolved split and the union don't re-execute the
    # candidate join DAG (localCheckpoint frees with the DataFrame,
    # unlike persist which would leak across calls)
    best = best.localCheckpoint(eager=True)
    resolved = best.filter(F.col("dist2") <= F.lit(bucket * bucket))
    unresolved = queries.join(
        resolved.select(qid), qid, "left_anti"
    )
    if unresolved.isEmpty():  # common case: ring guarantee held everywhere
        return _nn_output(resolved, max_dist, sentinel)
    # rare fallback: exact global argmin for the unresolved handful
    fb = _nearest(
        points.crossJoin(F.broadcast(unresolved)), qid, qx, qy, value_col
    )
    return _nn_output(resolved.unionByName(fb), max_dist, sentinel)


def _nearest(
    cand: DataFrame, qid: str, qx: str, qy: str, value_col: str
) -> DataFrame:
    """Per-query argmin over (point, query) candidate pairs: one agg of
    min(struct(dist2, pid, v)), so ties break by pid."""
    d2 = (F.col("x") - F.col(qx)) * (F.col("x") - F.col(qx)) + (
        F.col("y") - F.col(qy)
    ) * (F.col("y") - F.col(qy))
    return (
        cand.withColumn("dist2", d2)
        .groupBy(qid, qx, qy)
        .agg(
            F.min(
                F.struct(
                    F.col("dist2"), F.col("pid"), F.col(value_col).alias("v")
                )
            ).alias("b")
        )
        .select(
            qid, qx, qy,
            F.col("b.dist2").alias("dist2"),
            F.col("b.pid").alias("pid"),
            F.col("b.v").alias("_v"),
        )
    )


def _nn_output(
    best: DataFrame, max_dist: float | None, sentinel: float
) -> DataFrame:
    """nn_dist and nn_value from the argmin rows; nn_value -> sentinel
    when the winner is farther than max_dist (networkGraph.py:739-741)."""
    out = best.withColumn("nn_dist", F.sqrt("dist2"))
    value = F.col("_v")
    if max_dist is not None:
        value = F.when(
            F.col("nn_dist") > F.lit(max_dist), F.lit(sentinel)
        ).otherwise(value)
    return out.withColumn("nn_value", value).drop("_v")


# --------------------------------------------------------------------------
# J5: grid-vs-grid cell join; J8: height above ground
# --------------------------------------------------------------------------


def grid_residuals(a: DataFrame, b: DataFrame) -> DataFrame:
    """sumSquaredResiduals (baseGrid.py:611-628) over co-keyed grids —
    an equi-join on (cell_row, cell_col) + one agg."""
    j = a.select(
        "cell_row", "cell_col", F.col("value").alias("va")
    ).join(
        b.select("cell_row", "cell_col", F.col("value").alias("vb")),
        ["cell_row", "cell_col"],
    )
    return j.agg(
        F.sum((F.col("va") - F.col("vb")) * (F.col("va") - F.col("vb"))).alias(
            "ssr"
        ),
        F.count(F.lit(1)).alias("n_cells"),
    )


def height_above_ground(
    points: DataFrame, ground_grid: DataFrame, grid_spec
) -> DataFrame:
    """J8/K3: HAG = z - interpolated ground surface of the point's cell
    (filters.hag_dem path, pointCloudCreation.py:419-424): equi-join
    point -> ground cell value."""
    from rgr_pdal_topo_spark.operators.gridding import with_cell

    pts = with_cell(points, grid_spec)
    g = ground_grid.select(
        "cell_row", "cell_col", F.col("value").alias("ground_z")
    )
    return pts.join(g, ["cell_row", "cell_col"], "left").withColumn(
        "hag", F.col("z") - F.col("ground_z")
    )


# --------------------------------------------------------------------------
# J1 scale path: broadcast R-tree probed per partition
# --------------------------------------------------------------------------

def _str_pack(
    boxes: np.ndarray, leaf_cap: int = 16
) -> tuple[np.ndarray, list[np.ndarray]]:
    """Sort-Tile-Recursive packing of (n, 4) half-open bboxes
    [xmin, ymin, xmax, ymax] into leaves of <= leaf_cap entries.
    Returns (leaf_bounds (L, 4), member-index arrays per leaf).  One
    internal level is enough for a broadcast dimension: the probe scans
    L leaf bounds vectorized, then only the members of hit leaves."""
    n = len(boxes)
    cx = (boxes[:, 0] + boxes[:, 2]) / 2.0
    cy = (boxes[:, 1] + boxes[:, 3]) / 2.0
    n_leaves = max(1, -(-n // leaf_cap))
    n_slabs = max(1, int(np.ceil(np.sqrt(n_leaves))))
    per_slab = -(-n // n_slabs)
    order_x = np.argsort(cx, kind="stable")
    leaves: list[np.ndarray] = []
    for s in range(n_slabs):
        slab = order_x[s * per_slab:(s + 1) * per_slab]
        if len(slab) == 0:
            continue
        slab = slab[np.argsort(cy[slab], kind="stable")]
        for i in range(0, len(slab), leaf_cap):
            leaves.append(slab[i:i + leaf_cap])
    bounds = np.stack(
        [
            np.array(
                [
                    boxes[m, 0].min(), boxes[m, 1].min(),
                    boxes[m, 2].max(), boxes[m, 3].max(),
                ]
            )
            for m in leaves
        ]
    )
    return bounds, leaves


def pip_join_rtree(points: DataFrame, polygons: DataFrame) -> DataFrame:
    """The north-star phrase implemented literally: a *broadcast R-tree
    per partition*.  Polygon bboxes are STR-packed driver-side (the
    dimension is driver-sized by definition — it broadcasts), shipped
    via ``sc.broadcast``, and every partition probes the tree inside
    ONE Arrow stage: leaf bounds first (L vectorized comparisons),
    member boxes only for points that hit a leaf.

    Same half-open containment as :func:`pip_join_rect`
    (``xmin <= x < xmin+width``), so the two strategies are
    output-identical (pinned by test + the shared pip oracle).  Why it
    exists next to the range join: ``pip_join_rect`` is a
    BroadcastNestedLoopJoin — O(P) row-at-a-time polygon tests per
    point in the JVM.  Fine at 25 polygons; at 10^5+ fault-scarp/
    alluvial-fan units this strategy wins with O(L) = O(P/leaf_cap)
    BATCH-vectorized leaf-bound tests (one numpy compare over the whole
    Arrow batch per leaf, after a single vectorized batch-bbox pass
    drops leaves the partition cannot touch) plus member tests only for
    points inside hit leaves — a ~leaf_cap-fold cut in comparisons on
    top of the scalar->SIMD win, while staying a zero-shuffle map-side
    stage.  It is NOT O(log P) per point: log-depth descent pays off
    when queries are single points against a driver-resident tree;
    against Arrow BATCHES the flat packed level vectorizes better than
    pointer-chasing, and the dimension side is broadcast-sized by
    definition, so L stays small (tests/test_joins.py pins the measured
    crossover at 10^5 polygons).
    """
    rows = polygons.select(
        "polygon_id", "xmin", "ymin", "width", "height"
    ).collect()
    if not rows:  # empty dimension: no pairs, schema intact
        return points.sparkSession.createDataFrame(
            [], "pid long, polygon_id int"
        )
    pids = np.array([r["polygon_id"] for r in rows], dtype=np.int64)
    boxes = np.array(
        [
            [r["xmin"], r["ymin"], r["xmin"] + r["width"],
             r["ymin"] + r["height"]]
            for r in rows
        ],
        dtype=np.float64,
    )
    bounds, leaves = _str_pack(boxes)
    spark = points.sparkSession
    bc = spark.sparkContext.broadcast(
        (bounds, [l.copy() for l in leaves], boxes, pids)
    )

    def probe(batches):
        lb, lv, bx, ids = bc.value
        for pdf in batches:
            x = pdf["x"].to_numpy(dtype=np.float64)
            y = pdf["y"].to_numpy(dtype=np.float64)
            pid = pdf["pid"].to_numpy()
            if len(x) == 0:
                continue
            # batch-bbox prefilter: one vectorized pass drops every
            # leaf this partition's points cannot touch (a big cut when
            # the input is spatially clustered, e.g. Z-order/manifest
            # pruned scans; a no-op cost otherwise).  The bbox is taken
            # over FINITE coords only — one NaN point must not poison
            # min/max and silently drop the whole batch's pairs (NaN
            # points themselves fail every box test, as before)
            finite = np.isfinite(x) & np.isfinite(y)
            if not finite.any():
                continue
            bxmin, bxmax = x[finite].min(), x[finite].max()
            bymin, bymax = y[finite].min(), y[finite].max()
            live = np.nonzero(
                (lb[:, 0] <= bxmax) & (lb[:, 2] > bxmin)
                & (lb[:, 1] <= bymax) & (lb[:, 3] > bymin)
            )[0]
            out_p, out_g = [], []
            for li in live:
                hit = (
                    (x >= lb[li, 0]) & (x < lb[li, 2])
                    & (y >= lb[li, 1]) & (y < lb[li, 3])
                )
                if not hit.any():
                    continue
                qx, qy, qp = x[hit], y[hit], pid[hit]
                for mi in lv[li]:
                    inside = (
                        (qx >= bx[mi, 0]) & (qx < bx[mi, 2])
                        & (qy >= bx[mi, 1]) & (qy < bx[mi, 3])
                    )
                    if inside.any():
                        out_p.append(qp[inside])
                        out_g.append(
                            np.full(int(inside.sum()), ids[mi])
                        )
            if out_p:
                yield pd.DataFrame(
                    {
                        "pid": np.concatenate(out_p),
                        "polygon_id": np.concatenate(out_g).astype(
                            np.int32
                        ),
                    }
                )

    return points.select("pid", "x", "y").mapInPandas(
        probe, "pid long, polygon_id int"
    )


# Dispatcher thresholds (tunable per cluster; defaults sized for the
# strategies' measured regimes):
#  * <= PIP_RECT_MAX polygons, a BroadcastNestedLoopJoin's O(P)
#    row-at-a-time predicate is cheaper than standing up an Arrow stage
#    (the measured rtree crossover in tests/test_joins.py sits near
#    10^4-10^5; 4096 is safely below it);
#  * <= PIP_BROADCAST_MAX polygons, the STR-packed bbox arrays broadcast
#    at ~40 bytes/polygon (~40 MB at the cap) and the zero-shuffle
#    R-tree probe wins;
#  * above that the dimension no longer belongs on every executor and
#    the shuffle cover-cell equi-join is the only scale-safe shape.
PIP_RECT_MAX = 4096
PIP_BROADCAST_MAX = 1_000_000


def pick_pip_strategy(n_polygons: int) -> str:
    """Pure cost rule behind :func:`pip_join` (unit-testable without a
    session): polygon-layer cardinality -> strategy name.  Reads the
    module thresholds at call time."""
    if n_polygons <= PIP_RECT_MAX:
        return "rect"
    if n_polygons <= PIP_BROADCAST_MAX:
        return "rtree"
    return "partitioned"


def pip_join(points: DataFrame, polygons: DataFrame) -> DataFrame:
    """J1 front door: cost-based dispatch over the three rectangle PIP
    strategies (rect / rtree / partitioned — pip_join_generic takes a
    different input shape, explicit rings, and stays its own entry).

    All three are output-identical (same half-open containment, pinned
    by tests + the shared pip oracle); what differs is the physical
    plan, so the pick is a pure function of the polygon-layer
    cardinality (:func:`pick_pip_strategy`).  The pick pays one COUNT
    job on the dimension, the same cost class as the rtree's own
    driver-side collect and negligible next to the fact-side scan.
    Callers that want one fixed strategy call its function directly.

    Returns the (pid, polygon_id) pair set — the common schema of the
    three strategies."""
    strategy = pick_pip_strategy(polygons.count())
    if strategy == "rect":
        return pip_join_rect(points, polygons).select("pid", "polygon_id")
    if strategy == "rtree":
        return pip_join_rtree(points, polygons)
    return pip_join_partitioned(points, polygons).select("pid", "polygon_id")


# --------------------------------------------------------------------------
# zonal overlay: exact area-weighted raster <-> vector statistics
# --------------------------------------------------------------------------


def zonal_overlay(grid, polygons, gspec) -> DataFrame:
    """Exact area-weighted zonal statistics — the raster<->vector
    OVERLAY the J1 point-in-polygon family approximates by point
    sampling: per (polygon, DEM cell) pair the exact rectangle
    intersection area, folded to per-polygon coverage and the
    area-weighted elevation accumulators.  Replaces the reference's
    rasterized mask + per-cell mean (createMaskFromGeoDataFrame,
    baseGrid.py:718-768) with the exact-geometry integral a vector
    engine would produce.

    grid: (cell_row, cell_col, zq) with INTEGER-quantized elevations
    (caller owns the spelling); polygons: the synth rect layer
    (polygon_id, unit, xmin, ymin, width, height).  All geometry is
    exact: polygon coords and cell edges are integer-valued doubles,
    so the covered-cell ranges (floor/ceil of exact ratios), the
    clipped widths/heights, and area = w * h are exact; area and
    area * zq accumulate as BIGINTs.  Cells only TOUCHING a boundary
    (zero area) are excluded by the strict range arithmetic.  Cells
    with no data contribute nothing (coverage is over POPULATED
    cells); a polygon covering no populated cell is absent.

    Scale shape: the polygon dim explodes to its covered cell ids
    (pip_join_partitioned's cover-cell doctrine, exact here because
    rect extents bound coverage), then ONE broadcast equi-join on the
    exact cell key against the cell-keyed grid — the raster never
    shuffles — and one polygon-sized partial+final agg."""
    cell, x0, y0 = gspec.cell, gspec.x0, gspec.y0
    nrows, ncols = gspec.nrows, gspec.ncols
    p = polygons.select(
        "polygon_id",
        "unit",
        "xmin",
        "ymin",
        (F.col("xmin") + F.col("width")).alias("xmax"),
        (F.col("ymin") + F.col("height")).alias("ymax"),
    )
    ranges = p.select(
        "*",
        F.greatest(
            F.lit(0),
            F.floor((F.col("xmin") - F.lit(x0)) / F.lit(cell)).cast("int"),
        ).alias("c1"),
        F.least(
            F.lit(ncols - 1),
            (F.ceil((F.col("xmax") - F.lit(x0)) / F.lit(cell)) - 1).cast(
                "int"
            ),
        ).alias("c2"),
        F.greatest(
            F.lit(0),
            (
                F.lit(nrows)
                - F.ceil((F.col("ymax") - F.lit(y0)) / F.lit(cell))
            ).cast("int"),
        ).alias("r1"),
        F.least(
            F.lit(nrows - 1),
            (
                F.lit(nrows - 1)
                - F.floor((F.col("ymin") - F.lit(y0)) / F.lit(cell))
            ).cast("int"),
        ).alias("r2"),
    ).filter((F.col("c1") <= F.col("c2")) & (F.col("r1") <= F.col("r2")))
    fan = ranges.select(
        "polygon_id",
        "unit",
        "xmin",
        "xmax",
        "ymin",
        "ymax",
        F.explode(F.sequence(F.col("r1"), F.col("r2"))).alias("cell_row"),
        "c1",
        "c2",
    ).select(
        "*",
        F.explode(F.sequence(F.col("c1"), F.col("c2"))).alias("cell_col"),
    )
    cx1 = F.lit(x0) + F.col("cell_col").cast("double") * F.lit(cell)
    cylo = (
        F.lit(y0)
        + (F.lit(nrows - 1) - F.col("cell_row").cast("double"))
        * F.lit(cell)
    )
    w = F.least(F.col("xmax"), cx1 + F.lit(cell)) - F.greatest(
        F.col("xmin"), cx1
    )
    h = F.least(F.col("ymax"), cylo + F.lit(cell)) - F.greatest(
        F.col("ymin"), cylo
    )
    pairs = grid.join(
        F.broadcast(fan), ["cell_row", "cell_col"]
    ).select(
        "polygon_id",
        "unit",
        (w * h).cast("long").alias("area"),
        F.col("zq"),
    )
    return pairs.groupBy("polygon_id", "unit").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("area").alias("area_sum"),
        F.sum(F.col("area") * F.col("zq")).alias("wsum"),
    )
