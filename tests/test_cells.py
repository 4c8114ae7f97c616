"""Spatial cell-index tests (functions/cells.py): hierarchy, k-ring,
UDF==Column equality, S2 face geometry."""

from __future__ import annotations

import warnings

import numpy as np

from pyspark.sql import functions as F

from rgr_pdal_topo_spark.functions import cells


def _df(spark, pts):
    return spark.createDataFrame(pts, "pid long, lon double, lat double")


def test_parent_is_two_bit_shift(spark, ddb):
    """Parent containment, and a NULL coordinate gives a NULL id (not a
    clamped edge cell) in the Column and the DuckDB spellings alike."""
    pts = [(1, -3.2, 41.7), (2, 179.9, -88.0), (3, 0.0, 0.0),
           (4, None, None), (5, 10.0, None), (6, None, 10.0)]
    df = _df(spark, pts)
    out = df.select(
        "pid",
        cells.quad_cell(F.col("lon"), F.col("lat"), 8).alias("c8"),
        cells.quad_cell(F.col("lon"), F.col("lat"), 7).alias("c7"),
        cells.quad_parent(
            cells.quad_cell(F.col("lon"), F.col("lat"), 8)
        ).alias("p8"),
        cells.s2_cell(F.col("lon"), F.col("lat")).alias("s2"),
    ).collect()
    for r in out:
        if r.pid >= 4:
            assert (r.c8, r.c7, r.p8, r.s2) == (None, None, None, None)
            continue
        assert r.p8 == r.c7  # containment: parent id == coarser encoding
        assert r.c8 >> 2 == r.c7

    values = ", ".join(
        f"({pid}, {'NULL' if lon is None else lon}, "
        f"{'NULL' if lat is None else lat})" for pid, lon, lat in pts
    )
    src = ("SELECT pid, CAST(lon AS DOUBLE) AS lon, CAST(lat AS DOUBLE) AS "
           f"lat FROM (VALUES {values}) v(pid, lon, lat)")
    quad = dict(ddb.execute(
        f"SELECT pid, {cells.quad_cell_sql('lon', 'lat', 8)} FROM ({src}) p"
    ).fetchall())
    s2 = dict(ddb.execute(cells.s2_cell_sql_query(src, "pid")).fetchall())
    assert quad == {r.pid: r.c8 for r in out}
    assert s2 == {r.pid: r.s2 for r in out}


def test_marker_bit_makes_ids_resolution_unique(spark):
    df = _df(spark, [(1, 10.0, 10.0)])
    vals = df.select(
        *[
            cells.quad_cell(F.col("lon"), F.col("lat"), r).alias(f"r{r}")
            for r in cells.H3_RES_RANGE
        ]
    ).collect()[0]
    ids = [vals[f"r{r}"] for r in cells.H3_RES_RANGE]
    assert len(set(ids)) == len(ids)
    for r, cid in zip(cells.H3_RES_RANGE, ids):
        assert cid.bit_length() == 2 * r + 1  # marker at bit 2r


def test_k_ring_contains_cell_and_neighbors(spark):
    df = _df(spark, [(1, 10.0, 10.0)])
    row = df.select(
        cells.quad_cell(F.col("lon"), F.col("lat"), 6).alias("c"),
        cells.quad_k_ring(
            cells.quad_cell(F.col("lon"), F.col("lat"), 6), 6
        ).alias("ring"),
    ).collect()[0]
    assert row.c in row.ring
    assert len(row.ring) == 9  # interior cell: full 3x3
    # a tiny lon nudge lands in the same or an adjacent cell -> in ring
    nudged = _df(spark, [(1, 10.0 + 360.0 / (1 << 6) * 0.6, 10.0)]).select(
        cells.quad_cell(F.col("lon"), F.col("lat"), 6).alias("c")
    ).collect()[0]
    assert nudged.c in row.ring


def test_k_ring_clamped_at_edges(spark):
    df = _df(spark, [(1, -179.99, 89.99)])
    row = df.select(
        cells.quad_k_ring(
            cells.quad_cell(F.col("lon"), F.col("lat"), 5), 5
        ).alias("ring")
    ).collect()[0]
    assert 4 <= len(row.ring) <= 9  # corner: clamped, deduped


def test_k_ring_res12_compact_and_matches_numpy(spark):
    """At res 12 the k-ring column stays small (each neighbour binds the
    de-interleaved cell once instead of re-inlining it: the inlined
    spelling was ~10^6 characters at res 6 and took seconds to analyse),
    and its rings equal a NumPy enumeration of the clamped 3x3
    neighbourhood at interior, edge and corner cells."""
    from rgr_pdal_topo_spark.functions.cells import _morton_np

    res, n = 12, 1 << 12
    col = cells.quad_k_ring(cells.quad_cell(F.col("lon"), F.col("lat"), res), res)
    assert len(str(col)) < 20_000
    ixy = [(1234, 2345), (0, 0), (n - 1, n - 1), (0, n - 1), (n - 1, 0),
           (0, 77), (77, n - 1)]
    ids = [int((1 << 2 * res) + _morton_np(np.array([x]), np.array([y]), res)[0])
           for x, y in ixy]
    df = spark.createDataFrame([(c,) for c in ids], "cell long")
    got = {r.cell: sorted(r.ring) for r in df.select(
        "cell", cells.quad_k_ring(F.col("cell"), res).alias("ring")).collect()}
    for (x, y), c in zip(ixy, ids):
        jx = np.clip(x + np.array([-1, 0, 1] * 3), 0, n - 1)
        jy = np.clip(y + np.repeat([-1, 0, 1], 3), 0, n - 1)
        want = sorted(set(((1 << 2 * res) + _morton_np(jx, jy, res)).tolist()))
        assert got[c] == want, (x, y)
    assert [len(got[c]) for c in ids] == [9, 4, 4, 4, 4, 6, 6]


def test_s2_udf_equals_column(spark):
    rng = np.random.RandomState(2)
    pts = [
        (i, float(rng.uniform(-180, 180)), float(rng.uniform(-89, 89)))
        for i in range(300)
    ] + [(300, None, 10.0), (301, 10.0, None), (302, None, None)]
    df = _df(spark, pts)
    out = df.select(
        cells.s2_cell(F.col("lon"), F.col("lat")).alias("col_id"),
        cells.s2_cell_udf(F.col("lon"), F.col("lat")).alias("udf_id"),
    ).collect()
    # a NULL coordinate gives a NULL id in both spellings (None == None)
    assert sum(r.col_id is None for r in out) == 3
    assert all(r.col_id == r.udf_id for r in out)


def test_s2_faces():
    lon = np.array([0.0, 90.0, 0.0, 180.0, -90.0, 0.0])
    lat = np.array([0.0, 0.0, 89.9, 0.0, 0.0, -89.9])
    face = cells.s2_cell_np(lon, lat) >> (2 * cells.S2_LEVEL)
    assert list(face) == [0, 1, 2, 3, 4, 5]


def test_s2_locality():
    # two nearby points share a face and a long common Morton prefix;
    # antipodal points do not share a face.  The encoder must not warn
    # (a NaN from an unused np.where branch is still a RuntimeWarning).
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        a = cells.s2_cell_np(np.array([12.001]), np.array([45.001]))[0]
        b = cells.s2_cell_np(np.array([12.002]), np.array([45.002]))[0]
        far = cells.s2_cell_np(np.array([-168.0]), np.array([-45.0]))[0]
    assert a >> 18 == b >> 18  # agree above the lowest ~9 levels
    assert a >> (2 * cells.S2_LEVEL) != far >> (2 * cells.S2_LEVEL)


def test_hilbert_interleave_properties():
    """The Hilbert position-on-curve must (a) bijectively cover the level
    grid, (b) step to a 4-adjacent grid cell at every curve increment
    (the locality Morton lacks), and (c) share Morton's parent ==
    child >> 2 prefix containment across levels."""
    import numpy as np

    from rgr_pdal_topo_spark.functions.cells import _hilbert_np, _morton_np

    level = 5
    n = 1 << level
    jj, ii = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    ii, jj = ii.ravel(), jj.ravel()
    d = _hilbert_np(ii, jj, level)
    assert sorted(d.tolist()) == list(range(n * n))  # bijection
    order = np.argsort(d)
    steps = (np.abs(np.diff(ii[order])) + np.abs(np.diff(jj[order])))
    assert (steps == 1).all()  # every curve step is grid-adjacent

    rng = np.random.default_rng(7)
    ix = rng.integers(0, 1 << 16, size=2000)
    iy = rng.integers(0, 1 << 16, size=2000)
    fine = _hilbert_np(ix, iy, 16)
    coarse = _hilbert_np(ix >> 1, iy >> 1, 15)
    assert (fine >> 2 == coarse).all()  # prefix containment
    # Morton has the same containment (shared contract)
    assert (_morton_np(ix, iy, 16) >> 2 == _morton_np(ix >> 1, iy >> 1, 15)).all()


def test_s2_hilbert_same_face_and_leaf(spark):
    """Hilbert and Morton spellings agree on face and leaf cell — only the
    position-on-curve encoding differs; the pandas_udf twin matches the
    numpy kernel."""
    import numpy as np

    from rgr_pdal_topo_spark.functions import cells as cellfn

    rng = np.random.default_rng(11)
    lon = rng.uniform(-179.9, 179.9, size=500)
    lat = rng.uniform(-89.9, 89.9, size=500)
    m = cellfn.s2_cell_np(lon, lat)
    h = cellfn.s2_cell_np(lon, lat, interleave="hilbert")
    lvl = 1 << (2 * cellfn.S2_LEVEL)
    assert (m // lvl == h // lvl).all()  # same cube face
    assert (m != h).mean() > 0.9  # orderings genuinely differ

    nulls = [(None, 10.0), (10.0, None), (None, None)]
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon, lat)] + nulls,
        "lon double, lat double",
    )
    got = [r.c for r in df.select(
        cellfn.s2_cell_hilbert_udf("lon", "lat").alias("c")
    ).collect()]
    assert got.count(None) == len(nulls)  # NULL in, NULL out
    assert sorted(c for c in got if c is not None) == sorted(h.tolist())


def test_hilbert_column_dfa_bit_equals_numpy(spark):
    """The pure-Column 4-state DFA spelling is bit-equal to _hilbert_np:
    exhaustively at level 4, on a seeded sample at level 8."""
    import numpy as np
    from pyspark.sql import functions as F
    from rgr_pdal_topo_spark.functions import cells as C

    for level, (xs, ys) in {
        4: np.meshgrid(np.arange(16), np.arange(16)),
        8: np.random.default_rng(7).integers(0, 256, (2, 300)),
    }.items():
        xs = np.asarray(xs).ravel().astype(np.int64)
        ys = np.asarray(ys).ravel().astype(np.int64)
        want = C._hilbert_np(xs, ys, level)
        df = spark.createDataFrame(
            [(int(a), int(b)) for a, b in zip(xs, ys)], "ix long, iy long"
        )
        got = {
            (r.ix, r.iy): r.d
            for r in df.select(
                "ix", "iy",
                C.hilbert_cell_col(F.col("ix"), F.col("iy"), level)
                .alias("d"),
            ).collect()
        }
        assert all(
            got[(a, b)] == w for a, b, w in zip(xs, ys, want)
        ), f"level {level}"


def test_hilbert_sql_ctes_bit_equal_numpy():
    """The oracle's unrolled CTE chain replays _hilbert_np bit-for-bit
    (exhaustive at level 4)."""
    import duckdb
    import numpy as np
    from rgr_pdal_topo_spark.functions import cells as C

    xs, ys = np.meshgrid(np.arange(16), np.arange(16))
    xs, ys = xs.ravel().astype(np.int64), ys.ravel().astype(np.int64)
    want = C._hilbert_np(xs, ys, 4)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ",".join(f"({int(a)},{int(b)})" for a, b in zip(xs, ys))
        + ") v(ix,iy)"
    )
    sql = ("WITH " + ", ".join(C.hilbert_ctes("t", 4))
           + " SELECT ix, iy, hd FROM hb0")
    m = {(r.ix, r.iy): r.hd for r in con.execute(sql).df().itertuples()}
    assert all(m[(a, b)] == w for a, b, w in zip(xs, ys, want))


def test_hilbert_locality_beats_morton(spark):
    """The statistic the layout audit exists for: sorted by curve id,
    Hilbert's mean grid step between consecutive occupied cells is
    strictly smaller than Morton's (fewer disjoint file ranges per
    spatial scan)."""
    from rgr_pdal_topo_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    got = {
        r.ordering: (r.n_steps, r.mean_step)
        for r in QUERIES["hilbert_locality"](spark, SF_DIR).collect()
    }
    assert got["hilbert"][0] == got["morton"][0] > 0
    assert got["hilbert"][1] < got["morton"][1]
