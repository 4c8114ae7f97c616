"""Property-based tests (hypothesis) for the exact-arithmetic layers:
cell-index hierarchy and the quantization twins.  These run pure numpy /
DuckDB (no Spark) so hundreds of examples stay fast."""

from __future__ import annotations

import duckdb
import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from rgr_pdal_topo_spark.functions import cells

_lon = st.floats(min_value=-179.999, max_value=179.999,
                 allow_nan=False, allow_infinity=False)
_lat = st.floats(min_value=-89.999, max_value=89.999,
                 allow_nan=False, allow_infinity=False)


def _quad_np(lon: float, lat: float, res: int) -> int:
    n = 1 << res
    ix = min(max(int(np.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
    iy = min(max(int(np.floor((90.0 - lat) / 180.0 * n)), 0), n - 1)
    return (1 << (2 * res)) + int(
        cells._morton_np(np.array([ix]), np.array([iy]), res)[0]
    )


@settings(max_examples=200, deadline=None)
@given(_lon, _lat)
def test_quad_parent_containment(lon, lat):
    # encoding at res r then shifting equals encoding at res r-1, for the
    # whole resolution ladder
    ids = [_quad_np(lon, lat, r) for r in cells.H3_RES_RANGE]
    for fine, coarse in zip(ids[1:], ids[:-1]):
        assert fine >> 2 == coarse


@settings(max_examples=200, deadline=None)
@given(_lon, _lat)
def test_s2_id_round_trip_face_and_range(lon, lat):
    cid = int(cells.s2_cell_np(np.array([lon]), np.array([lat]))[0])
    face = cid >> (2 * cells.S2_LEVEL)
    assert 0 <= face <= 5
    assert 0 <= cid - (face << (2 * cells.S2_LEVEL)) < 1 << (2 * cells.S2_LEVEL)


@settings(max_examples=200, deadline=None)
@given(
    st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
    )
)
def test_quantization_twins_cross_engine(x):
    """quant_sql/qint_sql (DuckDB) and the Python float arithmetic behind
    quant_col/qint_col must agree bit-for-bit on arbitrary doubles —
    including negatives and values parked exactly on half-boundaries
    (the parity doctrine rests on these being exact twins)."""
    import math

    from rgr_pdal_topo_spark.queries import Q13, Q20, qint_sql, quant_sql

    con = duckdb.connect()
    for scale, sqlf in ((Q20, quant_sql), (Q13, quant_sql)):
        got = con.execute(
            f"SELECT {sqlf('?', scale)}", [x]
        ).fetchone()[0]
        exp = math.floor(x * scale + 0.5) / scale
        assert got == exp and math.copysign(1.0, got) == math.copysign(
            1.0, exp
        )
    got = con.execute(f"SELECT {qint_sql('?', Q13)}", [x]).fetchone()[0]
    assert got == math.floor(x * Q13 + 0.5)
    con.close()


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.floats(min_value=50.0, max_value=200.0, allow_nan=False),
        min_size=1,
        max_size=400,
    )
)
def test_quantized_mean_is_order_independent(vals):
    """The core bit-stability claim: sums of 2^-20-quantized values in
    [50, 200] are EXACT in float64, so any summation order gives the
    identical mean."""
    import math
    import random

    q = [math.floor(v * 1048576.0 + 0.5) / 1048576.0 for v in vals]
    ref = math.fsum(q) / len(q)  # exact rational result fits float64 sum
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        shuffled = q[:]
        rng.shuffle(shuffled)
        acc = 0.0
        for v in shuffled:
            acc += v
        assert acc / len(q) == ref


# --------------------------------------------------------------------------
# manifest prune(): pure interval logic, ideal hypothesis territory
# --------------------------------------------------------------------------

from rgr_pdal_topo_spark.sources.manifest import prune  # noqa: E402

_stat_v = st.one_of(st.none(), st.integers(min_value=-100, max_value=100))
_bound = st.one_of(st.none(), st.integers(min_value=-100, max_value=100))


@st.composite
def _entries(draw):
    out = []
    for i in range(draw(st.integers(min_value=0, max_value=12))):
        a, b = draw(_stat_v), draw(_stat_v)
        if a is not None and b is not None and a > b:
            a, b = b, a
        out.append({"file": f"f{i}", "n_rows": 1, "stats": {"c": [a, b]}})
    return out


@st.composite
def _pred(draw):
    lo, hi = draw(_bound), draw(_bound)
    if lo is not None and hi is not None and lo > hi:
        lo, hi = hi, lo
    return {"c": (lo, hi)}


@settings(max_examples=300, deadline=None)
@given(_entries(), _pred())
def test_prune_partitions_and_is_sound(entries, pred):
    kept, skipped = prune(entries, pred)
    assert sorted(e["file"] for e in kept + skipped) == sorted(
        e["file"] for e in entries
    )
    lo, hi = pred["c"]
    for e in skipped:  # skipping must be PROVEN by the stats
        mn, mx = e["stats"]["c"]
        assert mn is not None and mx is not None
        assert (lo is not None and mx < lo) or (hi is not None and mn > hi)
    for e in kept:  # any intersecting (or unknown) interval is kept
        mn, mx = e["stats"]["c"]
        if mn is None or mx is None:
            continue
        if lo is not None and mx < lo:
            raise AssertionError(f"kept provably-empty file {e}")
        if hi is not None and mn > hi:
            raise AssertionError(f"kept provably-empty file {e}")


@settings(max_examples=300, deadline=None)
@given(_entries(), _pred())
def test_prune_narrowing_shrinks_kept(entries, pred):
    lo, hi = pred["c"]
    nlo = lo + 1 if lo is not None else None
    nhi = hi - 1 if hi is not None else None
    if nlo is not None and nhi is not None and nlo > nhi:
        return  # narrowed interval became empty-and-inverted; skip
    wide, _ = prune(entries, pred)
    narrow, _ = prune(entries, {"c": (nlo, nhi)})
    assert {e["file"] for e in narrow} <= {e["file"] for e in wide}


# ---------------------------------------------------------------------------
# hexagonal cell index (functions/hexcells.py) — numpy path, no Spark
# ---------------------------------------------------------------------------

from rgr_pdal_topo_spark.functions import hexcells as hx  # noqa: E402


def _hex_np(
    lon: float, lat: float, res: int, normalize: bool = True
) -> tuple[int, int]:
    cell = int(hx._hex_cell_np(
        np.array([lon], dtype=np.float64),
        np.array([lat], dtype=np.float64), res, normalize=normalize,
    )[0])
    mask = (1 << 28) - 1
    return ((cell >> 28) & mask) - (1 << 27), (cell & mask) - (1 << 27)


@settings(max_examples=200, deadline=None)
@given(_lon, _lat)
def test_hex_cube_rounding_is_nearest_center(lon, lat):
    """For any point, no axial neighbour's center is closer than the
    chosen cell's (ties allowed within float epsilon)."""
    res = 7
    q, r = _hex_np(lon, lat, res)
    s = hx.hex_size(res)

    def center(qq, rr):
        return s * np.sqrt(3.0) * (qq + rr / 2.0), s * 1.5 * rr

    cx, cy = center(q, r)
    d0 = (lon - cx) ** 2 + (lat - cy) ** 2
    for dq, dr in hx.HEX_NEIGHBOR_DELTAS:
        nx, ny = center(q + dq, r + dr)
        assert d0 <= (lon - nx) ** 2 + (lat - ny) ** 2 + 1e-9


@settings(max_examples=200, deadline=None)
@given(_lon, _lat)
def test_hex_parent_is_ring_stable(lon, lat):
    """The center-containment parent of a point's res-r cell is within
    one cell of the point's own res-(r-1) cell, at every res in the
    ladder (straddling is bounded by hex geometry)."""
    for res in (6, 9, 12):
        q, r = _hex_np(lon, lat, res)
        s = hx.hex_size(res)
        cx = s * np.sqrt(3.0) * (q + r / 2.0)
        cy = s * 1.5 * r
        # the parent re-encode is PLANAR (normalize=False), mirroring
        # hex_parent: seam-adjacent centers stick past +-180 and must
        # NOT wrap (a wrapped center would land ~360 deg away)
        pq, pr = _hex_np(cx, cy, res - 1, normalize=False)
        oq, orr = _hex_np(lon, lat, res - 1)
        assert (pq - oq, pr - orr) in (
            ((0, 0),) + hx.HEX_NEIGHBOR_DELTAS
        )


@settings(max_examples=100, deadline=None)
@given(_lon, _lat, _lon, _lat)
def test_hex_duckdb_twin_matches_numpy(lon1, lat1, lon2, lat2):
    """The SQL twin is bit-identical to the numpy encoder on arbitrary
    doubles — the three-engine equality test (test_hexcells) checks the
    Spark Column too; this covers hypothesis-found edge coordinates."""
    con = duckdb.connect()
    for res in (5, 12):
        got = con.execute(
            "SELECT "
            + hx.hex_cell_sql("v.lon", "v.lat", res)
            + " FROM (VALUES (?, ?), (?, ?)) v(lon, lat)",
            [lon1, lat1, lon2, lat2],
        ).fetchall()
        want = hx._hex_cell_np(
            np.array([lon1, lon2]), np.array([lat1, lat2]), res
        )
        assert [g[0] for g in got] == list(want)
    con.close()
