"""Hierarchical spatial cell ids: the H3/S2 index layer of the north rule.

The input coordinates extracted from each page are encoded into
multi-resolution cell ids that serve as partition / join / prefilter keys
(SURVEY.md §2 spatial-index row: ``h3_r{5..12}: long, s2_cell: long``).

Two families:

* ``quad_cell``  — hierarchical aperture-4 quadkey over an equirectangular
  projection, with a resolution marker bit so ids are self-describing and
  ``parent(cell) == cell >> 2`` (H3-style prefix containment).  No ``h3``
  wheel exists in this environment, so per the decision recorded in
  SURVEY §7 Stage 1 this pure-numpy/pure-Column encoder with the same API
  (res 5..12, parent/child, k-ring) stands in for H3; swapping in
  library-H3 later only changes this module.
* ``s2_cell``    — S2-style id: unit-sphere point -> cube face (argmax
  axis) -> (u,v) -> quadratic s/t transform (the published S2 formula) ->
  leaf (i,j) -> ``face*4^level + pos(i,j)``.  Position-on-curve is
  Morton by default (the Column/SQL-twin spelling) with a Hilbert
  option (``interleave="hilbert"`` / ``s2_cell_hilbert_udf``) matching
  library-S2's ordering — both have the ``parent == child >> 2`` prefix
  property; Hilbert additionally keeps successive ids 4-adjacent in the
  grid (property-tested).  No library exists in this sandbox to match
  ids against bit-for-bit.

Both encoders exist twice, by design:

* as pure Column expressions (whole-stage codegen, zero Python — the hot
  path at 10^12 rows), and
* as Arrow-batched ``pandas_udf`` encoders (the north-star's stated API
  shape, and the form a library-backed H3/S2 would take).

The quadkey family is exact integer arithmetic end to end, so its DuckDB
oracle replays it bit-for-bit.  The S2 family passes through trig/sqrt
doubles before discretizing; JVM Math and DuckDB libm can differ by ulps
there, so an input landing within an ulp of a cell boundary (or exactly
on a cube-face boundary) could get a different id in the two engines —
no rounding absorbs that for a discrete id.  Parity on the driver
payload is asserted empirically (cell_index oracle + parity sweep), not
assumed.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

H3_RES_RANGE = range(5, 13)  # north-star: H3 res 5..12
S2_LEVEL = 16


# ---------------------------------------------------------------------------
# quadkey family (H3 stand-in)
# ---------------------------------------------------------------------------

def _quad_ixy(lon: Column, lat: Column, res: int) -> tuple[Column, Column]:
    n = 1 << res
    x = (lon + F.lit(180.0)) / F.lit(360.0)
    y = (F.lit(90.0) - lat) / F.lit(180.0)
    ix = F.least(F.floor(x * n).cast("long"), F.lit(n - 1))
    iy = F.least(F.floor(y * n).cast("long"), F.lit(n - 1))
    return F.greatest(ix, F.lit(0)), F.greatest(iy, F.lit(0))


def _morton(ix: Column, iy: Column, res: int) -> Column:
    parts = []
    for b in range(res):
        parts.append(
            F.shiftleft(F.shiftright(ix, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
        parts.append(
            F.shiftleft(F.shiftright(iy, b).bitwiseAND(F.lit(1)), 2 * b)
        )
    return reduce(lambda a, b: a + b, parts)


def _null_guard(lon: Column, lat: Column) -> Column:
    """0, or NULL when either coordinate is NULL: added to a cell id so a
    NULL coordinate gives a NULL id (the clamps' LEAST/GREATEST skip
    NULL, so the id alone would be a real cell).  Added rather than
    wrapping the id in a CASE: inside a conditional branch the id's
    repeated subexpressions are not eliminated (s2_cell ran 15x
    slower)."""
    return F.when(lon.isNotNull() & lat.isNotNull(), F.lit(0))


def quad_cell(lon: Column, lat: Column, res: int) -> Column:
    """Self-describing hierarchical cell id at ``res``: marker bit at
    2*res, Morton-interleaved (ix, iy) below it; NULL when either
    coordinate is NULL."""
    return F.lit(1 << (2 * res)).cast("long") + _morton(
        *_quad_ixy(lon, lat, res), res
    ) + _null_guard(lon, lat)


def quad_parent(cell: Column) -> Column:
    """Parent cell one resolution up — a 2-bit shift (marker included)."""
    return F.shiftright(cell, 2)


def quad_ix_sql(lon: str, res: int) -> str:
    """SQL twin of _quad_ixy's ix (same clamp, same arithmetic)."""
    n = 1 << res
    return (f"GREATEST(LEAST(CAST(FLOOR((({lon}) + 180.0) / 360.0 * {n}) "
            f"AS BIGINT), {n - 1}), 0)")


def quad_iy_sql(lat: str, res: int) -> str:
    """SQL twin of _quad_ixy's iy (same clamp, same arithmetic)."""
    n = 1 << res
    return (f"GREATEST(LEAST(CAST(FLOOR((90.0 - ({lat})) / 180.0 * {n}) "
            f"AS BIGINT), {n - 1}), 0)")


def morton_sql(ix: str, iy: str, res: int) -> str:
    """SQL twin of _morton over already-integer (ix, iy) expressions."""
    parts = []
    for b in range(res):
        parts.append(f"((({ix}) >> {b}) & 1) << {2 * b + 1}")
        parts.append(f"((({iy}) >> {b}) & 1) << {2 * b}")
    return "(" + " + ".join(f"({p})" for p in parts) + ")"


def quad_cell_sql(lon: str, lat: str, res: int) -> str:
    """DuckDB twin of quad_cell (same integer arithmetic, DuckDB bit
    operators, same trailing _null_guard term)."""
    m = morton_sql(quad_ix_sql(lon, res), quad_iy_sql(lat, res), res)
    return (f"(CAST({1 << (2 * res)} AS BIGINT) + {m} + CASE WHEN "
            f"({lon}) IS NOT NULL AND ({lat}) IS NOT NULL THEN 0 END)")


def quad_k_ring(cell: Column, res: int) -> Column:
    """The 3x3 neighborhood of a cell at its own resolution (array of
    ids, clamped at grid edges may include the cell itself twice —
    callers use it as a join prefilter, duplicates are harmless after
    array_distinct)."""
    n = 1 << res

    def deinterleave(c: Column) -> Column:
        # the inverse Morton on the fly
        def bits(shift: int) -> Column:
            return reduce(lambda a, b: a + b, [
                F.shiftleft(F.shiftright(c, 2 * b + shift).bitwiseAND(1), b)
                for b in range(res)
            ])
        return F.struct(bits(1).alias("ix"), bits(0).alias("iy"))

    def clamp(v: Column) -> Column:
        return F.greatest(F.least(v, F.lit(n - 1)), F.lit(0))

    def ring(xy: Column) -> Column:
        nbrs = F.array(*[
            F.struct(clamp(xy["ix"] + dc).alias("jx"),
                     clamp(xy["iy"] + dr).alias("jy"))
            for dr in (-1, 0, 1) for dc in (-1, 0, 1)
        ])
        return F.array_distinct(F.transform(
            nbrs,
            lambda j: F.lit(1 << (2 * res)).cast("long")
            + _morton(j["jx"], j["jy"], res),
        ))

    # lambda variables bind `cell`, (ix, iy) and each neighbour once:
    # inlined, every neighbour id would repeat the de-interleave, and each
    # of those the whole `cell` expression (~10^6 characters at res 6)
    return F.transform(F.transform(F.array(cell), deinterleave), ring)[0]


# ---------------------------------------------------------------------------
# S2-style family
# ---------------------------------------------------------------------------

def _s2_face_uv_np(lon: np.ndarray, lat: np.ndarray):
    """lon/lat -> (face, u, v) per the S2 cube-face model: face = argmax
    axis of the unit vector, (u, v) = the other two axes over the major
    one, with the published axis/sign conventions folded into a uniform
    (face, u, v) that round-trips within this module."""
    phi = np.radians(lat)
    lam = np.radians(lon)
    x = np.cos(phi) * np.cos(lam)
    y = np.cos(phi) * np.sin(lam)
    z = np.sin(phi)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(
        (ax >= ay) & (ax >= az),
        np.where(x >= 0, 0, 3),
        np.where(ay >= az, np.where(y >= 0, 1, 4), np.where(z >= 0, 2, 5)),
    )
    major = np.choose(face % 3, [x, y, z])
    u = np.choose(face % 3, [y, z, x]) / major
    v = np.choose(face % 3, [z, x, y]) / major
    return face.astype(np.int64), u, v


def _s2_st_np(u: np.ndarray) -> np.ndarray:
    """The S2 quadratic projection u -> s in [0, 1] (published formula)."""
    s = 0.5 * np.sqrt(1.0 + 3.0 * np.abs(u))
    return np.where(u >= 0.0, s, 1.0 - s)


def _morton_np(ix: np.ndarray, iy: np.ndarray, level: int) -> np.ndarray:
    out = np.zeros_like(ix)
    for b in range(level):
        out |= ((ix >> b) & 1) << (2 * b + 1)
        out |= ((iy >> b) & 1) << (2 * b)
    return out


def _hilbert_np(ix: np.ndarray, iy: np.ndarray, level: int) -> np.ndarray:
    """Vectorized xy -> Hilbert-curve position at ``level`` (the classic
    iterative quadrant-rotate walk).  Like Morton it has the prefix
    property ``parent == child >> 2`` (each parent's four children are
    consecutive on the curve, in parent order), and additionally
    successive curve positions are always 4-adjacent in the grid — the
    stronger locality library S2 gets from its Hilbert ordering.  Both
    are property-tested in tests/test_cells.py."""
    x = ix.astype(np.int64).copy()
    y = iy.astype(np.int64).copy()
    d = np.zeros_like(x)
    s = np.int64(1 << (level - 1))
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate the lower quadrant into canonical orientation
        swap = ry == 0
        flip = swap & (rx == 1)
        xf = np.where(flip, s - 1 - x, x)
        yf = np.where(flip, s - 1 - y, y)
        x, y = np.where(swap, yf, xf), np.where(swap, xf, yf)
        s >>= 1
    return d


def s2_cell_np(lon: np.ndarray, lat: np.ndarray,
               level: int = S2_LEVEL,
               interleave: str = "morton") -> np.ndarray:
    """interleave="morton" (default, matches the Column/SQL twins) or
    "hilbert" (library-S2's ordering; same face, same leaf (i, j), only
    the position-on-curve differs).  The Hilbert spelling closes the
    documented Morton deviation for callers that want S2's
    consecutive-range locality; it is numpy/pandas_udf-only — the
    whole-stage-codegen hot path stays on the quadkey/Morton family."""
    face, u, v = _s2_face_uv_np(lon, lat)
    n = 1 << level
    i = np.clip((_s2_st_np(u) * n).astype(np.int64), 0, n - 1)
    j = np.clip((_s2_st_np(v) * n).astype(np.int64), 0, n - 1)
    if interleave == "hilbert":
        pos = _hilbert_np(i, j, level)
    elif interleave == "morton":
        pos = _morton_np(i, j, level)
    else:
        raise ValueError(f"unknown interleave {interleave!r}")
    return face * (1 << (2 * level)) + pos


def _s2_series(lon: pd.Series, lat: pd.Series, interleave: str) -> pd.Series:
    """s2_cell_np over one Arrow batch; NULL where either coordinate is
    NULL or NaN, as in s2_cell (a NULL double arrives here as NaN)."""
    x = lon.to_numpy(dtype="float64")
    y = lat.to_numpy(dtype="float64")
    ok = ~(np.isnan(x) | np.isnan(y))
    out = pd.Series(pd.NA, index=lon.index, dtype="Int64")
    out[ok] = s2_cell_np(x[ok], y[ok], interleave=interleave)
    return out


@pandas_udf(LongType())
def s2_cell_hilbert_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
    """Arrow-batched S2-style encoder with Hilbert position-on-curve."""
    return _s2_series(lon, lat, "hilbert")


@pandas_udf(LongType())
def s2_cell_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
    """Arrow-batched S2-style encoder (the north-star's pandas-UDF shape)."""
    return _s2_series(lon, lat, "morton")


def s2_cell(lon: Column, lat: Column, level: int = S2_LEVEL) -> Column:
    """Pure-Column S2-style cell id (identical arithmetic to s2_cell_np,
    kept in whole-stage codegen); NULL when either coordinate is NULL."""
    phi = F.radians(lat)
    lam = F.radians(lon)
    x = F.cos(phi) * F.cos(lam)
    y = F.cos(phi) * F.sin(lam)
    z = F.sin(phi)
    ax, ay, az = F.abs(x), F.abs(y), F.abs(z)
    face = (
        F.when((ax >= ay) & (ax >= az),
               F.when(x >= 0, F.lit(0)).otherwise(F.lit(3)))
        .otherwise(
            F.when(ay >= az,
                   F.when(y >= 0, F.lit(1)).otherwise(F.lit(4)))
            .otherwise(F.when(z >= 0, F.lit(2)).otherwise(F.lit(5)))
        )
    ).cast("long")
    m = face % 3
    major = F.when(m == 0, x).when(m == 1, y).otherwise(z)
    u = (F.when(m == 0, y).when(m == 1, z).otherwise(x)) / major
    v = (F.when(m == 0, z).when(m == 1, x).otherwise(y)) / major

    def st(w: Column) -> Column:
        return F.when(
            w >= 0, F.lit(0.5) * F.sqrt(F.lit(1.0) + F.lit(3.0) * w)
        ).otherwise(F.lit(1.0) - F.lit(0.5) * F.sqrt(F.lit(1.0) - F.lit(3.0) * w))

    n = 1 << level
    i = F.greatest(
        F.least(F.floor(st(u) * n).cast("long"), F.lit(n - 1)), F.lit(0)
    )
    j = F.greatest(
        F.least(F.floor(st(v) * n).cast("long"), F.lit(n - 1)), F.lit(0)
    )
    return (face * F.lit(1 << (2 * level)).cast("long") + _morton(i, j, level)
            + _null_guard(lon, lat))


def s2_cell_sql_query(
    inner_sql: str, id_cols: str, lon: str = "lon", lat: str = "lat",
    level: int = S2_LEVEL,
) -> str:
    """DuckDB twin of s2_cell as a nested subquery over ``inner_sql``
    (which must expose ``id_cols`` plus ``lon``/``lat``): each derivation
    step is materialized as a column so no subexpression is textually
    duplicated.  Emits ``id_cols..., s2_cell``, NULL when either
    coordinate is NULL (flag ``ok``, carried to the last step)."""
    n = 1 << level
    xyz = (f"SELECT {id_cols}, COS(RADIANS({lat})) * COS(RADIANS({lon})) "
           f"AS x, COS(RADIANS({lat})) * SIN(RADIANS({lon})) AS y, "
           f"SIN(RADIANS({lat})) AS z, "
           f"({lon}) IS NOT NULL AND ({lat}) IS NOT NULL AS ok "
           f"FROM ({inner_sql}) q0")
    face = (f"SELECT {id_cols}, ok, x, y, z, "
            "CASE WHEN ABS(x) >= ABS(y) AND ABS(x) >= ABS(z) THEN "
            "(CASE WHEN x >= 0 THEN 0 ELSE 3 END) "
            "WHEN ABS(y) >= ABS(z) THEN (CASE WHEN y >= 0 THEN 1 ELSE 4 "
            "END) ELSE (CASE WHEN z >= 0 THEN 2 ELSE 5 END) END AS face "
            f"FROM ({xyz}) q1")
    uv = (f"SELECT {id_cols}, ok, face, "
          "(CASE WHEN face % 3 = 0 THEN y WHEN face % 3 = 1 THEN z ELSE x "
          "END) / (CASE WHEN face % 3 = 0 THEN x WHEN face % 3 = 1 THEN y "
          "ELSE z END) AS u, "
          "(CASE WHEN face % 3 = 0 THEN z WHEN face % 3 = 1 THEN x ELSE y "
          "END) / (CASE WHEN face % 3 = 0 THEN x WHEN face % 3 = 1 THEN y "
          "ELSE z END) AS v "
          f"FROM ({face}) q2")
    st = (f"SELECT {id_cols}, ok, face, "
          "CASE WHEN u >= 0 THEN 0.5 * SQRT(1.0 + 3.0 * u) "
          "ELSE 1.0 - 0.5 * SQRT(1.0 - 3.0 * u) END AS su, "
          "CASE WHEN v >= 0 THEN 0.5 * SQRT(1.0 + 3.0 * v) "
          "ELSE 1.0 - 0.5 * SQRT(1.0 - 3.0 * v) END AS sv "
          f"FROM ({uv}) q3")
    ij = (f"SELECT {id_cols}, ok, face, "
          f"GREATEST(LEAST(CAST(FLOOR(su * {n}) AS BIGINT), {n - 1}), 0) "
          "AS i, "
          f"GREATEST(LEAST(CAST(FLOOR(sv * {n}) AS BIGINT), {n - 1}), 0) "
          f"AS j FROM ({st}) q4")
    parts = []
    for b in range(level):
        parts.append(f"(((i >> {b}) & 1) << {2 * b + 1})")
        parts.append(f"(((j >> {b}) & 1) << {2 * b})")
    return (f"SELECT {id_cols}, CASE WHEN ok THEN CAST(face AS BIGINT) * "
            f"CAST({1 << (2 * level)} AS BIGINT) + "
            + " + ".join(parts) + f" END AS s2_cell FROM ({ij}) q5")


# ---------------------------------------------------------------------------
# pure-Column Hilbert (the codegen twin of _hilbert_np)
# ---------------------------------------------------------------------------

# The quadrant-rotate walk as a 4-state DFA over MSB-first bit pairs.
# States are the reachable orientation transforms (swap, flip-x, flip-y)
# of _hilbert_np's rotate step; tables derived from that algebra and
# exhaustively pinned equal to _hilbert_np at levels 4 and 8
# (tests/test_cells.py).  Flattened row-major: index = state * 4 + q,
# q = 2 * x_bit + y_bit.
_HILBERT_TRANS = (1, 0, 2, 0, 0, 3, 1, 1, 2, 2, 0, 3, 3, 1, 3, 2)
_HILBERT_DIGIT = (0, 1, 3, 2, 0, 3, 1, 2, 2, 1, 3, 0, 2, 3, 1, 0)


def hilbert_cell_col(ix: Column, iy: Column, level: int) -> Column:
    """xy -> Hilbert-curve position at ``level`` as a PURE Column
    expression — bit-equal to the Arrow-path ``_hilbert_np`` (pinned in
    tests), whole-stage-codegen'd like the Morton twin ``_morton``.

    Spelling matters here: unrolling _hilbert_np's rotate step directly
    rewrites x and y in terms of BOTH previous values each level, so
    the expression tree grows geometrically (level 8 never finishes
    analysis).  The DFA form carries only a 2-bit orientation state:
    each level's curve digit and next state are constant-array lookups
    on (state, bit-pair), the state chain references each predecessor
    once, and the whole expression stays O(level^2) nodes."""
    tr = F.array(*[F.lit(v) for v in _HILBERT_TRANS])
    dg = F.array(*[F.lit(v) for v in _HILBERT_DIGIT])
    st = F.lit(0)
    d = F.lit(0).cast("long")
    for i in range(level - 1, -1, -1):
        q = (
            F.shiftleft(F.shiftright(ix, i).bitwiseAND(F.lit(1)), 1)
            + F.shiftright(iy, i).bitwiseAND(F.lit(1))
        ).cast("int")
        d = d + F.lit(1 << (2 * i)).cast("long") * F.element_at(
            dg, st * 4 + q + 1
        ).cast("long")
        st = F.element_at(tr, st * 4 + q + 1)
    return d


def hilbert_ctes(src: str, level: int, carry: str = "ix, iy") -> list:
    """DuckDB twin of hilbert_cell_col as an unrolled CTE chain (one
    CTE per walk step, so the SQL engine carries (hx, hy, hd) state
    instead of a geometric expression tree).
    ``src`` must expose BIGINT ``ix``/``iy`` plus the ``carry`` columns;
    the final CTE ``hb0`` carries ``hd``."""
    ctes = [f"hb{level} AS (SELECT {carry}, ix AS hx, iy AS hy, "
            f"CAST(0 AS BIGINT) AS hd FROM {src})"]
    for i in range(level - 1, -1, -1):
        s = 1 << i
        rx = f"(CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)"
        ctes.append(
            f"hb{i} AS (SELECT {carry}, "
            f"CASE WHEN (hy & {s}) = 0 THEN (CASE WHEN (hx & {s}) > 0 "
            f"THEN {s - 1} - hy ELSE hy END) ELSE hx END AS hx, "
            f"CASE WHEN (hy & {s}) = 0 THEN (CASE WHEN (hx & {s}) > 0 "
            f"THEN {s - 1} - hx ELSE hx END) ELSE hy END AS hy, "
            f"hd + {s * s} * xor(3 * {rx}, {ry}) AS hd "
            f"FROM hb{i + 1})"
        )
    return ctes
