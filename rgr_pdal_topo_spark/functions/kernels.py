"""Topographic-metric stencil kernels (SURVEY.md §2.5, W1-W16).

Pure NumPy, float64, NaN = NoData — the *identical formulas* of the
reference's demAnalysisComponents (cited per kernel), factored so the same
function runs (a) per tile inside ``applyInArrow`` on a halo-padded
subarray and (b) on a whole grid as the single-process test oracle.

Kernel contract
---------------
``fn(padded, dx, dy, **params) -> core`` where ``padded`` carries ``halo``
extra cells on every side and ``core`` is the result for the unpadded
region.  ``pad_mode`` declares what the runner must put in out-of-grid halo
cells:

  * ``"repeat"`` — edge replication, the reference's ``_getBCgrid``
    boundary condition (baseGrid/dem.py:117-160);
  * ``"nan"`` — constant-NaN, the reference's ``mode='constant',
    cval=np.nan`` used by generic_filter/convolve kernels
    (dem.py:484, 514, 553-555) and the NaN ring of windowed differences
    (dem.py:377-385).

No scipy in this container: gaussian/median/std/convolution are implemented
directly (sliding windows + offset accumulation) with semantics matching the
scipy calls the reference makes.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view

# --------------------------------------------------------------------------
# W1/W2: slopes, 2nd-order centered difference, edge-repeat BC
# (dem.py:162-200; y flipped because row 0 = north, dem.py:179-180)
# --------------------------------------------------------------------------


def slope_x(p: np.ndarray, dx: float, dy: float) -> np.ndarray:
    return (p[1:-1, 2:] - p[1:-1, :-2]) / (2 * dx)


def slope_y(p: np.ndarray, dx: float, dy: float) -> np.ndarray:
    return (p[:-2, 1:-1] - p[2:, 1:-1]) / (2 * dy)


def slope_mag(p: np.ndarray, dx: float, dy: float) -> np.ndarray:
    sx = slope_x(p, dx, dy)
    sy = slope_y(p, dx, dy)
    return np.sqrt(sx * sx + sy * sy)


# W3: Laplacian (dem.py:202-223)
def laplacian(p: np.ndarray, dx: float, dy: float) -> np.ndarray:
    cx = (p[1:-1, 2:] - 2 * p[1:-1, 1:-1] + p[1:-1, :-2]) / dx**2
    cy = (p[2:, 1:-1] - 2 * p[1:-1, 1:-1] + p[:-2, 1:-1]) / dy**2
    return cx + cy


# W4: contour curvature, Mitasova & Hofierka 1993 (dem.py:225-257).
# Computed on the raw grid (no BC) with a NaN border -> pad_mode "nan".
def contour_curvature(p: np.ndarray, dx: float, dy: float) -> np.ndarray:
    fx = (p[1:-1, 2:] - p[1:-1, :-2]) / (dx * 2)
    fy = (p[:-2, 1:-1] - p[2:, 1:-1]) / (dy * 2)
    fxx = (p[1:-1, 2:] - 2 * p[1:-1, 1:-1] + p[1:-1, :-2]) / dx**2
    fyy = (p[2:, 1:-1] - 2 * p[1:-1, 1:-1] + p[:-2, 1:-1]) / dy**2
    fxy = (
        p[2:, 2:] - p[2:, 1:-1] - p[1:-1, 2:] + 2 * p[1:-1, 1:-1]
        - p[:-2, 1:-1] - p[1:-1, :-2] + p[:-2, :-2]
    ) / (4 * dx * dy)
    with np.errstate(invalid="ignore", divide="ignore"):
        return (fxx * fy**2 - 2 * fxy * fx * fy + fyy * fx**2) / (
            (fx**2 + fy**2) * np.sqrt((fx**2 + fy**2) + 1)
        )


# W5: hillshade (dem.py:259-291), default az=315 alt=45, 0-255, NaN kept.
def hillshade(
    p: np.ndarray, dx: float, dy: float, azimuth: float = 315.0,
    altitude: float = 45.0,
) -> np.ndarray:
    sx = slope_x(p, dx, dy)
    sy = slope_y(p, dx, dy)
    slp = np.pi / 2.0 - np.arctan(np.sqrt(sx**2 + sy**2))
    aspect = np.arctan2(sy, sx)
    az = (360.0 - azimuth) * np.pi / 180.0
    alt = altitude * np.pi / 180.0
    shaded = np.sin(alt) * np.sin(slp) + np.cos(alt) * np.cos(slp) * np.cos(
        (az - np.pi / 2) - aspect
    )
    shaded = shaded * 255
    core = p[1:-1, 1:-1]
    shaded[np.isnan(core)] = np.nan
    return shaded


# W6: aspect in compass degrees (dem.py:293-355)
def aspect(p: np.ndarray, dx: float, dy: float) -> np.ndarray:
    sx = slope_x(p, dx, dy)
    sy = slope_y(p, dx, dy)
    theta = np.arctan2(-sy, -sx)
    asp = np.rad2deg(theta)
    asp -= 90.0
    pos = asp >= 0
    asp[pos] = 360 - asp[pos]
    asp[~pos] *= -1
    return asp


# W7-W9: windowed finite differences over 2N+1 kernels with NaN ring
# (dem.py:357-442).  pad_mode "nan" reproduces the ring automatically.
def windowed_slope_x(p: np.ndarray, dx: float, dy: float, N: int = 2) -> np.ndarray:
    return (p[N:-N, 2 * N:] - p[N:-N, : -(2 * N)]) / ((2 * N) * dx)


def windowed_slope_y(p: np.ndarray, dx: float, dy: float, N: int = 2) -> np.ndarray:
    return (p[: -(2 * N), N:-N] - p[2 * N:, N:-N]) / ((2 * N) * dy)


def windowed_slope_mag(p: np.ndarray, dx: float, dy: float, N: int = 2) -> np.ndarray:
    sx = windowed_slope_x(p, dx, dy, N)
    sy = windowed_slope_y(p, dx, dy, N)
    return np.sqrt(sx * sx + sy * sy)


def windowed_laplacian(p: np.ndarray, dx: float, dy: float, N: int = 2) -> np.ndarray:
    cx = (p[N:-N, 2 * N:] - 2 * p[N:-N, N:-N] + p[N:-N, : -(2 * N)]) / (
        2 * dx * N
    ) ** 2
    cy = (p[2 * N:, N:-N] - 2 * p[N:-N, N:-N] + p[: -(2 * N), N:-N]) / (
        2 * dy * N
    ) ** 2
    return cx + cy


# --------------------------------------------------------------------------
# W10: gaussian smoothing (dem.py:444-460: ndi.gaussian_filter(grid,
# (pw, pw))).  scipy defaults reproduced: truncate=4.0, radius =
# int(truncate*sigma + 0.5), mode='reflect'.  Separable two-pass.
# --------------------------------------------------------------------------


def gaussian_radius(sigma: float, truncate: float = 4.0) -> int:
    return int(truncate * sigma + 0.5)


def _gaussian_kernel1d(sigma: float, radius: int) -> np.ndarray:
    x = np.arange(-radius, radius + 1)
    phi = np.exp(-0.5 / (sigma * sigma) * x**2)
    return phi / phi.sum()


def gaussian_mean(
    p: np.ndarray, dx: float, dy: float, pixel_width: float = 2.0
) -> np.ndarray:
    sigma = float(pixel_width)
    r = gaussian_radius(sigma)
    k = _gaussian_kernel1d(sigma, r)
    # The runner supplies halo=r with pad_mode "reflect"; here we just
    # correlate separably.
    # rows pass
    acc = np.zeros((p.shape[0] - 2 * r, p.shape[1]))
    for i, w in enumerate(k):
        acc += w * p[i : i + acc.shape[0], :]
    # cols pass
    out = np.zeros((acc.shape[0], p.shape[1] - 2 * r))
    for j, w in enumerate(k):
        out += w * acc[:, j : j + out.shape[1]]
    return out


# --------------------------------------------------------------------------
# W11/W12: windowed std / median over square or circular footprint
# (dem.py:462-520): ndi.generic_filter(np.std|np.median, mode='constant',
# cval=nan) -> any NaN in the footprint yields NaN (np.std/np.median
# propagate NaN).  Footprint offsets are arange(w) - w//2 (generic_filter
# centers even-sized footprints at size//2).
# --------------------------------------------------------------------------


def _footprint(pixel_width: int, circular: bool) -> np.ndarray:
    if circular:
        half = pixel_width / 2.0
        coords = np.arange(pixel_width) - half
        fx, fy = np.meshgrid(coords, coords)
        return np.sqrt(fx**2 + fy**2) <= half
    return np.ones((pixel_width, pixel_width), dtype=bool)


def _windowed_reduce(
    p: np.ndarray, pixel_width: int, circular: bool, reducer: Callable
) -> np.ndarray:
    fp = _footprint(pixel_width, circular)
    w = pixel_width
    windows = sliding_window_view(p, (w, w))  # (n+2h-w+1, m+2h-w+1, w, w)
    # halo h = w//2; out[i,j] <- window starting at padded (i + h - w//2, ...)
    # = (i, j) exactly when h == w//2.
    n = p.shape[0] - 2 * (w // 2)
    m = p.shape[1] - 2 * (w // 2)
    vals = windows[:n, :m][..., fp]  # (n, m, k)
    return reducer(vals, axis=-1)


def windowed_std(
    p: np.ndarray, dx: float, dy: float, pixel_width: int = 10,
    circular: bool = False,
) -> np.ndarray:
    return _windowed_reduce(p, pixel_width, circular, np.std)


def windowed_median(
    p: np.ndarray, dx: float, dy: float, pixel_width: int = 10,
    circular: bool = False,
) -> np.ndarray:
    return _windowed_reduce(p, pixel_width, circular, np.median)


# --------------------------------------------------------------------------
# W13: TPI via normalized annulus convolution (dem.py:522-565).
# ndi.convolve(grid, footprint/sum, mode='constant', cval=nan): NaN
# propagates through zero weights too (0*NaN=NaN) — reproduced by
# accumulating over the FULL square kernel, not just annulus members.
# --------------------------------------------------------------------------


def tpi_halo(outer_radius: float, dx: float, dy: float) -> int:
    return int(max(math.ceil(outer_radius / dx), math.ceil(outer_radius / dy)))


def tpi(
    p: np.ndarray, dx: float, dy: float, inner_radius: float = 30.0,
    outer_radius: float = 60.0,
) -> np.ndarray:
    wx = math.ceil(outer_radius / dx)
    wy = math.ceil(outer_radius / dy)
    X, Y = np.meshgrid(
        np.arange(-wx, wx + 1) * dx, np.arange(-wy, wy + 1) * dy
    )
    kern_dist = np.sqrt(X * X + Y * Y)
    footprint = 1.0 * ((kern_dist > inner_radius) & (kern_dist <= outer_radius))
    fconv = footprint / footprint.sum()
    h = tpi_halo(outer_radius, dx, dy)
    n = p.shape[0] - 2 * h
    m = p.shape[1] - 2 * h
    conv = np.zeros((n, m))
    kh, kw = fconv.shape
    # ndi.convolve flips the kernel; fconv is symmetric so correlation == conv
    for di in range(kh):
        for dj in range(kw):
            conv += fconv[di, dj] * p[di : di + n, dj : dj + m]
    core = p[h : h + n, h : h + m]
    return core - conv


# --------------------------------------------------------------------------
# W14: mask-edge detection (baseGrid.py:1198-1229): boundary cells of a
# 0/1 mask = cells where the 3x3 window contains both mask and non-mask.
# --------------------------------------------------------------------------


def mask_boundaries(p: np.ndarray, dx: float, dy: float) -> np.ndarray:
    w = sliding_window_view(p, (3, 3))
    mx = np.nanmax(w, axis=(-2, -1))
    mn = np.nanmin(w, axis=(-2, -1))
    return ((p[1:-1, 1:-1] == 1) & (mx != mn)).astype(float)


# --------------------------------------------------------------------------
# W16/G2: D8 steepest-descent flow direction + slope, ArcGIS codes
# (flowRoutingGrids.py:52-65, 549-597, 388-412).  Kernel order and
# DS codes copied from the reference tables.
# --------------------------------------------------------------------------

D8_ROW_KERNEL = np.array([1, 1, 1, 0, 0, -1, -1, -1])
D8_COL_KERNEL = np.array([-1, 0, 1, -1, 1, -1, 0, 1])
D8_DS_CODES = np.array([8, 4, 2, 16, 1, 32, 64, 128])


def _d8_neighbor_slopes(p: np.ndarray, dx: float, dy: float) -> np.ndarray:
    """(8, n, m) slope to each neighbor (positive = downhill away)."""
    n = p.shape[0] - 2
    m = p.shape[1] - 2
    core = p[1:-1, 1:-1]
    out = np.empty((8, n, m))
    for k in range(8):
        di, dj = D8_ROW_KERNEL[k], D8_COL_KERNEL[k]
        nb = p[1 + di : 1 + di + n, 1 + dj : 1 + dj + m]
        dist = math.sqrt((dy * di) ** 2 + (dx * dj) ** 2)
        out[k] = (core - nb) / dist
    return out


def d8_flow_dir(p: np.ndarray, dx: float, dy: float) -> np.ndarray:
    """Steepest-descent D8 code; 0 where no positive descent (outlet/flat),
    NaN where the cell itself is NoData."""
    slopes = _d8_neighbor_slopes(p, dx, dy)
    core = p[1:-1, 1:-1]
    with np.errstate(invalid="ignore"):
        filled = np.where(np.isnan(slopes), -np.inf, slopes)
        idx = np.argmax(filled, axis=0)
        best = np.take_along_axis(filled, idx[None], axis=0)[0]
    fd = np.where(best > 0, D8_DS_CODES[idx], 0).astype(float)
    fd[np.isnan(core)] = np.nan
    return fd


def d8_slope(p: np.ndarray, dx: float, dy: float) -> np.ndarray:
    """Slope to the steepest downhill neighbor; 0 when draining out of
    bounds/flat (reference preallocates zeros, flowRoutingGrids.py:393)."""
    slopes = _d8_neighbor_slopes(p, dx, dy)
    core = p[1:-1, 1:-1]
    with np.errstate(invalid="ignore"):
        filled = np.where(np.isnan(slopes), -np.inf, slopes)
        best = filled.max(axis=0)
    out = np.where(best > 0, best, 0.0)
    out[np.isnan(core)] = np.nan
    return out


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Kernel:
    fn: Callable
    pad_mode: str  # "repeat" | "nan" | "reflect"
    halo: Callable  # params -> int


KERNELS: dict[str, Kernel] = {
    "slope_x": Kernel(slope_x, "repeat", lambda p: 1),
    "slope_y": Kernel(slope_y, "repeat", lambda p: 1),
    "slope_mag": Kernel(slope_mag, "repeat", lambda p: 1),
    "laplacian": Kernel(laplacian, "repeat", lambda p: 1),
    "contour_curvature": Kernel(contour_curvature, "nan", lambda p: 1),
    "hillshade": Kernel(hillshade, "repeat", lambda p: 1),
    "aspect": Kernel(aspect, "repeat", lambda p: 1),
    "windowed_slope_x": Kernel(windowed_slope_x, "nan", lambda p: p.get("N", 2)),
    "windowed_slope_y": Kernel(windowed_slope_y, "nan", lambda p: p.get("N", 2)),
    "windowed_slope_mag": Kernel(
        windowed_slope_mag, "nan", lambda p: p.get("N", 2)
    ),
    "windowed_laplacian": Kernel(
        windowed_laplacian, "nan", lambda p: p.get("N", 2)
    ),
    "gaussian_mean": Kernel(
        gaussian_mean, "reflect",
        lambda p: gaussian_radius(float(p.get("pixel_width", 2.0))),
    ),
    "windowed_std": Kernel(
        windowed_std, "nan", lambda p: int(p.get("pixel_width", 10)) // 2
    ),
    "windowed_median": Kernel(
        windowed_median, "nan", lambda p: int(p.get("pixel_width", 10)) // 2
    ),
    "tpi": Kernel(
        tpi, "nan",
        lambda p: None,  # resolved in runner: needs dx/dy
    ),
    "mask_boundaries": Kernel(mask_boundaries, "nan", lambda p: 1),
    "d8_flow_dir": Kernel(d8_flow_dir, "nan", lambda p: 1),
    "d8_slope": Kernel(d8_slope, "nan", lambda p: 1),
}


def kernel_halo(name: str, params: dict, dx: float, dy: float) -> int:
    if name == "tpi":
        return tpi_halo(float(params.get("outer_radius", 60.0)), dx, dy)
    h = KERNELS[name].halo(params)
    assert h is not None
    return int(h)
