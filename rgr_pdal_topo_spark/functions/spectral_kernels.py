"""Spectral kernels (SURVEY.md §2.9, X1-X6): plane fit/detrend, 2-D FFT,
spectral filters, wavelength-binned power.

Pure NumPy, mirroring the reference formulas exactly (cited per function).
Each runs per tile inside the stencil engine's ``applyInArrow`` tile runner
(a tile is the reference's whole grid — spectral analysis windows are
tile-local by construction) and doubles as the whole-grid test oracle.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# X1/X2: plane fit + detrend (dem.py:23-115)
# ---------------------------------------------------------------------------


def plane_fit(x: np.ndarray, y: np.ndarray, z: np.ndarray) -> np.ndarray:
    """Least-squares plane z ~ sx*x + sy*y + c
    (calcPlaneCoefficientsToGrid, dem.py:23-64)."""
    a = np.column_stack((x.ravel(), y.ravel(), np.ones(x.size)))
    return np.linalg.lstsq(a, z.ravel(), rcond=None)[0]


def fitted_plane(
    x: np.ndarray, y: np.ndarray, coeffs: np.ndarray
) -> np.ndarray:
    """calcFittedPlane (dem.py:90-115)."""
    return x * coeffs[0] + y * coeffs[1] + coeffs[2]


# ---------------------------------------------------------------------------
# X3: forward transform (fftGrid.py:20-71)
# ---------------------------------------------------------------------------


def hann_window(nrows: int, ncols: int) -> np.ndarray:
    """Elliptic Hann taper (Perron et al. 2008; _getHannWindowNormalizer,
    fftGrid.py:73-102)."""
    a = (nrows - 1) / 2
    b = (ncols - 1) / 2
    n, m = np.meshgrid(np.arange(ncols), np.arange(nrows))
    with np.errstate(divide="ignore", invalid="ignore"):
        theta = np.arctan((n - b) / (m - a))
    theta = np.where(np.isnan(theta), np.pi / 2, theta)  # center row: m == a
    r = np.sqrt((m - a) ** 2 + (n - b) ** 2)
    rp = np.sqrt(
        (a**2 * b**2)
        / (b**2 * np.cos(theta) ** 2 + a**2 * np.sin(theta) ** 2)
    )
    w = np.zeros_like(r)
    nz = r <= rp
    w[nz] = 0.5 * (1.0 + np.cos(np.pi * r[nz] / rp[nz]))
    return w


def wavelength_grid(nrows: int, ncols: int, dx: float, dy: float) -> np.ndarray:
    """Radial wavelength L = 1/|f| per FFT bin (_getFFT_coords + _calcL2d,
    fftGrid.py:152-172, 229-231); +inf at DC.

    DELIBERATE DIVERGENCE: the reference flips the y frequencies
    (ifftshift(fftshift(fftfreq)[::-1]), fftGrid.py:172, under its own
    "Double check that the flipping of the y is correct" TODO).  For even
    nrows that flip shifts every row label by one bin, mislabels DC as a
    finite wavelength, and makes wavelength-defined filters lose Hermitian
    symmetry (the inverse transform then silently discards a real
    imaginary component).  This engine uses the plain fftfreq labels that
    match np.fft.fft2's bin layout exactly."""
    fx = np.fft.fftfreq(ncols, dx)
    fy = np.fft.fftfreq(nrows, dy)
    FX, FY = np.meshgrid(fx, fy)
    with np.errstate(divide="ignore"):
        return 1.0 / np.sqrt(FX * FX + FY * FY)


def fft_forward(
    z: np.ndarray,
    x: np.ndarray,
    y: np.ndarray,
    dx: float,
    dy: float,
    hann: bool = False,
    detrend: bool = True,
) -> dict:
    """fftGrid.__init__ (fftGrid.py:20-71): detrend -> window -> fft2 ->
    power = |G|^2 / (N*M*sum(W^2)).  Returns everything needed to invert."""
    nrows, ncols = z.shape
    if detrend:
        coeffs = plane_fit(x, y, z)
        plane = fitted_plane(x, y, coeffs)
    else:
        coeffs = np.zeros(3)
        plane = np.zeros_like(z)
    w = hann_window(nrows, ncols) if hann else np.ones_like(z)
    G = np.fft.fft2((z - plane) * w)
    power = np.abs(G) ** 2 / (ncols * nrows * np.sum(w.ravel() ** 2))
    return {
        "G": G,
        "power": power,
        "L": wavelength_grid(nrows, ncols, dx, dy),
        "plane": plane,
        "window": w,
        "coeffs": coeffs,
    }


# ---------------------------------------------------------------------------
# X4: filters (fftGrid.py:125-136, 174-227)
# ---------------------------------------------------------------------------


def filter_lowpass(
    L: np.ndarray, minimum_wavelength: float, sigma_wavelength: float = 0.0
) -> np.ndarray:
    if sigma_wavelength == 0:
        return 1.0 * (L > minimum_wavelength)
    f = np.ones_like(L)
    cut = L <= minimum_wavelength
    f[cut] = np.exp(
        -((L[cut] - minimum_wavelength) ** 2) / (2.0 * sigma_wavelength**2)
    )
    return f


def filter_highpass(
    L: np.ndarray, maximum_wavelength: float, sigma_wavelength: float = 0.0
) -> np.ndarray:
    if sigma_wavelength == 0:
        return 1.0 * (L < maximum_wavelength)
    f = np.ones_like(L)
    cut = L >= maximum_wavelength
    f[cut] = np.exp(
        -((L[cut] - maximum_wavelength) ** 2) / (2.0 * sigma_wavelength**2)
    )
    return f


def filter_bandpass(
    L: np.ndarray,
    minimum_wavelength: float,
    maximum_wavelength: float,
    sigma_wavelength: float = 0.0,
) -> np.ndarray:
    if sigma_wavelength == 0:
        return 1.0 * ((L < maximum_wavelength) & (L > minimum_wavelength))
    mean_wl = (minimum_wavelength + maximum_wavelength) / 2.0
    return np.exp(-((L - mean_wl) ** 2) / (2.0 * sigma_wavelength**2))


def filter_diffusion(L: np.ndarray, kt: float) -> np.ndarray:
    """Linear-diffusion morphologic-age filter
    (addFilter_LinearDiffusion, fftGrid.py:125-136)."""
    return np.exp(-4.0 * (np.pi**2) * kt * (L**-2.0))


FILTERS = {
    "lowpass": filter_lowpass,
    "highpass": filter_highpass,
    "bandpass": filter_bandpass,
    "diffusion": filter_diffusion,
}


def fft_inverse(fwd: dict, filters: list[np.ndarray] | None = None) -> np.ndarray:
    """applyFilters + inverseTransform (fftGrid.py:104-122, 138-150):
    multiply filters into G, ifft2, un-window, re-trend."""
    G = fwd["G"]
    if filters:
        total = np.ones_like(G)
        for f in filters:
            total = total * f
        G = G * total
    return (np.real(np.fft.ifft2(G)) / fwd["window"]) + fwd["plane"]


# ---------------------------------------------------------------------------
# A6: wavelength-binned median power (fftGrid.py:243-269)
# ---------------------------------------------------------------------------


def binned_median_power(
    L: np.ndarray,
    power: np.ndarray,
    n_bins: int = 20,
    perc_range: tuple[float, float] = (2.5, 97.5),
) -> dict[str, np.ndarray]:
    """20 log-spaced wavelength bins -> median + percentile envelope of
    spectral power; bins with <= 3 members yield NaN (reference `> 3`)."""
    finite = ~np.isinf(L)
    bins = np.logspace(
        np.log10(np.nanmin(L[finite])), np.log10(np.nanmax(L[finite])),
        n_bins + 1,
    )
    mid = (bins[1:] + bins[:-1]) / 2.0
    p_med = np.full(n_bins, np.nan)
    p_lo = np.full(n_bins, np.nan)
    p_hi = np.full(n_bins, np.nan)
    for i in range(n_bins):
        # reference-exact membership incl. open top edge: the maximum
        # finite wavelength falls outside the last bin, as in
        # calcWavelengthBinnedMedianPower (fftGrid.py:264)
        sel = (L >= bins[i]) & (L < bins[i + 1])
        data = power[sel].ravel()
        if len(data) > 3:
            p_med[i] = np.nanmedian(data)
            p_lo[i], p_hi[i] = np.percentile(data, perc_range)
    return {"mid_wavelength": mid, "median_power": p_med,
            "p_lo": p_lo, "p_hi": p_hi}


# ---------------------------------------------------------------------------
# X6: piecewise power-law fit / scaling break
# (calcPiecewiseRegressionCoefficients + calcWavelengthScalingBreak,
# fftGrid.py:286-334; generic form gridFunctions.py:10-56)
# ---------------------------------------------------------------------------


def piecewise_powerlaw(
    L: np.ndarray, power: np.ndarray, n_breaks: int = 50
) -> dict[str, float]:
    """Two-segment power law continuous at the scaling break, fit in
    log10-log10 space.  The reference uses Nelder-Mead (scipy); this
    engine uses the deterministic equivalent: for each candidate break the
    continuous 2-segment model is LINEAR in (a, b_l, b_r) and solved in
    closed form, and the break is grid-searched over log-spaced
    candidates — same objective (L2 of log residuals), no randomness."""
    good = (
        ~np.isnan(L) & ~np.isnan(power) & ~np.isinf(L)
        & ~np.isinf(power) & (power > 0)
    )
    x = np.log10(L[good].ravel())
    y = np.log10(power[good].ravel())
    cands = np.linspace(x.min(), x.max(), n_breaks + 2)[1:-1]
    best = None
    for s in cands:
        a_cols = np.column_stack(
            (np.ones_like(x), np.minimum(x - s, 0.0), np.maximum(x - s, 0.0))
        )
        coef, *_ = np.linalg.lstsq(a_cols, y, rcond=None)
        sse = float(np.sum((a_cols @ coef - y) ** 2))
        if best is None or sse < best["sse"]:
            best = {
                "break_wavelength": float(10**s),
                "b_left": float(coef[1]),
                "b_right": float(coef[2]),
                "log10_power_at_break": float(coef[0]),
                "sse": sse,
            }
    return best
