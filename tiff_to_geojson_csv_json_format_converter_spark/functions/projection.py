"""Vectorized CRS reprojection (UTM <-> WGS84) in pure numpy.

The reference reprojects every extracted point to EPSG:4326 with pyproj
(``Transformer.from_crs(crs, 'EPSG:4326', always_xy=True)``,
completePixleOutput.py:59-62, test.py:66-67). pyproj is absent in this
environment, so the engine implements the public Karney/Krüger
transverse-Mercator series (6th order in the third flattening n) for
the UTM CRSs the reference uses (EPSG:32643/32644, test2.py:1095 and
the pyc demo's EPSG:32644), plus identity for EPSG:4326.

Accuracy: the 6th-order series is good to sub-nanometer for UTM's
|lon - lon0| <= 3.5 deg — far below the 6-decimal rounding the
reference applies (completePixleOutput.py:64-68).

The inverse sums its series by Clenshaw's recurrence (Karney 2011,
"Transverse Mercator with an accuracy of a few nanometers", J. Geodesy
85:475-485): its two series take 4 sin/cos/sinh/cosh calls a point
instead of 30. On the 835,584 UTM pixel centres of perfbench's 96
``ingest_tiles`` images, image by image, that is 0.32 -> 0.12 s of CPU
(one core of a shared 4-core x86 host). It differs from the
term-by-term sum of the same coefficients by at most 7.1e-14 deg over
lon0 +- 3.5 deg, lat 0.5-84 deg (4 M random points, EPSG:32643/32644),
and not at all after ``np.round(., 6)``; ``tests/test_functions.py``
keeps the direct sum as its reference. ``utm_forward`` keeps the direct
sum: ``synth`` derives every synthetic UTM image's transform from it.
"""

from __future__ import annotations

import numpy as np

# WGS84
_A = 6378137.0
_F = 1.0 / 298.257223563
_E = np.sqrt(_F * (2.0 - _F))
_N = _F / (2.0 - _F)
_K0 = 0.9996
_E0 = 500000.0

_n = _N
# rectifying radius
_ABAR = _A / (1.0 + _n) * (1.0 + _n**2 / 4.0 + _n**4 / 64.0 + _n**6 / 256.0)

_ALPHA = np.array([
    _n / 2 - 2 * _n**2 / 3 + 5 * _n**3 / 16 + 41 * _n**4 / 180 - 127 * _n**5 / 288 + 7891 * _n**6 / 37800,
    13 * _n**2 / 48 - 3 * _n**3 / 5 + 557 * _n**4 / 1440 + 281 * _n**5 / 630 - 1983433 * _n**6 / 1935360,
    61 * _n**3 / 240 - 103 * _n**4 / 140 + 15061 * _n**5 / 26880 + 167603 * _n**6 / 181440,
    49561 * _n**4 / 161280 - 179 * _n**5 / 168 + 6601661 * _n**6 / 7257600,
    34729 * _n**5 / 80640 - 3418889 * _n**6 / 1995840,
    212378941 * _n**6 / 319334400,
])

_BETA = np.array([
    _n / 2 - 2 * _n**2 / 3 + 37 * _n**3 / 96 - _n**4 / 360 - 81 * _n**5 / 512 + 96199 * _n**6 / 604800,
    _n**2 / 48 + _n**3 / 15 - 437 * _n**4 / 1440 + 46 * _n**5 / 105 - 1118711 * _n**6 / 3870720,
    17 * _n**3 / 480 - 37 * _n**4 / 840 - 209 * _n**5 / 4480 + 5569 * _n**6 / 90720,
    4397 * _n**4 / 161280 - 11 * _n**5 / 504 - 830251 * _n**6 / 7257600,
    4583 * _n**5 / 161280 - 108847 * _n**6 / 3991680,
    20648693 * _n**6 / 638668800,
])

_DELTA = np.array([
    2 * _n - 2 * _n**2 / 3 - 2 * _n**3 + 116 * _n**4 / 45 + 26 * _n**5 / 45 - 2854 * _n**6 / 675,
    7 * _n**2 / 3 - 8 * _n**3 / 5 - 227 * _n**4 / 45 + 2704 * _n**5 / 315 + 2323 * _n**6 / 945,
    56 * _n**3 / 15 - 136 * _n**4 / 35 - 1262 * _n**5 / 105 + 73814 * _n**6 / 2835,
    4279 * _n**4 / 630 - 332 * _n**5 / 35 - 399572 * _n**6 / 14175,
    4174 * _n**5 / 315 - 144838 * _n**6 / 6237,
    601676 * _n**6 / 22275,
])

_J = np.arange(1, 7, dtype=np.float64)


def utm_zone_lon0(epsg: int) -> float:
    """Central meridian (deg) for EPSG:326xx (northern-hemisphere UTM)."""
    zone = epsg - 32600
    if not 1 <= zone <= 60:
        raise ValueError(f"not a UTM-north EPSG code: {epsg}")
    return zone * 6.0 - 183.0


def utm_forward(lon: np.ndarray, lat: np.ndarray, epsg: int) -> tuple[np.ndarray, np.ndarray]:
    """WGS84 lon/lat (deg) -> UTM easting/northing (m) for EPSG:326xx."""
    lon0 = np.radians(utm_zone_lon0(epsg))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64)) - lon0
    sphi = np.sin(phi)
    t = np.sinh(np.arctanh(sphi) - _E * np.arctanh(_E * sphi))
    xi_p = np.arctan2(t, np.cos(lam))
    eta_p = np.arcsinh(np.sin(lam) / np.sqrt(t * t + np.cos(lam) ** 2))
    two_jxi = 2.0 * np.multiply.outer(_J, xi_p)
    two_jeta = 2.0 * np.multiply.outer(_J, eta_p)
    alpha = _ALPHA.reshape((6,) + (1,) * xi_p.ndim)
    xi = xi_p + np.sum(alpha * np.sin(two_jxi) * np.cosh(two_jeta), axis=0)
    eta = eta_p + np.sum(alpha * np.cos(two_jxi) * np.sinh(two_jeta), axis=0)
    return _E0 + _K0 * _ABAR * eta, _K0 * _ABAR * xi


def _sin_series(coef: np.ndarray, sin2, cos2):
    """sum_j coef[j-1] * sin(2 j t) from sin 2t and cos 2t alone, by
    Clenshaw's recurrence u_j = coef[j-1] + 2 cos(2t) u_{j+1} - u_{j+2},
    sum = sin(2t) u_1 (Karney 2011, eq. 59). ``t`` may be complex: the
    recurrence and the sum hold unchanged for sin/cos of a complex 2t."""
    a = 2.0 * cos2
    u1, u2 = a * coef[-1] + coef[-2], coef[-1]
    for c in coef[-3::-1]:
        u1, u2 = a * u1 - u2 + c, u1
    return sin2 * u1


def utm_inverse(x: np.ndarray, y: np.ndarray, epsg: int) -> tuple[np.ndarray, np.ndarray]:
    """UTM easting/northing (m) -> WGS84 lon/lat (deg) for EPSG:326xx.

    Both series go through :func:`_sin_series`. The xi/eta pair is one
    complex series in zeta = xi + i eta, so the trig work per point is
    sin 2xi, cos 2xi, sinh 2eta, cosh 2eta; the chi -> phi series takes
    sin 2chi and cos 2chi from sin chi algebraically (chi lies in
    [-90, 90] deg, so cos chi >= 0)."""
    lon0 = utm_zone_lon0(epsg)
    xi = np.asarray(y, dtype=np.float64) / (_K0 * _ABAR)
    eta = (np.asarray(x, dtype=np.float64) - _E0) / (_K0 * _ABAR)
    s2, c2 = np.sin(2.0 * xi), np.cos(2.0 * xi)
    sh2, ch2 = np.sinh(2.0 * eta), np.cosh(2.0 * eta)
    # sin 2zeta = sin 2xi cosh 2eta + i cos 2xi sinh 2eta,
    # cos 2zeta = cos 2xi cosh 2eta - i sin 2xi sinh 2eta
    d = _sin_series(_BETA, s2 * ch2 + 1j * (c2 * sh2), c2 * ch2 - 1j * (s2 * sh2))
    xi_p = xi - d.real
    eta_p = eta - d.imag
    sin_chi = np.sin(xi_p) / np.cosh(eta_p)
    sin2_chi = sin_chi * sin_chi
    phi = np.arcsin(sin_chi) + _sin_series(
        _DELTA, 2.0 * sin_chi * np.sqrt(1.0 - sin2_chi), 1.0 - 2.0 * sin2_chi)
    lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
    return lon0 + np.degrees(lam), np.degrees(phi)


def to_wgs84(x: np.ndarray, y: np.ndarray, crs: str) -> tuple[np.ndarray, np.ndarray]:
    """Reproject native (x, y) to (lon, lat); identity for EPSG:4326.

    The engine analog of the reference's per-file
    ``transformer.transform(x_coords, y_coords)``
    (completePixleOutput.py:59-62)."""
    crs = crs.upper()
    if crs in ("EPSG:4326", "4326"):
        return np.asarray(x, dtype=np.float64), np.asarray(y, dtype=np.float64)
    if crs.startswith("EPSG:326"):
        return utm_inverse(x, y, int(crs.split(":")[1]))
    raise ValueError(f"unsupported CRS {crs!r}")


def from_wgs84(lon: np.ndarray, lat: np.ndarray, crs: str) -> tuple[np.ndarray, np.ndarray]:
    """Project WGS84 lon/lat into a native CRS (for polygon reprojection
    before clipping, the analog of ``transform_geom('EPSG:4326', src.crs, …)``
    at test2.py:113-119)."""
    crs = crs.upper()
    if crs in ("EPSG:4326", "4326"):
        return np.asarray(lon, dtype=np.float64), np.asarray(lat, dtype=np.float64)
    if crs.startswith("EPSG:326"):
        return utm_forward(lon, lat, int(crs.split(":")[1]))
    raise ValueError(f"unsupported CRS {crs!r}")
