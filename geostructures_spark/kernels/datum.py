"""Datum shifts + non-WGS84-ellipsoid Transverse Mercator (pure NumPy).

Closes the last EPSG partial from SURVEY.md §2: national grids whose CRS
is a TM projection on a NON-WGS84 datum (reference ``coordinates.py:
210-234`` accepts any pyproj CRS string; pyproj routes these through a
7-parameter Helmert transformation + the target ellipsoid's projection).
From public formulas only:

- Krüger 6th-order series for ARBITRARY ellipsoid (a, f) — the same
  published polynomial-in-n coefficients kernels/mgrs.py instantiates
  for WGS84 (tests assert the symbolic form reproduces those constants
  bit-for-bit).
- Geodetic <-> geocentric (ECEF) conversion per ellipsoid.
- 7-parameter Helmert in the EPSG "position vector" convention
  (translation m, rotations arc-sec, scale ppm) — the convention the
  OSGB/EPSG registry publishes; a 3-parameter shift is the degenerate
  rotation-free case.
- A small named-CRS registry: EPSG:27700 (British National Grid /
  OSGB36, Airy 1830), EPSG:23028-23038 (ED50 UTM zones, International
  1924), EPSG:4277/4230 (the geographic CRSs of those datums).

Accuracy note: these are the EPSG single-Helmert paths (OSGB36: EPSG
transformation 1314; ED50: the common 3-param mean-European shift), the
same ones pyproj uses when no distortion grid is installed. The OSTN15
/ NTv2 grid refinements (sub-meter vs ~2-3 m) are data files, not
formulas, and are out of scope here by design.
"""

from __future__ import annotations

from typing import Dict, NamedTuple, Optional, Tuple

import numpy as np

from geostructures_spark.kernels import ensure_malloc_tuned

__all__ = [
    'Ellipsoid', 'Helmert', 'TMParams', 'LCCParams', 'AlbersParams',
    'GridCRS',
    'WGS84', 'AIRY1830', 'INTL1924', 'GRS80', 'CLARKE1866', 'CLARKE1880IGN',
    'kruger_coefficients', 'geodetic_to_ecef', 'ecef_to_geodetic',
    'helmert_apply', 'tm_forward_ell', 'tm_inverse_ell',
    'lcc_constants', 'lcc_forward_ell', 'lcc_inverse_ell',
    'albers_constants', 'albers_forward_ell', 'albers_inverse_ell',
    'GRID_CRS', 'GEOG_CRS', 'grid_forward', 'grid_inverse',
    'datum_shift', 'datum_unshift', 'US_SURVEY_FOOT',
]


class Ellipsoid(NamedTuple):
    a: float   # semi-major axis (m)
    f: float   # flattening

    @property
    def b(self) -> float:
        return self.a * (1.0 - self.f)

    @property
    def e2(self) -> float:
        return self.f * (2.0 - self.f)

    @property
    def n(self) -> float:  # third flattening
        return self.f / (2.0 - self.f)


WGS84 = Ellipsoid(6378137.0, 1.0 / 298.257223563)
AIRY1830 = Ellipsoid(6377563.396, 1.0 / 299.3249646)
INTL1924 = Ellipsoid(6378388.0, 1.0 / 297.0)
GRS80 = Ellipsoid(6378137.0, 1.0 / 298.257222101)
# Clarke 1866 and Clarke 1880 (IGN) are defined by (a, b); f is derived
CLARKE1866 = Ellipsoid(6378206.4, (6378206.4 - 6356583.8) / 6378206.4)
CLARKE1880IGN = Ellipsoid(6378249.2, (6378249.2 - 6356515.0) / 6378249.2)
KRASSOWSKY1940 = Ellipsoid(6378245.0, 1.0 / 298.3)

# US survey foot (exact rational definition), metres per foot
US_SURVEY_FOOT = 1200.0 / 3937.0


def kruger_coefficients(ell: Ellipsoid):
    """(A1, alpha[6], beta[6]) — the published 6th-order Krüger series in
    the third flattening n (Karney 2011, eqs. 12/14/35/36). The WGS84
    instantiation must equal kernels/mgrs.py's hardcoded arrays."""
    n = ell.n
    n2, n3, n4, n5, n6 = n**2, n**3, n**4, n**5, n**6
    a1 = ell.a / (1 + n) * (1 + n2 / 4 + n4 / 64 + n6 / 256)
    alpha = np.array([
        n / 2 - 2 * n2 / 3 + 5 * n3 / 16 + 41 * n4 / 180 - 127 * n5 / 288
        + 7891 * n6 / 37800,
        13 * n2 / 48 - 3 * n3 / 5 + 557 * n4 / 1440 + 281 * n5 / 630
        - 1983433 * n6 / 1935360,
        61 * n3 / 240 - 103 * n4 / 140 + 15061 * n5 / 26880
        + 167603 * n6 / 181440,
        49561 * n4 / 161280 - 179 * n5 / 168 + 6601661 * n6 / 7257600,
        34729 * n5 / 80640 - 3418889 * n6 / 1995840,
        212378941 * n6 / 319334400,
    ])
    beta = np.array([
        n / 2 - 2 * n2 / 3 + 37 * n3 / 96 - n4 / 360 - 81 * n5 / 512
        + 96199 * n6 / 604800,
        n2 / 48 + n3 / 15 - 437 * n4 / 1440 + 46 * n5 / 105
        - 1118711 * n6 / 3870720,
        17 * n3 / 480 - 37 * n4 / 840 - 209 * n5 / 4480 + 5569 * n6 / 90720,
        4397 * n4 / 161280 - 11 * n5 / 504 - 830251 * n6 / 7257600,
        4583 * n5 / 161280 - 108847 * n6 / 3991680,
        20648693 * n6 / 638668800,
    ])
    return a1, alpha, beta


# --- geodetic <-> ECEF -------------------------------------------------------

def geodetic_to_ecef(lon, lat, ell: Ellipsoid, h=0.0):
    """(lon, lat, h) degrees/m -> geocentric (X, Y, Z) m on ``ell``."""
    lam = np.radians(np.asarray(lon, dtype=np.float64))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    s, c = np.sin(phi), np.cos(phi)
    nu = ell.a / np.sqrt(1.0 - ell.e2 * s * s)
    return ((nu + h) * c * np.cos(lam),
            (nu + h) * c * np.sin(lam),
            (nu * (1.0 - ell.e2) + h) * s)


def ecef_to_geodetic(X, Y, Z, ell: Ellipsoid, n_iter: int = 8):
    """(X, Y, Z) -> (lon, lat, h) by fixed-point iteration on phi (the
    classic Bowring-seeded loop; 8 rounds converge far below 1e-12 rad
    for crustal points)."""
    X = np.asarray(X, dtype=np.float64)
    Y = np.asarray(Y, dtype=np.float64)
    Z = np.asarray(Z, dtype=np.float64)
    lam = np.arctan2(Y, X)
    p = np.hypot(X, Y)
    phi = np.arctan2(Z, p * (1.0 - ell.e2))
    for _ in range(n_iter):
        s = np.sin(phi)
        nu = ell.a / np.sqrt(1.0 - ell.e2 * s * s)
        phi = np.arctan2(Z + ell.e2 * nu * s, p)
    s = np.sin(phi)
    nu = ell.a / np.sqrt(1.0 - ell.e2 * s * s)
    h = p / np.cos(phi) - nu
    return np.degrees(lam), np.degrees(phi), h


# --- 7-parameter Helmert (position vector convention) -----------------------

class Helmert(NamedTuple):
    """EPSG position-vector transformation: translations m, rotations
    ARC-SECONDS, scale PPM. ``inverse()`` is the standard sign-flip
    (exact to second order in the small parameters, the EPSG practice)."""
    tx: float
    ty: float
    tz: float
    rx: float = 0.0
    ry: float = 0.0
    rz: float = 0.0
    s_ppm: float = 0.0

    def inverse(self) -> 'Helmert':
        return Helmert(-self.tx, -self.ty, -self.tz,
                       -self.rx, -self.ry, -self.rz, -self.s_ppm)


_AS2RAD = np.pi / (180.0 * 3600.0)


def helmert_apply(X, Y, Z, p: Helmert):
    """Position-vector 7-param: v' = t + (1+s) R v with
    R = [[1, -rz, ry], [rz, 1, -rx], [-ry, rx, 1]] (small-angle)."""
    rx, ry, rz = p.rx * _AS2RAD, p.ry * _AS2RAD, p.rz * _AS2RAD
    m = 1.0 + p.s_ppm * 1e-6
    X = np.asarray(X, dtype=np.float64)
    Y = np.asarray(Y, dtype=np.float64)
    Z = np.asarray(Z, dtype=np.float64)
    return (p.tx + m * (X - rz * Y + ry * Z),
            p.ty + m * (rz * X + Y - rx * Z),
            p.tz + m * (-ry * X + rx * Y + Z))


# --- arbitrary-ellipsoid Transverse Mercator --------------------------------

class TMParams(NamedTuple):
    lon0: float
    lat0: float
    k0: float
    x0: float
    y0: float
    # meridian arc from the equator to lat0 (_meridian_arc), pinned as a
    # literal where an oracle text embeds it; None derives it per call
    m0: Optional[float] = None


def _meridian_arc(ell: Ellipsoid, lat0: float) -> float:
    """Rectifying arc length from the equator to lat0 (via the TM series
    at the central meridian, where xi' reduces to the conformal lat)."""
    if lat0 == 0.0:
        return 0.0
    a1, alpha, _ = kruger_coefficients(ell)
    e = np.sqrt(ell.e2)
    phi = np.radians(lat0)
    t = np.sinh(np.arctanh(np.sin(phi)) - e * np.arctanh(e * np.sin(phi)))
    xi_p = np.arctan2(t, 1.0)
    xi = xi_p
    for j in range(6):
        xi = xi + alpha[j] * np.sin(2 * (j + 1) * xi_p)
    return float(a1 * xi)


def _origin_arc(ell: Ellipsoid, tm: TMParams) -> float:
    return _meridian_arc(ell, tm.lat0) if tm.m0 is None else tm.m0


def tm_forward_ell(lon, lat, ell: Ellipsoid, tm: TMParams):
    """(lon, lat) on ``ell`` -> projected (x, y). Same Krüger machinery as
    kernels/mgrs.py:_tm_forward but parameterized by ellipsoid."""
    ensure_malloc_tuned()
    a1, alpha, _ = kruger_coefficients(ell)
    e = np.sqrt(ell.e2)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64) - tm.lon0)
    t = np.sinh(np.arctanh(np.sin(phi)) - e * np.arctanh(e * np.sin(phi)))
    xi_p = np.arctan2(t, np.cos(lam))
    eta_p = np.arcsinh(np.sin(lam) / np.hypot(t, np.cos(lam)))
    xi = xi_p.copy()
    eta = eta_p.copy()
    for j in range(6):
        xi = xi + alpha[j] * np.sin(2 * (j + 1) * xi_p) * np.cosh(2 * (j + 1) * eta_p)
        eta = eta + alpha[j] * np.cos(2 * (j + 1) * xi_p) * np.sinh(2 * (j + 1) * eta_p)
    m0 = _origin_arc(ell, tm)
    return (tm.x0 + tm.k0 * a1 * eta,
            tm.y0 + tm.k0 * (a1 * xi - m0))


def tm_inverse_ell(x, y, ell: Ellipsoid, tm: TMParams):
    """Projected (x, y) -> (lon, lat) on ``ell``."""
    ensure_malloc_tuned()
    a1, _, beta = kruger_coefficients(ell)
    e = np.sqrt(ell.e2)
    m0 = _origin_arc(ell, tm)
    xs = (np.asarray(x, dtype=np.float64) - tm.x0) / (tm.k0 * a1)
    ys = (np.asarray(y, dtype=np.float64) - tm.y0 + tm.k0 * m0) / (tm.k0 * a1)
    xi = ys.copy()
    eta = xs.copy()
    for j in range(6):
        xi = xi - beta[j] * np.sin(2 * (j + 1) * ys) * np.cosh(2 * (j + 1) * xs)
        eta = eta - beta[j] * np.cos(2 * (j + 1) * ys) * np.sinh(2 * (j + 1) * xs)
    chi = np.arcsin(np.sin(xi) / np.cosh(eta))
    phi = chi.copy()
    for _ in range(7):
        s = np.sin(phi)
        phi = np.arcsin(np.tanh(
            np.arctanh(np.sin(chi)) + e * np.arctanh(e * s)))
    lam = np.arctan2(np.sinh(eta), np.cos(xi))
    return tm.lon0 + np.degrees(lam), np.degrees(phi)


# --- Lambert Conformal Conic (1SP and 2SP) ----------------------------------
#
# EPSG Guidance Note 7-2 formulas (methods 9801/9802; Snyder eq. 15-1..15-11).
# 1SP is expressed as lat1 == lat2 == lat0 with its k0 (the 2SP constants
# degenerate to n = sin(lat0), F = m0 / (n t0^n) in that limit, which is
# exactly the 1SP definition), so one code path serves both.

class LCCParams(NamedTuple):
    lon0: float   # longitude of (false) origin, Greenwich degrees
    lat0: float   # latitude of (false) origin
    lat1: float   # first standard parallel
    lat2: float   # second standard parallel
    k0: float     # scale at the standard parallel (1SP only; 1.0 for 2SP)
    x0: float     # false easting, metres
    y0: float     # false northing, metres
    # (n, aF, rF) as lcc_constants derives them, pinned as literals where
    # an oracle text embeds them; None derives them per call
    consts: Optional[Tuple[float, float, float]] = None


def _conf_t(e: float, phi):
    """Isometric-colatitude function t(phi) = tan(pi/4 - phi/2) /
    ((1 - e sin phi)/(1 + e sin phi))^(e/2)."""
    s = np.sin(phi)
    return (np.tan(np.pi / 4.0 - phi / 2.0) /
            ((1.0 - e * s) / (1.0 + e * s)) ** (e / 2.0))


def _par_m(e2: float, phi):
    """m(phi) = cos(phi) / sqrt(1 - e2 sin^2 phi) (radius of the parallel
    over a)."""
    s = np.sin(phi)
    return np.cos(phi) / np.sqrt(1.0 - e2 * s * s)


def lcc_constants(ell: Ellipsoid, p: LCCParams):
    """(n, aF, rF) with aF = a*k0*F: r(phi) = aF * t^n, rF = r(lat0);
    ``p.consts`` when the grid pins them."""
    if p.consts is not None:
        return p.consts
    e = float(np.sqrt(ell.e2))
    phi1, phi2 = np.radians(p.lat1), np.radians(p.lat2)
    t1, t2 = _conf_t(e, phi1), _conf_t(e, phi2)
    m1, m2 = _par_m(ell.e2, phi1), _par_m(ell.e2, phi2)
    if p.lat1 == p.lat2:
        n = float(np.sin(phi1))
    else:
        n = float((np.log(m1) - np.log(m2)) / (np.log(t1) - np.log(t2)))
    aF = float(ell.a * p.k0 * m1 / (n * t1 ** n))
    t0 = _conf_t(e, np.radians(p.lat0))
    rF = float(aF * t0 ** n)
    return n, aF, rF


def lcc_forward_ell(lon, lat, ell: Ellipsoid, p: LCCParams):
    """(lon, lat) on ``ell`` -> projected (x, y), metres."""
    ensure_malloc_tuned()
    n, aF, rF = lcc_constants(ell, p)
    e = float(np.sqrt(ell.e2))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    th = n * np.radians(np.asarray(lon, dtype=np.float64) - p.lon0)
    r = aF * _conf_t(e, phi) ** n
    return p.x0 + r * np.sin(th), p.y0 + rF - r * np.cos(th)


def lcc_inverse_ell(x, y, ell: Ellipsoid, p: LCCParams, n_iter: int = 9):
    """Projected (x, y) -> (lon, lat) on ``ell``. The latitude iteration
    phi <- pi/2 - 2 atan(t' ((1-e sin phi)/(1+e sin phi))^(e/2)) gains
    ~e^2 digits per round; 9 rounds converge to double precision."""
    ensure_malloc_tuned()
    n, aF, rF = lcc_constants(ell, p)
    e = float(np.sqrt(ell.e2))
    dx = np.asarray(x, dtype=np.float64) - p.x0
    dy = rF - (np.asarray(y, dtype=np.float64) - p.y0)
    sgn = 1.0 if n >= 0 else -1.0
    rp = sgn * np.hypot(dx, dy)
    tp = (rp / aF) ** (1.0 / n)
    th = np.arctan2(sgn * dx, sgn * dy)
    lon = p.lon0 + np.degrees(th / n)
    phi = np.pi / 2.0 - 2.0 * np.arctan(tp)
    for _ in range(n_iter):
        s = e * np.sin(phi)
        phi = (np.pi / 2.0 -
               2.0 * np.arctan(tp * ((1.0 - s) / (1.0 + s)) ** (e / 2.0)))
    return lon, np.degrees(phi)


# --- Albers Equal-Area Conic (2SP) ------------------------------------------
#
# EPSG method 9822 / Snyder eq. 14-1..14-21. Exactly equal-area on the
# ellipsoid: planar area in the projection equals authalic surface area
# (the property the tests verify against kernels/karney.py's exact area).

class AlbersParams(NamedTuple):
    lon0: float
    lat0: float
    lat1: float
    lat2: float
    x0: float
    y0: float
    # (n, C, rho0) as albers_constants derives them, pinned as literals
    # where an oracle text embeds them; None derives them per call
    consts: Optional[Tuple[float, float, float]] = None


def _auth_q(ell: Ellipsoid, phi):
    """Authalic q(phi) = (1-e2)[sin/(1-e2 sin^2) - (1/2e) ln((1-e sin)/(1+e sin))]."""
    e2 = ell.e2
    e = np.sqrt(e2)
    s = np.sin(phi)
    return (1.0 - e2) * (s / (1.0 - e2 * s * s) -
                         (1.0 / (2.0 * e)) *
                         np.log((1.0 - e * s) / (1.0 + e * s)))


def albers_constants(ell: Ellipsoid, p: AlbersParams):
    """(n, C, rho0); ``p.consts`` when the grid pins them."""
    if p.consts is not None:
        return p.consts
    phi1, phi2 = np.radians(p.lat1), np.radians(p.lat2)
    m1, m2 = _par_m(ell.e2, phi1), _par_m(ell.e2, phi2)
    q1, q2 = _auth_q(ell, phi1), _auth_q(ell, phi2)
    if p.lat1 == p.lat2:
        n = float(np.sin(phi1))
    else:
        n = float((m1 * m1 - m2 * m2) / (q2 - q1))
    C = float(m1 * m1 + n * q1)
    q0 = _auth_q(ell, np.radians(p.lat0))
    rho0 = float(ell.a * np.sqrt(C - n * q0) / n)
    return n, C, rho0


def albers_forward_ell(lon, lat, ell: Ellipsoid, p: AlbersParams):
    ensure_malloc_tuned()
    n, C, rho0 = albers_constants(ell, p)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    th = n * np.radians(np.asarray(lon, dtype=np.float64) - p.lon0)
    rho = ell.a * np.sqrt(C - n * _auth_q(ell, phi)) / n
    return p.x0 + rho * np.sin(th), p.y0 + rho0 - rho * np.cos(th)


def albers_inverse_ell(x, y, ell: Ellipsoid, p: AlbersParams,
                       n_iter: int = 8):
    """Newton iteration on q (Snyder 3-16); quadratic convergence, 8
    rounds are far past double precision everywhere off the poles."""
    ensure_malloc_tuned()
    n, C, rho0 = albers_constants(ell, p)
    e2 = ell.e2
    dx = np.asarray(x, dtype=np.float64) - p.x0
    dy = rho0 - (np.asarray(y, dtype=np.float64) - p.y0)
    sgn = 1.0 if n >= 0 else -1.0
    rho = sgn * np.hypot(dx, dy)
    qp = (C - (rho * n / ell.a) ** 2) / n
    th = np.arctan2(sgn * dx, sgn * dy)
    lon = p.lon0 + np.degrees(th / n)
    # q is monotone in phi with dq/dphi = 2(1-e2)cos(phi)/(1-e2 sin^2)^2
    phi = np.arcsin(np.clip(qp / 2.0, -1.0, 1.0))
    for _ in range(n_iter):
        s = np.sin(phi)
        one = 1.0 - e2 * s * s
        dq = 2.0 * (1.0 - e2) * np.cos(phi) / (one * one)
        step = np.where(np.abs(dq) > 1e-30, (qp - _auth_q(ell, phi)) /
                        np.where(np.abs(dq) > 1e-30, dq, 1.0), 0.0)
        phi = phi + step
    return lon, np.degrees(phi)


# --- named national-grid CRSs ------------------------------------------------
#
# Where a grid's oracle SQL embeds a derived constant (the OSGB meridian arc,
# the Lambert-93 and Conus Albers cone constants), the entry carries it as a
# literal, written with repr() from the derivation above. numpy's transcen-
# dental functions are dispatched per CPU (SVML under AVX-512), so a value
# derived at import may differ in the last bit between hosts, and the engine
# and the oracle must compute from identical doubles on every host.
# tests/test_pinned_constants.py re-derives each literal.

class GridCRS(NamedTuple):
    ell: Ellipsoid
    tm: 'TMParams | LCCParams | AlbersParams'  # projection params (field
    #   name kept for r3 compat; grid_forward/inverse dispatch on type)
    wgs84_to_datum: Helmert   # applied in ECEF space
    unit: float = 1.0         # metres per CRS unit (e.g. US_SURVEY_FOOT)


# WGS84 -> OSGB36: EPSG transformation 1314 (sign-flipped OSGB36->WGS84
# "Petroleum" params published by Ordnance Survey); position vector.
_WGS84_TO_OSGB36 = Helmert(-446.448, 125.157, -542.060,
                           -0.1502, -0.2470, -0.8421, 20.4894)
# WGS84 -> ED50: common 3-parameter mean-European shift (EPSG 1311
# family; rotation-free).
_WGS84_TO_ED50 = Helmert(87.0, 98.0, 121.0)

GRID_CRS: Dict[str, GridCRS] = {
    # British National Grid (OSGB36, Airy 1830)
    'EPSG:27700': GridCRS(AIRY1830,
                          TMParams(lon0=-2.0, lat0=49.0, k0=0.9996012717,
                                   x0=400000.0, y0=-100000.0,
                                   m0=5429228.601919496),
                          _WGS84_TO_OSGB36),
}
# ED50 / UTM zones 28N..38N (International 1924): EPSG:23028-23038
for _z in range(28, 39):
    GRID_CRS[f'EPSG:230{_z}'] = GridCRS(
        INTL1924,
        TMParams(lon0=float(_z * 6 - 183), lat0=0.0, k0=0.9996,
                 x0=500000.0, y0=0.0),
        _WGS84_TO_ED50)

# Pulkovo 1942 / Gauss-Krüger zones 2..32 (EPSG:28402-28432; Krassowsky
# 1940, k0 = 1, zone-numbered false easting z*1e6 + 500km). Datum shift:
# Pulkovo 1942 -> WGS84 mean 3-param (+28, -130, -95) (EPSG 1254 family),
# inverted for the WGS84 -> datum direction stored here.
_WGS84_TO_PULKOVO42 = Helmert(-28.0, 130.0, 95.0)
for _z in range(2, 33):
    GRID_CRS[f'EPSG:284{_z:02d}'] = GridCRS(
        KRASSOWSKY1940,
        TMParams(lon0=float(_z * 6 - 3), lat0=0.0, k0=1.0,
                 x0=_z * 1e6 + 500000.0, y0=0.0),
        _WGS84_TO_PULKOVO42)

# WGS84 -> NTF: IGN-published NTF->WGS84 3-param shift (-168, -60, +320),
# inverted.
_WGS84_TO_NTF = Helmert(168.0, 60.0, -320.0)
# WGS84 -> NAD27: CONUS mean 3-param shift (EPSG 1173 family), inverted
# from NAD27->WGS84 (-8, 160, 176).
_WGS84_TO_NAD27 = Helmert(8.0, -160.0, -176.0)

# Lambert Conformal Conic grids
GRID_CRS.update({
    # RGF93 / Lambert-93 (France; GRS80, datum == WGS84 at this accuracy)
    'EPSG:2154': GridCRS(GRS80,
                         LCCParams(lon0=3.0, lat0=46.5, lat1=44.0,
                                   lat2=49.0, k0=1.0,
                                   x0=700000.0, y0=6600000.0,
                                   consts=(0.7256077650532695,
                                           11754255.426096002,
                                           6055612.049875984)),
                         Helmert(0.0, 0.0, 0.0)),
    # NTF (Paris) / Lambert zone II etendu (legacy France-wide grid;
    # Clarke 1880 IGN, 1SP with k0, lon0 = Paris meridian 2deg20'14.025"E
    # expressed in Greenwich degrees)
    'EPSG:27572': GridCRS(CLARKE1880IGN,
                          LCCParams(lon0=2.0 + 20.0 / 60.0 + 14.025 / 3600.0,
                                    lat0=46.8, lat1=46.8, lat2=46.8,
                                    k0=0.99987742,
                                    x0=600000.0, y0=2200000.0),
                          _WGS84_TO_NTF),
    # NAD27 / Texas South Central (EPSG Guidance Note 7-2 worked-example
    # CRS; Clarke 1866, US survey feet)
    'EPSG:32040': GridCRS(CLARKE1866,
                          LCCParams(lon0=-99.0, lat0=27.0 + 50.0 / 60.0,
                                    lat1=28.0 + 23.0 / 60.0,
                                    lat2=30.0 + 17.0 / 60.0, k0=1.0,
                                    x0=2000000.0 * US_SURVEY_FOOT, y0=0.0),
                          _WGS84_TO_NAD27,
                          unit=US_SURVEY_FOOT),
    # NAD83 / Conus Albers (EPSG:5070; GRS80, datum == WGS84 at this
    # accuracy) — the standard CONUS equal-area analysis grid
    'EPSG:5070': GridCRS(GRS80,
                         AlbersParams(lon0=-96.0, lat0=23.0, lat1=29.5,
                                      lat2=45.5, x0=0.0, y0=0.0,
                                      consts=(0.6029027690657601,
                                              1.3491820315609704,
                                              9928937.004248781)),
                         Helmert(0.0, 0.0, 0.0)),
})


# geographic (unprojected) CRSs of the same datums: the output is
# lat/lon ON THE SHIFTED DATUM — what the reference's
# to_projection('EPSG:4277') via pyproj returns
GEOG_CRS: Dict[str, Tuple[Ellipsoid, Helmert]] = {
    'EPSG:4277': (AIRY1830, _WGS84_TO_OSGB36),   # OSGB36 geographic
    'EPSG:4230': (INTL1924, _WGS84_TO_ED50),     # ED50 geographic
}


def datum_shift(lon, lat, crs: str) -> Tuple[np.ndarray, np.ndarray]:
    """WGS84 (lon, lat) -> geodetic (lon, lat) on the datum of a
    geographic CRS (ECEF -> Helmert -> target-ellipsoid geodetic)."""
    ell, hp = GEOG_CRS[crs]
    X, Y, Z = geodetic_to_ecef(lon, lat, WGS84)
    X, Y, Z = helmert_apply(X, Y, Z, hp)
    dlon, dlat, _ = ecef_to_geodetic(X, Y, Z, ell)
    return dlon, dlat


def datum_unshift(lon, lat, crs: str) -> Tuple[np.ndarray, np.ndarray]:
    """Geodetic (lon, lat) on a geographic CRS's datum -> WGS84."""
    ell, hp = GEOG_CRS[crs]
    X, Y, Z = geodetic_to_ecef(lon, lat, ell)
    X, Y, Z = helmert_apply(X, Y, Z, hp.inverse())
    wlon, wlat, _ = ecef_to_geodetic(X, Y, Z, WGS84)
    return wlon, wlat


_PROJ_DISPATCH = {
    TMParams: (tm_forward_ell, tm_inverse_ell),
    LCCParams: (lcc_forward_ell, lcc_inverse_ell),
    AlbersParams: (albers_forward_ell, albers_inverse_ell),
}


def _is_zero(h: Helmert) -> bool:
    return h == (0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)


def grid_forward(lon, lat, crs: str) -> Tuple[np.ndarray, np.ndarray]:
    """WGS84 (lon, lat) -> (x, y) in a grid CRS: geodetic -> ECEF ->
    Helmert -> target-datum geodetic -> projection forward (TM / LCC /
    Albers by the registered param type), scaled to the CRS unit. The
    ECEF round-trip is skipped when the registered shift is zero (WGS84-
    equivalent datums: RGF93, NAD83)."""
    g = GRID_CRS[crs]
    if _is_zero(g.wgs84_to_datum):
        dlon = np.asarray(lon, dtype=np.float64)
        dlat = np.asarray(lat, dtype=np.float64)
    else:
        X, Y, Z = geodetic_to_ecef(lon, lat, WGS84)
        X, Y, Z = helmert_apply(X, Y, Z, g.wgs84_to_datum)
        dlon, dlat, _ = ecef_to_geodetic(X, Y, Z, g.ell)
    fwd, _inv = _PROJ_DISPATCH[type(g.tm)]
    x, y = fwd(dlon, dlat, g.ell, g.tm)
    if g.unit != 1.0:
        x, y = x / g.unit, y / g.unit
    return x, y


def grid_inverse(x, y, crs: str) -> Tuple[np.ndarray, np.ndarray]:
    """Grid (x, y) -> WGS84 (lon, lat): projection inverse -> ECEF ->
    inverse Helmert -> WGS84 geodetic."""
    g = GRID_CRS[crs]
    if g.unit != 1.0:
        x = np.asarray(x, dtype=np.float64) * g.unit
        y = np.asarray(y, dtype=np.float64) * g.unit
    _fwd, inv = _PROJ_DISPATCH[type(g.tm)]
    dlon, dlat = inv(x, y, g.ell, g.tm)
    if _is_zero(g.wgs84_to_datum):
        return np.asarray(dlon, dtype=np.float64), np.asarray(dlat, dtype=np.float64)
    X, Y, Z = geodetic_to_ecef(dlon, dlat, g.ell)
    X, Y, Z = helmert_apply(X, Y, Z, g.wgs84_to_datum.inverse())
    lon, lat, _ = ecef_to_geodetic(X, Y, Z, WGS84)
    return lon, lat
