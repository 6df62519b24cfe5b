"""Vectorized geodesy kernels (pure NumPy, no Spark).

Reimplements the geodesic math of the reference library
(``/root/reference/geostructures/geodesic.py``, ``calc.py``, ``_const.py``)
as batch NumPy functions. Every function accepts scalars or arrays and
returns float64 ndarrays; the formula order mirrors the reference exactly so
that float64 results are bit-identical (NumPy and CPython ``math`` both call
libm on float64).

Reference parity notes:
- haversine_distance: geodesic.py:27-39 (R = 6,371,000, _const.py:11)
- haversine_destination: geodesic.py:42-60
- haversine_bearing: geodesic.py:63-74
- vincenty_*: geodesic.py:81-285 (WGS84, 200-iteration convergence,
  haversine fallback on non-convergence)
- round_half_up: utils/functions.py:60-74 (the +10**-(p+12) epsilon trick is
  load-bearing for the reference's rounded goldens)
- dist_xyz: _geometry.py:185-204 (unit-vector dot, clamped acos)
- rotate_coordinates: calc.py:163-199
"""

from __future__ import annotations

import numpy as np

from geostructures_spark.kernels import ensure_malloc_tuned

# WGS84 ellipsoid constants (reference: _const.py:6-11)
WGS84_A = 6378137.0
WGS84_F = 1 / 298.257223563
WGS84_B = (1 - WGS84_F) * WGS84_A
EARTH_RADIUS_METERS = 6_371_000.0

__all__ = [
    'EARTH_RADIUS_METERS', 'WGS84_A', 'WGS84_B', 'WGS84_F',
    'haversine_bearing', 'haversine_destination', 'haversine_distance',
    'vincenty_bearing', 'vincenty_destination', 'vincenty_distance',
    'bearing_degrees', 'destination_point', 'distance_meters',
    'round_half_up', 'dist_xyz_meters', 'lonlat_to_xyz',
    'rotate_coordinates',
]


def round_half_up(value, precision: int):
    """Round half away from zero at ``precision`` decimals.

    Parity with reference utils/functions.py:60-74: adds 10**-(precision+12)
    before rounding so exact .5 ties round up. Uses decimal-correct rounding
    (scale, floor(x+0.5)) which matches CPython ``round`` for the magnitudes
    and precisions the reference uses (5-10 dp on lon/lat/bearing values).
    """
    value = np.asarray(value, dtype=np.float64)
    mod = value + 10.0 ** -(precision + 12)
    # np.round matches CPython round() for these magnitudes; both perform
    # round-half-even on the scaled value, and the epsilon above has already
    # broken any representable tie exactly as the reference does.
    return np.round(mod, precision)


def haversine_distance(lon1, lat1, lon2, lat2):
    """Great-circle distance in meters (reference geodesic.py:27-39)."""
    ensure_malloc_tuned()
    lon1 = np.radians(np.asarray(lon1, dtype=np.float64))
    lat1 = np.radians(np.asarray(lat1, dtype=np.float64))
    lon2 = np.radians(np.asarray(lon2, dtype=np.float64))
    lat2 = np.radians(np.asarray(lat2, dtype=np.float64))

    dlon = lon2 - lon1
    dlat = lat2 - lat1
    a = (np.sin(dlat / 2) ** 2 +
         np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2) ** 2)
    c = 2 * np.arctan2(np.sqrt(a), np.sqrt(1 - a))
    return EARTH_RADIUS_METERS * c


def haversine_destination(lon, lat, bearing_deg, distance_m):
    """Destination point given start, bearing (deg), distance (m).

    Reference geodesic.py:42-60. Returns (lon2_deg, lat2_deg) *without*
    longitude renormalization; callers that need [-180, 180) apply
    :func:`geostructures_spark.kernels.shapes.normalize_lonlat`.
    """
    lon1 = np.radians(np.asarray(lon, dtype=np.float64))
    lat1 = np.radians(np.asarray(lat, dtype=np.float64))
    brad = np.radians(np.asarray(bearing_deg, dtype=np.float64))
    ang = np.asarray(distance_m, dtype=np.float64) / EARTH_RADIUS_METERS

    lat2 = np.arcsin(np.sin(lat1) * np.cos(ang) +
                     np.cos(lat1) * np.sin(ang) * np.cos(brad))
    lon2 = lon1 + np.arctan2(np.sin(brad) * np.sin(ang) * np.cos(lat1),
                             np.cos(ang) - np.sin(lat1) * np.sin(lat2))
    return np.degrees(lon2), np.degrees(lat2)


def haversine_bearing(lon1, lat1, lon2, lat2):
    """Initial bearing in degrees [0, 360) (reference geodesic.py:63-74)."""
    lon1 = np.radians(np.asarray(lon1, dtype=np.float64))
    lat1 = np.radians(np.asarray(lat1, dtype=np.float64))
    lon2 = np.radians(np.asarray(lon2, dtype=np.float64))
    lat2 = np.radians(np.asarray(lat2, dtype=np.float64))

    dlon = lon2 - lon1
    y = np.sin(dlon) * np.cos(lat2)
    x = np.cos(lat1) * np.sin(lat2) - np.sin(lat1) * np.cos(lat2) * np.cos(dlon)
    return (np.degrees(np.arctan2(y, x)) + 360) % 360


def vincenty_distance(lon1, lat1, lon2, lat2, max_iter: int = 200):
    """Vincenty inverse distance on the WGS84 ellipsoid.

    Reference geodesic.py:81-165: fixed-iteration convergence loop with
    haversine fallback for non-converged / coincident / antipodal inputs.
    Vectorized: the loop runs over the whole batch until all rows converge.
    """
    ensure_malloc_tuned()
    lon1 = np.asarray(lon1, dtype=np.float64)
    lat1 = np.asarray(lat1, dtype=np.float64)
    lon2 = np.asarray(lon2, dtype=np.float64)
    lat2 = np.asarray(lat2, dtype=np.float64)
    shape = np.broadcast(lon1, lat1, lon2, lat2).shape

    rlon1, rlat1 = np.radians(lon1), np.radians(lat1)
    rlon2, rlat2 = np.radians(lon2), np.radians(lat2)

    U1 = np.arctan((1 - WGS84_F) * np.tan(rlat1))
    U2 = np.arctan((1 - WGS84_F) * np.tan(rlat2))
    L = rlon2 - rlon1
    lam = np.broadcast_to(L, shape).astype(np.float64).copy()

    sinU1, cosU1 = np.sin(U1), np.cos(U1)
    sinU2, cosU2 = np.sin(U2), np.cos(U2)

    converged = np.zeros(shape, dtype=bool)
    sinSigma = np.zeros(shape)
    cosSigma = np.ones(shape)
    sigma = np.zeros(shape)
    cosSqAlpha = np.ones(shape)
    cos2SigmaM = np.zeros(shape)

    with np.errstate(divide='ignore', invalid='ignore'):
        for _ in range(max_iter):
            sinLambda, cosLambda = np.sin(lam), np.cos(lam)
            sinSigma = np.sqrt((cosU2 * sinLambda) ** 2 +
                               (cosU1 * sinU2 - sinU1 * cosU2 * cosLambda) ** 2)
            coincident = sinSigma == 0
            cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosLambda
            sigma = np.arctan2(sinSigma, cosSigma)
            sinAlpha = np.where(coincident, 0.0,
                                cosU1 * cosU2 * sinLambda / np.where(coincident, 1.0, sinSigma))
            cosSqAlpha = 1 - sinAlpha ** 2
            cos2SigmaM = np.where(cosSqAlpha == 0, 0.0,
                                  cosSigma - 2 * sinU1 * sinU2 / np.where(cosSqAlpha == 0, 1.0, cosSqAlpha))
            C = WGS84_F / 16 * cosSqAlpha * (4 + WGS84_F * (4 - 3 * cosSqAlpha))
            lam_prev = lam
            lam = L + (1 - C) * WGS84_F * sinAlpha * (
                sigma + C * sinSigma * (
                    cos2SigmaM + C * cosSigma * (-1 + 2 * cos2SigmaM ** 2)))
            converged = converged | (np.abs(lam - lam_prev) < 1e-12) | coincident
            if converged.all():
                break

    uSq = cosSqAlpha * (WGS84_A ** 2 - WGS84_B ** 2) / (WGS84_B ** 2)
    A = 1 + uSq / 16384 * (4096 + uSq * (-768 + uSq * (320 - 175 * uSq)))
    B = uSq / 1024 * (256 + uSq * (-128 + uSq * (74 - 47 * uSq)))
    deltaSigma = B * sinSigma * (
        cos2SigmaM + B / 4 * (
            cosSigma * (-1 + 2 * cos2SigmaM ** 2) -
            B / 6 * cos2SigmaM * (-3 + 4 * sinSigma ** 2) * (-3 + 4 * cos2SigmaM ** 2)))
    dist = WGS84_B * A * (sigma - deltaSigma)

    fallback = ~converged
    coincident_pts = (lon1 == lon2) & (lat1 == lat2)
    dist = np.where(fallback, haversine_distance(lon1, lat1, lon2, lat2), dist)
    dist = np.where(coincident_pts, 0.0, dist)
    return dist


def vincenty_bearing(lon1, lat1, lon2, lat2, max_iter: int = 200):
    """Vincenty initial bearing, degrees [0,360) (geodesic.py:168-230)."""
    lon1 = np.asarray(lon1, dtype=np.float64)
    lat1 = np.asarray(lat1, dtype=np.float64)
    lon2 = np.asarray(lon2, dtype=np.float64)
    lat2 = np.asarray(lat2, dtype=np.float64)
    shape = np.broadcast(lon1, lat1, lon2, lat2).shape

    rlon1, rlat1 = np.radians(lon1), np.radians(lat1)
    rlon2, rlat2 = np.radians(lon2), np.radians(lat2)

    U1 = np.arctan((1 - WGS84_F) * np.tan(rlat1))
    U2 = np.arctan((1 - WGS84_F) * np.tan(rlat2))
    L = rlon2 - rlon1
    lam = np.broadcast_to(L, shape).astype(np.float64).copy()
    sinU1, cosU1 = np.sin(U1), np.cos(U1)
    sinU2, cosU2 = np.sin(U2), np.cos(U2)

    converged = np.zeros(shape, dtype=bool)
    with np.errstate(divide='ignore', invalid='ignore'):
        for _ in range(max_iter):
            sinLambda, cosLambda = np.sin(lam), np.cos(lam)
            sinSigma = np.sqrt((cosU2 * sinLambda) ** 2 +
                               (cosU1 * sinU2 - sinU1 * cosU2 * cosLambda) ** 2)
            coincident = sinSigma == 0
            cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosLambda
            sigma = np.arctan2(sinSigma, cosSigma)
            sinAlpha = np.where(coincident, 0.0,
                                cosU1 * cosU2 * sinLambda / np.where(coincident, 1.0, sinSigma))
            cosSqAlpha = 1 - sinAlpha ** 2
            cos2SigmaM = np.where(cosSqAlpha == 0, 0.0,
                                  cosSigma - 2 * sinU1 * sinU2 / np.where(cosSqAlpha == 0, 1.0, cosSqAlpha))
            C = WGS84_F / 16 * cosSqAlpha * (4 + WGS84_F * (4 - 3 * cosSqAlpha))
            lam_prev = lam
            lam = L + (1 - C) * WGS84_F * sinAlpha * (
                sigma + C * sinSigma * (
                    cos2SigmaM + C * cosSigma * (-1 + 2 * cos2SigmaM ** 2)))
            converged = converged | (np.abs(lam - lam_prev) < 1e-12) | coincident
            if converged.all():
                break

    sinLambda, cosLambda = np.sin(lam), np.cos(lam)
    y = cosU2 * sinLambda
    x = cosU1 * sinU2 - sinU1 * cosU2 * cosLambda
    bearing = (np.degrees(np.arctan2(y, x)) + 360) % 360
    return np.where(converged, bearing, haversine_bearing(lon1, lat1, lon2, lat2))


def vincenty_destination(lon, lat, bearing_deg, distance_m):
    """Vincenty direct problem (reference geodesic.py:233-285)."""
    lon1 = np.radians(np.asarray(lon, dtype=np.float64))
    lat1 = np.radians(np.asarray(lat, dtype=np.float64))
    alpha1 = np.radians(np.asarray(bearing_deg, dtype=np.float64))
    s = np.asarray(distance_m, dtype=np.float64)

    sinAlpha1, cosAlpha1 = np.sin(alpha1), np.cos(alpha1)
    tanU1 = (1 - WGS84_F) * np.tan(lat1)
    cosU1 = 1 / np.sqrt(1 + tanU1 ** 2)
    sinU1 = tanU1 * cosU1
    sigma1 = np.arctan2(tanU1, cosAlpha1)
    sinAlpha = cosU1 * sinAlpha1
    cosSqAlpha = 1 - sinAlpha ** 2
    uSq = cosSqAlpha * (WGS84_A ** 2 - WGS84_B ** 2) / (WGS84_B ** 2)
    A = 1 + uSq / 16384 * (4096 + uSq * (-768 + uSq * (320 - 175 * uSq)))
    B = uSq / 1024 * (256 + uSq * (-128 + uSq * (74 - 47 * uSq)))

    sigma = s / (WGS84_B * A)
    for _ in range(200):
        cos2SigmaM = np.cos(2 * sigma1 + sigma)
        sinSigma, cosSigma = np.sin(sigma), np.cos(sigma)
        deltaSigma = B * sinSigma * (
            cos2SigmaM + B / 4 * (
                cosSigma * (-1 + 2 * cos2SigmaM ** 2) -
                B / 6 * cos2SigmaM * (-3 + 4 * sinSigma ** 2) * (-3 + 4 * cos2SigmaM ** 2)))
        sigma_prev = sigma
        sigma = s / (WGS84_B * A) + deltaSigma
        if np.all(np.abs(sigma - sigma_prev) < 1e-12):
            break

    sinSigma, cosSigma = np.sin(sigma), np.cos(sigma)
    cos2SigmaM = np.cos(2 * sigma1 + sigma)
    tmp = sinU1 * sinSigma - cosU1 * cosSigma * cosAlpha1
    lat2 = np.arctan2(sinU1 * cosSigma + cosU1 * sinSigma * cosAlpha1,
                      (1 - WGS84_F) * np.sqrt(sinAlpha ** 2 + tmp ** 2))
    lam = np.arctan2(sinSigma * sinAlpha1,
                     cosU1 * cosSigma - sinU1 * sinSigma * cosAlpha1)
    C = WGS84_F / 16 * cosSqAlpha * (4 + WGS84_F * (4 - 3 * cosSqAlpha))
    Lmb = lam - (1 - C) * WGS84_F * sinAlpha * (
        sigma + C * sinSigma * (
            cos2SigmaM + C * cosSigma * (-1 + 2 * cos2SigmaM ** 2)))
    lon2 = lon1 + Lmb
    return np.degrees(lon2), np.degrees(lat2)


# --- the engine's geodesic (reference geodesic.py:358-361) ---------------
# haversine, the reference's default; the JVM predicates use the same
# formula (functions/geo.haversine_sql). Vincenty and Karney
# (kernels/karney.py) are called directly.

distance_meters = haversine_distance
bearing_degrees = haversine_bearing
destination_point = haversine_destination


# --- unit-sphere vector distance (reference _geometry.py:185-204) ---------

def lonlat_to_xyz(lon, lat):
    """Unit-sphere vectors, mirrors Coordinate.xyz (coordinates.py:104-117)."""
    rlon = np.radians(np.asarray(lon, dtype=np.float64))
    rlat = np.radians(np.asarray(lat, dtype=np.float64))
    clat = np.cos(rlat)
    return clat * np.cos(rlon), clat * np.sin(rlon), np.sin(rlat)


def dist_xyz_meters(xyz1, xyz2):
    """Great-circle distance from unit vectors with clamped acos
    (reference _geometry.py:185-204)."""
    dot = xyz1[0] * xyz2[0] + xyz1[1] * xyz2[1] + xyz1[2] * xyz2[2]
    return np.arccos(np.clip(dot, -1.0, 1.0)) * EARTH_RADIUS_METERS


def normalize_lonlat(lon, lat):
    """Normalize to lat [-90,90] with pole wrap, lon [-180,180) with
    antimeridian wrap and +180 -> -180 (reference coordinates.py:48-65)."""
    lon = np.asarray(lon, dtype=np.float64).copy()
    lat = np.asarray(lat, dtype=np.float64).copy()
    # pole crossing (bounded iteration: two wraps cover any finite input
    # after a modular fold)
    for _ in range(2):
        over = lat > 90
        lon = np.where(over, np.where(lon < 0, lon + 180, lon - 180), lon)
        lat = np.where(over, 90 - (lat - 90), lat)
        under = lat < -90
        lon = np.where(under, np.where(lon < 0, lon + 180, lon - 180), lon)
        lat = np.where(under, -90 - (lat + 90), lat)
    # antimeridian
    lon = np.where(lon > 180, lon - 360 * np.ceil((lon - 180) / 360), lon)
    lon = np.where(lon < -180, lon + 360 * np.ceil((-180 - lon) / 360), lon)
    lon = np.where(lon == 180.0, -180.0, lon)
    return lon, lat


def rotate_coordinates(lons, lats, origin_lon, origin_lat, degrees):
    """Rotate points about an origin (reference calc.py:163-199).

    Antimeridian-unbounds each point relative to the origin before rotating
    (mirrors ensure_edge_bounds per point), applies the same 2x2 rotation
    matrix (R @ (p - o) + o), and renormalizes longitudes as the Coordinate
    constructor does. No rounding (parity with calc.py:196-199, which
    returns raw floats).
    """
    lons = np.asarray(lons, dtype=np.float64).copy()
    lats = np.asarray(lats, dtype=np.float64)
    # unbound across the antimeridian relative to origin (_geometry.py:319-343)
    over = np.abs(origin_lon - lons) > 180
    lons = np.where(over & (origin_lon < 0), lons - 360, lons)
    lons = np.where(over & (origin_lon >= 0), lons + 360, lons)

    angle = np.deg2rad(degrees)
    cos_a, sin_a = np.cos(angle), np.sin(angle)
    dx = lons - origin_lon
    dy = lats - origin_lat
    new_lon = cos_a * dx - sin_a * dy + origin_lon
    new_lat = sin_a * dx + cos_a * dy + origin_lat
    return normalize_lonlat(new_lon, new_lat)


def calc_bearing_degrees(lon1, lat1, lon2, lat2, precision: int = 5):
    """Deprecated-path bearing with round_half_up (reference calc.py:20-55)."""
    return round_half_up(haversine_bearing(lon1, lat1, lon2, lat2), precision)


def inverse_haversine_degrees(lon, lat, angle_deg, distance_m):
    """Deprecated-path destination rounded to 7dp (reference calc.py:89-164).

    Same spherical formulas as haversine_destination; the 7-decimal
    round_half_up is load-bearing for reference golden parity
    (tests/test_calc.py:28-34).
    """
    out_lon, out_lat = haversine_destination(lon, lat, angle_deg, distance_m)
    return (normalize_lonlat(round_half_up(out_lon, 7),
                             round_half_up(out_lat, 7)))


def calc_haversine_distance_meters(lon1, lat1, lon2, lat2):
    """Deprecated-path haversine that antimeridian-unbounds the pair first
    (reference calc.py:58-87 via ensure_edge_bounds)."""
    lon1 = np.asarray(lon1, dtype=np.float64)
    lon2 = np.asarray(lon2, dtype=np.float64).copy()
    over = np.abs(lon1 - lon2) > 180
    lon2 = np.where(over & (lon1 < 0), lon2 - 360, lon2)
    lon2 = np.where(over & (lon1 >= 0), lon2 + 360, lon2)
    return haversine_distance(lon1, lat1, lon2, lat2)
