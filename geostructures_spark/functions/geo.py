"""Spark Column expressions and pandas UDFs for geodesy + tiling.

Two tiers, by design (SURVEY.md §2.2):
- **Column expressions** (JVM-side, whole-stage-codegen'd) for the hot
  predicates of the spatial join: haversine distance/bearing, box
  containment, time-interval logic. These stay inside Tungsten codegen —
  no Python in the per-row path.
- **Arrow-batched pandas UDFs** wrapping the NumPy kernels for the math
  Catalyst cannot express (Niemeyer encode, ray-cast PIP, shape covers).
  Never row-at-a-time Python (driver contract, BASELINE.json input_hint).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geostructures_spark.kernels.geodesy import EARTH_RADIUS_METERS

__all__ = [
    'haversine_expr', 'bearing_expr', 'box_contains_expr',
    'interval_intersects_expr', 'interval_contains_expr',
    'interval_intersection_exprs', 'interval_union_exprs',
    'interval_contains_instant_expr',
    'niemeyer_encode_udf', 'h3_encode_udf', 'points_in_ring_udf', 'xyz_exprs',
    'vincenty_distance_udf', 'karney_distance_udf', 'karney_destination_udf',
    'ellipsoidal_area_udf', 'rotate_coordinates_udf',
    'utm_forward_udf', 'mgrs_encode_udf', 'mgrs_decode_udf',
    'to_projection_exprs', 'from_projection_exprs',
    'to_projection_udf', 'from_projection_udf',
    'xyz_tile_exprs', 'quadkey_expr',
    'to_dms_exprs', 'to_qdms_udf',
    'slerp_exprs']


def to_dms_exprs(dd: Column, is_lon: bool = True):
    """Decimal degrees -> (degrees, minutes, seconds, hemisphere) Columns
    (reference Coordinate.to_dms, coordinates.py:236-253: divmod on
    |dd|*3600, seconds round-half-up at 5 decimals)."""
    total = F.abs(dd) * 3600.0
    minutes_all = F.floor(total / 60.0)
    sec = F.round(total - minutes_all * 60.0 + F.lit(1e-17), 5)
    deg = F.floor(minutes_all / 60.0).cast('int')
    mins = (minutes_all - F.floor(minutes_all / 60.0) * 60.0).cast('int')
    if is_lon:
        hemi = F.when(dd >= 0, F.lit('E')).otherwise(F.lit('W'))
    else:
        hemi = F.when(dd >= 0, F.lit('N')).otherwise(F.lit('S'))
    return deg, mins, sec, hemi


def to_qdms_udf(is_lon: bool = True):
    """Decimal degrees -> QDDMMSSHH strings (coordinates.py:320-351),
    replicating the reference's zero_pad exactly — str(float) drops the
    decimal point and pads on the LEFT, so e.g. 12.3 s becomes '0123'
    (quirk preserved for parity)."""
    from geostructures_spark.kernels.geodesy import round_half_up

    def zero_pad(num, length):
        s = str(num).replace('.', '')
        return '0' * (length - len(s)) + s

    @F.pandas_udf(T.StringType())
    def _qdms(dd: pd.Series) -> pd.Series:
        out = []
        for v in dd.to_numpy(np.float64):
            total = abs(v) * 3600.0
            minutes_all, sec = divmod(total, 60)
            deg, mins = divmod(minutes_all, 60)
            sec5 = float(round_half_up(sec, 5))
            if is_lon:
                q = 'E' if v >= 0 else 'W'
                parts = [zero_pad(abs(int(deg)), 3), zero_pad(int(mins), 2),
                         zero_pad(float(round_half_up(sec5, 2)), 4)]
            else:
                q = 'N' if v >= 0 else 'S'
                parts = [zero_pad(abs(int(deg)), 2), zero_pad(int(mins), 2),
                         zero_pad(float(round_half_up(sec5, 2)), 4)]
            out.append(q + ''.join(parts))
        return pd.Series(out, index=dd.index, dtype=object)

    return _qdms


def utm_forward_udf():
    """(lon, lat) -> struct<zone:int, south:boolean, easting:double,
    northing:double> via the from-scratch Krüger-series kernel."""
    from geostructures_spark.kernels.mgrs import utm_forward

    @F.pandas_udf('struct<zone:int, south:boolean, easting:double, northing:double>')
    def _utm(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        z, s, e, n = utm_forward(lon.to_numpy(np.float64), lat.to_numpy(np.float64))
        return pd.DataFrame({'zone': np.atleast_1d(z).astype(np.int32),
                             'south': np.atleast_1d(s),
                             'easting': np.atleast_1d(e),
                             'northing': np.atleast_1d(n)}, index=lon.index)

    return _utm


# --- EPSG reprojection (reference Coordinate.to_projection /
# --- from_projection, coordinates.py:162-180,302-317) ----------------------
#
# The reference delegates to pyproj's Transformer and rounds half-up at 6
# decimals. Supported here from scratch: EPSG:4326 (identity), EPSG:3857
# (spherical Web Mercator — pure column expressions, JVM-side), the UTM
# CRS family EPSG:326xx / 327xx (the Krüger-series kernel, forced to the
# code's zone/hemisphere), and the national grids in
# kernels/datum.py:GRID_CRS via the 7-parameter Helmert + per-ellipsoid
# projection chain: Transverse Mercator (EPSG:27700 British National Grid
# on OSGB36/Airy 1830; EPSG:23028-23038 ED50/UTM on International 1924),
# Lambert Conformal Conic 1SP/2SP (EPSG:2154 Lambert-93, EPSG:27572 NTF
# Lambert II etendu, EPSG:32040 Texas South Central in US survey feet),
# and Albers Equal-Area (EPSG:5070 Conus Albers). Other codes raise.

_WEB_MERCATOR_R = 6378137.0


def _parse_epsg(crs) -> int:
    if isinstance(crs, int):
        return crs
    s = str(crs).upper().strip()
    if s.startswith('EPSG:'):
        return int(s[5:])
    return int(s)


def to_projection_exprs(lon: Column, lat: Column, crs='EPSG:3857'):
    """WGS84 -> target CRS as Column expressions, rounded half-up at 6dp
    (coordinates.py:302-317). 4326/3857 only (UTM needs the kernel UDF)."""
    code = _parse_epsg(crs)
    if code == 4326:
        return F.round(lon, 6), F.round(lat, 6)
    if code == 3857:
        x = F.lit(_WEB_MERCATOR_R) * F.radians(lon)
        y = F.lit(_WEB_MERCATOR_R) * F.log(
            F.tan(F.lit(math.pi / 4.0) + F.radians(lat) / 2.0))
        return F.round(x, 6), F.round(y, 6)
    raise ValueError(f'to_projection_exprs supports EPSG 4326/3857, got {crs}')


def from_projection_exprs(x: Column, y: Column, crs='EPSG:3857'):
    """Target CRS -> WGS84 as Column expressions (coordinates.py:162-180)."""
    code = _parse_epsg(crs)
    if code == 4326:
        return F.round(x, 6), F.round(y, 6)
    if code == 3857:
        lon = F.degrees(x / F.lit(_WEB_MERCATOR_R))
        lat = F.degrees(F.atan(F.exp(y / F.lit(_WEB_MERCATOR_R))) * 2.0
                        - F.lit(math.pi / 2.0))
        return F.round(lon, 6), F.round(lat, 6)
    raise ValueError(f'from_projection_exprs supports EPSG 4326/3857, got {crs}')


def _utm_epsg(code: int):
    """EPSG:326xx (north) / 327xx (south) -> (zone, south). Hemisphere is a
    property of the CRS, not the data, exactly as pyproj treats it."""
    family, zone = code // 100, code % 100
    if family not in (326, 327) or not 1 <= zone <= 60:
        raise ValueError(
            f'unsupported EPSG code: {code}. Supported from scratch: 4326, '
            f'3857, UTM 326xx/327xx, and the national grids / geographic '
            f'datums in kernels/datum.py (27700, 23028-23038, 2154, 27572, '
            f'32040, 5070, 4277, 4230, Pulkovo GK zones) — see the "EPSG '
            f'support matrix" section of README.md. Codes needing '
            f'published grid files (NTv2/NADCON, e.g. NAD27 state plane) '
            f'cannot be implemented without those files and always raise.')
    return zone, family == 327


def to_projection_udf(crs):
    """WGS84 -> projected (x, y) for any supported EPSG code; UTM codes run
    the Krüger kernel forced to the code's zone/hemisphere; national-grid
    codes on non-WGS84 datums (EPSG:27700 BNG, EPSG:230xx ED50/UTM) run
    the 7-parameter Helmert + target-ellipsoid TM chain
    (kernels/datum.py)."""
    code = _parse_epsg(crs)
    if code in (4326, 3857):
        exprs = to_projection_exprs

        def apply_exprs(lon, lat):
            xx, yy = exprs(F.col(lon) if isinstance(lon, str) else lon,
                           F.col(lat) if isinstance(lat, str) else lat, code)
            return F.struct(xx.alias('x'), yy.alias('y'))
        return apply_exprs
    if f'EPSG:{code}' in _grid_codes():
        from geostructures_spark.kernels.datum import grid_forward
        from geostructures_spark.kernels.geodesy import round_half_up
        key = f'EPSG:{code}'

        @F.pandas_udf('struct<x:double,y:double>')
        def _grid_fwd(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
            xx, yy = grid_forward(lon.to_numpy(np.float64),
                                  lat.to_numpy(np.float64), key)
            return pd.DataFrame({'x': round_half_up(xx, 6),
                                 'y': round_half_up(yy, 6)}, index=lon.index)
        return _grid_fwd
    if f'EPSG:{code}' in _geog_codes():
        from geostructures_spark.kernels.datum import datum_shift
        from geostructures_spark.kernels.geodesy import round_half_up
        key = f'EPSG:{code}'

        @F.pandas_udf('struct<x:double,y:double>')
        def _geog_fwd(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
            xx, yy = datum_shift(lon.to_numpy(np.float64),
                                 lat.to_numpy(np.float64), key)
            return pd.DataFrame({'x': round_half_up(xx, 6),
                                 'y': round_half_up(yy, 6)}, index=lon.index)
        return _geog_fwd
    zone, south = _utm_epsg(code)
    from geostructures_spark.kernels.geodesy import round_half_up
    from geostructures_spark.kernels.mgrs import E0, N0_SOUTH, _tm_forward

    @F.pandas_udf('struct<x:double,y:double>')
    def _fwd(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        xx, yy = _tm_forward(lon.to_numpy(np.float64),
                             lat.to_numpy(np.float64), zone * 6.0 - 183.0)
        e = E0 + xx
        n = yy + (N0_SOUTH if south else 0.0)
        return pd.DataFrame({'x': round_half_up(e, 6),
                             'y': round_half_up(n, 6)}, index=lon.index)

    return _fwd


def _grid_codes():
    from geostructures_spark.kernels.datum import GRID_CRS
    return GRID_CRS


def _geog_codes():
    from geostructures_spark.kernels.datum import GEOG_CRS
    return GEOG_CRS


def from_projection_udf(crs):
    """Projected (x, y) -> WGS84 (lon, lat) for any supported EPSG code."""
    code = _parse_epsg(crs)
    if code in (4326, 3857):
        exprs = from_projection_exprs

        def apply_exprs(x, y):
            lon, lat = exprs(F.col(x) if isinstance(x, str) else x,
                             F.col(y) if isinstance(y, str) else y, code)
            return F.struct(lon.alias('lon'), lat.alias('lat'))
        return apply_exprs
    if f'EPSG:{code}' in _grid_codes():
        from geostructures_spark.kernels.datum import grid_inverse
        from geostructures_spark.kernels.geodesy import round_half_up
        key = f'EPSG:{code}'

        @F.pandas_udf('struct<lon:double,lat:double>')
        def _grid_inv(x: pd.Series, y: pd.Series) -> pd.DataFrame:
            lon, lat = grid_inverse(x.to_numpy(np.float64),
                                    y.to_numpy(np.float64), key)
            return pd.DataFrame({'lon': round_half_up(lon, 6),
                                 'lat': round_half_up(lat, 6)}, index=x.index)
        return _grid_inv
    if f'EPSG:{code}' in _geog_codes():
        from geostructures_spark.kernels.datum import datum_unshift
        from geostructures_spark.kernels.geodesy import round_half_up
        key = f'EPSG:{code}'

        @F.pandas_udf('struct<lon:double,lat:double>')
        def _geog_inv(x: pd.Series, y: pd.Series) -> pd.DataFrame:
            lon, lat = datum_unshift(x.to_numpy(np.float64),
                                     y.to_numpy(np.float64), key)
            return pd.DataFrame({'lon': round_half_up(lon, 6),
                                 'lat': round_half_up(lat, 6)}, index=x.index)
        return _geog_inv
    zone, south = _utm_epsg(code)
    from geostructures_spark.kernels.geodesy import round_half_up
    from geostructures_spark.kernels.mgrs import utm_inverse

    @F.pandas_udf('struct<lon:double,lat:double>')
    def _inv(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        lon, lat = utm_inverse(np.full(len(x), zone, dtype=np.int64),
                               np.full(len(x), south, dtype=bool),
                               x.to_numpy(np.float64), y.to_numpy(np.float64))
        return pd.DataFrame({'lon': round_half_up(lon, 6),
                             'lat': round_half_up(lat, 6)}, index=x.index)

    return _inv


# --- slippy-map XYZ tiles / quadkeys ---------------------------------------
# The standard web-tile partition keys (OSM XYZ scheme; Bing quadkey is the
# same tile in base-4 string form). Pure column expressions — at 100 TB the
# tile key is the shuffle/join key for raster<->vector assignment, so it must
# stay inside codegen.

def xyz_tile_exprs(lon: Column, lat: Column, zoom: int):
    """(lon, lat) -> (tile_x, tile_y) at ``zoom`` (OSM XYZ convention:
    x east from -180, y south from the top latitude ~85.0511). Latitudes
    beyond the Mercator clip map to the edge rows, as web tile servers do."""
    n = float(1 << zoom)
    x = F.floor((lon + 180.0) / 360.0 * n)
    x = F.least(F.greatest(x, F.lit(0)), F.lit(int(n) - 1))
    lat_r = F.radians(lat)
    y = F.floor((1.0 - F.log(F.tan(lat_r) + 1.0 / F.cos(lat_r)) / math.pi)
                / 2.0 * n)
    y = F.least(F.greatest(y, F.lit(0)), F.lit(int(n) - 1))
    return x.cast('long'), y.cast('long')


def quadkey_expr(tile_x: Column, tile_y: Column, zoom: int) -> Column:
    """(x, y, zoom) -> Bing quadkey string: per level i (MSB first), digit =
    x-bit + 2*y-bit. Prefix-matching quadkeys express tile containment, so a
    quadkey prefix join replaces a multi-resolution tile hierarchy join."""
    digits = [
        (F.shiftright(tile_x, i) % 2 + (F.shiftright(tile_y, i) % 2) * 2)
        .cast('int').cast('string')
        for i in range(zoom - 1, -1, -1)]
    return F.concat(*digits) if digits else F.lit('')


def mgrs_encode_udf(precision: int = 5):
    from geostructures_spark.kernels.mgrs import mgrs_encode

    @F.pandas_udf(T.StringType())
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        out = mgrs_encode(lon.to_numpy(np.float64), lat.to_numpy(np.float64),
                          precision)
        return pd.Series(out, index=lon.index, dtype=object)

    return _enc


def mgrs_decode_udf():
    from geostructures_spark.kernels.mgrs import mgrs_decode

    @F.pandas_udf('struct<lon:double, lat:double>')
    def _dec(s: pd.Series) -> pd.DataFrame:
        lon, lat = mgrs_decode(s.to_numpy(object))
        return pd.DataFrame({'lon': lon, 'lat': lat}, index=s.index)

    return _dec


def rotate_coordinates_udf(origin_lon: float, origin_lat: float,
                           degrees: float):
    """Arrow-batched rotate-about-origin (reference calc.py:163-199):
    antimeridian-unbounds each point relative to the origin, applies the
    2x2 rotation, renormalizes. Returns struct<lon,lat>."""
    from geostructures_spark.kernels.geodesy import rotate_coordinates

    @F.pandas_udf('struct<lon:double,lat:double>')
    def _rot(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        lo, la = rotate_coordinates(lon.to_numpy(np.float64),
                                    lat.to_numpy(np.float64),
                                    origin_lon, origin_lat, degrees)
        return pd.DataFrame({'lon': lo, 'lat': la}, index=lon.index)

    return _rot


def vincenty_distance_udf():
    """Arrow-batched Vincenty inverse distance on WGS84 (reference
    geodesic.py:81-165) — the vectorized batch-convergence kernel."""
    from geostructures_spark.kernels.geodesy import vincenty_distance

    @F.pandas_udf(T.DoubleType())
    def _vdist(lon1: pd.Series, lat1: pd.Series,
               lon2: pd.Series, lat2: pd.Series) -> pd.Series:
        d = vincenty_distance(lon1.to_numpy(np.float64), lat1.to_numpy(np.float64),
                              lon2.to_numpy(np.float64), lat2.to_numpy(np.float64))
        return pd.Series(np.asarray(d, dtype=np.float64), index=lon1.index)

    return _vdist


def karney_distance_udf():
    """Arrow-batched Karney geodesic inverse distance on WGS84 (reference
    geodesic.py:292-305; kernels/karney.py exact-integral solver —
    antipodal-safe where Vincenty diverges)."""
    from geostructures_spark.kernels.karney import karney_distance

    @F.pandas_udf(T.DoubleType())
    def _kdist(lon1: pd.Series, lat1: pd.Series,
               lon2: pd.Series, lat2: pd.Series) -> pd.Series:
        d = karney_distance(lon1.to_numpy(np.float64), lat1.to_numpy(np.float64),
                            lon2.to_numpy(np.float64), lat2.to_numpy(np.float64))
        return pd.Series(np.asarray(d, dtype=np.float64), index=lon1.index)

    return _kdist


def karney_destination_udf():
    """Arrow-batched Karney direct problem (reference geodesic.py:308-321):
    (lon, lat, bearing_deg, distance_m) -> struct<lon,lat>."""
    from geostructures_spark.kernels.karney import karney_destination

    @F.pandas_udf('struct<lon:double,lat:double>')
    def _kdest(lon: pd.Series, lat: pd.Series,
               bearing: pd.Series, dist: pd.Series) -> pd.DataFrame:
        lon2, lat2, _ = karney_destination(
            lon.to_numpy(np.float64), lat.to_numpy(np.float64),
            bearing.to_numpy(np.float64), dist.to_numpy(np.float64))
        return pd.DataFrame({'lon': lon2, 'lat': lat2}, index=lon.index)

    return _kdest


def ellipsoidal_area_udf():
    """Exact WGS84 polygon area (m^2) over a JSON-encoded rings column
    (operators/ringio transport). Batch shape: all edges of all rows in the
    Arrow batch go through ONE vectorized inverse solve (kernels/karney.py
    ellipsoidal_area_batch). Matches reference structures.py:69-76."""
    from geostructures_spark.kernels.karney import ellipsoidal_area_batch
    from geostructures_spark.operators.ringio import decode_rings_json

    @F.pandas_udf(T.DoubleType())
    def _area(rings_json: pd.Series) -> pd.Series:
        groups = []
        for rj in rings_json:
            rings = decode_rings_json(rj)
            if not rings:
                groups.append([])
            else:
                groups.append([
                    np.array([[c['lon'], c['lat']] for c in ring],
                             dtype=np.float64)
                    for ring in rings])
        return pd.Series(ellipsoidal_area_batch(groups), index=rings_json.index)

    return _area


def haversine_expr(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Haversine distance (meters) as a pure Column expression — identical
    formula to kernels.geodesy.haversine_distance (reference
    geodesic.py:27-39), evaluated JVM-side inside codegen."""
    rlon1, rlat1 = F.radians(lon1), F.radians(lat1)
    rlon2, rlat2 = F.radians(lon2), F.radians(lat2)
    dlon = rlon2 - rlon1
    dlat = rlat2 - rlat1
    a = (F.pow(F.sin(dlat / 2), 2) +
         F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin(dlon / 2), 2))
    c = 2 * F.atan2(F.sqrt(a), F.sqrt(1 - a))
    return F.lit(EARTH_RADIUS_METERS) * c


def haversine_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """``haversine_expr`` as SQL text over SQL expressions: the same
    operations in the same order as the NumPy kernel's haversine. The JVM's
    and NumPy's sin/cos/atan2 may round differently, so a value can differ
    from the kernel's in the last bits (about 4 % of random pairs, by at
    most ~2e-10 m); the spatial join refines every plain circle with this
    expression, so a circle's verdict never depends on its catalog."""
    a = (f'pow(sin((radians({lat2}) - radians({lat1})) / 2), 2) + '
         f'cos(radians({lat1})) * cos(radians({lat2})) * '
         f'pow(sin((radians({lon2}) - radians({lon1})) / 2), 2)')
    return f'{EARTH_RADIUS_METERS!r}D * (2 * atan2(sqrt({a}), sqrt(1 - ({a}))))'


def bearing_expr(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Initial bearing degrees [0,360) (reference geodesic.py:63-74)."""
    rlon1, rlat1 = F.radians(lon1), F.radians(lat1)
    rlon2, rlat2 = F.radians(lon2), F.radians(lat2)
    dlon = rlon2 - rlon1
    y = F.sin(dlon) * F.cos(rlat2)
    x = F.cos(rlat1) * F.sin(rlat2) - F.sin(rlat1) * F.cos(rlat2) * F.cos(dlon)
    return (F.degrees(F.atan2(y, x)) + 360) % 360


def xyz_exprs(lon: Column, lat: Column):
    """Unit-sphere vector columns (reference coordinates.py:104-117) —
    compute once with withColumns, reuse across distance predicates."""
    rlon, rlat = F.radians(lon), F.radians(lat)
    clat = F.cos(rlat)
    return clat * F.cos(rlon), clat * F.sin(rlon), F.sin(rlat)


def box_contains_expr(lon: Column, lat: Column,
                      min_lon, min_lat, max_lon, max_lat) -> Column:
    """GeoBox containment (reference structures.py:752-763) — a plain range
    predicate, pushdown-eligible."""
    return ((lon >= min_lon) & (lon <= max_lon) &
            (lat >= min_lat) & (lat <= max_lat))


# --- right-open time intervals as Column predicates ------------------------
# (reference time.py:188-226; see kernels.timeops for the NumPy twin)

def interval_contains_instant_expr(start: Column, end: Column, t: Column) -> Column:
    return F.when(start == end, start == t).otherwise((start <= t) & (t < end))


def interval_intersects_expr(s_start: Column, s_end: Column,
                             o_start: Column, o_end: Column) -> Column:
    s_instant = s_start == s_end
    o_instant = o_start == o_end
    plain = ~((s_end <= o_start) | (s_start >= o_end))
    return (
        F.when(s_instant & o_instant, s_start == o_start)
        .when(s_instant, interval_contains_instant_expr(o_start, o_end, s_start))
        .when(o_instant, interval_contains_instant_expr(s_start, s_end, o_start))
        .otherwise(plain)
    )


def interval_contains_expr(s_start: Column, s_end: Column,
                           o_start: Column, o_end: Column) -> Column:
    """s contains o: closed superset (time.py:216-222)."""
    return (s_start <= o_start) & (o_end <= s_end)


def interval_intersection_exprs(s_start: Column, s_end: Column,
                                o_start: Column, o_end: Column):
    """TimeInterval.intersection (time.py:194-198): (max starts, min ends)
    when not disjoint, else (NULL, NULL) — disjointness per the right-open
    + instant rules of interval_intersects_expr."""
    hit = interval_intersects_expr(s_start, s_end, o_start, o_end)
    return (F.when(hit, F.greatest(s_start, o_start)),
            F.when(hit, F.least(s_end, o_end)))


def interval_union_exprs(s_start: Column, s_end: Column,
                         o_start: Column, o_end: Column):
    """TimeInterval.union (time.py:224-226): the spanning hull (min starts,
    max ends) regardless of overlap."""
    return F.least(s_start, o_start), F.greatest(s_end, o_end)


# --- pandas UDFs over the NumPy kernels ------------------------------------

def niemeyer_interleave_sql(qlon: str, qlat: str, length: int,
                            base: int = 16) -> str:
    """Niemeyer cell string from already-quantized integer axis codes, as
    SQL text: MSB-first bit interleave (lon first) formatted as the base-16
    cell. ``qlon``/``qlat`` are SQL expressions (column names, typically).
    Base 16 only (4 bits/char -> an even split of bits across axes and a
    charset identical to lowercase hex). One string, so building it costs
    no JVM round trips."""
    if base != 16:
        raise ValueError('niemeyer_interleave_sql supports base 16 only')
    total = 4 * length
    m = total // 2
    bits = [f'shiftleft(shiftright({q}, {m - 1 - b}) & 1, {total - 1 - 2 * b - k})'
            for b in range(m) for k, q in enumerate((qlon, qlat))]
    return f"format_string('%0{length}x', {' | '.join(bits)})"


def niemeyer_quantize_sql(lon: str, lat: str, length: int,
                          base: int = 16):
    """(qlon, qlat) integer axis codes for the closed-form Niemeyer encode,
    as SQL text over the SQL expressions ``lon``/``lat``.

    ``ceil(q) - 1`` (clamped to the domain) instead of ``floor(q)``: the
    reference's bisection uses strict ``coord > mid`` (geohash.py:161,169),
    so a point EXACTLY on a dyadic split belongs to the LOWER cell — the
    same closed form the DuckDB oracle replay uses (__spark_entry__
    _niemeyer6_duckdb), so Spark and oracle agree by construction. Verified
    bit-identical to kernels.niemeyer.encode over dyadic boundary grids,
    millidegree lattices and 20k random points at lengths 4/6/8."""
    if base != 16:
        raise ValueError('niemeyer_quantize_sql supports base 16 only')
    m = (4 * length) // 2

    def q(x, off, span):
        return (f'CAST(least(greatest(ceil((({x}) + {off!r}D) / {span!r}D * '
                f'{float(1 << m)!r}D) - 1, 0), {(1 << m) - 1}) AS BIGINT)')
    return q(lon, 180.0, 360.0), q(lat, 90.0, 180.0)


def niemeyer_cell_expr(lon: str, lat: str, length: int,
                       base: int = 16) -> Column:
    """Closed-form Niemeyer encode of the SQL expressions ``lon``/``lat``
    (base 16) as one Column: whole-stage codegen, no Python worker — the
    JVM twin of ``niemeyer_encode_udf`` (value-identical, see
    niemeyer_quantize_sql). Each quantized code appears once per bit in
    the text; codegen's subexpression elimination computes it once."""
    qlon, qlat = niemeyer_quantize_sql(lon, lat, length, base)
    return F.expr(niemeyer_interleave_sql(qlon, qlat, length, base))


def niemeyer_encode_udf(length: int, base: int):
    """Arrow-batched Niemeyer encoder: (lon, lat) -> cell string.

    The engine's tiling/partition key producer (reference
    geohash.py:129-183). One vectorized kernel call per Arrow batch.
    """
    from geostructures_spark.kernels import niemeyer as nie

    @F.pandas_udf(T.StringType())
    def _encode(lon: pd.Series, lat: pd.Series) -> pd.Series:
        if len(lon) == 0:
            return pd.Series([], dtype=object)
        cells = nie.encode(lon.to_numpy(np.float64), lat.to_numpy(np.float64),
                           length, base)
        return pd.Series(cells, index=lon.index).astype(object)

    return _encode


def h3_encode_udf(resolution: int):
    """Arrow-batched H3 encoder: (lon, lat) -> cell hex string, via the
    from-scratch vectorized kernel (kernels/h3_core.py)."""
    from geostructures_spark.kernels import h3_core as h3c

    @F.pandas_udf(T.StringType())
    def _encode_h3(lon: pd.Series, lat: pd.Series) -> pd.Series:
        if len(lon) == 0:
            return pd.Series([], dtype=object)
        cells = h3c.latlng_to_cell(lat.to_numpy(np.float64),
                                   lon.to_numpy(np.float64), resolution)
        return pd.Series([format(int(c), 'x') for c in cells],
                         index=lon.index, dtype=object)

    return _encode_h3


def points_in_ring_udf(ring: np.ndarray, include_boundary: bool = False):
    """Arrow-batched ray-cast PIP against one fixed ring (reference
    structures.py:357-431). For per-row shape tests use the spatial-join
    operator, which batches by shape."""
    ring = np.asarray(ring, dtype=np.float64)
    from geostructures_spark.kernels import geometry as geom

    @F.pandas_udf(T.BooleanType())
    def _pip(lon: pd.Series, lat: pd.Series) -> pd.Series:
        res = geom.points_in_polygon(lon.to_numpy(np.float64),
                                     lat.to_numpy(np.float64),
                                     ring, include_boundary)
        return pd.Series(res, index=lon.index)

    return _pip


def tm_projection_udfs(lon0: float, k0: float = 1.0, x0: float = 0.0,
                       y0: float = 0.0, lat0: float = 0.0):
    """(forward_udf, inverse_udf) for a generic WGS84 Transverse Mercator
    (arbitrary central meridian / scale / false offsets / latitude of
    origin) — the proj-parameter form of the non-UTM TM EPSG family,
    running the same Krüger kernel as the UTM/MGRS path
    (kernels/mgrs.py; reference delegates to pyproj,
    coordinates.py:210-234)."""
    from geostructures_spark.kernels.mgrs import (
        tm_forward_params, tm_inverse_params)

    @F.pandas_udf('struct<x:double,y:double>')
    def _fwd(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        xx, yy = tm_forward_params(lon.to_numpy(np.float64),
                                   lat.to_numpy(np.float64),
                                   lon0, k0, x0, y0, lat0)
        return pd.DataFrame({'x': xx, 'y': yy}, index=lon.index)

    @F.pandas_udf('struct<lon:double,lat:double>')
    def _inv(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        lon, lat = tm_inverse_params(x.to_numpy(np.float64),
                                     y.to_numpy(np.float64),
                                     lon0, k0, x0, y0, lat0)
        return pd.DataFrame({'lon': lon, 'lat': lat}, index=x.index)

    return _fwd, _inv


def s2_encode_udf(level: int):
    """Arrow-batched S2 encoder: (lon, lat) -> canonical cell token, via
    the from-scratch Hilbert-curve kernel (kernels/s2.py — the second
    index family of the north rule's 'H3/S2 index')."""
    from geostructures_spark.kernels import s2 as s2k

    @F.pandas_udf(T.StringType())
    def _encode_s2(lon: pd.Series, lat: pd.Series) -> pd.Series:
        if len(lon) == 0:
            return pd.Series([], dtype=object)
        cells = s2k.latlng_to_cell(lat.to_numpy(np.float64),
                                   lon.to_numpy(np.float64), level)
        return pd.Series(s2k.cell_token(cells), index=lon.index,
                         dtype=object)

    return _encode_s2


def slerp_exprs(lon1: Column, lat1: Column, lon2: Column, lat2: Column,
                frac: Column) -> tuple:
    """Great-circle interpolation (spherical slerp) between two points.

    Returns (lon, lat) Column pair at fraction ``frac`` in [0, 1] of
    the minor arc: unit-vector slerp with sin-weighted blending,
    recovered via atan2 (norm-robust). Degenerate arcs (coincident
    points — sin(omega) ~ 0) return the first point; the antipodal
    case (omega = pi) has no unique arc and also returns the first
    point, documented. Pure trig Column expressions — identical in a
    SQL oracle.
    """
    rlon1, rlat1 = F.radians(lon1), F.radians(lat1)
    rlon2, rlat2 = F.radians(lon2), F.radians(lat2)
    x1 = F.cos(rlat1) * F.cos(rlon1)
    y1 = F.cos(rlat1) * F.sin(rlon1)
    z1 = F.sin(rlat1)
    x2 = F.cos(rlat2) * F.cos(rlon2)
    y2 = F.cos(rlat2) * F.sin(rlon2)
    z2 = F.sin(rlat2)
    dot = F.least(F.greatest(x1 * x2 + y1 * y2 + z1 * z2, F.lit(-1.0)),
                  F.lit(1.0))
    omega = F.acos(dot)
    so = F.sin(omega)
    a = F.sin((1.0 - frac) * omega) / so
    b = F.sin(frac * omega) / so
    xi = a * x1 + b * x2
    yi = a * y1 + b * y2
    zi = a * z1 + b * z2
    lon_i = F.degrees(F.atan2(yi, xi))
    lat_i = F.degrees(F.atan2(zi, F.sqrt(xi * xi + yi * yi)))
    deg = F.lit(1e-12)
    return (F.when(so > deg, lon_i).otherwise(lon1),
            F.when(so > deg, lat_i).otherwise(lat1))
