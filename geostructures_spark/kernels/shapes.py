"""Shape-algebra kernels over canonical shape rows (pure NumPy, no Spark).

The engine stores shapes as rows of a canonical DataFrame (SURVEY.md §1.3):
``kind`` discriminator + parameter struct + discretized ``rings``. This
module reimplements the reference's per-kind math
(``/root/reference/geostructures/structures.py``) over that representation:

- discretization (``bounding_coords``/``linear_rings``) with the reference's
  exact k defaults — circle k=36 (structures.py:873-882), ellipse
  k=ceil(36*a/b) (:1023-1038), ring/wedge k=max(ceil(span/10),10)
  (:1265-1297) — these defaults are parity-critical for tiling goldens;
- containment predicates per kind (:440-458, :752-763, :887-895,
  :1043-1053, :1315-1332, :1499-1502, :1805-1806), vectorized over point
  batches (the exact-verify step of the engine's spatial join);
- shape-vs-shape contains/intersects (:92-171) via the vectorized
  segment-intersection kernel.

A "shape" here is a plain dict:
  {'kind': str, 'params': dict, 'rings': [np.ndarray(n,2), ...] or None,
   'children': [shape, ...] (multishapes only)}
Rings are [outline, *holes]; holes stored reversed, as linear_rings emits
them (structures.py:173-177).
"""

from __future__ import annotations

import math
from typing import Dict, List, Optional, Tuple

import numpy as np

from geostructures_spark.kernels import ensure_malloc_tuned

from geostructures_spark.kernels import geometry as geom
from geostructures_spark.kernels.geodesy import (
    bearing_degrees, destination_point, distance_meters, normalize_lonlat,
)

__all__ = [
    'circle_ring', 'ellipse_ring', 'ring_wedge_rings', 'box_ring',
    'shape_linear_rings', 'shape_bounds', 'shape_contains_points',
    'shapes_intersect', 'shape_contains_shape', 'shape_edges',
    'make_shape', 'shape_centroid', 'canonical_ring', 'convert_trig_angle',
    'ellipse_covariance_matrix', 'ellipse_from_covariance',
    'split_linestring_by_length',
]

MULTI_KINDS = {'multipoint', 'multilinestring', 'multipolygon'}
POLYGON_KINDS = {'polygon', 'box', 'circle', 'ellipse', 'ring'}


def make_shape(kind: str, params: Optional[Dict] = None,
               rings: Optional[List[np.ndarray]] = None,
               children: Optional[List[Dict]] = None) -> Dict:
    return {'kind': kind, 'params': params or {}, 'rings': rings,
            'children': children}


# --- discretization -------------------------------------------------------

def circle_ring(center_lon: float, center_lat: float, radius: float,
                k: int = 36) -> np.ndarray:
    """GeoCircle.bounding_coords (structures.py:873-882): k destination
    points at angles 2*pi/k*i for i = k..1 (CCW), closed with the exact
    first coordinate."""
    i = np.arange(k, 0, -1, dtype=np.float64)
    angles = np.degrees(np.pi * 2 / k * i)
    lons, lats = destination_point(center_lon, center_lat, angles, radius)
    lons, lats = normalize_lonlat(lons, lats)
    ring = np.column_stack([lons, lats])
    return np.vstack([ring, ring[:1]])


def ellipse_ring(center_lon: float, center_lat: float, semi_major: float,
                 semi_minor: float, rotation: float,
                 k: Optional[int] = None) -> np.ndarray:
    """GeoEllipse.bounding_coords (structures.py:1023-1038)."""
    if not k:
        k = math.ceil(36 * semi_major / semi_minor)
    i = np.arange(k, 0, -1, dtype=np.float64)
    angles = (np.pi * 2 / k) * i
    radii = (semi_major * semi_minor /
             np.sqrt(semi_major ** 2 * np.sin(angles) ** 2 +
                     semi_minor ** 2 * np.cos(angles) ** 2))
    rot = math.radians(rotation)
    lons, lats = destination_point(center_lon, center_lat,
                                   np.degrees(angles + rot), radii)
    lons, lats = normalize_lonlat(lons, lats)
    ring = np.column_stack([lons, lats])
    return np.vstack([ring, ring[:1]])


def _ring_draw_bounds(center_lon, center_lat, inner_radius, outer_radius,
                      angle_min, angle_max, k=None):
    """GeoRing._draw_bounds (structures.py:1265-1297)."""
    if not k:
        k = max(math.ceil((angle_max - angle_min) / 10), 10)
    i = np.arange(k, -1, -1, dtype=np.float64)
    angles = np.pi * (angle_min + (angle_max - angle_min) / k * i) / 180
    deg = np.degrees(angles)
    out_lon, out_lat = destination_point(center_lon, center_lat, deg, outer_radius)
    in_lon, in_lat = destination_point(center_lon, center_lat, deg, inner_radius)
    out_lon, out_lat = normalize_lonlat(out_lon, out_lat)
    in_lon, in_lat = normalize_lonlat(in_lon, in_lat)
    return (np.column_stack([out_lon, out_lat]),
            np.column_stack([in_lon, in_lat]))


def ring_wedge_rings(center_lon, center_lat, inner_radius, outer_radius,
                     angle_min, angle_max, k=None) -> List[np.ndarray]:
    """GeoRing.linear_rings (structures.py:1346-1361): full ring is a circle
    with a reversed-inner-circle hole; a wedge is one self-closing ring."""
    outer, inner = _ring_draw_bounds(center_lon, center_lat, inner_radius,
                                     outer_radius, angle_min, angle_max, k)
    if angle_min == 0 and angle_max == 360:
        outer_closed = np.vstack([outer, outer[:1]])
        inner_closed = np.vstack([inner, inner[:1]])[::-1]
        return [outer_closed, inner_closed]
    wedge = np.vstack([outer, inner[::-1], outer[:1]])
    return [wedge]


def box_ring(min_lon, min_lat, max_lon, max_lat) -> np.ndarray:
    """GeoBox.bounding_coords (structures.py:728-740): nw, sw, se, ne, nw."""
    return np.array([
        [min_lon, max_lat],
        [min_lon, min_lat],
        [max_lon, min_lat],
        [max_lon, max_lat],
        [min_lon, max_lat],
    ], dtype=np.float64)


def shape_linear_rings(shape: Dict, k: Optional[int] = None) -> List[np.ndarray]:
    """linear_rings dispatch: [outline, *reversed holes]
    (structures.py:173-177; GeoRing special case :1346-1361)."""
    kind = shape['kind']
    p = shape['params']
    # stored rings carry holes already reversed, exactly as linear_rings
    # emits them (structures.py:173-177)
    holes = [np.asarray(h, dtype=np.float64) for h in (shape.get('rings') or [])[1:]]

    if kind == 'polygon':
        return [np.asarray(r, dtype=np.float64) for r in shape['rings']]
    if kind == 'box':
        outline = box_ring(p['min_lon'], p['min_lat'], p['max_lon'], p['max_lat'])
        return [outline, *holes]
    if kind == 'circle':
        outline = circle_ring(p['center_lon'], p['center_lat'], p['radius'], k or 36)
        return [outline, *holes]
    if kind == 'ellipse':
        outline = ellipse_ring(p['center_lon'], p['center_lat'],
                               p['semi_major'], p['semi_minor'],
                               p.get('rotation', 0.0), k)
        return [outline, *holes]
    if kind == 'ring':
        rings = ring_wedge_rings(p['center_lon'], p['center_lat'],
                                 p['inner_radius'], p['outer_radius'],
                                 p.get('angle_min', 0.0), p.get('angle_max', 360.0), k)
        return [*rings, *holes]
    if kind == 'linestring':
        return [np.asarray(shape['rings'][0], dtype=np.float64)]
    if kind == 'point':
        return [np.array([[p['center_lon'], p['center_lat']]])]
    if kind in MULTI_KINDS:
        out: List[np.ndarray] = []
        for child in shape['children']:
            out.extend(shape_linear_rings(child, k))
        return out
    raise ValueError(f'unknown shape kind: {kind}')


def shape_area_ring_groups(shape: Dict, k: Optional[int] = None) -> List[List[np.ndarray]]:
    """Per-polygon [outline, *holes] groups for area computation.

    One group per simple polygon (its holes subtract); multishapes contribute
    one group per child because areas sum over children
    (reference multistructures.py:471). Points/linestrings yield none."""
    kind = shape['kind']
    if kind in ('point', 'linestring'):
        return []
    if kind in MULTI_KINDS:
        out: List[List[np.ndarray]] = []
        for child in shape['children'] or []:
            out.extend(shape_area_ring_groups(child, k))
        return out
    return [shape_linear_rings(shape, k)]


def shape_bounds(shape: Dict) -> Tuple[float, float, float, float]:
    """(min_lon, min_lat, max_lon, max_lat) per kind (SURVEY.md §2.4).

    circle: 4 cardinal destinations (structures.py:860-867); ellipse/ring:
    via discretized outline (equivalent envelope); polygon/linestring:
    vertex min/max (:311-318); multishape: fold (:893-898)."""
    kind = shape['kind']
    p = shape['params']
    if kind == 'circle':
        n_lon, n_lat = destination_point(p['center_lon'], p['center_lat'], 0.0, p['radius'])
        e_lon, e_lat = destination_point(p['center_lon'], p['center_lat'], 90.0, p['radius'])
        s_lon, s_lat = destination_point(p['center_lon'], p['center_lat'], 180.0, p['radius'])
        w_lon, w_lat = destination_point(p['center_lon'], p['center_lat'], 270.0, p['radius'])
        return float(w_lon), float(s_lat), float(e_lon), float(n_lat)
    if kind == 'box':
        return p['min_lon'], p['min_lat'], p['max_lon'], p['max_lat']
    if kind == 'point':
        return (p['center_lon'], p['center_lat'], p['center_lon'], p['center_lat'])
    if kind in MULTI_KINDS:
        bs = [shape_bounds(c) for c in shape['children']]
        return (min(b[0] for b in bs), min(b[1] for b in bs),
                max(b[2] for b in bs), max(b[3] for b in bs))
    outline = shape_linear_rings(shape)[0]
    return geom.ring_bounds(outline)


def shape_centroid(shape: Dict) -> Tuple[float, float]:
    kind = shape['kind']
    p = shape['params']
    if kind in ('circle', 'ellipse'):
        return p['center_lon'], p['center_lat']
    if kind == 'point':
        return p['center_lon'], p['center_lat']
    if kind == 'box':
        from geostructures_spark.kernels.geodesy import round_half_up
        return (float(round_half_up((p['min_lon'] + p['max_lon']) / 2, 7)),
                float(round_half_up((p['min_lat'] + p['max_lat']) / 2, 7)))
    if kind == 'linestring':
        v = shape['rings'][0]
        return float(np.mean(v[:, 0])), float(np.mean(v[:, 1]))
    if kind == 'ring':
        if p.get('angle_min', 0.0) == 0 and p.get('angle_max', 360.0) == 360:
            return p['center_lon'], p['center_lat']
        wedge = ring_wedge_rings(p['center_lon'], p['center_lat'],
                                 p['inner_radius'], p['outer_radius'],
                                 p['angle_min'], p['angle_max'])[0]
        return geom.polygon_centroid(wedge)
    if kind == 'polygon':
        return geom.polygon_centroid(np.asarray(shape['rings'][0]))
    if kind == 'multipoint':
        cs = np.array([shape_centroid(c) for c in shape['children']])
        return float(cs[:, 0].mean()), float(cs[:, 1].mean())
    if kind in MULTI_KINDS:
        cs = np.array([shape_centroid(c) for c in shape['children']])
        return float(cs[:, 0].mean()), float(cs[:, 1].mean())
    raise ValueError(f'unknown shape kind: {kind}')


# --- point containment (vectorized over point batches) --------------------

def _holes_contain(shape: Dict, lons, lats, inside) -> np.ndarray:
    """Reject points inside any hole (structures.py:454-457). Holes are
    stored reversed; ray-cast parity is orientation-independent."""
    for hole in (shape.get('rings') or [])[1:]:
        if not inside.any():
            break
        hole = np.asarray(hole, dtype=np.float64)
        hb = geom.ring_bounds(hole)
        cand = inside & (lons >= hb[0]) & (lons <= hb[2]) & (lats >= hb[1]) & (lats <= hb[3])
        if cand.any():
            in_hole = geom.points_in_polygon(lons[cand], lats[cand], hole)
            tmp = np.zeros_like(inside)
            tmp[np.where(cand)[0][in_hole]] = True
            inside = inside & ~tmp
    return inside


def shape_contains_points(shape: Dict, lons, lats) -> np.ndarray:
    """Vectorized contains_coordinate dispatch (the spatial join's exact
    predicate). Mirrors the per-kind reference logic exactly."""
    ensure_malloc_tuned()
    lons = np.asarray(lons, dtype=np.float64)
    lats = np.asarray(lats, dtype=np.float64)
    kind = shape['kind']
    p = shape['params']

    if kind == 'point':
        return (lons == p['center_lon']) & (lats == p['center_lat'])

    if kind == 'linestring':
        v = np.asarray(shape['rings'][0], dtype=np.float64)
        # exact vertex membership (structures.py:1499-1502), broadcast
        # (n_points, n_vertices) — no per-point Python loop.
        return ((lons[:, None] == v[None, :, 0]) &
                (lats[:, None] == v[None, :, 1])).any(axis=1)

    if kind == 'box':
        inside = ((p['min_lon'] <= lons) & (lons <= p['max_lon']) &
                  (p['min_lat'] <= lats) & (lats <= p['max_lat']))
        return _holes_contain(shape, lons, lats, inside)

    if kind == 'circle':
        inside = distance_meters(lons, lats, p['center_lon'], p['center_lat']) <= p['radius']
        return _holes_contain(shape, lons, lats, inside)

    if kind == 'ellipse':
        brg = bearing_degrees(p['center_lon'], p['center_lat'], lons, lats)
        ang = np.radians(brg - p.get('rotation', 0.0))
        a, b = p['semi_major'], p['semi_minor']
        rad = a * b / np.sqrt(a ** 2 * np.sin(ang) ** 2 + b ** 2 * np.cos(ang) ** 2)
        inside = distance_meters(p['center_lon'], p['center_lat'], lons, lats) <= rad
        return _holes_contain(shape, lons, lats, inside)

    if kind == 'ring':
        amin, amax = p.get('angle_min', 0.0), p.get('angle_max', 360.0)
        inside = np.ones(lons.shape, dtype=bool)
        if amax - amin < 360:
            brg = bearing_degrees(p['center_lon'], p['center_lat'], lons, lats)
            inside &= ((brg - amin) % 360) <= (amax - amin)
        rad = distance_meters(p['center_lon'], p['center_lat'], lons, lats)
        inside &= (p['inner_radius'] <= rad) & (rad <= p['outer_radius'])
        return _holes_contain(shape, lons, lats, inside)

    if kind == 'polygon':
        outline = np.asarray(shape['rings'][0], dtype=np.float64)
        b = geom.ring_bounds(outline)
        inside = (lons >= b[0]) & (lons <= b[2]) & (lats >= b[1]) & (lats <= b[3])
        if inside.any():
            pip = geom.points_in_polygon(lons[inside], lats[inside], outline)
            out = np.zeros_like(inside)
            out[np.where(inside)[0][pip]] = True
            inside = out
        return _holes_contain(shape, lons, lats, inside)

    if kind in MULTI_KINDS:
        out = np.zeros(lons.shape, dtype=bool)
        for child in shape['children']:
            out |= shape_contains_points(child, lons, lats)
        return out

    raise ValueError(f'unknown shape kind: {kind}')


# --- shape-vs-shape -------------------------------------------------------

def shape_edges(shape: Dict, k: Optional[int] = None) -> np.ndarray:
    """All edges (outline + holes) as an (E, 4) array of
    lon_a, lat_a, lon_b, lat_b (reference edges(), structures.py:117-144;
    linestring segments :1456-1457)."""
    kind = shape['kind']
    if kind == 'linestring':
        v = np.asarray(shape['rings'][0], dtype=np.float64)
        return np.hstack([v[:-1], v[1:]])
    if kind == 'point':
        return np.zeros((0, 4))
    rings = shape_linear_rings(shape, k)
    segs = [np.hstack([r[:-1], r[1:]]) for r in rings if len(r) > 1]
    return np.vstack(segs) if segs else np.zeros((0, 4))


def shapes_intersect(a: Dict, b: Dict, k: Optional[int] = None) -> bool:
    """PolygonBase/LineString intersects_shape (structures.py:146-171,
    1617-1642): multishape -> any child; point -> containment; else any edge
    pair intersects, falling back to boundary-point containment either way
    (handles holes/containment)."""
    if a['kind'] in MULTI_KINDS:
        return any(shapes_intersect(c, b, k) for c in a['children'])
    if b['kind'] in MULTI_KINDS:
        return any(shapes_intersect(a, c, k) for c in b['children'])

    if b['kind'] == 'point':
        pb = b['params']
        return bool(shape_contains_points(a, [pb['center_lon']], [pb['center_lat']])[0])
    if a['kind'] == 'point':
        pa = a['params']
        return bool(shape_contains_points(b, [pa['center_lon']], [pa['center_lat']])[0])

    ea = shape_edges(a, k)
    eb = shape_edges(b, k)
    if geom.segments_intersect_any(ea, eb):
        return True
    blon, blat = float(eb[0, 0]), float(eb[0, 1])
    alon, alat = float(ea[0, 0]), float(ea[0, 1])
    return (bool(shape_contains_points(a, [blon], [blat])[0]) or
            bool(shape_contains_points(b, [alon], [alat])[0]))


def shape_contains_shape(a: Dict, b: Dict, k: Optional[int] = None) -> bool:
    """PolygonBase.contains_shape (structures.py:92-115); linestring
    semantics (:1482-1497)."""
    if b['kind'] in MULTI_KINDS:
        return all(shape_contains_shape(a, c, k) for c in b['children'])
    if a['kind'] in MULTI_KINDS:
        # every child of b must be contained by some child of a
        # (_base.py:908-938)
        return any(shape_contains_shape(c, b, k) for c in a['children'])

    if a['kind'] == 'linestring':
        if b['kind'] in POLYGON_KINDS:
            return False
        if b['kind'] == 'point':
            pb = b['params']
            return bool(shape_contains_points(a, [pb['center_lon']], [pb['center_lat']])[0])
        # contiguous sublist of vertices (utils/functions.py:87-108)
        va = [tuple(x) for x in np.asarray(a['rings'][0]).tolist()]
        vb = [tuple(x) for x in np.asarray(b['rings'][0]).tolist()]
        if len(vb) > len(va):
            return False
        return any(va[i:i + len(vb)] == vb for i in range(len(va) - len(vb) + 1))

    if b['kind'] == 'point':
        pb = b['params']
        return bool(shape_contains_points(a, [pb['center_lon']], [pb['center_lat']])[0])

    ea = shape_edges(a, k)
    eb = shape_edges(b, k)
    if geom.segments_intersect_any(ea, eb):
        return False
    blon, blat = float(eb[0, 0]), float(eb[0, 1])
    return bool(shape_contains_points(a, [blon], [blat])[0])


def split_linestring_by_length(vertices, meters: float) -> List[np.ndarray]:
    """GeoLineString.split_by_length (reference structures.py:1657-1726):
    walk the segments accumulating length; when a chunk reaches ``meters``,
    cut the edge at destination_point(start, bearing, needed) and start the
    next chunk at the cut. Bearing is computed once per original edge (at
    the first cut) and reused for later cuts of the same edge, exactly as
    the reference does. The final partial chunk carries the remainder."""
    if meters <= 0:
        raise ValueError('Split length must be greater than 0.')
    v = np.asarray(vertices, dtype=np.float64)
    results: List[np.ndarray] = []
    chunk = [(float(v[0, 0]), float(v[0, 1]))]
    chunk_len = 0.0
    for i in range(len(v) - 1):
        sx, sy = float(v[i, 0]), float(v[i, 1])
        ex, ey = float(v[i + 1, 0]), float(v[i + 1, 1])
        edge = float(distance_meters(sx, sy, ex, ey))
        bearing = None
        while chunk_len + edge >= meters:
            needed = meters - chunk_len
            if bearing is None:
                bearing = float(bearing_degrees(sx, sy, ex, ey))
            cx, cy = destination_point(sx, sy, bearing, needed)
            cx, cy = normalize_lonlat(cx, cy)
            cx, cy = float(cx), float(cy)
            chunk.append((cx, cy))
            results.append(np.array(chunk, dtype=np.float64))
            chunk = [(cx, cy)]
            chunk_len = 0.0
            sx, sy = cx, cy
            edge -= needed
        chunk.append((ex, ey))
        chunk_len += edge
    if len(chunk) > 1:
        results.append(np.array(chunk, dtype=np.float64))
    return results


def convert_trig_angle(bearing):
    """Bearing <-> trigonometric angle, self-inverse
    (reference _geometry.py:485-501)."""
    return (90 - np.asarray(bearing, dtype=np.float64)) % 360


def ellipse_covariance_matrix(semi_major, semi_minor, rotation,
                              to_trigonometric_rotation: bool = True):
    """GeoEllipse.covariance_matrix (reference structures.py:1066-1093),
    vectorized: returns (varx1, cov, varx2) arrays for the 2x2 symmetric
    [[varx1, cov], [cov, varx2]] per input ellipse."""
    a = np.asarray(semi_major, dtype=np.float64)
    b = np.asarray(semi_minor, dtype=np.float64)
    rot = np.asarray(rotation, dtype=np.float64)
    if to_trigonometric_rotation:
        rot = convert_trig_angle(rot)
    rot = np.radians(rot)
    cos_phi, sin_phi = np.cos(rot), np.sin(rot)
    varx1 = a ** 2 * cos_phi ** 2 + b ** 2 * sin_phi ** 2
    varx2 = a ** 2 * sin_phi ** 2 + b ** 2 * cos_phi ** 2
    cov = (a ** 2 - b ** 2) * sin_phi * cos_phi
    return varx1, cov, varx2


def ellipse_from_covariance(varx1, cov, varx2,
                            from_trigonometric_rotation: bool = True):
    """GeoEllipse.from_covariance_matrix (reference structures.py:1095-1147),
    vectorized over stacked 2x2s via np.linalg.eigvalsh (same LAPACK path as
    the reference). Returns (semi_major, semi_minor, rotation_deg)."""
    a = np.atleast_1d(np.asarray(varx1, dtype=np.float64))
    b = np.atleast_1d(np.asarray(cov, dtype=np.float64))
    c = np.atleast_1d(np.asarray(varx2, dtype=np.float64))
    mats = np.stack([np.stack([a, b], axis=-1),
                     np.stack([b, c], axis=-1)], axis=-2)
    eig = np.linalg.eigvalsh(mats)          # ascending per 2x2
    l2, l1 = eig[..., 0], eig[..., 1]
    with np.errstate(invalid='ignore'):
        rotation = np.where(
            b == 0,
            np.where(a >= c, 0.0, 90.0),
            np.degrees(np.arctan2(l1 - a, np.where(b == 0, 1.0, b))))
    if from_trigonometric_rotation:
        rotation = convert_trig_angle(rotation)
    return np.sqrt(l1), np.sqrt(l2), rotation


def canonical_ring(ring: np.ndarray) -> Tuple:
    """Rotation- and orientation-invariant canonical form of a self-closing
    ring (reference structures.py:348-355): drop the duplicate last point,
    start at the lexicographic minimum, take min(forward, reverse)."""
    coords = [tuple(x) for x in np.asarray(ring, dtype=np.float64)[:-1].tolist()]
    n = len(coords)
    i0 = min(range(n), key=lambda i: coords[i])
    fwd = tuple(coords[(i0 + k) % n] for k in range(n))
    rev = tuple(coords[(i0 - k) % n] for k in range(n))
    return min(fwd, rev)
