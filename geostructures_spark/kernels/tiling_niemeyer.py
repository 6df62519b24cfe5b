"""Niemeyer shape-cover kernels (pure NumPy, no Spark).

Reimplements NiemeyerHasher's shape covering
(``/root/reference/geostructures/geohash.py:592-764``): BFS flood fill from
a seed cell, expanding through the 8-neighborhood and keeping cells whose
GeoBox intersects the shape. The default execution path is the equivalent
single-batch bbox enumeration (``_enum_cover``): for connected shapes the
kept-cell set is 8-connected, so one vectorized keep-test sweep returns
exactly the BFS result at a fraction of the per-level Python overhead; the
BFS remains as the oversized-grid fallback and the equivalence witness.

At engine scale this runs per-shape inside ``applyInPandas`` — one shape's
cover is small and bounded, the distributed dimension is the number of
shapes (SURVEY.md §7.4). The output cell set feeds the engine's
explode -> groupBy(cell) tiling aggregation and the cell equi-join.
"""

from __future__ import annotations

import math
from typing import Dict, Set

import numpy as np

from geostructures_spark.kernels import ensure_malloc_tuned

from geostructures_spark.kernels import geometry as geom
from geostructures_spark.kernels import niemeyer as nie
from geostructures_spark.kernels import shapes as shp
from geostructures_spark.kernels.geodesy import normalize_lonlat

__all__ = ['cover_shape', 'hash_coordinates']


def _boxes_intersect_shape(bounds: np.ndarray, shape: Dict,
                           shape_edges: np.ndarray,
                           first_pt: np.ndarray) -> np.ndarray:
    """Vectorized GeoBox.intersects_shape (structures.py:146-171) for a
    batch of boxes vs one shape: any box-edge/shape-edge intersection, OR
    the shape's first boundary point inside the box, OR the box's NW corner
    inside the shape. bounds is (B, 4) = min_lon, min_lat, max_lon, max_lat."""
    B = len(bounds)
    if B == 0:
        return np.zeros(0, dtype=bool)
    # box edges in bounding_coords order: NW->SW->SE->NE->NW (structures.py:728-740)
    min_lon, min_lat, max_lon, max_lat = bounds[:, 0], bounds[:, 1], bounds[:, 2], bounds[:, 3]
    nw = np.stack([min_lon, max_lat], 1)
    sw = np.stack([min_lon, min_lat], 1)
    se = np.stack([max_lon, min_lat], 1)
    ne = np.stack([max_lon, max_lat], 1)
    corners = np.stack([nw, sw, se, ne, nw], axis=1)       # (B, 5, 2)
    edges = np.concatenate([corners[:, :-1], corners[:, 1:]], axis=2)  # (B, 4, 4)
    hit_edges = geom.intersect_matrix(edges.reshape(B * 4, 4), shape_edges)
    out = hit_edges.reshape(B, 4, -1).any(axis=(1, 2))

    # boundary fallback 1: shape's first boundary point inside the box
    # (boxes have no holes -> plain range test, structures.py:752-763)
    px, py = first_pt[0], first_pt[1]
    out |= ((min_lon <= px) & (px <= max_lon) & (min_lat <= py) & (py <= max_lat))

    # boundary fallback 2: box NW corner inside the shape
    remaining = ~out
    if remaining.any():
        inside = shp.shape_contains_points(shape, nw[remaining, 0], nw[remaining, 1])
        idx = np.where(remaining)[0]
        out[idx[inside]] = True
    return out


def _bfs_cover(shape: Dict, seed_lon: float, seed_lat: float,
               length: int, base: int) -> Set[str]:
    """BFS flood fill (reference geohash.py:592-629 / 654-690): start from
    the seed's cell, expand via 8-neighbors, keep cells whose box intersects
    the shape. The seed cell is always kept, mirroring the reference.

    Batched: each BFS level tests the whole frontier's neighbor set in one
    vectorized intersects kernel; the shape's edges are discretized once."""
    start = nie.encode_scalar(seed_lon, seed_lat, length, base)
    shape_edges = shp.shape_edges(shape)
    # the shape's first boundary point = o_edges[0][0] (structures.py:167-171)
    if len(shape_edges):
        first_pt = shape_edges[0, :2]
    else:
        first_pt = np.array(shp.shape_centroid(shape))

    valid: Set[str] = {start}
    checked: Set[str] = set()
    frontier = [start]
    while frontier:
        # batched 8-neighborhood of the frontier
        cells = np.array(frontier)
        lon, lat, lon_e, lat_e = nie.decode(cells, base)
        offs = [(0.0, 2.0), (2.0, 2.0), (2.0, 0.0), (2.0, -2.0),
                (0.0, -2.0), (-2.0, -2.0), (-2.0, 0.0), (-2.0, 2.0)]
        nb_lon = np.concatenate([lon + dx * lon_e for dx, _ in offs])
        nb_lat = np.concatenate([lat + dy * lat_e for _, dy in offs])
        nb_lon, nb_lat = normalize_lonlat(nb_lon, nb_lat)
        neighbors = nie.encode(nb_lon, nb_lat, length, base)

        new = []
        seen_batch = set()
        for c in neighbors:
            c = str(c)
            if c not in checked and c not in seen_batch:
                seen_batch.add(c)
                new.append(c)
        checked.update(new)
        if not new:
            break
        arr = np.array(new)
        blon, blat, blon_e, blat_e = nie.decode(arr, base)
        bounds = np.stack([blon - blon_e, blat - blat_e,
                           blon + blon_e, blat + blat_e], axis=1)
        hits = _boxes_intersect_shape(bounds, shape, shape_edges, first_pt)
        frontier = [new[i] for i in np.where(hits)[0]]
        valid.update(frontier)
    return valid


# enumeration grids beyond this many candidate boxes fall back to the BFS
# (sparse covers of huge extents, e.g. a world-spanning linestring at a
# deep cell length, where bbox enumeration would dwarf the kept set)
_ENUM_MAX_BOXES = 2_000_000


def _enum_cover(shape: Dict, seed_lon: float, seed_lat: float,
                length: int, base: int) -> Set[str]:
    """Single-batch bbox enumeration form of the BFS flood fill.

    For a *connected* shape the set of cells passing the keep test is
    8-connected (a continuous boundary/interior path crossing between cells
    always links adjacent cells), so flood fill from the seed and bbox
    enumeration with the SAME keep test return the same set — verified
    against the BFS on every golden and on 1110 oracle circles. One
    vectorized _boxes_intersect_shape call replaces O(levels) small-batch
    BFS rounds (~6x kernel speedup at 500 km circle / length-4 scale).

    Box bounds are computed directly as dyadic grid products, bit-identical
    to the decode() interval-halving bounds (exact float arithmetic on
    multiples of 360/2^n)."""
    total_bits = length * nie._BITS_PER_CHAR[base]
    lon_bits = (total_bits + 1) // 2
    lat_bits = total_bits // 2
    w = 360.0 / (1 << lon_bits)
    h = 180.0 / (1 << lat_bits)

    start = nie.encode_scalar(seed_lon, seed_lat, length, base)
    shape_edges = shp.shape_edges(shape)
    if len(shape_edges):
        first_pt = shape_edges[0, :2]
        xs = np.concatenate([shape_edges[:, 0], shape_edges[:, 2]])
        ys = np.concatenate([shape_edges[:, 1], shape_edges[:, 3]])
    else:
        first_pt = np.array(shp.shape_centroid(shape))
        xs = first_pt[:1]
        ys = first_pt[1:]

    # the keep test for circle/ellipse/ring kinds includes an ANALYTIC
    # corner-in-shape check whose geodesic reach can exceed the discretized
    # vertices' bbox by many lon-degrees near the poles (lon span of a
    # fixed-radius cap ~ reach / cos(lat)); widen the enumeration window to
    # the parametric reach, falling back to the full longitude range when
    # the cap wraps a pole or the antimeridian
    lon_lo, lon_hi = float(xs.min()), float(xs.max())
    lat_lo, lat_hi = float(ys.min()), float(ys.max())
    p = shape.get('params') or {}
    reach = {'circle': p.get('radius'), 'ellipse': p.get('semi_major'),
             'ring': p.get('outer_radius')}.get(shape['kind'])
    if reach is not None:
        from geostructures_spark.kernels.geodesy import EARTH_RADIUS_METERS
        # params may carry decimal.Decimal when built from SQL decimal
        # literals (Spark parses bare `200000.0` as DECIMAL)
        ang = math.degrees(float(reach) / EARTH_RADIUS_METERS)
        clon, clat = float(p['center_lon']), float(p['center_lat'])
        lat_lo = min(lat_lo, clat - ang)
        lat_hi = max(lat_hi, clat + ang)
        if lat_hi >= 90.0 or lat_lo <= -90.0:
            lon_lo, lon_hi = -180.0, 180.0
            lat_lo, lat_hi = max(lat_lo, -90.0), min(lat_hi, 90.0)
        else:
            max_abs = min(max(abs(lat_lo), abs(lat_hi)), 89.9999)
            lon_margin = ang / max(math.cos(math.radians(max_abs)), 1e-12)
            ll = min(lon_lo, clon - lon_margin)
            lh = max(lon_hi, clon + lon_margin)
            if ll < -180.0 or lh > 180.0 or lon_margin >= 179.0:
                lon_lo, lon_hi = -180.0, 180.0
            else:
                lon_lo, lon_hi = ll, lh

    i0 = max(0, int(np.floor((lon_lo + 180.0) / w)) - 1)
    i1 = min((1 << lon_bits) - 1, int(np.floor((lon_hi + 180.0) / w)) + 1)
    j0 = max(0, int(np.floor((lat_lo + 90.0) / h)) - 1)
    j1 = min((1 << lat_bits) - 1, int(np.floor((lat_hi + 90.0) / h)) + 1)
    n_boxes = (i1 - i0 + 1) * (j1 - j0 + 1)
    if n_boxes <= 0 or n_boxes > _ENUM_MAX_BOXES:
        return _bfs_cover(shape, seed_lon, seed_lat, length, base)

    ii, jj = np.meshgrid(np.arange(i0, i1 + 1, dtype=np.float64),
                         np.arange(j0, j1 + 1, dtype=np.float64),
                         indexing='ij')
    ii = ii.ravel()
    jj = jj.ravel()
    # chunk so the (4*boxes x edges) intersect matrix and its temporaries
    # stay small (peak-memory bound; large fresh allocations demand-fault
    # at ~6 MB/s on this host's hypervisor)
    chunk = max(256, 160_000 // (4 * max(len(shape_edges), 1)))
    keep_lon = []
    keep_lat = []
    for s0 in range(0, len(ii), chunk):
        ic = ii[s0:s0 + chunk]
        jc = jj[s0:s0 + chunk]
        bounds = np.stack([-180.0 + ic * w, -90.0 + jc * h,
                           -180.0 + (ic + 1.0) * w, -90.0 + (jc + 1.0) * h],
                          axis=1)
        hits = _boxes_intersect_shape(bounds, shape, shape_edges, first_pt)
        keep_lon.append(-180.0 + (ic[hits] + 0.5) * w)
        keep_lat.append(-90.0 + (jc[hits] + 0.5) * h)
    cen_lon = np.concatenate(keep_lon) if keep_lon else np.zeros(0)
    cen_lat = np.concatenate(keep_lat) if keep_lat else np.zeros(0)
    cells = set(map(str, nie.encode(cen_lon, cen_lat, length, base)))
    cells.add(start)  # the seed cell is always kept (reference geohash.py:667)
    return cells


def cover_shape(shape: Dict, length: int, base: int) -> Set[str]:
    """NiemeyerHasher.hash_shape dispatch (reference geohash.py:746-764)."""
    ensure_malloc_tuned()
    kind = shape['kind']
    if kind in shp.MULTI_KINDS:
        out: Set[str] = set()
        for child in shape['children']:
            out |= cover_shape(child, length, base)
        return out
    if kind == 'point':
        p = shape['params']
        return {nie.encode_scalar(p['center_lon'], p['center_lat'], length, base)}
    if kind == 'linestring':
        v = np.asarray(shape['rings'][0], dtype=np.float64)
        return _enum_cover(shape, float(v[0, 0]), float(v[0, 1]), length, base)
    # polygon-like: seed from the first bounding coordinate (geohash.py:667)
    outline = shp.shape_linear_rings(shape)[0]
    return _enum_cover(shape, float(outline[0, 0]), float(outline[0, 1]), length, base)


def hash_coordinates(lons, lats, length: int, base: int) -> Dict[str, int]:
    """NiemeyerHasher.hash_coordinates (reference geohash.py:722-744) —
    {cell: count}. In the engine this is groupBy(cell).count(); this kernel
    exists for golden parity tests."""
    ensure_malloc_tuned()
    cells = nie.encode(np.asarray(lons, dtype=np.float64),
                       np.asarray(lats, dtype=np.float64), length, base)
    out: Dict[str, int] = {}
    for c in cells:
        out[str(c)] = out.get(str(c), 0) + 1
    return out
