"""H3 shape-cover kernels: polyfill and linestring hashing.

Reimplements the covering semantics the reference gets from the h3 C
library (geohash.py:347-418):

- ``polygon_to_cells``: centroid-containment polyfill — the set of cells
  whose *center* falls inside the outline (and outside any hole).
- ``linestring_cells``: the reference's buffered-path filter
  (geohash.py:374-418): per segment, candidate cells = path cells + their
  1-ring, kept iff one of the cell's boundary edges intersects the segment
  (exact find_line_intersection semantics, _geometry.py:346-428).

Batched design: BFS levels expand the whole frontier at once — 12 probe
points around each frontier cell's center (vectorized latlng_to_cell over
the full probe matrix) discover neighbors without per-cell boundary
computation; the region test and the final membership predicate are
vectorized over all candidates. Cell centers are memoized per call.
"""

from __future__ import annotations

import math
from typing import Dict, List, Set, Tuple

import numpy as np

from geostructures_spark.kernels import ensure_malloc_tuned

from geostructures_spark.kernels import geometry as geom
from geostructures_spark.kernels import h3_core as H
from geostructures_spark.kernels import shapes as shp
from geostructures_spark.kernels.geodesy import haversine_distance

__all__ = ['polygon_to_cells', 'linestring_cells', 'cover_shape_h3',
           'cell_to_ring_lonlat']

# approximate hex circumradius (km) per resolution, used only for candidate
# padding / sampling density (not for membership decisions)
_HEX_RADIUS_KM = [1281.256, 483.057, 182.513, 68.979, 26.072, 9.854, 3.725,
                  1.406, 0.531, 0.201, 0.076, 0.0287, 0.0108, 0.0041,
                  0.0015, 0.00058]

# probe pattern: 12 azimuths x 1 distance (~center-to-neighbor-center)
_PROBE_AZ = np.radians(np.arange(0, 360, 30, dtype=np.float64))


def cell_to_ring_lonlat(cell: str) -> np.ndarray:
    """Cell boundary as a self-closing (n, 2) [lon, lat] ring."""
    bnd = H.cell_to_boundary(cell)
    ring = np.array([[lng, lat] for lat, lng in bnd], dtype=np.float64)
    return np.vstack([ring, ring[:1]])


class _CellIndex:
    """Memoized cell centers + batched BFS expansion for one resolution."""

    def __init__(self, res: int):
        self.res = res
        self.centers: Dict[str, Tuple[float, float]] = {}  # cell -> (lat, lng)
        # neighbor-center distance ~ sqrt(3) * inradius ~ 1.5 * circumradius
        self.probe_rad = math.radians(_HEX_RADIUS_KM[res] / 111.0) * 1.5

    def center(self, cell: str) -> Tuple[float, float]:
        c = self.centers.get(cell)
        if c is None:
            c = H.cell_to_latlng(cell)
            self.centers[cell] = c
        return c

    def expand(self, frontier: List[str]) -> Set[str]:
        """All cells touched by the 12-probe ring around each frontier
        cell's center (one vectorized latlng_to_cell call)."""
        if not frontier:
            return set()
        lats = np.empty(len(frontier))
        lngs = np.empty(len(frontier))
        for i, c in enumerate(frontier):
            lats[i], lngs[i] = self.center(c)
        rl = np.radians(lats)[:, None]
        rg = np.radians(lngs)[:, None]
        d = self.probe_rad
        plat = np.arcsin(np.clip(
            np.sin(rl) * math.cos(d) +
            np.cos(rl) * math.sin(d) * np.cos(_PROBE_AZ)[None, :], -1, 1))
        plng = rg + np.arctan2(
            np.sin(_PROBE_AZ)[None, :] * math.sin(d) * np.cos(rl),
            math.cos(d) - np.sin(rl) * np.sin(plat))
        cells = H.latlng_to_cell(np.degrees(plat).ravel(),
                                 np.degrees(plng).ravel(), self.res)
        return {H.h3_to_str(int(c)) for c in cells}


def _seed_cells(outline: np.ndarray, res: int, extra_lon=None, extra_lat=None) -> Set[str]:
    seeds_lon = [outline[:, 0]]
    seeds_lat = [outline[:, 1]]
    step_km = _HEX_RADIUS_KM[res] * 0.8
    for a, b in zip(outline[:-1], outline[1:]):
        d_km = float(haversine_distance(a[0], a[1], b[0], b[1])) / 1000.0
        k = int(d_km / step_km) + 1
        if k > 1:
            t = np.linspace(0, 1, k + 1)
            seeds_lon.append(a[0] + (b[0] - a[0]) * t)
            seeds_lat.append(a[1] + (b[1] - a[1]) * t)
    if extra_lon is not None:
        seeds_lon.append(np.atleast_1d(extra_lon))
        seeds_lat.append(np.atleast_1d(extra_lat))
    slon = np.concatenate(seeds_lon)
    slat = np.concatenate(seeds_lat)
    # outline may be in an unwrapped (antimeridian-continuous) frame;
    # wrap seeds back into [-180, 180) for the encoder
    slon = np.mod(slon + 180.0, 360.0) - 180.0
    return {H.h3_to_str(int(c)) for c in H.latlng_to_cell(slat, slon, res)}


def _unwrap_ring(ring: np.ndarray) -> np.ndarray:
    """Make a wrapped (normalized-longitude) ring continuous: any edge
    jumping more than 180 deg shifts the rest of the ring by ±360, so an
    antimeridian-crossing outline becomes a plain polygon in an extended
    frame. Identity for rings that don't wrap."""
    ring = np.asarray(ring, dtype=np.float64)
    lon = ring[:, 0]
    d = np.diff(lon)
    adj = np.where(d > 180.0, -360.0, np.where(d < -180.0, 360.0, 0.0))
    out = ring.copy()
    out[1:, 0] = lon[1:] + np.cumsum(adj)
    return out


def polygon_to_cells(rings: List[np.ndarray], res: int) -> Set[str]:
    """Centroid-containment polyfill of [outline, *holes] rings.

    Antimeridian-crossing outlines are handled correctly (unwrapped into
    a continuous frame; candidate centers shifted into that frame before
    the PIP keep test). The reference's own H3 dependency declares
    transmeridian polygons unsupported (h3 polyfill produces the
    lat-band complement there), so this is a deliberate
    correctness-over-parity divergence — verified by the independent
    SQL cover replay (oracles/h3_sql.py, r3)."""
    ensure_malloc_tuned()
    outline = _unwrap_ring(np.asarray(rings[0], dtype=np.float64))
    frame = float(outline[0, 0])
    min_lon, min_lat, max_lon, max_lat = geom.ring_bounds(outline)
    pad = 2.2 * _HEX_RADIUS_KM[res] / 111.0
    b0, b1 = min_lon - pad, max_lon + pad
    b2, b3 = min_lat - pad, max_lat + pad

    cx, cy = geom.polygon_centroid(outline)
    idx = _CellIndex(res)
    checked: Set[str] = _seed_cells(outline, res, cx, cy)
    frontier = list(checked)
    while frontier:
        new = idx.expand(frontier) - checked
        checked |= new
        frontier = []
        for cell in new:
            la, ln = idx.center(cell)
            ln = ln + 360.0 * round((frame - ln) / 360.0)
            if b0 <= ln <= b1 and b2 <= la <= b3:
                frontier.append(cell)

    cells = sorted(checked)
    lons = np.array([idx.center(c)[1] for c in cells])
    lats = np.array([idx.center(c)[0] for c in cells])
    lons = lons + 360.0 * np.round((frame - lons) / 360.0)
    inside = geom.points_in_polygon(lons, lats, outline)
    for hole in rings[1:]:
        if inside.any():
            hole_u = _unwrap_ring(np.asarray(hole))
            hole_u[:, 0] += 360.0 * round((frame - hole_u[0, 0]) / 360.0)
            inside &= ~geom.points_in_polygon(lons, lats, hole_u)
    return {c for c, ok in zip(cells, inside) if ok}


def linestring_cells(vertices: np.ndarray, res: int) -> Set[str]:
    """The reference's _hash_linestring (geohash.py:374-418): per segment,
    path cells + 1-ring buffer, filtered by boundary-edge intersection with
    the segment (vectorized intersect_matrix, same arithmetic as
    find_line_intersection)."""
    ensure_malloc_tuned()
    vertices = np.asarray(vertices, dtype=np.float64)
    idx = _CellIndex(res)
    out: Set[str] = set()
    step_km = _HEX_RADIUS_KM[res] * 0.7
    for a, b in zip(vertices[:-1], vertices[1:]):
        d_km = float(haversine_distance(a[0], a[1], b[0], b[1])) / 1000.0
        k = max(int(d_km / step_km) + 1, 1)
        t = np.linspace(0, 1, k + 1)
        slon = a[0] + (b[0] - a[0]) * t
        slat = a[1] + (b[1] - a[1]) * t
        path = {H.h3_to_str(int(c)) for c in H.latlng_to_cell(slat, slon, res)}
        cand = sorted(path | idx.expand(sorted(path)))

        seg = np.array([[a[0], a[1], b[0], b[1]]])
        for cell in cand:
            if cell in out:
                continue
            ring = cell_to_ring_lonlat(cell)
            edges = np.hstack([ring[:-1], ring[1:]])
            if geom.intersect_matrix(seg, edges).any():
                out.add(cell)
    return out


def cover_shape_h3(shape: Dict, res: int) -> Set[str]:
    """H3Hasher.hash_shape dispatch (reference geohash.py:512-542)."""
    ensure_malloc_tuned()
    kind = shape['kind']
    if kind in shp.MULTI_KINDS:
        out: Set[str] = set()
        for child in shape['children']:
            out |= cover_shape_h3(child, res)
        return out
    if kind == 'point':
        p = shape['params']
        return {H.latlng_to_cell_scalar(p['center_lat'], p['center_lon'], res)}
    if kind == 'linestring':
        return linestring_cells(np.asarray(shape['rings'][0]), res)
    rings = shp.shape_linear_rings(shape)
    return polygon_to_cells(rings, res)
