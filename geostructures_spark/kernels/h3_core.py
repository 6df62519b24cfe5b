"""From-scratch H3 core (pure NumPy): geo <-> cell, boundary, neighbors.

Implements the public H3 cell-indexing algorithm (icosahedral gnomonic
projection -> face IJK+ coordinates -> hierarchical aperture-7 indexing)
over the tables in h3_tables.py. The reference library defers these
operations to the ``h3`` C package (geohash.py:328-542), which cannot be
installed in this environment (SURVEY.md §7.1) — golden cell ids embedded
in the reference's tests pin parity with the C library.

Supported (the operations the reference uses): latlng_to_cell (vectorized),
cell_to_latlng, cell_to_boundary (hexagons incl. cross-face overage;
pentagon boundaries via the pentagon path), get_resolution, neighbors
(geometric), and the covering primitives in h3_cover.py.
"""

from __future__ import annotations

import math
from functools import lru_cache
from typing import Dict, List, Tuple

import numpy as np

from geostructures_spark.kernels import ensure_malloc_tuned

from geostructures_spark.kernels import h3_tables as T

__all__ = [
    'latlng_to_cell', 'latlng_to_cell_scalar', 'cell_to_latlng',
    'cell_to_boundary', 'get_resolution', 'is_pentagon', 'h3_to_str',
    'str_to_h3', 'neighbors_geometric',
    'cell_to_parent', 'cell_to_children', 'compact_cells', 'uncompact_cells',
]

_EPSILON = 1e-10

# direction digits: CENTER=0, K=1, J=2, JK=3, I=4, IK=5, IJ=6
_UNIT_VECS = np.array([
    [0, 0, 0], [0, 0, 1], [0, 1, 0], [0, 1, 1],
    [1, 0, 0], [1, 0, 1], [1, 1, 0],
], dtype=np.int64)

_ROT60CCW_DIGIT = np.array([0, 5, 3, 1, 6, 4, 2], dtype=np.int64)  # d -> ccw
_ROT60CW_DIGIT = np.array([0, 3, 6, 2, 5, 1, 4], dtype=np.int64)   # d -> cw

# powers of the ccw digit rotation (for vectorized index assembly)
_ROT60CCW_POW = np.zeros((6, 7), dtype=np.int64)
_ROT60CCW_POW[0] = np.arange(7)
for _r in range(1, 6):
    _ROT60CCW_POW[_r] = _ROT60CCW_DIGIT[_ROT60CCW_POW[_r - 1]]

_PENT_BASE_MASK = np.array([b[2] == 1 for b in T.BASE_CELL_DATA], dtype=bool)

# (bc, face) -> base_cell_is_cw_offset, tabulated for vectorized lookup
_CW_OFFSET_TAB = np.zeros((T.NUM_BASE_CELLS, 20), dtype=bool)
for _bc, _b in enumerate(T.BASE_CELL_DATA):
    for _f in _b[3]:
        if _f >= 0:  # (-1, -1) marks a pentagon with no cw-offset faces
            _CW_OFFSET_TAB[_bc, _f] = True

# substrate-grid vertices of an origin-centered cell (aperture 33r)
_VERTS_CII = np.array([[2, 1, 0], [1, 2, 0], [0, 2, 1],
                       [0, 1, 2], [1, 0, 2], [2, 0, 1]], dtype=np.int64)
_VERTS_CIII = np.array([[5, 4, 0], [1, 5, 0], [0, 5, 4],
                        [0, 1, 5], [4, 0, 5], [5, 0, 1]], dtype=np.int64)

_M_SIN60 = math.sqrt(3.0) / 2.0


def _is_class_iii(res: int) -> bool:
    return res % 2 == 1


# --- CoordIJK ops (scalar tuples and vectorized (n,3) arrays) -------------

def _ijk_normalize_arr(ijk: np.ndarray) -> np.ndarray:
    i, j, k = ijk[:, 0].copy(), ijk[:, 1].copy(), ijk[:, 2].copy()
    neg = i < 0
    j[neg] -= i[neg]; k[neg] -= i[neg]; i[neg] = 0
    neg = j < 0
    i[neg] -= j[neg]; k[neg] -= j[neg]; j[neg] = 0
    neg = k < 0
    i[neg] -= k[neg]; j[neg] -= k[neg]; k[neg] = 0
    m = np.minimum(np.minimum(i, j), k)
    return np.stack([i - m, j - m, k - m], axis=1)


def _ijk_normalize(c: Tuple[int, int, int]) -> Tuple[int, int, int]:
    i, j, k = c
    if i < 0:
        j -= i; k -= i; i = 0
    if j < 0:
        i -= j; k -= j; j = 0
    if k < 0:
        i -= k; j -= k; k = 0
    m = min(i, j, k)
    return (i - m, j - m, k - m)


def _up_ap7_arr(ijk: np.ndarray) -> np.ndarray:
    i = (ijk[:, 0] - ijk[:, 2]).astype(np.float64)
    j = (ijk[:, 1] - ijk[:, 2]).astype(np.float64)
    ni = np.round((3 * i - j) / 7.0).astype(np.int64)
    nj = np.round((i + 2 * j) / 7.0).astype(np.int64)
    return _ijk_normalize_arr(np.stack([ni, nj, np.zeros_like(ni)], axis=1))


def _up_ap7r_arr(ijk: np.ndarray) -> np.ndarray:
    i = (ijk[:, 0] - ijk[:, 2]).astype(np.float64)
    j = (ijk[:, 1] - ijk[:, 2]).astype(np.float64)
    ni = np.round((2 * i + j) / 7.0).astype(np.int64)
    nj = np.round((3 * j - i) / 7.0).astype(np.int64)
    return _ijk_normalize_arr(np.stack([ni, nj, np.zeros_like(ni)], axis=1))


def _down_ap7_arr(ijk: np.ndarray) -> np.ndarray:
    # res r unit vectors in res r+1 (ccw): i->(3,0,1), j->(1,3,0), k->(0,1,3)
    i, j, k = ijk[:, 0], ijk[:, 1], ijk[:, 2]
    return _ijk_normalize_arr(np.stack(
        [3 * i + 1 * j + 0 * k, 0 * i + 3 * j + 1 * k, 1 * i + 0 * j + 3 * k], axis=1))


def _down_ap7r_arr(ijk: np.ndarray) -> np.ndarray:
    # cw: i->(3,1,0), j->(0,3,1), k->(1,0,3)
    i, j, k = ijk[:, 0], ijk[:, 1], ijk[:, 2]
    return _ijk_normalize_arr(np.stack(
        [3 * i + 0 * j + 1 * k, 1 * i + 3 * j + 0 * k, 0 * i + 1 * j + 3 * k], axis=1))


def _down_ap3(c):
    # ccw: i->(2,0,1), j->(1,2,0), k->(0,1,2)
    i, j, k = c
    return _ijk_normalize((2 * i + j, 2 * j + k, i + 2 * k))


def _down_ap3r(c):
    # cw: i->(2,1,0), j->(0,2,1), k->(1,0,2)
    i, j, k = c
    return _ijk_normalize((2 * i + k, i + 2 * j, j + 2 * k))


def _down_ap7(c):
    i, j, k = c
    return _ijk_normalize((3 * i + 1 * j, 3 * j + k, i + 3 * k))


def _down_ap7r(c):
    i, j, k = c
    return _ijk_normalize((3 * i + k, i + 3 * j, j + 3 * k))


def _ijk_rotate60_ccw(c):
    i, j, k = c
    # i->(1,1,0), j->(0,1,1), k->(1,0,1)
    return _ijk_normalize((i + k, i + j, j + k))


def _unit_ijk_to_digit_arr(ijk: np.ndarray) -> np.ndarray:
    n = _ijk_normalize_arr(ijk)
    digit = np.full(len(n), -1, dtype=np.int64)
    for d in range(7):
        hit = (n == _UNIT_VECS[d]).all(axis=1)
        digit[hit] = d
    return digit


# --- geo -> face / hex2d (vectorized) --------------------------------------

_FACE_LAT = np.array([c[0] for c in T.FACE_CENTER_GEO])
_FACE_LON = np.array([c[1] for c in T.FACE_CENTER_GEO])
_FACE_AZ = np.array(T.FACE_AXES_AZ)
# Unit vectors of the face centers, (cos lat cos lon, cos lat sin lon,
# sin lat), written with repr(): numpy's SIMD cos/sin may round the last bit
# differently on another CPU, and the H3 oracle SQL embeds these doubles.
_FACE_XYZ = np.array([
    [0.21993077914045855, 0.6583691780275012, 0.7198475378926175],
    [-0.21392348345014003, 0.14781718295506904, 0.9656017935214212],
    [0.10926252787848505, -0.4811951572873199, 0.8697775121287252],
    [0.742856730158683, -0.3593941678277979, 0.5648005936517013],
    [0.8112534709140962, 0.34489532376394366, 0.4721387736413907],
    [-0.1055498149613977, 0.9794457296411406, 0.17188746100093644],
    [-0.8075407579970086, 0.15335524858987692, 0.5695261994882709],
    [-0.2846148069787842, -0.8644080972654221, 0.4144792552473549],
    [0.7405621473854523, -0.6673299564565477, -0.07898376463267545],
    [0.8512303986474257, 0.4722343788582734, -0.2289137388687832],
    [-0.7405621473854522, 0.6673299564565478, 0.07898376463267545],
    [-0.8512303986474258, -0.4722343788582733, 0.2289137388687832],
    [0.1055498149613976, -0.9794457296411406, -0.17188746100093644],
    [0.8075407579970086, -0.15335524858987692, -0.5695261994882709],
    [0.2846148069787841, 0.8644080972654222, -0.4144792552473549],
    [-0.7428567301586829, 0.35939416782779804, -0.5648005936517013],
    [-0.811253470914096, -0.34489532376394383, -0.4721387736413907],
    [-0.2199307791404586, -0.6583691780275012, -0.7198475378926175],
    [0.21392348345014006, -0.14781718295506904, -0.9656017935214212],
    [-0.1092625278784851, 0.4811951572873198, -0.8697775121287252],
])


def _pos_angle(a):
    tau = 2 * math.pi
    return np.where(a < 0, a + tau, np.where(a >= tau, a - tau, a))


def _geo_to_hex2d(lat: np.ndarray, lon: np.ndarray, res: int):
    """(lat, lon) radians -> (face, x, y) on that face's res grid."""
    xyz = np.stack([np.cos(lat) * np.cos(lon),
                    np.cos(lat) * np.sin(lon),
                    np.sin(lat)], axis=1)
    # squared euclidean distance to each face center; min wins
    sqd = ((xyz[:, None, :] - _FACE_XYZ[None, :, :]) ** 2).sum(axis=2)
    face = sqd.argmin(axis=1)
    fsqd = sqd[np.arange(len(face)), face]
    r = np.arccos(np.clip(1 - fsqd / 2, -1.0, 1.0))

    flat = _FACE_LAT[face]
    flon = _FACE_LON[face]
    az = np.arctan2(np.cos(lat) * np.sin(lon - flon),
                    np.cos(flat) * np.sin(lat)
                    - np.sin(flat) * np.cos(lat) * np.cos(lon - flon))
    theta = _pos_angle(_FACE_AZ[face] - _pos_angle(az))
    if _is_class_iii(res):
        theta = _pos_angle(theta - T.M_AP7_ROT_RADS)

    r = np.tan(r) / T.RES0_U_GNOMONIC
    r = r * (T.M_SQRT7 ** res)
    x = r * np.cos(theta)
    y = r * np.sin(theta)
    x[fsqd < _EPSILON ** 2] = 0.0
    y[fsqd < _EPSILON ** 2] = 0.0
    return face, x, y


def _hex2d_to_coordijk(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """The published hex-grid rounding (coordijk 'hex2dToCoordIJK'),
    vectorized with masks; bit-compatible branch structure."""
    a1 = np.abs(x)
    a2 = np.abs(y)
    x2 = a2 / _M_SIN60
    x1 = a1 + x2 / 2.0
    m1 = x1.astype(np.int64)
    m2 = x2.astype(np.int64)
    r1 = x1 - m1
    r2 = x2 - m2

    i = np.zeros(len(x), dtype=np.int64)
    j = np.zeros(len(x), dtype=np.int64)

    c1 = r1 < 0.5
    c1a = c1 & (r1 < 1.0 / 3.0)
    c1a_lo = c1a & (r2 < (1.0 + r1) / 2.0)
    i[c1a_lo] = m1[c1a_lo]; j[c1a_lo] = m2[c1a_lo]
    c1a_hi = c1a & ~c1a_lo
    i[c1a_hi] = m1[c1a_hi]; j[c1a_hi] = m2[c1a_hi] + 1
    c1b = c1 & ~c1a
    c1b_j = r2 < (1.0 - r1)
    j[c1b & c1b_j] = m2[c1b & c1b_j]
    j[c1b & ~c1b_j] = m2[c1b & ~c1b_j] + 1
    c1b_i = ((1.0 - r1) <= r2) & (r2 < (2.0 * r1))
    i[c1b & c1b_i] = m1[c1b & c1b_i] + 1
    i[c1b & ~c1b_i] = m1[c1b & ~c1b_i]

    c2 = ~c1
    c2a = c2 & (r1 < 2.0 / 3.0)
    c2a_j = r2 < (1.0 - r1)
    j[c2a & c2a_j] = m2[c2a & c2a_j]
    j[c2a & ~c2a_j] = m2[c2a & ~c2a_j] + 1
    c2a_i = ((2.0 * r1 - 1.0) < r2) & (r2 < (1.0 - r1))
    i[c2a & c2a_i] = m1[c2a & c2a_i]
    i[c2a & ~c2a_i] = m1[c2a & ~c2a_i] + 1
    c2b = c2 & ~c2a
    c2b_lo = c2b & (r2 < (r1 / 2.0))
    i[c2b_lo] = m1[c2b_lo] + 1; j[c2b_lo] = m2[c2b_lo]
    c2b_hi = c2b & ~c2b_lo
    i[c2b_hi] = m1[c2b_hi] + 1; j[c2b_hi] = m2[c2b_hi] + 1

    # fold across the axes if necessary
    xneg = x < 0.0
    jeven = (j % 2) == 0
    m = xneg & jeven
    i[m] = i[m] - 2 * (i[m] - j[m] // 2)
    m = xneg & ~jeven
    i[m] = i[m] - (2 * (i[m] - (j[m] + 1) // 2) + 1)
    yneg = y < 0.0
    i[yneg] = i[yneg] - (2 * j[yneg] + 1) // 2
    j[yneg] = -j[yneg]

    return _ijk_normalize_arr(np.stack([i, j, np.zeros_like(i)], axis=1))


def _ijk_to_hex2d(ijk) -> Tuple[np.ndarray, np.ndarray]:
    ijk = np.atleast_2d(np.asarray(ijk, dtype=np.int64))
    i = ijk[:, 0] - ijk[:, 2]
    j = ijk[:, 1] - ijk[:, 2]
    x = i - 0.5 * j
    y = j * _M_SIN60
    return x, y


def _hex2d_to_geo(x: float, y: float, face: int, res: int,
                  substrate: bool) -> Tuple[float, float]:
    """(x, y) on a face grid -> (lat, lon) radians."""
    r = math.hypot(x, y)
    if r < _EPSILON:
        return T.FACE_CENTER_GEO[face]
    theta = math.atan2(y, x)
    r /= T.M_SQRT7 ** res
    if substrate:
        r /= 3.0
        if _is_class_iii(res):
            r /= T.M_SQRT7
    r *= T.RES0_U_GNOMONIC
    r = math.atan(r)
    if not substrate and _is_class_iii(res):
        theta = (theta + T.M_AP7_ROT_RADS) % (2 * math.pi)
    theta = (T.FACE_AXES_AZ[face] - theta) % (2 * math.pi)
    return _geo_az_distance(T.FACE_CENTER_GEO[face], theta, r)


def _geo_az_distance(p, az, distance):
    """Spherical destination (lat, lon in radians)."""
    lat1, lon1 = p
    if distance < _EPSILON:
        return (lat1, lon1)
    az = az % (2 * math.pi)
    if az < _EPSILON or abs(az - math.pi) < _EPSILON:
        # due north/south
        lat2 = lat1 + distance if az < _EPSILON else lat1 - distance
        if abs(lat2 - math.pi / 2) < _EPSILON:
            return (math.pi / 2, 0.0)
        if abs(lat2 + math.pi / 2) < _EPSILON:
            return (-math.pi / 2, 0.0)
        return (lat2, lon1)
    sinlat = math.sin(lat1) * math.cos(distance) + \
        math.cos(lat1) * math.sin(distance) * math.cos(az)
    sinlat = max(-1.0, min(1.0, sinlat))
    lat2 = math.asin(sinlat)
    if abs(lat2 - math.pi / 2) < _EPSILON:
        return (math.pi / 2, 0.0)
    if abs(lat2 + math.pi / 2) < _EPSILON:
        return (-math.pi / 2, 0.0)
    denom = math.cos(lat1) * math.cos(lat2)
    sinlon = math.sin(az) * math.sin(distance) / math.cos(lat2)
    coslon = (math.cos(distance) - math.sin(lat1) * sinlat) / denom
    sinlon = max(-1.0, min(1.0, sinlon))
    coslon = max(-1.0, min(1.0, coslon))
    lon2 = lon1 + math.atan2(sinlon, coslon)
    # constrain to [-pi, pi]
    while lon2 > math.pi:
        lon2 -= 2 * math.pi
    while lon2 < -math.pi:
        lon2 += 2 * math.pi
    return (lat2, lon2)


# --- derived tables ---------------------------------------------------------

@lru_cache(maxsize=1)
def _base_cell_centers_xyz() -> np.ndarray:
    out = np.zeros((T.NUM_BASE_CELLS, 3))
    for bc, (face, ijk, _, _) in enumerate(T.BASE_CELL_DATA):
        x, y = _ijk_to_hex2d(np.array([ijk]))
        lat, lon = _hex2d_to_geo(float(x[0]), float(y[0]), face, 0, False)
        out[bc] = (math.cos(lat) * math.cos(lon),
                   math.cos(lat) * math.sin(lon), math.sin(lat))
    return out


@lru_cache(maxsize=1)
def face_ijk_base_cells():
    """Derived [20][3][3][3] -> (base_cell, ccwRot60); -1 where invalid.

    Base cell: the res-0 cell whose home center coincides with this face
    lattice point (nearest-match for distortion-displaced overage entries).
    Rotation: seeded by matching the geo position of the res-1 child in the
    I direction, then **calibrated** in _calibrated_tables() against the
    inverse (cell -> center) pipeline, which depends only on the verified
    baseCellData + face_neighbors transforms. The calibration enforces the
    defining invariant latlng_to_cell(cell_to_latlng(h)) == h for every
    reachable table entry (pentagon entries in particular, where the naive
    lattice child-match does not model the deleted-k-subsequence digit
    rotation).
    """
    centers = _base_cell_centers_xyz()
    bc_tab = np.full((20, 3, 3, 3), -1, dtype=np.int64)
    rot_tab = np.zeros((20, 3, 3, 3), dtype=np.int64)

    def geo_xyz(face, ijk, res, substrate=False):
        x, y = _ijk_to_hex2d(np.array([ijk]))
        lat, lon = _hex2d_to_geo(float(x[0]), float(y[0]), face, res, substrate)
        return np.array([math.cos(lat) * math.cos(lon),
                         math.cos(lat) * math.sin(lon), math.sin(lat)])

    for f in range(20):
        for i in range(3):
            for j in range(3):
                for k in range(3):
                    p = geo_xyz(f, (i, j, k), 0)
                    d = np.linalg.norm(centers - p[None, :], axis=1)
                    bc = int(d.argmin())
                    # on-face/edge entries match exactly; beyond-edge entries
                    # are displaced by gnomonic distortion, far less than the
                    # ~30 deg cell spacing — nearest still identifies them.
                    # Entries farther than ~17 deg are out of the reachable
                    # domain and stay invalid.
                    if d[bc] > 0.30:
                        continue  # out-of-domain entry
                    bc_tab[f, i, j, k] = bc
                    home_face, home_ijk, is_pent, _ = T.BASE_CELL_DATA[bc]
                    # child of this cell in direction I (4), res 1, from
                    # face f's system
                    cf = _down_ap7((i, j, k))
                    cf = _ijk_normalize(tuple(np.array(cf) + _UNIT_VECS[4]))
                    target = geo_xyz(f, cf, 1)
                    best_r, best_d = 0, 1e9
                    dd = 4
                    for r in range(6):
                        ch = _down_ap7(home_ijk)
                        ch = _ijk_normalize(tuple(np.array(ch) + _UNIT_VECS[dd]))
                        cand = geo_xyz(home_face, ch, 1)
                        dist = float(np.linalg.norm(cand - target))
                        if dist < best_d:
                            best_d, best_r = dist, r
                        dd = int(_ROT60CCW_DIGIT[dd])
                    rot_tab[f, i, j, k] = best_r
    return bc_tab, rot_tab


@lru_cache(maxsize=1)
def face_neighbors():
    """Derived per-face overage transforms: {face: {quadrant: (new_face,
    ccwRot60, translate)}} for quadrants 'ij', 'ki', 'jk', valid on the
    res-0 Class II unit grid (translate scales by unitScaleByCIIres).

    Solved from the lattice coordinates of the shared-edge points: the two
    faces' grids agree exactly on the edge, giving three correspondences
    that pin the affine (rotate60^r + translate) map.
    """
    out = {}
    # solved on the res-2 Class II grid (maxDim 14, unitScale 7): three
    # on-edge lattice points (exact in both faces) pin (g, r·t) up to a
    # collinear ambiguity; one just-beyond-edge point (one lattice step into
    # g, where g's lattice is exact) disambiguates the rotation.
    scale = 7  # unitScaleByCIIres[2]
    quadrant_pts = {
        'ij': ([(14, 0, 0), (7, 7, 0), (0, 14, 0)], (8, 7, 0)),
        'ki': ([(14, 0, 0), (7, 0, 7), (0, 0, 14)], (8, 0, 7)),
        'jk': ([(0, 14, 0), (0, 7, 7), (0, 0, 14)], (0, 8, 7)),
    }

    def geo_of(face, ijk, res):
        x, y = _ijk_to_hex2d(np.array([ijk]))
        return _hex2d_to_geo(float(x[0]), float(y[0]), face, res, False)

    def latlon_xyz(lat, lon):
        return np.array([math.cos(lat) * math.cos(lon),
                         math.cos(lat) * math.sin(lon), math.sin(lat)])

    def coord_on_face(face, lat, lon, res):
        """Continuous res-`res` lattice coords of a geo point projected
        from `face` (Class II, no aperture rotation)."""
        flat, flon = T.FACE_CENTER_GEO[face]
        xyz = latlon_xyz(lat, lon)
        fxyz = latlon_xyz(flat, flon)
        sqd = float(((xyz - fxyz) ** 2).sum())
        r = math.acos(max(-1.0, min(1.0, 1 - sqd / 2)))
        az = math.atan2(math.cos(lat) * math.sin(lon - flon),
                        math.cos(flat) * math.sin(lat)
                        - math.sin(flat) * math.cos(lat) * math.cos(lon - flon))
        theta = (T.FACE_AXES_AZ[face] - (az % (2 * math.pi))) % (2 * math.pi)
        r = math.tan(r) / T.RES0_U_GNOMONIC * (T.M_SQRT7 ** res)
        return r * math.cos(theta), r * math.sin(theta)

    for f in range(20):
        out[f] = {}
        for quad, (pts, beyond) in quadrant_pts.items():
            # neighbor face: nearest face center to the edge midpoint
            mid_lat, mid_lon = geo_of(f, pts[1], 2)
            mxyz = latlon_xyz(mid_lat, mid_lon)
            d = ((_FACE_XYZ - mxyz[None, :]) ** 2).sum(axis=1)
            order = np.argsort(d)
            g = int(order[0]) if int(order[0]) != f else int(order[1])

            def g_coords(p):
                lat, lon = geo_of(f, p, 2)
                x, y = coord_on_face(g, lat, lon, 2)
                return np.asarray(
                    _hex2d_to_coordijk(np.array([x]), np.array([y]))[0],
                    dtype=np.int64)

            src = [np.array(p, dtype=np.int64) for p in pts + [beyond]]
            dst = [g_coords(p) for p in pts + [beyond]]

            sol = None
            for r in range(6):
                def rot_r(c):
                    t = tuple(int(v) for v in c)
                    for _ in range(r):
                        t = _ijk_rotate60_ccw(t)
                    return np.array(_ijk_normalize(t), dtype=np.int64)
                t0 = dst[0] - rot_r(src[0])
                ok = all(
                    tuple(_ijk_normalize(tuple(rot_r(s) + t0)))
                    == tuple(_ijk_normalize(tuple(dd)))
                    for s, dd in zip(src[1:], dst[1:]))
                if ok:
                    # translate scales down from res-2 units to unit grid
                    t_unit = []
                    tt = tuple(int(v) for v in t0)
                    # normalize to the canonical non-negative representative
                    tt = _ijk_normalize(tt)
                    assert all(v % scale == 0 for v in tt), (f, quad, tt)
                    t_unit = tuple(v // scale for v in tt)
                    sol = (g, r, t_unit)
                    break
            assert sol is not None, f'face {f} quadrant {quad}: no transform'
            out[f][quad] = sol
    return out


# --- H3 index bit layout ----------------------------------------------------

def _build_index(res: int, base_cell: int, digits: List[int]) -> int:
    h = (1 << 59) | (res << 52) | (base_cell << 45)
    for r in range(1, 16):
        d = digits[r - 1] if r <= res else 7
        h |= d << (3 * (15 - r))
    return h


def get_resolution(h: int) -> int:
    return (h >> 52) & 0xF


def _get_digit(h: int, r: int) -> int:
    return (h >> (3 * (15 - r))) & 0x7


def _set_digit(h: int, r: int, d: int) -> int:
    off = 3 * (15 - r)
    return (h & ~(0x7 << off)) | (d << off)


def _base_cell_of(h: int) -> int:
    return (h >> 45) & 0x7F


def is_pentagon(h: int) -> bool:
    return T.base_cell_is_pentagon(_base_cell_of(h)) and \
        _leading_nonzero_digit(h) == 0


def _leading_nonzero_digit(h: int) -> int:
    for r in range(1, get_resolution(h) + 1):
        d = _get_digit(h, r)
        if d:
            return d
    return 0


def _rotate60(h: int, ccw: bool) -> int:
    tab = _ROT60CCW_DIGIT if ccw else _ROT60CW_DIGIT
    res = get_resolution(h)
    for r in range(1, res + 1):
        h = _set_digit(h, r, int(tab[_get_digit(h, r)]))
    return h


def _rotate_pent60ccw(h: int) -> int:
    found = False
    res = get_resolution(h)
    for r in range(1, res + 1):
        h = _set_digit(h, r, int(_ROT60CCW_DIGIT[_get_digit(h, r)]))
        if not found and _get_digit(h, r) != 0:
            found = True
            if _leading_nonzero_digit(h) == 1:
                h = _rotate60(h, ccw=True)
    return h


def h3_to_str(h: int) -> str:
    return format(h, 'x')


def str_to_h3(s: str) -> int:
    return int(s, 16)


# --- latlng -> cell (vectorized) -------------------------------------------

def _assemble_index(res: int, bc: int, digits, face: int, nrot: int) -> int:
    """Final index assembly: base-cell rotation handling incl. pentagon
    leading-K adjustment and pentagon rotation semantics."""
    h = _build_index(res, bc, list(digits))
    if T.base_cell_is_pentagon(bc):
        if _leading_nonzero_digit(h) == 1:  # K axis
            if T.base_cell_is_cw_offset(bc, face):
                h = _rotate60(h, ccw=False)
            else:
                h = _rotate60(h, ccw=True)
        for _ in range(nrot):
            h = _rotate_pent60ccw(h)
    else:
        for _ in range(nrot):
            h = _rotate60(h, ccw=True)
    return h


def _leading_nonzero_vec(d: np.ndarray) -> np.ndarray:
    """Per-row leading nonzero digit of a (m, res) digit matrix (0 if none)."""
    if d.shape[1] == 0:
        return np.zeros(len(d), dtype=np.int64)
    nz = d != 0
    lead = d[np.arange(len(d)), nz.argmax(axis=1)].copy()
    lead[~nz.any(axis=1)] = 0
    return lead


def _assemble_pentagon_vec(res: int, base, digits, face, rots) -> np.ndarray:
    """Vectorized `_assemble_index` for pentagon base cells.

    Identical semantics, derived from the scalar form: the K-axis leading
    digit triggers one cw/ccw rotation (by `base_cell_is_cw_offset`), and
    each of the `nrot` pentagon rotations is one ccw digit-permutation pass
    followed by one more iff the rotated leading digit lands on the K axis
    (`_rotate_pent60ccw`'s mid-loop extra rotation hits every digit exactly
    once, so it commutes to a whole-row second pass). Equality with the
    scalar path is property-tested digit-for-digit in tests.
    """
    d = digits[:, :res].copy() if digits.shape[1] > res else digits.copy()
    kmask = _leading_nonzero_vec(d) == 1
    if kmask.any():
        rows = np.flatnonzero(kmask)
        cw = _CW_OFFSET_TAB[base[rows], face[rows]]
        d[rows[cw]] = _ROT60CW_DIGIT[d[rows[cw]]]
        d[rows[~cw]] = _ROT60CCW_DIGIT[d[rows[~cw]]]
    for nr in range(1, 6):
        sub = np.flatnonzero(rots >= nr)
        if not len(sub):
            break
        d[sub] = _ROT60CCW_DIGIT[d[sub]]
        extra = sub[_leading_nonzero_vec(d[sub]) == 1]
        d[extra] = _ROT60CCW_DIGIT[d[extra]]
    h = (np.uint64(1) << np.uint64(59)) | (np.uint64(res) << np.uint64(52)) \
        | (base.astype(np.uint64) << np.uint64(45))
    h = h | np.uint64(sum(7 << (3 * (15 - rr)) for rr in range(res + 1, 16)))
    for rr in range(1, res + 1):
        h = h | (d[:, rr - 1].astype(np.uint64) << np.uint64(3 * (15 - rr)))
    return h


def _walk_up(face, x, y, res):
    """hex2d -> (base ijk, digits matrix) via the upward aperture walk."""
    ijk = _hex2d_to_coordijk(x, y)
    n = len(face)
    digits = np.zeros((n, res), dtype=np.int64)
    cur = ijk
    for r in range(res, 0, -1):
        last = cur
        if _is_class_iii(r):
            cur = _up_ap7_arr(last)
            center = _down_ap7_arr(cur)
        else:
            cur = _up_ap7r_arr(last)
            center = _down_ap7r_arr(cur)
        digits[:, r - 1] = _unit_ijk_to_digit_arr(last - center)
    return cur, digits


_TABLE_CACHE_PATH = __file__.replace('h3_core.py', '_h3_tables_cache.npz')


def _run_calibration():
    """Multi-probe, multi-resolution calibration of the rotation table
    against the inverse pipeline: for each reachable (face, ijk) entry,
    the rotation minimizing the summed probe-to-assembled-cell-center
    distance across several probes and both resolution parities. The
    inverse (cell -> center) depends only on the verified baseCellData +
    face_neighbors transforms, so this enforces the defining invariant
    latlng_to_cell(cell_to_latlng(h)) == h on every reachable entry —
    pentagon entries in particular."""
    bc_tab, rot_tab = face_ijk_base_cells()
    rot_tab = rot_tab.copy()

    lats = np.linspace(-88.0, 88.0, 140)
    lons = np.linspace(-179.5, 179.5, 200)
    glat, glon = np.meshgrid(lats, lons)
    plat = np.radians(glat.ravel())
    plon = np.radians(glon.ravel())
    pxyz = np.stack([np.cos(plat) * np.cos(plon),
                     np.cos(plat) * np.sin(plon), np.sin(plat)], axis=1)

    MAX_PROBES = 6
    scores: dict = {}
    for res in (2, 3):  # both parities
        face, x, y = _geo_to_hex2d(plat, plon, res)
        cur, digits = _walk_up(face, x, y, res)
        in_range = (cur <= 2).all(axis=1)
        probes: dict = {}
        for idx in np.flatnonzero(in_range):
            key = (int(face[idx]), int(cur[idx, 0]), int(cur[idx, 1]),
                   int(cur[idx, 2]))
            if bc_tab[key] < 0:
                continue
            lst = probes.setdefault(key, [])
            if len(lst) < MAX_PROBES:
                lst.append(idx)
        for key, idxs in probes.items():
            f = key[0]
            bc = int(bc_tab[key])
            acc = scores.setdefault(key, np.zeros(6))
            for r in range(6):
                for idx in idxs:
                    h = _assemble_index(res, bc, list(digits[idx]), f, r)
                    clat, clng = cell_to_latlng(h)
                    cxyz = np.array([
                        math.cos(math.radians(clat)) * math.cos(math.radians(clng)),
                        math.cos(math.radians(clat)) * math.sin(math.radians(clng)),
                        math.sin(math.radians(clat))])
                    acc[r] += float(np.linalg.norm(cxyz - pxyz[idx]))
    for key, acc in scores.items():
        rot_tab[key] = int(acc.argmin())
    return bc_tab, rot_tab


@lru_cache(maxsize=1)
def _calibrated_tables():
    """Load the calibrated tables from the packaged cache (written by
    scripts/build_h3_tables.py) or calibrate on first use."""
    try:
        z = np.load(_TABLE_CACHE_PATH)
        return z['bc_tab'], z['rot_tab']
    except Exception:
        return _run_calibration()


def latlng_to_cell(lats_deg, lons_deg, res: int) -> np.ndarray:
    """Vectorized geo -> H3 index (uint64 array)."""
    ensure_malloc_tuned()
    lats = np.radians(np.asarray(lats_deg, dtype=np.float64))
    lons = np.radians(np.asarray(lons_deg, dtype=np.float64))
    n = len(lats)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)

    face, x, y = _geo_to_hex2d(lats, lons, res)
    cur, digits = _walk_up(face, x, y, res)

    # cur now holds base-cell ijk in each point's face system
    bc_tab, rot_tab = _calibrated_tables()
    ii = np.clip(cur[:, 0], 0, 2)
    jj = np.clip(cur[:, 1], 0, 2)
    kk = np.clip(cur[:, 2], 0, 2)
    in_range = (cur[:, 0] <= 2) & (cur[:, 1] <= 2) & (cur[:, 2] <= 2)
    base = bc_tab[face, ii, jj, kk]
    rots = rot_tab[face, ii, jj, kk]
    ok = in_range & (base >= 0)

    # fully vectorized assembly for non-pentagon base cells (the 99.9% path):
    # rotating all digits r times ccw == applying the r-th power of the
    # ccw digit permutation
    pent_mask = _PENT_BASE_MASK[np.clip(base, 0, T.NUM_BASE_CELLS - 1)] & ok
    fast = ok & ~pent_mask
    out = np.zeros(n, dtype=np.uint64)
    if fast.any():
        d = digits[fast]
        r = rots[fast]
        rd = _ROT60CCW_POW[r[:, None], d]           # (m, res) rotated digits
        h = (np.uint64(1) << np.uint64(59)) | (np.uint64(res) << np.uint64(52)) \
            | (base[fast].astype(np.uint64) << np.uint64(45))
        # trailing unused digits are all 7s
        h = h | np.uint64(sum(7 << (3 * (15 - rr)) for rr in range(res + 1, 16)))
        for rr in range(1, res + 1):
            h = h | (rd[:, rr - 1].astype(np.uint64) << np.uint64(3 * (15 - rr)))
        out[fast] = h

    # pentagons: vectorized digit-permutation assembly (scalar
    # `_assemble_index` kept as the property-tested equivalence witness)
    if pent_mask.any():
        out[pent_mask] = _assemble_pentagon_vec(
            res, base[pent_mask], digits[pent_mask],
            face[pent_mask], rots[pent_mask])
    # numeric fallbacks (epsilon-perturbed retry; empty in practice)
    for idx in np.flatnonzero(~ok):
        out[idx] = _latlng_retry(float(lats[idx]), float(lons[idx]), res)
    return out


def _latlng_retry(lat_r: float, lon_r: float, res: int) -> int:
    bc_tab, rot_tab = _calibrated_tables()
    for eps in (1e-11, -1e-11, 1e-9, -1e-9):
        face, x, y = _geo_to_hex2d(np.array([lat_r + eps]), np.array([lon_r + eps]), res)
        cur, digits = _walk_up(face, x, y, res)
        if (cur[0] <= 2).all():
            key = (int(face[0]), int(cur[0, 0]), int(cur[0, 1]), int(cur[0, 2]))
            bc = int(bc_tab[key])
            if bc >= 0:
                return _assemble_index(res, bc, digits[0], key[0],
                                       int(rot_tab[key]))
    raise ValueError('latlng_to_cell: could not index point')


def latlng_to_cell_scalar(lat_deg: float, lon_deg: float, res: int) -> str:
    return h3_to_str(int(latlng_to_cell(np.array([lat_deg]), np.array([lon_deg]), res)[0]))


# --- cell -> geo ------------------------------------------------------------

_MAX_DIM_BY_CII_RES = [2, -1, 14, -1, 98, -1, 686, -1, 4802, -1, 33614,
                       -1, 235298, -1, 1647086, -1, 11529602]
_UNIT_SCALE_BY_CII_RES = [1, -1, 7, -1, 49, -1, 343, -1, 2401, -1, 16807,
                          -1, 117649, -1, 823543, -1, 5764801]

_QUAD_OF = {'jk': 'jk', 'ki': 'ki', 'ij': 'ij'}


def _adjust_overage_class_ii(face: int, ijk: Tuple[int, int, int], res: int,
                             pent_leading_4: bool, substrate: bool):
    """Returns (overage_code, face, ijk): 0 none, 1 face edge, 2 new face."""
    i, j, k = ijk
    max_dim = _MAX_DIM_BY_CII_RES[res]
    if substrate:
        max_dim *= 3
    s = i + j + k
    if substrate and s == max_dim:
        return 1, face, ijk
    if s <= max_dim:
        return 0, face, ijk

    fn = face_neighbors()
    if k > 0:
        if j > 0:
            quad = 'jk'
        else:
            quad = 'ki'
            if pent_leading_4:
                # rotate out of the missing k-axes sub-sequence about the
                # pentagon center
                origin = (max_dim, 0, 0)
                t = (i - origin[0], j - origin[1], k - origin[2])
                t = _ijk_rotate60_cw_raw(t)
                i, j, k = (t[0] + origin[0], t[1] + origin[1], t[2] + origin[2])
    else:
        quad = 'ij'

    g, rot, trans = fn[face][quad]
    c = (i, j, k)
    for _ in range(rot):
        c = _ijk_rotate60_ccw_raw(c)
    unit = _UNIT_SCALE_BY_CII_RES[res]
    if substrate:
        unit *= 3
    c = (c[0] + trans[0] * unit, c[1] + trans[1] * unit, c[2] + trans[2] * unit)
    c = _ijk_normalize(c)
    over = 2
    if substrate and sum(c) == max_dim:
        over = 1
    return over, g, c


def _ijk_rotate60_ccw_raw(c):
    i, j, k = c
    return (i + k, i + j, j + k)


def _ijk_rotate60_cw_raw(c):
    i, j, k = c
    return (i + j, j + k, i + k)


def _h3_to_face_ijk(h: int):
    """index -> (face, ijk, res) with overage resolved."""
    bc = _base_cell_of(h)
    res = get_resolution(h)
    if T.base_cell_is_pentagon(bc) and _leading_nonzero_digit(h) == 5:
        h = _rotate60(h, ccw=False)

    face, home_ijk, _, _ = T.BASE_CELL_DATA[bc]
    c = tuple(home_ijk)
    possible_overage = True
    if not T.base_cell_is_pentagon(bc) and (res == 0 or c == (0, 0, 0)):
        possible_overage = False
    for r in range(1, res + 1):
        if _is_class_iii(r):
            c = _down_ap7(c)
        else:
            c = _down_ap7r(c)
        d = _get_digit(h, r)
        c = _ijk_normalize((c[0] + int(_UNIT_VECS[d][0]),
                            c[1] + int(_UNIT_VECS[d][1]),
                            c[2] + int(_UNIT_VECS[d][2])))

    if not possible_overage:
        return face, c, res

    orig = c
    adj_res = res
    if _is_class_iii(res):
        c = _down_ap7r(c)
        adj_res = res + 1
    pent_l4 = T.base_cell_is_pentagon(bc) and _leading_nonzero_digit(h) == 4
    over, face2, c2 = _adjust_overage_class_ii(face, c, adj_res, pent_l4, False)
    if over == 2:
        if T.base_cell_is_pentagon(bc):
            while True:
                over2, face2, c2 = _adjust_overage_class_ii(face2, c2, adj_res, False, False)
                if over2 != 2:
                    break
        if adj_res != res:
            c2 = _up_ap7r_arr(np.array([c2]))[0]
            c2 = tuple(int(v) for v in c2)
        return face2, c2, res
    # no overage: restore pre-adjustment coords
    return face, orig, res


def cell_to_latlng(cell) -> Tuple[float, float]:
    """H3 cell (hex str or int) -> (lat_deg, lng_deg) of the center."""
    h = str_to_h3(cell) if isinstance(cell, str) else int(cell)
    face, c, res = _h3_to_face_ijk(h)
    x, y = _ijk_to_hex2d(np.array([c]))
    lat, lon = _hex2d_to_geo(float(x[0]), float(y[0]), face, res, False)
    return math.degrees(lat), math.degrees(lon)


def _v2d_intersect(p0, p1, p2, p3) -> Tuple[float, float]:
    """2D line intersection (published _v2dIntersect form, bit-identical
    order of operations)."""
    s1x, s1y = p1[0] - p0[0], p1[1] - p0[1]
    s2x, s2y = p3[0] - p2[0], p3[1] - p2[1]
    t = (s2x * (p0[1] - p2[1]) - s2y * (p0[0] - p2[0])) / \
        (-s2x * s1y + s1x * s2y)
    return (p0[0] + t * s1x, p0[1] + t * s1y)


@lru_cache(maxsize=1)
def _adjacent_face_dir() -> Dict[int, Dict[int, str]]:
    """{face: {neighbor_face: quadrant}} derived from face_neighbors()."""
    fn = face_neighbors()
    return {f: {fn[f][q][0]: q for q in ('ij', 'jk', 'ki')} for f in fn}


def cell_to_boundary(cell) -> List[Tuple[float, float]]:
    """H3 cell -> [(lat_deg, lng_deg), ...] boundary vertices.

    Hexagon path follows the published _faceIjkToCellBoundary exactly:
    substrate-grid vertices, one overage adjustment per vertex, and — at
    Class III resolutions — an extra vertex inserted where a cell edge
    crosses an icosahedron face edge (each half of such an edge lives on a
    different gnomonic projection plane). Pentagons follow the published
    _faceIjkPentToCellBoundary: 5 vertices, plus one icosa-edge
    intersection per edge at Class III resolutions (10 total)."""
    h = str_to_h3(cell) if isinstance(cell, str) else int(cell)
    face, c, res = _h3_to_face_ijk(h)
    pent = is_pentagon(h)

    # center into the substrate grid
    c2 = _down_ap3(c)
    c2 = _down_ap3r(c2)
    adj_res = res
    if _is_class_iii(res):
        c2 = _down_ap7r(c2)
        adj_res = res + 1
    verts_tab = _VERTS_CIII if _is_class_iii(res) else _VERTS_CII
    vert_ijk = [_ijk_normalize((c2[0] + int(verts_tab[v][0]),
                                c2[1] + int(verts_tab[v][1]),
                                c2[2] + int(verts_tab[v][2])))
                for v in range(6)]

    if pent:
        # published _faceIjkPentToCellBoundary: 5 vertices (the 6th hexagon
        # vertex table row is dropped); at Class III every pentagon edge
        # crosses an icosa face edge, so an intersection vertex is inserted
        # per edge (10 boundary vertices total)
        fn = face_neighbors()
        adj_dir = _adjacent_face_dir()
        out = []
        last_fv = -1
        last_cv = None
        for vert in range(6):  # 5 verts + 1 wraparound-edge iteration
            v = vert % 5
            fv, cv = face, vert_ijk[v]
            while True:
                over, fv, cv = _adjust_overage_class_ii(fv, cv, adj_res,
                                                        False, True)
                if over != 2:
                    break
            if _is_class_iii(res) and vert > 0 and fv != last_fv:
                # transform the current vertex into the last face's system,
                # then intersect the edge with that face's icosa boundary
                ox0, oy0 = _ijk_to_hex2d(np.array([last_cv]))
                quad_to_last = adj_dir[fv][last_fv]
                g, rot, trans = fn[fv][quad_to_last]
                c = cv
                for _ in range(rot):
                    c = _ijk_rotate60_ccw(c)
                unit = _UNIT_SCALE_BY_CII_RES[adj_res] * 3
                c = _ijk_normalize((c[0] + trans[0] * unit,
                                    c[1] + trans[1] * unit,
                                    c[2] + trans[2] * unit))
                ox1, oy1 = _ijk_to_hex2d(np.array([c]))
                p0 = (float(ox0[0]), float(oy0[0]))
                p1 = (float(ox1[0]), float(oy1[0]))
                max_dim = float(_MAX_DIM_BY_CII_RES[adj_res])
                e0 = (3.0 * max_dim, 0.0)
                e1 = (-1.5 * max_dim, 3.0 * _M_SIN60 * max_dim)
                e2 = (-1.5 * max_dim, -3.0 * _M_SIN60 * max_dim)
                ea, eb = {'ij': (e0, e1), 'jk': (e1, e2),
                          'ki': (e2, e0)}[adj_dir[last_fv][fv]]
                inter = _v2d_intersect(p0, p1, ea, eb)
                lat, lon = _hex2d_to_geo(inter[0], inter[1], last_fv,
                                         adj_res, True)
                out.append((math.degrees(lat), math.degrees(lon)))
            if vert < 5:
                x, yv = _ijk_to_hex2d(np.array([cv]))
                lat, lon = _hex2d_to_geo(float(x[0]), float(yv[0]), fv,
                                         adj_res, True)
                out.append((math.degrees(lat), math.degrees(lon)))
            last_fv, last_cv = fv, cv
        return out

    # hexagon path (with Class III icosa-edge distortion vertices)
    out = []
    last_face = -1
    last_over = 0
    adj_dir = _adjacent_face_dir()
    for vert in range(7):  # one extra iteration to catch the wraparound edge
        v = vert % 6
        over, fv, cv = _adjust_overage_class_ii(face, vert_ijk[v], adj_res,
                                                False, True)
        if _is_class_iii(res) and vert > 0 and fv != last_face and last_over != 1:
            # cell edge crosses an icosa face edge: insert the intersection,
            # projected through the center face's plane (where both original
            # substrate vertices are exact)
            last_v = (v + 5) % 6
            ox0, oy0 = _ijk_to_hex2d(np.array([vert_ijk[last_v]]))
            ox1, oy1 = _ijk_to_hex2d(np.array([vert_ijk[v]]))
            p0 = (float(ox0[0]), float(oy0[0]))
            p1 = (float(ox1[0]), float(oy1[0]))
            max_dim = float(_MAX_DIM_BY_CII_RES[adj_res])
            e0 = (3.0 * max_dim, 0.0)
            e1 = (-1.5 * max_dim, 3.0 * _M_SIN60 * max_dim)
            e2 = (-1.5 * max_dim, -3.0 * _M_SIN60 * max_dim)
            face2 = fv if last_face == face else last_face
            quad = adj_dir[face][face2]
            ea, eb = {'ij': (e0, e1), 'jk': (e1, e2), 'ki': (e2, e0)}[quad]
            inter = _v2d_intersect(p0, p1, ea, eb)
            at_vertex = (p0[0] == inter[0] and p0[1] == inter[1]) or \
                        (p1[0] == inter[0] and p1[1] == inter[1])
            if not at_vertex:
                lat, lon = _hex2d_to_geo(inter[0], inter[1], face, adj_res, True)
                out.append((math.degrees(lat), math.degrees(lon)))
        if vert < 6:
            x, yv = _ijk_to_hex2d(np.array([cv]))
            lat, lon = _hex2d_to_geo(float(x[0]), float(yv[0]), fv, adj_res, True)
            out.append((math.degrees(lat), math.degrees(lon)))
        last_face = fv
        last_over = over
    return out


def neighbors_geometric(cell) -> List[str]:
    """The neighboring cells, found geometrically: probe points just across
    each boundary edge midpoint. Pentagon-safe (5 neighbors) and exact, as
    probes land well inside the adjacent cell."""
    h = str_to_h3(cell) if isinstance(cell, str) else int(cell)
    res = get_resolution(h)
    clat, clng = cell_to_latlng(h)
    bnd = cell_to_boundary(h)
    nb = []
    me = h3_to_str(h)
    nv = len(bnd)
    for i in range(nv):
        a = bnd[i]
        b = bnd[(i + 1) % nv]
        mlat = (a[0] + b[0]) / 2
        mlng = (a[1] + b[1]) / 2
        # handle antimeridian edges in the midpoint
        if abs(a[1] - b[1]) > 180:
            mlng = ((a[1] % 360) + (b[1] % 360)) / 2
            mlng = ((mlng + 180) % 360) - 180
        for fac in (0.6, 0.3, 1.0):
            plat = mlat + (mlat - clat) * fac
            plng = mlng + (mlng - clng) * fac
            cand = latlng_to_cell_scalar(plat, plng, res)
            if cand != me and cand not in nb:
                nb.append(cand)
                break
    return nb


# --- hierarchy: parent / children / compact / uncompact --------------------
# Public H3 index spec: the parent truncates the digit path (unused digits
# become 7); children enumerate the next digit, with a pentagon's deleted
# K-axis (digit 1) skipped along the center-child chain.

def cell_to_parent(cell: str, parent_res: int) -> str:
    h = str_to_h3(cell)
    res = get_resolution(h)
    if parent_res > res or parent_res < 0:
        raise ValueError(f'invalid parent res {parent_res} for res {res}')
    h = (h & ~(0xF << 52)) | (parent_res << 52)
    for r in range(parent_res + 1, res + 1):
        h = _set_digit(h, r, 7)
    return h3_to_str(h)


def cell_to_children(cell: str, child_res: int) -> List[str]:
    h = str_to_h3(cell)
    res = get_resolution(h)
    if child_res < res:
        raise ValueError(f'invalid child res {child_res} for res {res}')
    frontier = [h]
    for r in range(res + 1, child_res + 1):
        nxt = []
        for p in frontier:
            ph = (p & ~(0xF << 52)) | (r << 52)
            pent = is_pentagon(p)
            for d in range(7):
                if pent and d == 1:
                    continue  # deleted K subsequence under a pentagon
                nxt.append(_set_digit(ph, r, d))
        frontier = nxt
    return [h3_to_str(x) for x in frontier]


def compact_cells(cells) -> List[str]:
    """Lossless minimal-cover compaction of a uniform-resolution cell set:
    any parent whose full child set (7, or 6 for a pentagon) is present is
    substituted, recursively toward res 0. Deterministic sorted output."""
    pool = {str_to_h3(c) for c in cells}
    if not pool:
        return []
    res_set = {get_resolution(h) for h in pool}
    if len(res_set) != 1:
        raise ValueError('compact_cells requires a uniform-resolution set')
    out: List[int] = []
    cur = pool
    for r in range(res_set.pop(), 0, -1):
        by_parent: Dict[int, List[int]] = {}
        for h in cur:
            p = _set_digit((h & ~(0xF << 52)) | ((r - 1) << 52), r, 7)
            by_parent.setdefault(p, []).append(h)
        nxt = set()
        for p, kids in by_parent.items():
            need = 6 if is_pentagon(p) else 7
            if len(kids) == need:
                nxt.add(p)
            else:
                out.extend(kids)
        cur = nxt
    out.extend(cur)
    return sorted(h3_to_str(h) for h in out)


def uncompact_cells(cells, res: int) -> List[str]:
    """Expand a (possibly compacted) cell set to uniform ``res``."""
    out: List[str] = []
    for c in cells:
        out.extend(cell_to_children(c, res))
    return sorted(out)
