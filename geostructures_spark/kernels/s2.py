"""From-scratch S2 cell-id kernel (the second index family the north
rule names alongside H3).

Implements the published S2 geometry scheme (s2geometry.io docs; the
cell-id layout and Hilbert tables are public): unit sphere -> cube face
(largest axis) -> (u, v) gnomonic face coordinates -> (s, t) via the
quadratic projection -> 30-bit (i, j) leaf coordinates -> position along
the face's Hilbert curve -> 64-bit cell id
``face(3 bits) | curve position | trailing 1 at the level's sentinel
bit``. No S2 library exists in this environment; correctness rests on
the scheme's own strong invariants (exhaustively tested):

- the six level-0 face cells have the documented tokens 1,3,5,7,9,b;
- encode/decode round-trips: cell_to_latlng(latlng_to_cell(p)) stays in
  the same cell, and re-encoding a cell's center returns the cell, at
  every level, globally;
- parent/children containment and the 4^k descendant count;
- Hilbert continuity: consecutive curve positions are edge-adjacent
  cells (the defining property of the curve);
- an independent DuckDB SQL replay of the full pipeline matches
  bit-for-bit (oracles/s2_sql.py — same standard as the H3 oracles).

Vectorized NumPy throughout (one table-lookup pass per level).
"""

from __future__ import annotations

import numpy as np

from geostructures_spark.kernels import ensure_malloc_tuned

__all__ = ['latlng_to_cell', 'cell_to_latlng', 'cell_level',
           'cell_parent', 'cell_children', 'cell_token', 'token_to_cell',
           'polygon_to_cells_s2', 'min_cell_width_deg']

MAX_LEVEL = 30

_SWAP = 1
_INVERT = 2

# canonical Hilbert sub-cell orders (s2geometry kPosToIJ and inverse)
_POS_TO_IJ = np.array([
    [0, 1, 3, 2],
    [0, 2, 3, 1],
    [3, 2, 0, 1],
    [3, 1, 0, 2],
], dtype=np.int64)
_IJ_TO_POS = np.zeros((4, 4), dtype=np.int64)
for _o in range(4):
    for _p in range(4):
        _IJ_TO_POS[_o, _POS_TO_IJ[_o, _p]] = _p
_POS_TO_ORIENT = np.array([_SWAP, 0, 0, _INVERT + _SWAP], dtype=np.int64)


def _xyz(lat_r, lon_r):
    return (np.cos(lat_r) * np.cos(lon_r),
            np.cos(lat_r) * np.sin(lon_r),
            np.sin(lat_r))


def _face_uv(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay,
                    np.where(ax >= az, 0, 2),
                    np.where(ay >= az, 1, 2))
    face = face + np.where(
        np.choose(face, [x, y, z]) < 0, 3, 0)
    with np.errstate(divide='ignore', invalid='ignore'):
        u = np.choose(face, [y / x, -x / y, -x / z,
                             z / x, z / y, -y / z])
        v = np.choose(face, [z / x, z / y, -y / z,
                             y / x, -x / y, -x / z])
    return face, u, v


def _uv_to_st(u):
    with np.errstate(invalid='ignore'):
        return np.where(u >= 0.0,
                        0.5 * np.sqrt(1.0 + 3.0 * u),
                        1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u))


def _st_to_uv(s):
    return np.where(s >= 0.5,
                    (1.0 / 3.0) * (4.0 * s * s - 1.0),
                    (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)))


def _st_to_ij(s):
    return np.clip((np.floor(s * (1 << MAX_LEVEL))).astype(np.int64),
                   0, (1 << MAX_LEVEL) - 1)


def latlng_to_cell(lats_deg, lons_deg, level: int) -> np.ndarray:
    """Vectorized geo -> S2 cell id (uint64) at ``level``."""
    ensure_malloc_tuned()
    lat = np.radians(np.asarray(lats_deg, dtype=np.float64))
    lon = np.radians(np.asarray(lons_deg, dtype=np.float64))
    x, y, z = _xyz(lat, lon)
    face, u, v = _face_uv(x, y, z)
    i = _st_to_ij(_uv_to_st(u))
    j = _st_to_ij(_uv_to_st(v))

    # Hilbert walk, one 2-bit step per level, MSB first
    orient = (face & _SWAP).astype(np.int64)
    pos = np.zeros(len(lat), dtype=np.uint64)
    for k in range(MAX_LEVEL - 1, -1, -1):
        ib = (i >> k) & 1
        jb = (j >> k) & 1
        ij = ib * 2 + jb
        p = _IJ_TO_POS[orient, ij]
        pos = (pos << np.uint64(2)) | p.astype(np.uint64)
        orient = orient ^ _POS_TO_ORIENT[p]

    # leaf id: face(3) | pos(60) | 1
    leaf = ((face.astype(np.uint64) << np.uint64(61))
            | (pos << np.uint64(1)) | np.uint64(1))
    return cell_parent(leaf, level)


def cell_level(cell) -> np.ndarray:
    """Level from the sentinel (lowest set) bit."""
    c = np.asarray(cell, dtype=np.uint64)
    lsb = c & (~c + np.uint64(1))
    # lsb = 2^(2*(30-level)); level = 30 - log4(lsb)
    shift = np.zeros(c.shape, dtype=np.int64)
    v = lsb.copy()
    for b in (32, 16, 8, 4, 2, 1):
        big = v >= (np.uint64(1) << np.uint64(b))
        shift += np.where(big, b, 0)
        v = np.where(big, v >> np.uint64(b), v)
    return MAX_LEVEL - (shift // 2)


def cell_parent(cell, level: int) -> np.ndarray:
    """Ancestor at ``level`` (identity when already at that level)."""
    c = np.asarray(cell, dtype=np.uint64)
    new_lsb = np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))
    return (c & (~new_lsb + np.uint64(1)) & ~(new_lsb - np.uint64(1))) | new_lsb


def cell_children(cell) -> np.ndarray:
    """The 4 children of each cell (shape (n, 4))."""
    c = np.asarray(cell, dtype=np.uint64)
    lsb = c & (~c + np.uint64(1))
    child_lsb = lsb >> np.uint64(2)
    base = c - lsb
    return np.stack([base + child_lsb * np.uint64(2 * k + 1)
                     for k in range(4)], axis=1)


def cell_to_latlng(cell):
    """(lat_deg, lng_deg) arrays of each cell's center."""
    ensure_malloc_tuned()
    c = np.asarray(cell, dtype=np.uint64)
    level = cell_level(c)
    face = (c >> np.uint64(61)).astype(np.int64)
    pos = (c & ((np.uint64(1) << np.uint64(61)) - np.uint64(1))) >> np.uint64(1)

    orient = (face & _SWAP).astype(np.int64)
    i = np.zeros(len(c), dtype=np.int64)
    j = np.zeros(len(c), dtype=np.int64)
    for k in range(MAX_LEVEL - 1, -1, -1):
        lvl = MAX_LEVEL - 1 - k  # 0-based step index from the top
        active = lvl < level
        p = ((pos >> np.uint64(2 * k)) & np.uint64(3)).astype(np.int64)
        ij = _POS_TO_IJ[orient, p]
        ib, jb = ij >> 1, ij & 1
        i = np.where(active, (i << 1) | ib, i)
        j = np.where(active, (j << 1) | jb, j)
        orient = np.where(active, orient ^ _POS_TO_ORIENT[p], orient)
    # center of the cell in leaf coordinates ((i + 0.5) * size: exact for
    # every level incl. leaves, where size // 2 would collapse to the corner)
    size = (np.int64(1) << (MAX_LEVEL - level)).astype(np.float64)
    ic = i.astype(np.float64) * size + size * 0.5
    jc = j.astype(np.float64) * size + size * 0.5
    u = _st_to_uv(ic / (1 << MAX_LEVEL))
    v = _st_to_uv(jc / (1 << MAX_LEVEL))
    one = np.ones_like(u)
    xyz_by_face = [
        (one, u, v), (-u, one, v), (-u, -v, one),
        (-one, -v, -u), (v, -one, -u), (v, u, -one),
    ]
    x = np.choose(face, [t[0] for t in xyz_by_face])
    y = np.choose(face, [t[1] for t in xyz_by_face])
    z = np.choose(face, [t[2] for t in xyz_by_face])
    lat = np.degrees(np.arctan2(z, np.hypot(x, y)))
    lng = np.degrees(np.arctan2(y, x))
    return lat, lng


def cell_token(cell) -> list:
    """Canonical S2 token: 16-hex-digit id with trailing zeros stripped."""
    c = np.asarray(cell, dtype=np.uint64)
    out = []
    for v in c:
        s = format(int(v), '016x').rstrip('0')
        out.append(s if s else 'X')
    return out


def token_to_cell(tokens) -> np.ndarray:
    return np.array([np.uint64(int(t.ljust(16, '0'), 16))
                     for t in tokens], dtype=np.uint64)


# --- region covering (polyfill analog: cells whose center is inside) --------

# published S2 metric: minimum cell width at level k is
# (2*sqrt(2)/3) * 2^-k radians — the sampling-safety bound for covers
_MIN_WIDTH_RAD0 = 2.0 * np.sqrt(2.0) / 3.0


def min_cell_width_deg(level: int) -> float:
    return float(np.degrees(_MIN_WIDTH_RAD0 * (0.5 ** level)))


def polygon_to_cells_s2(rings, level: int,
                        max_candidates: int = 50_000_000,
                        band_samples: int = 1 << 22) -> set:
    """Centroid-containment polyfill: level-``level`` cells whose CENTER
    lies inside rings[0] and outside any hole — the same keep rule as
    the H3 polyfill (kernels/h3_cover.py), so S2 slots into the same
    spatial-join shape. Candidates come from a lat/lon sample grid at
    half the published minimum cell width (every cell whose center can
    be inside holds >= 1 sample), in the antimeridian-unwrapped frame.

    The grid is O((bbox/step)^2) samples, so a continent-size polygon at
    a fine level would try to materialize an astronomic candidate set
    inside one UDF row. Two guards: the grid is evaluated in latitude
    BANDS (``band_samples`` samples each, default ~4M — bounded peak
    memory regardless of bbox),
    and a total budget of ``max_candidates`` samples raises with
    actionable guidance instead of grinding — a cover that large is the
    wrong level for the shape (use a coarser level, compact_cells, or
    split the shape; cover_shapes already tiles one row per shape)."""
    ensure_malloc_tuned()
    from geostructures_spark.kernels import geometry as geom
    from geostructures_spark.kernels.h3_cover import _unwrap_ring

    outline = _unwrap_ring(np.asarray(rings[0], dtype=np.float64))
    frame = float(outline[0, 0])
    min_lon, min_lat, max_lon, max_lat = geom.ring_bounds(outline)
    # uniform DEGREE spacing at half the min cell width is conservative:
    # longitude degrees shrink in meters toward the poles, so the grid
    # only gets denser (in meters) where cells get narrower
    step = 0.45 * min_cell_width_deg(level)
    pad = 2.0 * min_cell_width_deg(level)
    lats = np.arange(min_lat - pad, max_lat + pad + step, step)
    lons = np.arange(min_lon - pad, max_lon + pad + step, step)
    n_samples = len(lats) * len(lons)
    if n_samples > max_candidates:
        raise ValueError(
            f'polygon_to_cells_s2: shape needs ~{n_samples:,} grid samples '
            f'at level {level} (> max_candidates={max_candidates:,}) — '
            f'use a coarser level or split the shape')
    band_rows = max(1, band_samples // max(1, len(lons)))
    cand_parts = []
    for i in range(0, len(lats), band_rows):
        glat, glon = np.meshgrid(lats[i:i + band_rows], lons)
        glon_w = np.mod(glon.ravel() + 180.0, 360.0) - 180.0
        cand_parts.append(np.unique(latlng_to_cell(glat.ravel(), glon_w, level)))
    cand = (np.unique(np.concatenate(cand_parts)) if len(cand_parts) > 1
            else cand_parts[0])
    cla, cln = cell_to_latlng(cand)
    cln = cln + 360.0 * np.round((frame - cln) / 360.0)
    inside = geom.points_in_polygon(cln, cla, outline)
    for hole in rings[1:]:
        if inside.any():
            hole_u = _unwrap_ring(np.asarray(hole, dtype=np.float64))
            hole_u[:, 0] += 360.0 * round((frame - hole_u[0, 0]) / 360.0)
            inside &= ~geom.points_in_polygon(cln, cla, hole_u)
    return set(cell_token(cand[inside]))
