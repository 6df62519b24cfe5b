"""H3 grid-system tables, built from published constants + exact geometry.

The H3 grid (Uber's public hexagonal hierarchical geospatial index) is
defined by (a) an icosahedron in a fixed orientation, (b) a Class II
aperture-7 hex lattice per face, and (c) a canonical numbering of the 122
resolution-0 cells. This module provides those tables for the from-scratch
H3 kernel (h3_core.py):

- ``FACE_CENTER_GEO`` / ``FACE_AXES_AZ`` / ``FACE_VERTEX_GEO`` — the 20
  face centers, i-axis azimuths and per-face vertices. The published values
  are reproduced from the publicly documented algorithm and **snapped to an
  exact regular icosahedron** (``_build_exact_geometry``: a Kabsch fit of a
  perfect icosahedron to the quoted centers), eliminating transcription
  noise. The snap ran once and its output is kept here as literals: its
  last bits follow the BLAS kernel the CPU selects, and the H3 oracle SQL
  embeds these doubles, so deriving them at import would make the oracle
  text differ between hosts. tests/test_pinned_constants.py re-runs the
  snap (with its residual asserts) and checks the literals against it.
- ``BASE_CELL_DATA`` — the canonical numbering: home (face, i, j, k) of each
  res-0 cell, pentagon flag, and the cw-offset faces of each pentagon.
- ``face_ijk_base_cells()`` — derived geometrically: for every face and
  in-range ijk, which base cell sits there and with how many ccw 60-degree
  rotations relative to its home orientation.
- ``face_neighbors()`` — derived geometrically: the (face, rotation,
  translation) transform for each face's three overage quadrants, solved
  from lattice coordinates of the shared-edge points.

Validation: golden H3 indexes embedded in the reference's test suite
(/root/reference/tests/test_geohash.py) pin the numbering end-to-end.
"""

from __future__ import annotations

import math
from functools import lru_cache

import numpy as np

__all__ = [
    'FACE_CENTER_GEO', 'FACE_AXES_AZ', 'BASE_CELL_DATA', 'NUM_BASE_CELLS',
    'M_SQRT7', 'RES0_U_GNOMONIC', 'M_AP7_ROT_RADS',
    'face_ijk_base_cells', 'face_neighbors', 'base_cell_is_pentagon',
    'base_cell_is_cw_offset', 'FACE_VERTEX_GEO',
]

M_SQRT7 = math.sqrt(7.0)
RES0_U_GNOMONIC = 0.38196601125010500003  # tan of the res-0 unit distance
# aperture-7 rotation, asin(sqrt(3/28)) ~ 19.1 deg; the H3 C library's
# published constant (constants.h), not a libm call
M_AP7_ROT_RADS = 0.333473172251832115336090755351601070065900389

NUM_BASE_CELLS = 122

# (lat, lon) radians of the 20 icosahedron face centers, as published.
_FACE_CENTER_GEO_QUOTED = [
    (0.803582649718989942, 1.248397419617396099),
    (1.307747883455638156, 2.536945009877921159),
    (1.054751253523952054, -1.347517358900396623),
    (0.600191595538186799, -0.450603909469755746),
    (0.491715428198773866, 0.401988202911306943),
    (0.172745327415618701, 1.678146885280433686),
    (0.605929321571350690, 2.953923329812411617),
    (0.427370518328979641, -1.888876200336285401),
    (-0.079066118549212831, -0.733429513380867741),
    (-0.230961644455383637, 0.506495587332349035),
    (0.079066118549212831, 2.408163140208925497),
    (0.230961644455383637, -2.635097066257444203),
    (-0.172745327415618701, -1.463445768309359553),
    (-0.605929321571350690, -0.187669323777381622),
    (-0.427370518328979641, 1.252716453253609838),
    (-0.600191595538186799, 2.690988744120037492),
    (-0.491715428198773866, -2.739604450678486295),
    (-0.803582649718989942, -1.893195233972397139),
    (-1.307747883455638156, -0.604647643711872080),
    (-1.054751253523952054, 1.794075294689396615),
]

# i-axis (Class II) azimuths per face, as published; axes [1], [2] are
# exactly 120 and 240 degrees further (verified below).
_FACE_AXES_AZ_QUOTED = [
    5.619958268523939882, 5.760339081714187279, 0.780213654393430055,
    0.430469363979999913, 6.130269123335111400, 2.692877706530642877,
    2.982963003477243874, 3.532912002790141181, 3.494305004259568154,
    3.003214169499538391, 5.930472956509811562, 0.138378484090254847,
    0.448714947059150361, 0.158629650112549365, 5.891865957979238535,
    2.711123289609793325, 3.294508837434268316, 3.804819692245439833,
    3.664438879055193436, 2.361378999196363184,
]

# Canonical res-0 cell numbering: (home_face, (i, j, k), is_pentagon,
# (cw_offset_face_1, cw_offset_face_2)).
BASE_CELL_DATA = [
    (1, (1, 0, 0), 0, (0, 0)), (2, (1, 1, 0), 0, (0, 0)),
    (1, (0, 0, 0), 0, (0, 0)), (2, (1, 0, 0), 0, (0, 0)),
    (0, (2, 0, 0), 1, (-1, -1)), (1, (1, 1, 0), 0, (0, 0)),
    (1, (0, 0, 1), 0, (0, 0)), (2, (0, 0, 0), 0, (0, 0)),
    (0, (1, 0, 0), 0, (0, 0)), (2, (0, 1, 0), 0, (0, 0)),
    (1, (0, 1, 0), 0, (0, 0)), (1, (0, 1, 1), 0, (0, 0)),
    (3, (1, 0, 0), 0, (0, 0)), (3, (1, 1, 0), 0, (0, 0)),
    (11, (2, 0, 0), 1, (2, 6)), (4, (1, 0, 0), 0, (0, 0)),
    (0, (0, 0, 0), 0, (0, 0)), (6, (0, 1, 0), 0, (0, 0)),
    (0, (0, 0, 1), 0, (0, 0)), (2, (0, 1, 1), 0, (0, 0)),
    (7, (0, 0, 1), 0, (0, 0)), (2, (0, 0, 1), 0, (0, 0)),
    (0, (1, 1, 0), 0, (0, 0)), (6, (0, 0, 1), 0, (0, 0)),
    (10, (2, 0, 0), 1, (1, 5)), (6, (0, 0, 0), 0, (0, 0)),
    (3, (0, 0, 0), 0, (0, 0)), (11, (1, 0, 0), 0, (0, 0)),
    (4, (1, 1, 0), 0, (0, 0)), (3, (0, 1, 0), 0, (0, 0)),
    (0, (0, 1, 1), 0, (0, 0)), (4, (0, 0, 0), 0, (0, 0)),
    (5, (0, 1, 0), 0, (0, 0)), (0, (0, 1, 0), 0, (0, 0)),
    (7, (0, 1, 0), 0, (0, 0)), (11, (1, 1, 0), 0, (0, 0)),
    (7, (0, 0, 0), 0, (0, 0)), (10, (1, 0, 0), 0, (0, 0)),
    (12, (2, 0, 0), 1, (3, 7)), (6, (1, 0, 1), 0, (0, 0)),
    (7, (1, 0, 1), 0, (0, 0)), (4, (0, 0, 1), 0, (0, 0)),
    (3, (0, 0, 1), 0, (0, 0)), (3, (0, 1, 1), 0, (0, 0)),
    (4, (0, 1, 0), 0, (0, 0)), (6, (1, 0, 0), 0, (0, 0)),
    (11, (0, 0, 0), 0, (0, 0)), (8, (0, 0, 1), 0, (0, 0)),
    (5, (0, 0, 1), 0, (0, 0)), (14, (2, 0, 0), 1, (0, 9)),
    (5, (0, 0, 0), 0, (0, 0)), (12, (1, 0, 0), 0, (0, 0)),
    (10, (1, 1, 0), 0, (0, 0)), (4, (0, 1, 1), 0, (0, 0)),
    (12, (1, 1, 0), 0, (0, 0)), (7, (1, 0, 0), 0, (0, 0)),
    (11, (0, 1, 0), 0, (0, 0)), (10, (0, 0, 0), 0, (0, 0)),
    (13, (2, 0, 0), 1, (4, 8)), (10, (0, 0, 1), 0, (0, 0)),
    (11, (0, 0, 1), 0, (0, 0)), (9, (0, 1, 0), 0, (0, 0)),
    (8, (0, 1, 0), 0, (0, 0)), (6, (2, 0, 0), 1, (11, 15)),
    (8, (0, 0, 0), 0, (0, 0)), (9, (0, 0, 1), 0, (0, 0)),
    (14, (1, 0, 0), 0, (0, 0)), (5, (1, 0, 1), 0, (0, 0)),
    (16, (0, 1, 1), 0, (0, 0)), (8, (1, 0, 1), 0, (0, 0)),
    (5, (1, 0, 0), 0, (0, 0)), (12, (0, 0, 0), 0, (0, 0)),
    (7, (2, 0, 0), 1, (12, 16)), (12, (0, 1, 0), 0, (0, 0)),
    (10, (0, 1, 0), 0, (0, 0)), (9, (0, 0, 0), 0, (0, 0)),
    (13, (1, 0, 0), 0, (0, 0)), (16, (0, 0, 1), 0, (0, 0)),
    (15, (0, 1, 1), 0, (0, 0)), (15, (0, 1, 0), 0, (0, 0)),
    (16, (0, 1, 0), 0, (0, 0)), (14, (1, 1, 0), 0, (0, 0)),
    (13, (1, 1, 0), 0, (0, 0)), (5, (2, 0, 0), 1, (10, 19)),
    (8, (1, 0, 0), 0, (0, 0)), (14, (0, 0, 0), 0, (0, 0)),
    (9, (1, 0, 1), 0, (0, 0)), (14, (0, 0, 1), 0, (0, 0)),
    (17, (0, 0, 1), 0, (0, 0)), (12, (0, 0, 1), 0, (0, 0)),
    (16, (0, 0, 0), 0, (0, 0)), (17, (0, 1, 1), 0, (0, 0)),
    (15, (0, 0, 1), 0, (0, 0)), (16, (1, 0, 1), 0, (0, 0)),
    (9, (1, 0, 0), 0, (0, 0)), (15, (0, 0, 0), 0, (0, 0)),
    (13, (0, 0, 0), 0, (0, 0)), (8, (2, 0, 0), 1, (13, 17)),
    (13, (0, 1, 0), 0, (0, 0)), (17, (1, 0, 1), 0, (0, 0)),
    (19, (0, 1, 0), 0, (0, 0)), (14, (0, 1, 0), 0, (0, 0)),
    (19, (0, 1, 1), 0, (0, 0)), (17, (0, 1, 0), 0, (0, 0)),
    (13, (0, 0, 1), 0, (0, 0)), (17, (0, 0, 0), 0, (0, 0)),
    (16, (1, 0, 0), 0, (0, 0)), (9, (2, 0, 0), 1, (14, 18)),
    (15, (1, 0, 1), 0, (0, 0)), (15, (1, 0, 0), 0, (0, 0)),
    (18, (0, 1, 1), 0, (0, 0)), (18, (0, 0, 1), 0, (0, 0)),
    (19, (0, 0, 1), 0, (0, 0)), (17, (1, 0, 0), 0, (0, 0)),
    (19, (0, 0, 0), 0, (0, 0)), (18, (0, 1, 0), 0, (0, 0)),
    (18, (1, 0, 1), 0, (0, 0)), (19, (2, 0, 0), 1, (-1, -1)),
    (19, (1, 0, 0), 0, (0, 0)), (18, (0, 0, 0), 0, (0, 0)),
    (19, (1, 0, 1), 0, (0, 0)), (18, (1, 0, 0), 0, (0, 0)),
]

assert len(BASE_CELL_DATA) == NUM_BASE_CELLS
_PENTAGONS = {i for i, b in enumerate(BASE_CELL_DATA) if b[2]}
assert _PENTAGONS == {4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117}


def base_cell_is_pentagon(bc: int) -> bool:
    return BASE_CELL_DATA[bc][2] == 1


def base_cell_is_cw_offset(bc: int, face: int) -> bool:
    off = BASE_CELL_DATA[bc][3]
    return face in off


# --- exact icosahedron snapped to the quoted orientation -------------------

def _latlon_to_xyz(lat, lon):
    return np.array([math.cos(lat) * math.cos(lon),
                     math.cos(lat) * math.sin(lon),
                     math.sin(lat)])


def _build_exact_geometry():
    """Fit a perfect icosahedron to the quoted face centers (Kabsch with
    nearest-neighbor correspondence) and return exact face centers,
    per-face vertex coordinates, and snapped i-axis azimuths."""
    phi = (1 + math.sqrt(5.0)) / 2
    verts = []
    for a in (-1.0, 1.0):
        for b in (-phi, phi):
            verts += [(0, a, b), (a, b, 0), (b, 0, a)]
    V = np.array(verts, dtype=np.float64)
    V /= np.linalg.norm(V, axis=1, keepdims=True)

    # faces: triples of mutually nearest vertices
    d = V @ V.T
    faces = []
    for i in range(12):
        for j in range(i + 1, 12):
            if d[i, j] < 0.3:  # adjacent vertices: dot = 1/sqrt(5) ~ 0.447
                continue
            for k in range(j + 1, 12):
                if d[i, k] > 0.3 and d[j, k] > 0.3:
                    faces.append((i, j, k))
    C = np.array([V[list(f)].mean(axis=0) for f in faces])
    C /= np.linalg.norm(C, axis=1, keepdims=True)

    U = np.array([_latlon_to_xyz(lat, lon) for lat, lon in _FACE_CENTER_GEO_QUOTED])

    # correspondence search: align (U0, U1) to candidate canonical pairs
    def rot_from_pairs(a1, a2, b1, b2):
        def frame(x1, x2):
            e1 = x1
            e2 = x2 - (x2 @ e1) * e1
            n = np.linalg.norm(e2)
            if n < 1e-9:
                return None
            e2 /= n
            e3 = np.cross(e1, e2)
            return np.stack([e1, e2, e3])
        A = frame(a1, a2)
        B = frame(b1, b2)
        if A is None or B is None:
            return None
        return B.T @ A

    ang01 = U[0] @ U[1]
    best = None
    for i in range(20):
        for j in range(20):
            if i == j or abs(C[i] @ C[j] - ang01) > 0.05:
                continue
            R = rot_from_pairs(C[i], C[j], U[0], U[1])
            if R is None:
                continue
            RC = C @ R.T
            # assign each quoted center to nearest rotated canonical center
            sim = RC @ U.T
            assign = sim.argmax(axis=0)
            if len(set(assign.tolist())) != 20:
                continue
            err = sum(1 - sim[assign[k], k] for k in range(20))
            if best is None or err < best[0]:
                best = (err, assign.copy(), R)
    assert best is not None, 'icosahedron correspondence failed'
    _, assign, R0 = best

    # Kabsch refinement on all 20 correspondences
    P = C[assign]           # canonical, ordered by face index
    Q = U
    H = P.T @ Q
    Uu, _, Vt = np.linalg.svd(H)
    dsign = np.sign(np.linalg.det(Vt.T @ Uu.T))
    D = np.diag([1.0, 1.0, dsign])
    R = Vt.T @ D @ Uu.T
    exact_centers = (R @ P.T).T
    exact_centers /= np.linalg.norm(exact_centers, axis=1, keepdims=True)

    resid = np.linalg.norm(exact_centers - Q, axis=1).max()
    assert resid < 1e-9, f'face-center fit residual too large: {resid}'

    # per-face vertices (rotated canonical), ordered arbitrarily for now
    RV = (R @ V.T).T
    RV /= np.linalg.norm(RV, axis=1, keepdims=True)
    face_vert_idx = [faces[a] for a in assign]
    face_verts = [RV[list(fv)] for fv in face_vert_idx]

    # exact geo centers
    centers_geo = [(math.asin(max(-1, min(1, c[2]))), math.atan2(c[1], c[0]))
                   for c in exact_centers]

    # snap i-axis azimuths: azimuth from face center to the vertex closest
    # to the quoted azimuth
    def azimuth(lat1, lon1, lat2, lon2):
        return math.atan2(
            math.cos(lat2) * math.sin(lon2 - lon1),
            math.cos(lat1) * math.sin(lat2)
            - math.sin(lat1) * math.cos(lat2) * math.cos(lon2 - lon1))

    axes = []
    vert_geo = []
    for f in range(20):
        lat1, lon1 = centers_geo[f]
        vgs = [(math.asin(max(-1, min(1, v[2]))), math.atan2(v[1], v[0]))
               for v in face_verts[f]]
        azs = [azimuth(lat1, lon1, vg[0], vg[1]) % (2 * math.pi) for vg in vgs]
        want = _FACE_AXES_AZ_QUOTED[f]
        diffs = [min(abs(a - want), 2 * math.pi - abs(a - want)) for a in azs]
        k = int(np.argmin(diffs))
        assert diffs[k] < 1e-6, f'azimuth snap failed for face {f}: {diffs}'
        axes.append(azs[k])
        vert_geo.append(vgs)
    return centers_geo, axes, vert_geo


# --- the snapped tables -----------------------------------------------------
# _build_exact_geometry()'s output, written with repr(). The vertex order
# within a face is the one the derivation happened to produce.

FACE_CENTER_GEO = [
    (0.8035826497189889, 1.2483974196173997),
    (1.3077478834556406, 2.536945009877921),
    (1.0547512535239518, -1.3475173589003855),
    (0.6001915955381845, -0.45060390946974843),
    (0.4917154281987712, 0.4019882029113128),
    (0.1727453274156186, 1.6781468852804395),
    (0.6059293215713533, 2.9539233298124175),
    (0.4273705183289808, -1.888876200336278),
    (-0.0790661185492146, -0.7334295133808615),
    (-0.2309616444553861, 0.5064955873323556),
    (0.0790661185492146, 2.4081631402089316),
    (0.2309616444553861, -2.635097066257438),
    (-0.1727453274156186, -1.4634457683093538),
    (-0.6059293215713533, -0.18766932377737577),
    (-0.4273705183289808, 1.2527164532535153),
    (-0.6001915955381845, 2.6909887441200446),
    (-0.4917154281987712, -2.7396044506784802),
    (-0.8035826497189889, -1.8931952339723936),
    (-1.3077478834556406, -0.6046476437118723),
    (-1.0547512535239518, 1.7940752946894079),
]
FACE_AXES_AZ = [
    5.619958268523936, 5.76033908171418, 0.7802136543934359,
    0.4304693639800018, 6.13026912333511, 2.69287770653064,
    2.9829630034772427, 3.5329120027901437, 3.4943050042595702,
    3.0032141694995373, 5.930472956509809, 0.13837848409025594,
    0.44871494705915355, 0.1586296501125502, 5.891865957979236,
    2.7111232896097914, 3.294508837434269, 3.8048196922454434,
    3.6644388790551994, 2.3613789991963574,
]
FACE_VERTEX_GEO = [
    [(0.6824237381227757, 2.1345376823062954),
     (1.1292280282732132, 0.18389136451249852),
     (0.18234057161445041, 1.0150434523068808)],
    [(0.6824237381227757, 2.1345376823062954),
     (1.1292280282732132, 0.18389136451249852),
     (0.874465831655217, -2.50417205655199)],
    [(1.1292280282732132, 0.18389136451249852),
     (0.874465831655217, -2.50417205655199),
     (0.41395588772480907, -1.1716801296176957)],
    [(1.1292280282732132, 0.18389136451249852),
     (0.41395588772480907, -1.1716801296176957),
     (0.04015796854812396, -0.09154933123092046)],
    [(1.1292280282732132, 0.18389136451249852),
     (0.18234057161445041, 1.0150434523068808),
     (0.04015796854812396, -0.09154933123092046)],
    [(0.6824237381227757, 2.1345376823062954),
     (-0.41395588772480907, 1.9699125239720974),
     (0.18234057161445041, 1.0150434523068808)],
    [(0.6824237381227757, 2.1345376823062954),
     (-0.04015796854812396, 3.050043322358873),
     (0.874465831655217, -2.50417205655199)],
    [(-0.18234057161445041, -2.1265492012829124),
     (0.874465831655217, -2.50417205655199),
     (0.41395588772480907, -1.1716801296176957)],
    [(-0.6824237381227757, -1.0070549712834977),
     (0.41395588772480907, -1.1716801296176957),
     (0.04015796854812396, -0.09154933123092046)],
    [(-0.874465831655217, 0.6374205970378034),
     (0.18234057161445041, 1.0150434523068808),
     (0.04015796854812396, -0.09154933123092046)],
    [(0.6824237381227757, 2.1345376823062954),
     (-0.41395588772480907, 1.9699125239720974),
     (-0.04015796854812396, 3.050043322358873)],
    [(-0.04015796854812396, 3.050043322358873),
     (-0.18234057161445041, -2.1265492012829124),
     (0.874465831655217, -2.50417205655199)],
    [(-0.18234057161445041, -2.1265492012829124),
     (-0.6824237381227757, -1.0070549712834977),
     (0.41395588772480907, -1.1716801296176957)],
    [(-0.874465831655217, 0.6374205970378034),
     (-0.6824237381227757, -1.0070549712834977),
     (0.04015796854812396, -0.09154933123092046)],
    [(-0.41395588772480907, 1.9699125239720974),
     (-0.874465831655217, 0.6374205970378034),
     (0.18234057161445041, 1.0150434523068808)],
    [(-0.41395588772480907, 1.9699125239720974),
     (-0.04015796854812396, 3.050043322358873),
     (-1.1292280282732132, -2.9577012890772947)],
    [(-0.04015796854812396, 3.050043322358873),
     (-0.18234057161445041, -2.1265492012829124),
     (-1.1292280282732132, -2.9577012890772947)],
    [(-0.18234057161445041, -2.1265492012829124),
     (-1.1292280282732132, -2.9577012890772947),
     (-0.6824237381227757, -1.0070549712834977)],
    [(-0.874465831655217, 0.6374205970378034),
     (-1.1292280282732132, -2.9577012890772947),
     (-0.6824237381227757, -1.0070549712834977)],
    [(-0.41395588772480907, 1.9699125239720974),
     (-0.874465831655217, 0.6374205970378034),
     (-1.1292280282732132, -2.9577012890772947)],
]
