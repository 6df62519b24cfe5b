"""Golden-parity tests for the from-scratch H3 kernel.

Expected values are the h3 C library's answers as baked into the reference
test suite (/root/reference/tests/test_geohash.py) — the parity anchor for
tile assignments (BASELINE.json)."""

import numpy as np

from geostructures_spark.kernels import h3_core as H
from geostructures_spark.kernels import h3_cover as HC
from geostructures_spark.kernels import shapes as shp


def test_latlng_to_cell_goldens():
    # tests/test_geohash.py:48-57 and :100-103
    assert H.latlng_to_cell_scalar(0.0, 0.0, 8) == '88754e6499fffff'
    assert H.latlng_to_cell_scalar(1.0, 1.0, 8) == '887541ad5bfffff'
    # the h3_to_geopolygon golden cell is at res 7 over London (:292-313)
    assert H.latlng_to_cell_scalar(51.51, -0.14, 7) == '87195da49ffffff'


def test_get_resolution():
    assert H.get_resolution(H.str_to_h3('88754e6499fffff')) == 8
    assert H.get_resolution(H.str_to_h3('89754a9325bffff')) == 9


def test_cell_to_boundary_london_golden():
    # tests/test_geohash.py:292-313: assert_shape_equivalence precision=5
    expected = {(-0.14556, 51.52194), (-0.1602, 51.51508), (-0.15716, 51.50285),
                (-0.13948, 51.49748), (-0.12484, 51.50435), (-0.12788, 51.51658)}
    bnd = H.cell_to_boundary('87195da49ffffff')
    got = {(round(lng, 5), round(lat, 5)) for lat, lng in bnd}
    assert got == expected


def test_circle_polyfill_goldens():
    # tests/test_geohash.py:60-83
    circle = shp.make_shape('circle', {'center_lon': 0.0, 'center_lat': 0.0,
                                       'radius': 500.0})
    assert HC.cover_shape_h3(circle, 9) == {
        '89754a9325bffff', '89754e64983ffff', '89754e64993ffff',
        '89754e64997ffff', '89754e6499bffff', '89754e64d23ffff',
        '89754e64d27ffff', '89754e64d2bffff', '89754e64d2fffff',
        '89754e64d67ffff'}
    assert HC.cover_shape_h3(circle, 8) == {'88754e6499fffff', '88754e64d3fffff'}


def test_linestring_cover_golden():
    # tests/test_geohash.py:90-99
    ls = shp.make_shape('linestring',
                        rings=[np.array([[0.0, 0.0], [0.01, 0.01], [0.02, 0.0]])])
    assert HC.cover_shape_h3(ls, 8) == {
        '88754a9363fffff', '88754a9367fffff', '88754e6499fffff',
        '88754e64d3fffff', '88754e64dbfffff'}


def test_point_and_multipoint():
    pt = shp.make_shape('point', {'center_lon': 0.0, 'center_lat': 0.0})
    assert HC.cover_shape_h3(pt, 8) == {'88754e6499fffff'}
    multi = shp.make_shape('multipoint', children=[
        shp.make_shape('point', {'center_lon': 0.0, 'center_lat': 0.0}),
        shp.make_shape('point', {'center_lon': 1.0, 'center_lat': 1.0})])
    assert HC.cover_shape_h3(multi, 8) == {'88754e6499fffff', '887541ad5bfffff'}


def test_collection_map_golden():
    # tests/test_geohash.py:109-133: 600m + 300m circles at res 9
    c600 = shp.make_shape('circle', {'center_lon': 0.0, 'center_lat': 0.0, 'radius': 600.0})
    c300 = shp.make_shape('circle', {'center_lon': 0.0, 'center_lat': 0.0, 'radius': 300.0})
    counts = {}
    for s in (c600, c300):
        for cell in HC.cover_shape_h3(s, 9):
            counts[cell] = counts.get(cell, 0) + 1
    assert counts == {
        '89754e64d2fffff': 2, '89754e64d2bffff': 1, '89754e64983ffff': 1,
        '89754e64987ffff': 1, '89754e64993ffff': 2, '89754e64997ffff': 2,
        '89754e64d27ffff': 1, '89754e64d67ffff': 1, '89754a9324bffff': 1,
        '89754e64d23ffff': 1, '89754a9325bffff': 1, '89754e6499bffff': 1}


def test_roundtrip_global_fuzz():
    rng = np.random.RandomState(7)
    lats = rng.uniform(-89.9, 89.9, 500)
    lngs = rng.uniform(-180, 180, 500)
    for res in (1, 4, 8, 9):
        cells = H.latlng_to_cell(lats, lngs, res)
        for idx in range(0, 500, 11):
            s = H.h3_to_str(int(cells[idx]))
            clat, clng = H.cell_to_latlng(int(cells[idx]))
            assert H.latlng_to_cell_scalar(clat, clng, res) == s


def test_neighbors():
    nb = H.neighbors_geometric('88754e6499fffff')
    assert len(nb) == 6
    assert len(set(nb)) == 6
    # neighbor relation is symmetric
    for c in nb:
        assert '88754e6499fffff' in H.neighbors_geometric(c)


def test_pentagon_has_five_neighbors():
    # a res-1 pentagon cell: all-zero digits under pentagon base cell 4
    pent = H._assemble_index(1, 4, [0], T_face := 0, 0)
    assert H.is_pentagon(pent)
    nb = H.neighbors_geometric(pent)
    assert len(nb) == 5


def test_h3_parent_children_compact():
    """Hierarchy ops against the public H3 index spec: parent truncation,
    child enumeration (7 per hexagon, 6 per pentagon, 41 res+2 under a
    pentagon = 1 + 5*(49-1)/6 cells), lossless compact/uncompact."""
    from geostructures_spark.kernels import h3_tables as T
    from geostructures_spark.kernels.h3_core import (
        cell_to_children, cell_to_parent, compact_cells, is_pentagon,
        latlng_to_cell_scalar, str_to_h3, uncompact_cells)
    c = latlng_to_cell_scalar(51.5074, -0.1278, 9)
    p = cell_to_parent(c, 7)
    assert c in cell_to_children(p, 9)
    assert len(cell_to_children(p, 8)) == 7
    assert len(cell_to_children(p, 9)) == 49
    assert compact_cells(cell_to_children(p, 9)) == [p]
    assert uncompact_cells([p], 9) == sorted(cell_to_children(p, 9))
    # pentagon: 6 children, K-digit skipped, sizes match h3's formula
    pent_bc = next(i for i in range(122) if T.base_cell_is_pentagon(i))
    h0 = format((1 << 59) | (pent_bc << 45) | ((1 << 45) - 1), 'x')
    assert is_pentagon(str_to_h3(h0))
    assert len(cell_to_children(h0, 1)) == 6
    assert len(cell_to_children(h0, 2)) == 41
    assert compact_cells(cell_to_children(h0, 2)) == [h0]
    # a partial child set must NOT compact
    kids = cell_to_children(p, 8)
    assert compact_cells(kids[:-1]) == sorted(kids[:-1])
    # parent of parent composes
    assert cell_to_parent(c, 5) == cell_to_parent(cell_to_parent(c, 7), 5)


def test_class_iii_icosa_edge_distortion_vertices():
    """Class III cells whose edges cross an icosahedron face edge gain
    intersection vertices (published _faceIjkToCellBoundary behavior).
    Invariants: inserted vertices lie exactly on the icosa edge
    (equidistant from the two adjacent face centers), nudged-inward points
    index back to the cell, and the neighbor across the edge produces the
    bit-identical inserted vertex."""
    import math
    import numpy as np
    from geostructures_spark.kernels import h3_core as H

    fc = np.array(H._FACE_XYZ)

    def xyz(plat, plon):
        pr, lr = math.radians(plat), math.radians(plon)
        return np.array([math.cos(pr) * math.cos(lr),
                         math.cos(pr) * math.sin(lr), math.sin(pr)])

    cells = ['852c000bfffffff', '852c0003fffffff', '872c00000ffffff']
    seen_extra = 0
    for cell in cells:
        bd = H.cell_to_boundary(cell)
        assert len(bd) > 6  # at least one distortion vertex
        seen_extra += len(bd) - 6
        res = H.get_resolution(H.str_to_h3(cell))
        clat, clon = H.cell_to_latlng(cell)
        for (plat, plon) in bd:
            q = H.latlng_to_cell_scalar(plat + (clat - plat) * 0.02,
                                        plon + (clon - plon) * 0.02, res)
            assert q == cell
    assert seen_extra >= 4

    # on-edge + neighbor agreement for one cell
    c1 = cells[0]
    ins = []
    for p in H.cell_to_boundary(c1):
        d = np.sort(np.arccos(np.clip(fc @ xyz(*p), -1, 1)))[:2]
        if abs(d[0] - d[1]) < 1e-9:
            ins.append(p)
    assert ins  # it has on-edge vertices
    nb_pts = [p for nb in H.neighbors_geometric(c1)
              for p in H.cell_to_boundary(nb)]
    for q in ins:
        # the neighbor projects from its own center face; agreement is exact
        # up to float rounding of the two gnomonic paths
        assert min(np.linalg.norm(xyz(*p) - xyz(*q)) for p in nb_pts) < 1e-12


def test_mid_face_boundary_unchanged_by_distortion_path():
    """Mid-face Class III cells still emit exactly 6 vertices."""
    from geostructures_spark.kernels import h3_core as H
    cell = H.latlng_to_cell_scalar(51.5074, -0.1278, 7)
    assert len(H.cell_to_boundary(cell)) == 6


def test_pentagon_boundary_class_ii_and_iii():
    """Pentagon boundaries (published _faceIjkPentToCellBoundary): 5
    vertices at Class II (each ON an icosa edge), 10 at Class III (5
    original + 5 icosa-edge intersections), all index-consistent."""
    import math
    import numpy as np
    from geostructures_spark.kernels import h3_core as H

    fc = np.array(H._FACE_XYZ)

    def xyz(plat, plon):
        pr, lr = math.radians(plat), math.radians(plon)
        return np.array([math.cos(pr) * math.cos(lr),
                         math.cos(pr) * math.sin(lr), math.sin(pr)])

    h0 = (1 << 59) | (4 << 45) | sum(7 << (3 * (15 - r)) for r in range(1, 16))
    c0 = H.h3_to_str(h0)
    for res, expect in ((1, 10), (2, 5), (3, 10), (4, 5)):
        p = next(k for k in H.cell_to_children(c0, res)
                 if H.is_pentagon(H.str_to_h3(k)))
        bd = H.cell_to_boundary(p)
        assert len(bd) == expect
        clat, clon = H.cell_to_latlng(p)
        for plat, plon in bd:
            assert H.latlng_to_cell_scalar(plat + (clat - plat) * 0.02,
                                           plon + (clon - plon) * 0.02,
                                           res) == p
        on_edge = []
        for pt in bd:
            d = np.sort(np.arccos(np.clip(fc @ xyz(*pt), -1, 1)))[:2]
            on_edge.append(abs(d[0] - d[1]) < 1e-9)
        if expect == 5:
            assert all(on_edge)          # Class II: vertices sit on edges
        else:
            assert sum(on_edge) == 5     # Class III: the 5 inserted ones


def test_pentagon_vectorized_assembly_matches_scalar():
    """_assemble_pentagon_vec must be digit-for-digit identical to the
    scalar _assemble_index for pentagon base cells (the r6 vectorization
    of latlng_to_cell's slow path)."""
    rng = np.random.default_rng(7)
    pents = sorted({4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117})
    for res in (1, 3, 7, 15):
        m = 3000
        digits = rng.integers(0, 7, size=(m, res))
        bcs = rng.choice(pents, size=m)
        faces = rng.integers(0, 20, size=m)
        rots = rng.integers(0, 6, size=m)
        vec = H._assemble_pentagon_vec(res, bcs, digits, faces, rots)
        for i in range(m):
            s = H._assemble_index(res, int(bcs[i]), list(digits[i]),
                                  int(faces[i]), int(rots[i]))
            assert np.uint64(s) == vec[i], (res, bcs[i], faces[i],
                                            rots[i], digits[i])
    # pentagon centers (all-zero digits) and single-leading-digit rows
    res = 5
    rows = [np.zeros(res, dtype=np.int64)]
    for pos in range(res):
        for val in range(1, 7):
            d = np.zeros(res, dtype=np.int64)
            d[pos] = val
            rows.append(d)
    digits = np.array(rows)
    m = len(digits)
    for bc in (4, 14, 117):  # no-offset and cw-offset pentagons
        for face in range(20):
            for rot in (0, 1, 5):
                vec = H._assemble_pentagon_vec(
                    res, np.full(m, bc), digits, np.full(m, face),
                    np.full(m, rot))
                for i in range(m):
                    s = H._assemble_index(res, bc, list(digits[i]),
                                          face, rot)
                    assert np.uint64(s) == vec[i]
