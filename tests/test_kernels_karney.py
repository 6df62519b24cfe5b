"""Golden-parity tests for the Karney geodesic kernel and exact area.

Expected values are the reference library's own geographiclib-backed goldens
(/root/reference/tests/test_geodesic.py:97-144) and the pyproj area golden
(/root/reference/tests/base/test_shape_mixins.py:29), replayed through the
from-scratch exact-integral kernel (kernels/karney.py).
"""

import numpy as np
import pytest

from geostructures_spark.kernels.karney import (
    ellipsoidal_area_batch, ellipsoidal_area_rings, karney_bearing,
    karney_destination, karney_distance, karney_inverse)
from geostructures_spark.kernels.shapes import shape_area_ring_groups


def _sq(x0, y0, s):
    return np.array([[x0, y0], [x0 + s, y0], [x0 + s, y0 + s],
                     [x0, y0 + s], [x0, y0]], dtype=np.float64)


def test_karney_bearing_golden():
    # tests/test_geodesic.py:97-100
    assert float(karney_bearing(0.0, 0.0, 0.001, 0.001)) == pytest.approx(
        45.192423, abs=1e-6)


def test_karney_distance_goldens():
    # tests/test_geodesic.py:103-116
    assert float(karney_distance(0.0, 0.0, 0.001, 0.001)) == pytest.approx(
        156.903471, abs=1e-6)
    assert float(karney_distance(0.0, 0.0, 1.0, 1.0)) == pytest.approx(
        156_899.568291, abs=1e-6)
    # antimeridian
    assert float(karney_distance(179.0, 0.0, -179.0, 0.0)) == pytest.approx(
        222_638.981586, abs=1e-6)


def test_karney_destination_golden():
    # tests/test_geodesic.py:124-127
    lon, lat, _ = karney_destination(0.0, 0.0, 45.0, 111_000)
    assert float(lon) == pytest.approx(0.705113, abs=1e-6)
    assert float(lat) == pytest.approx(0.709811, abs=1e-6)


def test_karney_antipodal_converges():
    # Vincenty fails to converge here (reference falls back to haversine,
    # tests/test_geodesic.py:117-121); the bisection solver must not.
    d = float(karney_distance(0.0, 0.0, 180.0, 0.0))
    # equatorial antipodes travel over the pole: 2 * meridian quarter * 2
    meridian_half = float(karney_distance(0.0, -90.0, 0.0, 90.0))
    assert d == pytest.approx(meridian_half, rel=1e-9)
    d2 = float(karney_distance(10.0, 30.0, -170.0, -29.5))
    assert 19_800_000 < d2 < 20_100_000


def test_karney_direct_inverse_roundtrip():
    rng = np.random.default_rng(7)
    lon1 = rng.uniform(-180, 180, 50)
    lat1 = rng.uniform(-80, 80, 50)
    lon2 = rng.uniform(-180, 180, 50)
    lat2 = rng.uniform(-80, 80, 50)
    s12, azi1, _ = karney_inverse(lon1, lat1, lon2, lat2)
    rlon, rlat, _ = karney_destination(lon1, lat1, azi1, s12)
    # sub-millimeter round-trip (1e-8 deg ~ 1 mm)
    assert np.allclose(rlon, lon2, atol=1e-7)
    assert np.allclose(rlat, lat2, atol=1e-7)


def test_ellipsoidal_area_box_golden():
    # GeoBox((0,1),(1,0)).area == 12308778361.469452 (pyproj WGS84;
    # tests/base/test_shape_mixins.py:29). Quadrature matches to ~2e-13 rel.
    area = ellipsoidal_area_rings([_sq(0.0, 0.0, 1.0)])
    assert area == pytest.approx(12_308_778_361.469452, rel=1e-9)


def test_ellipsoidal_area_hole_subtracts_and_orientation_invariant():
    outer = _sq(5.0, 5.0, 1.0)
    hole = _sq(5.25, 5.25, 0.5)
    a_out = ellipsoidal_area_rings([outer])
    a_hole = ellipsoidal_area_rings([hole])
    a = ellipsoidal_area_rings([outer, hole[::-1]])
    assert a == pytest.approx(a_out - a_hole, rel=1e-9)
    # ring orientation must not matter (reference takes abs per pyproj)
    assert ellipsoidal_area_rings([outer[::-1]]) == pytest.approx(a_out, rel=1e-9)


def test_multipolygon_area_groups_sum():
    # MultiGeoShape.area sums children (multistructures.py:471)
    mp = {'kind': 'multipolygon', 'params': {}, 'rings': None, 'children': [
        {'kind': 'polygon', 'params': {}, 'rings': [_sq(0, 0, 1)],
         'children': None},
        {'kind': 'polygon', 'params': {},
         'rings': [_sq(5, 5, 1), _sq(5.25, 5.25, 0.5)[::-1]],
         'children': None}]}
    groups = shape_area_ring_groups(mp)
    assert [len(grp) for grp in groups] == [1, 2]
    areas = ellipsoidal_area_batch(groups)
    want = (ellipsoidal_area_rings([_sq(0, 0, 1)])
            + ellipsoidal_area_rings([_sq(5, 5, 1)])
            - ellipsoidal_area_rings([_sq(5.25, 5.25, 0.5)]))
    assert float(areas.sum()) == pytest.approx(want, rel=1e-9)


def test_area_batch_degenerate_rows():
    # points / linestrings contribute no groups; empty batch is fine
    assert ellipsoidal_area_batch([]).shape == (0,)
    out = ellipsoidal_area_batch([[], [_sq(0, 0, 1)]])
    assert out[0] == 0.0 and out[1] > 0
