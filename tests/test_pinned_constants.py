"""Doubles that oracle texts embed are literals, not import-time derivations.

The H3 face tables come from a Kabsch fit whose last bits follow the BLAS
kernel the CPU selects; the grid constants come from numpy's transcendental
functions, which numpy dispatches per CPU (SVML under AVX-512). The literals
must still be what the derivations give, and the oracle texts must not move
with the host's BLAS kernel or SIMD dispatch."""

import math
import os
import subprocess
import sys

import numpy as np

from geostructures_spark.kernels import datum as D
from geostructures_spark.kernels import h3_core as H
from geostructures_spark.kernels import h3_tables as T

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _xyz(lat, lon):
    lat, lon = np.asarray(lat), np.asarray(lon)
    return np.stack([np.cos(lat) * np.cos(lon), np.cos(lat) * np.sin(lon),
                     np.sin(lat)], axis=-1)


def test_h3_literals_match_the_snap():
    # the fit's residual (< 1e-9) and azimuth-snap (< 1e-6) asserts run here
    centers, axes, verts = T._build_exact_geometry()
    np.testing.assert_allclose(T.FACE_CENTER_GEO, centers, rtol=0, atol=1e-12)
    np.testing.assert_allclose(T.FACE_AXES_AZ, axes, rtol=0, atol=1e-12)
    lat, lon = np.array(centers).T
    np.testing.assert_allclose(H._FACE_XYZ, _xyz(lat, lon), rtol=0, atol=1e-12)
    np.testing.assert_array_equal(H._FACE_LAT, [c[0] for c in T.FACE_CENTER_GEO])
    np.testing.assert_array_equal(H._FACE_LON, [c[1] for c in T.FACE_CENTER_GEO])
    np.testing.assert_array_equal(H._FACE_AZ, T.FACE_AXES_AZ)
    # the vertex order within a face follows the BLAS kernel: compare sets
    # (a face's three vertices are ~1.1 rad apart, so nearest is the match)
    for face, (pinned, derived) in enumerate(zip(T.FACE_VERTEX_GEO, verts)):
        assert len(pinned) == len(derived) == 3
        p = _xyz(*np.array(pinned).T)
        for v in _xyz(*np.array(derived).T):
            assert np.linalg.norm(p - v, axis=1).min() < 1e-12, face


def test_ap7_rotation_is_asin_sqrt_3_28():
    ref = math.asin(math.sqrt(3.0 / 28.0))
    assert abs(T.M_AP7_ROT_RADS - ref) <= math.ulp(ref)


def test_grid_literals_match_the_derivations():
    g = D.GRID_CRS['EPSG:27700']
    m0 = D._meridian_arc(g.ell, g.tm.lat0)
    assert abs(m0 - g.tm.m0) <= math.ulp(g.tm.m0)
    for code, derive in (('EPSG:2154', D.lcc_constants),
                         ('EPSG:5070', D.albers_constants)):
        g = D.GRID_CRS[code]
        assert derive(g.ell, g.tm) == g.tm.consts
        # identical under every kernel and dispatch tried; a few ulp leave
        # room for another libm's last-bit rounding
        derived = derive(g.ell, g.tm._replace(consts=None))
        for d, pinned in zip(derived, g.tm.consts):
            assert abs(d - pinned) <= 4 * math.ulp(pinned), code


_ORACLE_SHA256 = (
    'import hashlib, json, __spark_entry__ as em; '
    'print(hashlib.sha256(json.dumps(em.oracle_sql(), sort_keys=True)'
    '.encode()).hexdigest())')
_AVX512 = 'AVX512F AVX512CD AVX512_SKX AVX512_CLX AVX512_CNL AVX512_ICL'


def test_oracle_texts_do_not_follow_blas_kernel_or_simd_dispatch():
    """OPENBLAS_CORETYPE picks the kernel of a DYNAMIC_ARCH OpenBLAS (other
    builds ignore it); NPY_DISABLE_CPU_FEATURES switches numpy's AVX-512
    dispatch off (features the CPU lacks are ignored)."""
    hashes = {}
    for core in ('Prescott', 'Haswell', 'SkylakeX'):
        for disabled in ('', _AVX512):
            env = dict(os.environ, OPENBLAS_CORETYPE=core,
                       NPY_DISABLE_CPU_FEATURES=disabled)
            out = subprocess.run([sys.executable, '-c', _ORACLE_SHA256],
                                 cwd=REPO, env=env, capture_output=True,
                                 text=True, timeout=300)
            assert out.returncode == 0, out.stderr
            hashes[core, disabled] = out.stdout.split()[-1]
    assert len(set(hashes.values())) == 1, hashes
