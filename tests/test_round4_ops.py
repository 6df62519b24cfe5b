"""Round-4 regression tests: the Arrow GEMM rewrite of the IVF cosine
family (r3-verdict task 2), the IVF bucket cap + observable drops
(task 3), and the ADVICE fixes (connected_components convergence signal,
dangling-observation guards, S2 polyfill grid guard)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.test_spark_operators import spark  # shared session fixture


def _rand_vecs(spark, n, dim, seed=7, start_id=0):
    rng = np.random.RandomState(seed)
    rows = [(start_id + i, rng.randn(dim).astype(np.float64).tolist())
            for i in range(n)]
    return spark.createDataFrame(rows, 'vec_id long, embedding array<double>')


# --- GEMM assign == expression-form assign ----------------------------------

def test_ivf_assign_gemm_matches_hof(spark):
    """The GEMM kernel and the retained HOF expression form must pick the
    same nearest centroid for every vector (identical argmax + tie-break
    semantics), across multiple input partitions."""
    from geostructures_spark.operators.simsearch import (
        ivf_assign, ivf_assign_hof)
    vecs = _rand_vecs(spark, 300, 24).repartition(7)
    cents = (_rand_vecs(spark, 16, 24, seed=11)
             .select(F.col('vec_id').alias('centroid_id'),
                     F.col('embedding').alias('c_embedding')))
    got = {r['vec_id']: r['centroid_id']
           for r in ivf_assign(vecs, cents).collect()}
    want = {r['vec_id']: r['centroid_id']
            for r in ivf_assign_hof(vecs, cents).collect()}
    assert got == want and len(got) == 300


def test_ivf_assign_no_window_no_expansion(spark):
    """r3-verdict done-criterion: the GEMM assign plan carries no Window
    (the old form shuffled k-times expanded rows on vec_id) and no
    join/cross-join row expansion — a single mapInPandas stage."""
    from geostructures_spark.operators.simsearch import ivf_assign
    vecs = _rand_vecs(spark, 50, 8)
    cents = (_rand_vecs(spark, 4, 8, seed=3)
             .select(F.col('vec_id').alias('centroid_id'),
                     F.col('embedding').alias('c_embedding')))
    plan = ivf_assign(vecs, cents)._jdf.queryExecution().executedPlan().toString()
    assert 'Window' not in plan
    assert 'Join' not in plan and 'CartesianProduct' not in plan


def test_ivf_assign_multi_assign_tiebreak(spark):
    """n_assign>1: stable argsort must order equal similarities by
    ascending centroid id (the oracle's ROW_NUMBER tie-break). Duplicate
    centroids guarantee exact float ties."""
    from geostructures_spark.operators.simsearch import ivf_assign
    vecs = spark.createDataFrame([(0, [1.0, 0.0])],
                                 'vec_id long, embedding array<double>')
    cents = spark.createDataFrame(
        [(5, [1.0, 0.0]), (2, [1.0, 0.0]), (9, [0.0, 1.0])],
        'centroid_id long, c_embedding array<double>')
    got = sorted(r['centroid_id']
                 for r in ivf_assign(vecs, cents, n_assign=2).collect())
    assert got == [2, 5]  # both ties win over the orthogonal 9; 2 before 5


def test_cosine_topk_exact_multibatch(spark):
    """Batch-local partial top-k across many partitions must equal the
    NumPy brute-force top-k (union-of-batch-topk exactness), including
    the self-match exclusion."""
    from geostructures_spark.operators.simsearch import cosine_topk_exact
    n, dim, k = 400, 12, 6
    rng = np.random.RandomState(42)
    X = rng.randn(n, dim)
    vecs = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)],
        'vec_id long, embedding array<double>').repartition(9)
    q_ids = [3, 77]
    queries = spark.createDataFrame(
        [(i, X[i].tolist()) for i in q_ids],
        'query_id long, q_embedding array<double>')
    got = {(r['query_id'], r['rank']): r['neighbor_id']
           for r in cosine_topk_exact(vecs, queries, k=k).collect()}
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    for qi in q_ids:
        sims = Xn @ Xn[qi]
        order = [i for i in np.lexsort((np.arange(n), -sims)) if i != qi][:k]
        for rank, nid in enumerate(order, start=1):
            assert got[(qi, rank)] == nid
    assert len(got) == len(q_ids) * k


def test_cosine_topk_duplicate_vector_ties(spark):
    """Exact duplicate embeddings produce exact cosine ties — the batch-
    local lexsort and the global window must both resolve them to the
    LOWEST neighbor id, even when the duplicates sit in different
    partitions."""
    from geostructures_spark.operators.simsearch import cosine_topk_exact
    base = [1.0, 2.0, 3.0, 4.0]
    other = [-4.0, 3.0, -2.0, 1.0]
    rows = [(i, base) for i in range(20)] + [(100 + i, other) for i in range(5)]
    vecs = spark.createDataFrame(
        rows, 'vec_id long, embedding array<double>').repartition(6)
    queries = spark.createDataFrame([(0, base)],
                                    'query_id long, q_embedding array<double>')
    got = [r['neighbor_id'] for r in
           cosine_topk_exact(vecs, queries, k=5).orderBy('rank').collect()]
    assert got == [1, 2, 3, 4, 5]  # ties -> ascending ids, self (0) excluded


# --- IVF bucket cap + observable drops (r3-verdict task 3) ------------------

def test_embedding_neardup_mega_bucket_capped(spark):
    """Adversarial skew: every vector lands in ONE centroid bucket. With
    the cap, the within-bucket quadratic join is skipped for that bucket
    (bounded pairs) and the drop is observable via Observation metrics.
    AQE off: empty-result empty-relation propagation would erase the
    metrics node (same caveat as minhash_lsh_pairs)."""
    from pyspark.sql import Observation
    from geostructures_spark.operators.simsearch import embedding_neardup_pairs
    n = 2000
    rng = np.random.RandomState(1)
    base = rng.randn(8)
    rows = [(i, (base + rng.randn(8) * 0.001).tolist()) for i in range(n)]
    vecs = spark.createDataFrame(rows, 'vec_id long, embedding array<double>')
    cents = spark.createDataFrame(
        [(0, base.tolist()), (1, (-base).tolist()), (2, np.roll(base, 1).tolist())],
        'centroid_id long, c_embedding array<double>')
    obs = Observation('neardup_cap')
    spark.conf.set('spark.sql.adaptive.enabled', 'false')
    try:
        out = embedding_neardup_pairs(vecs, cents, threshold=0.9,
                                      n_assign=1, max_bucket=500,
                                      observation=obs)
        assert out.count() == 0  # the only bucket got dropped
        m = obs.get
        assert m['dropped_buckets'] == 1
        assert m['dropped_docs'] == n
        assert m['max_bucket_size'] == n
    finally:
        spark.conf.set('spark.sql.adaptive.enabled', 'true')


def test_embedding_neardup_cap_keeps_small_buckets(spark):
    """Planted near-dups in small buckets survive while a mega-bucket is
    dropped: the cap must not damage recall outside the skewed bucket."""
    from geostructures_spark.operators.simsearch import embedding_neardup_pairs
    rng = np.random.RandomState(5)
    mega = rng.randn(8)
    small = np.roll(mega, 3) * -1.0
    rows = [(i, (mega + rng.randn(8) * 0.001).tolist()) for i in range(800)]
    rows += [(1000, small.tolist()), (1001, (small + 0.0005).tolist())]
    vecs = spark.createDataFrame(rows, 'vec_id long, embedding array<double>')
    cents = spark.createDataFrame(
        [(0, mega.tolist()), (1, small.tolist())],
        'centroid_id long, c_embedding array<double>')
    got = {(r['doc_a'], r['doc_b'])
           for r in embedding_neardup_pairs(vecs, cents, threshold=0.99,
                                            n_assign=1, max_bucket=100).collect()}
    assert got == {(1000, 1001)}


def test_dangling_observation_raises(spark):
    """ADVICE r3: observation= with max_bucket=None would never attach
    metrics (Observation.get blocks forever) — both cap sites refuse."""
    from pyspark.sql import Observation
    from geostructures_spark.operators.dedup import minhash_lsh_pairs
    from geostructures_spark.operators.simsearch import embedding_neardup_pairs
    docs = spark.createDataFrame([(1, 'a b c d e f')], 'doc_id long, text string')
    with pytest.raises(ValueError, match='max_bucket'):
        minhash_lsh_pairs(docs, max_bucket=None, observation=Observation('x'))
    vecs = spark.createDataFrame([(1, [1.0, 0.0])],
                                 'vec_id long, embedding array<double>')
    with pytest.raises(ValueError, match='max_bucket'):
        embedding_neardup_pairs(vecs, vecs.select(
            F.col('vec_id').alias('centroid_id'),
            F.col('embedding').alias('c_embedding')),
            threshold=0.5, max_bucket=None, observation=Observation('y'))


# --- connected_components convergence signal (ADVICE r3) --------------------

def test_connected_components_unconverged_raises(spark):
    """A chain longer than max_iter hops cannot converge — strict mode
    raises instead of silently returning split components."""
    from geostructures_spark.operators.dedup import connected_components
    chain = spark.createDataFrame([(i, i + 1) for i in range(30)],
                                  'doc_a long, doc_b long')
    with pytest.raises(RuntimeError, match='did not converge'):
        connected_components(chain, max_iter=3)


def test_connected_components_unconverged_warns_nonstrict(spark):
    """strict=False downgrades exhaustion to a RuntimeWarning and returns
    the partial labels."""
    import warnings
    from geostructures_spark.operators.dedup import connected_components
    chain = spark.createDataFrame([(i, i + 1) for i in range(30)],
                                  'doc_a long, doc_b long')
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter('always')
        out = connected_components(chain, max_iter=3, strict=False)
        assert out.count() == 31
    assert any('did not converge' in str(x.message) for x in w)


def test_connected_components_converged_path_still_clean(spark):
    """A converging graph raises nothing and yields min-id components."""
    from geostructures_spark.operators.dedup import connected_components
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)],
                                  'doc_a long, doc_b long')
    got = {r['node']: r['component']
           for r in connected_components(pairs, max_iter=10).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


# --- datum shifts / national grids (r3-verdict task 5) ----------------------

def test_kruger_symbolic_matches_wgs84_constants():
    """The symbolic polynomial-in-n series instantiated for WGS84 must
    reproduce kernels/mgrs.py's independently hardcoded arrays
    bit-for-bit — validates every coefficient of the generic series."""
    from geostructures_spark.kernels import datum as D
    from geostructures_spark.kernels import mgrs as M
    a1, alpha, beta = D.kruger_coefficients(D.WGS84)
    assert a1 == M._A1
    assert np.array_equal(alpha, M._ALPHA)
    assert np.array_equal(beta, M._BETA)


def test_airy_tm_os_worked_example():
    """Ordnance Survey's published worked example (OSGB36-native
    coordinates, so it tests the Airy TM alone, no Helmert):
    52°39'27.2531\"N 1°43'4.5177\"E -> E 651409.903, N 313177.270."""
    from geostructures_spark.kernels import datum as D
    lat = 52 + 39 / 60 + 27.2531 / 3600
    lon = 1 + 43 / 60 + 4.5177 / 3600
    x, y = D.tm_forward_ell(np.array([lon]), np.array([lat]),
                            D.AIRY1830, D.GRID_CRS['EPSG:27700'].tm)
    assert abs(x[0] - 651409.903) < 5e-4
    assert abs(y[0] - 313177.270) < 5e-4
    # and the inverse closes to machine precision
    lo, la = D.tm_inverse_ell(x, y, D.AIRY1830, D.GRID_CRS['EPSG:27700'].tm)
    assert abs(lo[0] - lon) < 1e-12 and abs(la[0] - lat) < 1e-12


def test_helmert_position_vector_identities():
    """The zero transform is the identity; forward∘inverse closes to the
    second-order (≈1e-5 m) level the EPSG sign-flip convention promises;
    the OSGB36 shift moves a London point by the expected hundreds of
    metres in 3D."""
    from geostructures_spark.kernels import datum as D
    X, Y, Z = D.geodetic_to_ecef(np.array([-0.1]), np.array([51.5]), D.WGS84)
    i = D.helmert_apply(X, Y, Z, D.Helmert(0, 0, 0))
    assert np.allclose([i[0][0], i[1][0], i[2][0]], [X[0], Y[0], Z[0]])
    p = D.GRID_CRS['EPSG:27700'].wgs84_to_datum
    f = D.helmert_apply(X, Y, Z, p)
    b = D.helmert_apply(*f, p.inverse())
    # sign-flip inverse is exact only to second order in the small
    # parameters: (s + r)^2 * R ~ 1 cm for the OSGB magnitudes
    assert max(abs(b[0][0] - X[0]), abs(b[1][0] - Y[0]),
               abs(b[2][0] - Z[0])) < 0.05
    shift = np.hypot(np.hypot(f[0][0] - X[0], f[1][0] - Y[0]), f[2][0] - Z[0])
    assert 500 < shift < 900  # the full 3D datum offset magnitude


def test_ecef_geodetic_roundtrip_both_ellipsoids():
    from geostructures_spark.kernels import datum as D
    lon = np.array([-8.0, 0.0, 1.8, 179.5, -179.5])
    lat = np.array([49.9, 60.7, -33.0, 83.0, -83.0])
    for ell in (D.WGS84, D.AIRY1830, D.INTL1924):
        lo, la, h = D.ecef_to_geodetic(*D.geodetic_to_ecef(lon, lat, ell), ell)
        assert np.abs(lo - lon).max() < 1e-11
        assert np.abs(la - lat).max() < 1e-11
        assert np.abs(h).max() < 1e-5


def test_bng_full_chain_roundtrip_and_plausibility():
    """WGS84 -> EPSG:27700 -> WGS84 closes under 1e-5 deg (~1 m; the 2D
    transform drops the Helmert-induced height, see _q_osgb_project), and
    a London point lands in the published 100 km square TQ (easting
    500k-600k, northing 100k-200k)."""
    from geostructures_spark.kernels import datum as D
    lon = np.array([-0.1276, -3.1883, -1.5, -5.93])
    lat = np.array([51.5072, 55.9533, 52.2, 54.6])
    x, y = D.grid_forward(lon, lat, 'EPSG:27700')
    assert 500_000 < x[0] < 600_000 and 100_000 < y[0] < 200_000
    rl, rb = D.grid_inverse(x, y, 'EPSG:27700')
    assert np.abs(rl - lon).max() < 1e-5 and np.abs(rb - lat).max() < 1e-5


def test_ed50_utm_roundtrip():
    """EPSG:23031 (ED50 / UTM 31N, International 1924): the ED50 easting/
    northing of a Paris-area point must differ from WGS84 UTM 31N by the
    well-known ~100 m NW shift, and the roundtrip closes."""
    from geostructures_spark.kernels import datum as D
    from geostructures_spark.kernels.mgrs import utm_forward
    lon, lat = np.array([2.35]), np.array([48.85])
    ex, ny = D.grid_forward(lon, lat, 'EPSG:23031')
    _, _, wx, wy = utm_forward(lon, lat)
    d = np.hypot(ex[0] - wx[0], ny[0] - wy[0])
    assert 50 < d < 250
    rl, rb = D.grid_inverse(ex, ny, 'EPSG:23031')
    assert abs(rl[0] - lon[0]) < 1e-6 and abs(rb[0] - lat[0]) < 1e-6


def test_projection_udf_grid_dispatch(spark):
    """to/from_projection_udf route EPSG:27700 through the datum kernel
    and keep the reference's 6dp half-up rounding contract."""
    from geostructures_spark.functions.geo import (
        from_projection_udf, to_projection_udf)
    df = spark.createDataFrame([(1, -0.1276, 51.5072)],
                               'pid long, lon double, lat double')
    fwd = to_projection_udf('EPSG:27700')
    inv = from_projection_udf('EPSG:27700')
    row = (df.withColumn('p', fwd(F.col('lon'), F.col('lat')))
           .withColumn('b', inv(F.col('p.x'), F.col('p.y')))
           .collect()[0])
    assert 500_000 < row['p']['x'] < 600_000
    assert abs(row['b']['lon'] - -0.1276) < 1e-5
    assert abs(row['b']['lat'] - 51.5072) < 1e-5


def test_geographic_datum_crs_roundtrip():
    """EPSG:4277 / EPSG:4230 (geographic OSGB36 / ED50): the famous
    Greenwich case — the WGS84 zero meridian reads ~0.0015 deg E
    (~100 m) in OSGB36 longitude — plus roundtrip closure."""
    from geostructures_spark.kernels import datum as D
    lon, lat = np.array([0.0]), np.array([51.4778])  # Greenwich Observatory
    olon, olat = D.datum_shift(lon, lat, 'EPSG:4277')
    assert 0.0008 < olon[0] < 0.0025   # OSGB36 lon of the WGS84 meridian
    rl, rb = D.datum_unshift(olon, olat, 'EPSG:4277')
    assert abs(rl[0]) < 1e-5 and abs(rb[0] - 51.4778) < 1e-5
    elon, elat = D.datum_shift(np.array([2.35]), np.array([48.85]),
                               'EPSG:4230')
    d = np.hypot((elon[0] - 2.35) * 73000, (elat[0] - 48.85) * 111000)
    assert 30 < d < 300  # ED50 offset near Paris is ~100 m
    rl, rb = D.datum_unshift(elon, elat, 'EPSG:4230')
    assert abs(rl[0] - 2.35) < 1e-5 and abs(rb[0] - 48.85) < 1e-5


def test_projection_udf_geographic_dispatch(spark):
    """to/from_projection_udf route EPSG:4277 through the datum-shift
    path (x=lon, y=lat on OSGB36)."""
    from geostructures_spark.functions.geo import (
        from_projection_udf, to_projection_udf)
    df = spark.createDataFrame([(0.0, 51.4778)], 'lon double, lat double')
    fwd = to_projection_udf('EPSG:4277')
    inv = from_projection_udf('EPSG:4277')
    row = (df.withColumn('p', fwd(F.col('lon'), F.col('lat')))
           .withColumn('b', inv(F.col('p.x'), F.col('p.y'))).collect()[0])
    assert 0.0008 < row['p']['x'] < 0.0025
    assert abs(row['b']['lon']) < 1e-5


# --- kNN query ring on the packed cell key ----------------------------------

def test_ring_neighbors_matches_bfs(spark):
    """knn_join's SQL ring (_ring_keys_sql) must reach exactly the cells the
    scalar BFS over surrounding() reaches, with no repeated key, for
    lengths 1-4 and rings 1-4 and 8, including antimeridian-straddling,
    polar and dyadic-edge points (a ring across the pole from a latitude
    edge)."""
    from geostructures_spark.functions.geo import niemeyer_quantize_sql
    from geostructures_spark.kernels import niemeyer as nie
    from geostructures_spark.operators.knn import _ring_keys_sql
    pts = [(13.4, 52.5), (-179.98, 10.2), (179.97, -45.0), (2.3, 78.5),
           (-0.001, 0.001), (100.0, -80.0), (12.5, -88.5), (-140.4, -71.4)]
    q = spark.createDataFrame([(i, lo, la) for i, (lo, la) in enumerate(pts)],
                              'query_id int, lon double, lat double')
    for length in (1, 2, 3, 4):
        n = 1 << 2 * length
        qi, qj = niemeyer_quantize_sql('lon', 'lat', length)
        for ring in (1, 2, 3, 4, 8):
            rows = q.selectExpr('query_id', f'{qi} AS _qi', f'{qj} AS _qj').selectExpr(
                'query_id', f"{_ring_keys_sql('_qi', '_qj', ring, length)} AS keys").collect()
            for r in rows:
                center = nie.encode_scalar(*pts[r.query_id], length, 16)
                cells = {center}
                frontier = {center}
                for _ in range(ring):
                    nxt = set()
                    for c in frontier:
                        nxt.update(nie.surrounding(c, 16))
                    nxt -= cells
                    cells |= nxt
                    frontier = nxt
                # a key's cell, named by the encode of its center
                i = np.array([k >> 32 for k in r.keys])
                j = np.array([k & (n - 1) for k in r.keys])
                got = nie.encode(-180.0 + (i + 0.5) * 360.0 / n, -90.0 + (j + 0.5) * 180.0 / n,
                                 length, 16)
                assert len(got) == len(set(got)), (length, ring, r.query_id)
                assert set(map(str, got)) == cells, (length, ring, r.query_id)


# --- S2 polyfill grid guard (ADVICE r3) -------------------------------------

def test_s2_polyfill_candidate_guard():
    """A bbox needing more grid samples than max_candidates raises with
    guidance instead of materializing the dense grid."""
    from geostructures_spark.kernels.s2 import polygon_to_cells_s2
    big = [(-60.0, -50.0), (60.0, -50.0), (60.0, 50.0), (-60.0, 50.0),
           (-60.0, -50.0)]
    with pytest.raises(ValueError, match='max_candidates'):
        polygon_to_cells_s2([big], level=18, max_candidates=100_000)


def test_s2_polyfill_banded_equals_single_pass():
    """Banded grid evaluation is a pure memory optimization — forcing
    many small bands must give the identical cover set."""
    from geostructures_spark.kernels import s2 as S
    ring = [(13.37, 52.51), (13.41, 52.51), (13.41, 52.54), (13.37, 52.54),
            (13.37, 52.51)]
    full = S.polygon_to_cells_s2([ring], level=13)
    banded = S.polygon_to_cells_s2([ring], level=13, band_samples=64)
    assert full == banded and len(full) >= 5


def test_pulkovo_gk_full_chain_roundtrip_and_plausibility():
    """Pulkovo 1942 / Gauss-Krüger zone 7 (EPSG:28407, Krassowsky 1940):
    forward/inverse closure through the full Helmert chain, plus the
    published-magnitude pins: Moscow lands at the textbook zone-7 values
    (E ~ 7,413 km incl. the 7e6 zone prefix, N ~ 6,182 km) and the
    Pulkovo->WGS84 datum offset is ~100-130 m in the zone."""
    import numpy as np
    from geostructures_spark.kernels import datum as D
    lon = np.array([37.6176, 39.0, 41.2])
    lat = np.array([55.7558, 60.0, 45.0])
    e, n = D.grid_forward(lon, lat, 'EPSG:28407')
    lon2, lat2 = D.grid_inverse(e, n, 'EPSG:28407')
    assert np.abs(lon2 - lon).max() < 1e-8
    assert np.abs(lat2 - lat).max() < 1e-8
    # Moscow: zone prefix + false easting dominate; the coarse km-level
    # pin catches zone-numbering / false-easting / lon0 mistakes
    assert abs(e[0] - 7_413_000) < 2000 and abs(n[0] - 6_182_000) < 2000
    g = D.GRID_CRS['EPSG:28407']
    D.GRID_CRS['_TEST:GK7'] = g._replace(wgs84_to_datum=D.Helmert(0, 0, 0))
    try:
        e0, n0 = D.grid_forward(lon, lat, '_TEST:GK7')
    finally:
        del D.GRID_CRS['_TEST:GK7']
    shift = np.hypot(e - e0, n - n0)
    assert (shift > 80).all() and (shift < 200).all()


def test_pulkovo_gk_zone_registry():
    """Zones 2..32 all registered with zone-numbered false eastings and
    6-degree central meridians."""
    from geostructures_spark.kernels import datum as D
    for z in (2, 7, 19, 32):
        g = D.GRID_CRS[f'EPSG:284{z:02d}']
        assert g.tm.lon0 == z * 6 - 3
        assert g.tm.x0 == z * 1e6 + 500000.0
        assert g.ell is D.KRASSOWSKY1940 and g.tm.k0 == 1.0


def test_zonal_stats_golden(spark):
    """Zonal stats over a unit box with a 4-cell raster patch: exact
    hand-computed aggregates, empty-shape row preserved."""
    import pandas as pd
    from pyspark.sql import functions as F
    from geostructures_spark.operators.raster import zonal_stats

    # zoom-4 grid (16x16). A box shape covering tiles x=[8,9], y=[7,8]
    # exactly: lon range 0..45 deg, lat range per tile rows 7-8.
    shapes = spark.createDataFrame(pd.DataFrame({
        'shape_id': [1, 2],
        'kind': ['box', 'box'],
    }))
    shapes = shapes.select(
        'shape_id', 'kind',
        F.struct(F.lit(0.0).alias('min_lon'), F.lit(-40.0).alias('min_lat'),
                 F.lit(44.0).alias('max_lon'), F.lit(40.0).alias('max_lat'))
        .alias('params'),
        F.lit(None).cast('array<array<struct<lon:double,lat:double>>>')
        .alias('rings'),
        F.when(F.col('shape_id') == 1, 0.0).otherwise(160.0).alias('min_lon'),
        F.when(F.col('shape_id') == 1, -40.0).otherwise(80.0).alias('min_lat'),
        F.when(F.col('shape_id') == 1, 44.0).otherwise(170.0).alias('max_lon'),
        F.when(F.col('shape_id') == 1, 40.0).otherwise(84.0).alias('max_lat'))
    # shape 2's params put it far from its (bogus) bounds so it hits 0 cells
    raster = spark.range(256).selectExpr(
        'id DIV 16 AS tile_x', 'id % 16 AS tile_y',
        'CAST(id AS DOUBLE) AS value')
    out = {r['shape_id']: r for r in
           zonal_stats(shapes, raster, zoom=4).collect()}
    # exact python replay of the burn rule for shape 1
    import math
    exp = []
    for x in range(16):
        for y in range(16):
            lon = (x + 0.5) / 16 * 360 - 180
            lat = math.degrees(math.atan(math.sinh(
                math.pi * (1 - 2 * (y + 0.5) / 16))))
            if 0.0 <= lon <= 44.0 and -40.0 <= lat <= 40.0:
                exp.append(x * 16 + y)
    r1 = out[1]
    assert r1['n_cells'] == len(exp)
    assert r1['sum_value'] == float(sum(exp))
    assert r1['min_value'] == float(min(exp))
    assert r1['max_value'] == float(max(exp))
    assert out[2]['n_cells'] == 0 and out[2]['sum_value'] is None


def test_resample_track_interpolation(spark):
    """Hand-built track: epoch on a ping returns it exactly; between
    pings interpolates linearly; outside the span clamps one-sided."""
    import pandas as pd
    from pyspark.sql import functions as F
    from geostructures_spark.operators.tracks import resample_track

    pdf = pd.DataFrame({
        'entity': [1, 1, 1],
        'ts': pd.to_datetime(['2024-01-01 00:00:00', '2024-01-01 01:00:00',
                              '2024-01-01 02:30:00']),
        'lon': [10.0, 20.0, 20.0],
        'lat': [0.0, 4.0, 4.0],
    })
    pings = spark.createDataFrame(pdf)
    out = {r['epoch_sec']: r for r in
           resample_track(pings, step_sec=1800).collect()}
    base = int(pd.Timestamp('2024-01-01 00:00:00').timestamp())
    # 00:00 exactly on ping 1
    assert out[base]['lon'] == 10.0 and out[base]['lat'] == 0.0
    # 00:30 halfway between pings 1 and 2
    assert out[base + 1800]['lon'] == 15.0
    assert out[base + 1800]['lat'] == 2.0
    # 01:00 on ping 2; 02:00 between identical pings 2,3 stays put
    assert out[base + 3600]['lon'] == 20.0
    assert out[base + 7200]['lon'] == 20.0
    # grid covers exactly floor(span/step)+1 epochs
    assert len(out) == 6


def test_resample_track_entity_without_grid_point(spark):
    import pandas as pd
    from geostructures_spark.operators.tracks import resample_track
    pdf = pd.DataFrame({
        'entity': [1],
        'ts': pd.to_datetime(['2024-01-01 00:10:00']),
        'lon': [1.0], 'lat': [2.0],
    })
    out = resample_track(spark.createDataFrame(pdf), step_sec=1800).collect()
    assert out == []  # span contains no grid epoch; no rows, no crash


def test_simplify_track_radial_golden(spark):
    """First ping kept; anchor moves only on keep; sub-epsilon jitter
    between two far points collapses onto the anchor."""
    import pandas as pd
    from geostructures_spark.operators.tracks import simplify_track_radial
    pdf = pd.DataFrame({
        'entity': [1] * 5,
        'dt_start': pd.to_datetime(['2024-01-01 00:00', '2024-01-01 00:10',
                                    '2024-01-01 00:20', '2024-01-01 00:30',
                                    '2024-01-01 00:40']),
        #      keep   jitter  jitter  far->keep  jitter-from-new-anchor
        'lon': [0.0,  0.001,  0.002,  1.0,       1.001],
        'lat': [0.0,  0.0,    0.0,    0.0,       0.0],
    })
    kept = simplify_track_radial(spark.createDataFrame(pdf),
                                 epsilon_m=50_000.0).collect()
    assert sorted(r['lon'] for r in kept) == [0.0, 1.0]


def test_resample_slerp_stays_on_great_circle(spark):
    """Slerp midpoint of two equatorial points stays on the equator and
    bisects longitude; linear agrees there; a high-latitude pair shows
    the slerp arc bowing poleward of the chord."""
    import pandas as pd
    from pyspark.sql import functions as F
    from geostructures_spark.operators.tracks import resample_track

    def track(lon1, lat1, lon2, lat2):
        return spark.createDataFrame(pd.DataFrame({
            'entity': [1, 1],
            'ts': pd.to_datetime(['2024-01-01 00:00', '2024-01-01 01:00']),
            'lon': [lon1, lon2], 'lat': [lat1, lat2]}))

    eq = track(0.0, 0.0, 10.0, 0.0)
    rows = {r['epoch_sec']: r for r in
            resample_track(eq, 1800, method='slerp').collect()}
    mid = sorted(rows)[1]
    assert abs(rows[mid]['lat']) < 1e-9
    assert rows[mid]['lon'] == __import__('pytest').approx(5.0, abs=1e-9)

    hi = track(-30.0, 60.0, 30.0, 60.0)
    s_rows = {r['epoch_sec']: r for r in
              resample_track(hi, 1800, method='slerp').collect()}
    l_rows = {r['epoch_sec']: r for r in
              resample_track(hi, 1800, method='linear').collect()}
    m = sorted(s_rows)[1]
    assert s_rows[m]['lat'] > 60.0          # arc bows poleward
    assert l_rows[m]['lat'] == 60.0         # chord stays at the parallel
    assert abs(s_rows[m]['lon']) < 1e-9     # symmetric midpoint

    # coincident pings: float xyz roundtrip, not the exact-zero guard
    # (omega ~ 2e-8 from rounding, above the 1e-12 sin guard) — the
    # point returns to within ~1e-15 degrees
    same = track(7.0, 7.0, 7.0, 7.0)
    approx = __import__('pytest').approx
    for r in resample_track(same, 1800, method='slerp').collect():
        assert r['lon'] == approx(7.0, abs=1e-9)
        assert r['lat'] == approx(7.0, abs=1e-9)


def test_ann_recall_composition(spark):
    # recall of a result against itself is 1; against disjoint is 0
    import pandas as pd

    from geostructures_spark.operators.simsearch import ann_recall
    exact = spark.createDataFrame(pd.DataFrame(
        {'query_id': [1, 1, 1, 2, 2], 'neighbor_id': [10, 11, 12, 20, 21],
         'rank': [1, 2, 3, 1, 2]}))
    same = {r['query_id']: r['recall']
            for r in ann_recall(exact, exact, k=3).collect()}
    assert same == {1: 1.0, 2: 1.0}
    approx = spark.createDataFrame(pd.DataFrame(
        {'query_id': [1, 1, 1, 2, 2], 'neighbor_id': [10, 99, 98, 77, 76],
         'rank': [1, 2, 3, 1, 2]}))
    got = {r['query_id']: (r['n_true'], r['n_hit'], r['recall'])
           for r in ann_recall(approx, exact, k=3).collect()}
    assert got[1] == (3, 1, round(1 / 3, 6))
    assert got[2] == (2, 0, 0.0)
    # k cuts BOTH sides
    got2 = {r['query_id']: r['n_true']
            for r in ann_recall(approx, exact, k=1).collect()}
    assert got2 == {1: 1, 2: 1}
