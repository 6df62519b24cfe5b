"""Round-3 regression tests: ADVICE fixes (uniform Z/M dims in WKB
multi-geometries and shapefile records, lazy malloc tuning, float-only
NaN property stripping) plus the round's scale-hardening work."""

import struct

import numpy as np
import pandas as pd
import pytest

from tests.test_spark_operators import spark  # shared session fixture


# --- ISO WKB: uniform dims across multi-geometry children ------------------

def test_wkb_multi_children_uniform_dims():
    """A multi-geometry where only some members carry Z must emit every
    child with the parent's Z/M code (ISO WKB forbids mixed-dim children;
    ADVICE r2). Absent values fill as 0.0."""
    from geostructures_spark.operators.wkb import (
        shape_row_to_wkb, wkb_to_shape_row)
    # multipoint: member 0 has z, member 1 has none
    blob = shape_row_to_wkb(
        'multipoint',
        [[{'lon': 1.0, 'lat': 2.0}], [{'lon': 4.0, 'lat': 5.0}]],
        zm=[[[3.0, None]], None])
    # parent header: little-endian, code 1004 (multipoint + Z)
    assert struct.unpack_from('<I', blob, 1)[0] == 1004
    # child 0 at offset 9: code 1001, 3 doubles; child 1 must ALSO be 1001
    pos = 9
    for expect in ([1.0, 2.0, 3.0], [4.0, 5.0, 0.0]):
        assert blob[pos] == 1
        assert struct.unpack_from('<I', blob, pos + 1)[0] == 1001
        vals = struct.unpack_from('<3d', blob, pos + 5)
        assert list(vals) == expect
        pos += 5 + 24
    assert pos == len(blob)
    back = wkb_to_shape_row(blob)
    assert back['kind'] == 'multipoint'
    assert back['zm'] == [[[3.0, None]], [[0.0, None]]]

    # multilinestring + multipolygon mixed-Z: every child carries +1000
    mls = shape_row_to_wkb(
        'multilinestring',
        [[{'lon': 0.0, 'lat': 0.0}, {'lon': 1.0, 'lat': 1.0}],
         [{'lon': 2.0, 'lat': 2.0}, {'lon': 3.0, 'lat': 3.0}]],
        zm=[[[7.0, None], [8.0, None]], None])
    assert struct.unpack_from('<I', mls, 1)[0] == 1005
    assert struct.unpack_from('<I', mls, 10)[0] == 1002
    tri = [{'lon': 0.0, 'lat': 0.0}, {'lon': 1.0, 'lat': 0.0},
           {'lon': 0.0, 'lat': 1.0}, {'lon': 0.0, 'lat': 0.0}]
    tri2 = [{'lon': 5.0, 'lat': 5.0}, {'lon': 6.0, 'lat': 5.0},
            {'lon': 5.0, 'lat': 6.0}, {'lon': 5.0, 'lat': 5.0}]
    mp = shape_row_to_wkb('multipolygon', [tri, tri2], poly_sizes=[1, 1],
                          zm=[[[1.0, None]] * 4, None])
    assert struct.unpack_from('<I', mp, 1)[0] == 1006
    assert struct.unpack_from('<I', mp, 10)[0] == 1003


# --- shapefile: one shape type per file ------------------------------------

def test_shapefile_uniform_record_types():
    """Rows with and without Z in one dataset must all emit the header's
    shape type (ESRI spec: exactly one type per .shp; ADVICE r2)."""
    from geostructures_spark.operators.shapefile import (
        read_shapefile_zip, write_shapefile_zip)
    shapes = [
        {'kind': 'point', 'rings': [[(1.0, 2.0)]], 'zm': [[[9.0, None]]]},
        {'kind': 'point', 'rings': [[(3.0, 4.0)]]},  # no Z on this row
    ]
    blob = write_shapefile_zip(shapes)
    import io
    import zipfile
    shp = zipfile.ZipFile(io.BytesIO(blob)).read(
        [n for n in zipfile.ZipFile(io.BytesIO(blob)).namelist()
         if n.endswith('.shp')][0])
    (header_type,) = struct.unpack_from('<i', shp, 32)
    assert header_type == 11  # PointZ
    pos = 100
    rec_types = []
    while pos < len(shp):
        (_, clen) = struct.unpack_from('>2i', shp, pos)
        rec_types.append(struct.unpack_from('<i', shp, pos + 8)[0])
        pos += 8 + 2 * clen
    assert rec_types == [11, 11]
    back = read_shapefile_zip(blob)
    assert back[0]['zm'][0][0][0] == 9.0
    assert back[1]['zm'][0][0][0] == 0.0  # padded, uniform type


# --- malloc tuning is lazy, not an import side effect -----------------------

def test_malloc_tune_is_lazy(monkeypatch):
    """Importing the kernels package must not mutate allocator state; the
    first hot-kernel call does (ADVICE r2). Re-import in a clean flag
    state and check ordering."""
    import geostructures_spark.kernels as K
    monkeypatch.setattr(K, '_malloc_tuned', False)
    assert K._malloc_tuned is False
    from geostructures_spark.kernels.geodesy import haversine_distance
    haversine_distance(np.array([0.0]), np.array([0.0]),
                       np.array([1.0]), np.array([1.0]))
    assert K._malloc_tuned is True


def test_malloc_tune_env_optout(monkeypatch):
    monkeypatch.setenv('GEOSTRUCTURES_SPARK_MALLOC_TUNE', '0')
    import geostructures_spark.kernels as K
    monkeypatch.setattr(K, '_malloc_tuned', False)
    K.ensure_malloc_tuned()  # must be a no-op, not an error
    assert K._malloc_tuned is True  # flag set; mallopt skipped


# --- float-only NaN property stripping --------------------------------------

def test_from_pandas_features_keeps_string_nan(spark):
    """A string property whose VALUE is 'NaN' survives; float NaN is
    stripped (reference strips only float NaN; ADVICE r2)."""
    from geostructures_spark.operators.geopandas_io import (
        from_pandas_features)
    pdf = pd.DataFrame({
        'geometry': ['POINT (0 0)', 'POINT (1 1)'],
        'name': ['NaN', 'ok'],
        'score': [float('nan'), 2.5],
    })
    rows = (from_pandas_features(spark, pdf)
            .select('properties').collect())
    props = [r['properties'] for r in rows]
    by_name = {p.get('name'): p for p in props}
    assert 'NaN' in by_name                      # string "NaN" kept
    assert 'score' not in by_name['NaN']         # float NaN stripped
    assert by_name['ok']['score'] == '2.5'


# --- checkpointed k-means loop (no per-iteration driver collect) ------------

def test_kmeans_train_dataframe_loop_large_k(spark):
    """kmeans_train keeps the centroid table distributed: a k=256 train
    over synthetic vectors completes with exactly k non-null centroids
    through multiple iterations (r2-verdict task 7: the old driver-side
    collect loop serialized at large k)."""
    from pyspark.sql import functions as F
    from geostructures_spark.operators.simsearch import kmeans_train
    vecs = (spark.range(4000)
            .select(F.col('id').alias('vec_id'),
                    F.transform(F.sequence(F.lit(1), F.lit(8)),
                                lambda i: (F.sin(F.col('id') * i) + 2.0)
                                .cast('float'))
                    .alias('embedding')))
    cents = kmeans_train(vecs, k=256, n_iter=2)
    rows = cents.collect()
    assert len(rows) == 256
    assert sorted(r['centroid_id'] for r in rows) == list(range(256))
    for r in rows:
        assert len(r['c_embedding']) == 8
        assert all(v == v for v in r['c_embedding'])  # no NaNs


def test_kmeans_train_matches_manual_lloyd(spark):
    """One Lloyd round on a tiny input matches a hand-computed update."""
    import numpy as np
    from geostructures_spark.operators.simsearch import kmeans_train
    data = [(0, [1.0, 0.0]), (1, [0.0, 1.0]),
            (2, [0.9, 0.1]), (3, [0.1, 0.9])]
    vecs = spark.createDataFrame(data, 'vec_id long, embedding array<float>')
    cents = {r['centroid_id']: r['c_embedding']
             for r in kmeans_train(vecs, k=2, n_iter=1).collect()}
    # init c0=[1,0], c1=[0,1]; cosine assigns {0,2}->c0, {1,3}->c1
    assert np.allclose(cents[0], [0.95, 0.05])
    assert np.allclose(cents[1], [0.05, 0.95])


# --- LSH mega-bucket cap -----------------------------------------------------

def test_minhash_mega_bucket_capped(spark):
    """10k docs colliding into one band bucket must complete with bounded
    pairs under the cap (r2-verdict task 3: unbounded bucket explode was
    quadratic), and the drop is observable via the Observation metrics."""
    from pyspark.sql import functions as F
    from pyspark.sql import Observation
    from geostructures_spark.operators.dedup import minhash_lsh_pairs
    # near-identical boilerplate: same 6-token prefix -> identical
    # 5-shingle minimum under min-hash with high probability; make it
    # certain by using FULLY identical text across 10k ids (the
    # exact-dedup-first advice deliberately not applied here).
    docs = (spark.range(10_000)
            .select(F.col('id').alias('doc_id'),
                    F.lit('the same cookie banner text appears on '
                          'every single page of this website')
                    .alias('text')))
    # bounded completion under AQE (the production config)
    pairs = minhash_lsh_pairs(docs, n_bands=4, shingle_k=5, max_bucket=100)
    assert pairs.count() == 0          # every bucket over the cap dropped
    # exact drop audit: AQE's empty-relation propagation collapses the
    # metrics node when the result is fully empty (documented caveat),
    # so read the Observation with AQE off
    spark.conf.set('spark.sql.adaptive.enabled', 'false')
    try:
        obs = Observation('minhash_lsh_buckets')
        pairs = minhash_lsh_pairs(docs, n_bands=4, shingle_k=5,
                                  max_bucket=100, observation=obs)
        assert pairs.count() == 0
        got = obs.get
        assert got['dropped_buckets'] == 4      # one mega bucket per band
        assert got['dropped_docs'] == 40_000
        assert got['max_bucket_size'] == 10_000
    finally:
        spark.conf.set('spark.sql.adaptive.enabled', 'true')


def test_minhash_cap_keeps_small_buckets(spark):
    """Pairs below the cap are unaffected by the cap machinery."""
    from pyspark.sql import functions as F
    from geostructures_spark.operators.dedup import minhash_lsh_pairs
    docs = spark.createDataFrame(
        [(0, 'alpha beta gamma delta epsilon zeta'),
         (1, 'alpha beta gamma delta epsilon zeta'),
         (2, 'totally different words here none shared at all')],
        'doc_id long, text string')
    uncapped = minhash_lsh_pairs(docs, n_bands=4, shingle_k=5,
                                 max_bucket=None).collect()
    capped = minhash_lsh_pairs(docs, n_bands=4, shingle_k=5,
                               max_bucket=100).collect()
    assert sorted(map(tuple, uncapped)) == sorted(map(tuple, capped))
    assert {(r['doc_a'], r['doc_b']) for r in capped} == {(0, 1)}


# --- simhash: vectorized kernel == JVM explode path == legacy semantics -----

def test_simhash_df_matches_kernel(spark):
    """The zero-Python explode+agg simhash (simhash_df) and the Arrow
    kernel (simhash_expr) are bit-identical over real docs, including
    empty/whitespace edge cases."""
    from pyspark.sql import functions as F
    from geostructures_spark.operators.dedup import simhash_df, simhash_expr
    docs = spark.createDataFrame(
        [(0, 'alpha beta gamma alpha'), (1, '  leading and   runs  '),
         (2, ''), (3, 'single'), (4, 'alpha beta gamma alpha')],
        'doc_id long, text string')
    jvm = {r['doc_id']: r['simhash'] for r in simhash_df(docs).collect()}
    kern = {r['doc_id']: r['simhash'] for r in
            docs.select('doc_id',
                        simhash_expr(F.col('text')).alias('simhash'))
            .collect()}
    assert jvm == kern
    assert jvm[0] == jvm[4]  # deterministic across rows


# --- knn_join_auto: certified completeness at two operating points ----------

def test_knn_auto_matches_exact_two_configs(spark):
    """knn_join_auto must equal knn_join_exact at two different (length,
    init_ring) operating points — including a deliberately-undersized
    ring that forces the expand/exact fallback (r2-verdict task 6), a
    north-polar query and one on a dyadic latitude edge (-45.0)."""
    from pyspark.sql import functions as F
    from geostructures_spark.operators.knn import (
        knn_join_auto, knn_join_exact, suggest_ring)
    pts = (spark.range(1, 2001)
           .select(F.col('id').alias('url'),
                   (((F.col('id') * 7919) % 360000) / 1000.0 - 180.0)
                   .alias('lon'),
                   (((F.col('id') * 104729) % 170000) / 1000.0 - 85.0)
                   .alias('lat'))).cache()
    q = spark.createDataFrame(
        [(1, -0.1, 51.5), (2, 139.7, 35.7), (3, 179.95, 0.0),
         (4, -179.95, 10.0), (5, 12.5, -88.5), (6, 60.0, 89.5),
         (7, 30.0, -45.0)],
        'query_id long, q_lon double, q_lat double')
    exact = {(r.query_id, r.rank, r.neighbor_key) for r in
             knn_join_exact(pts, q, k=5, point_key='url').collect()}
    # config A: coarse cells, auto ring from density
    a = {(r.query_id, r.rank, r.neighbor_key) for r in
         knn_join_auto(pts, q, k=5, length=2,
                       point_key='url').collect()}
    assert a == exact
    # config B: finer cells, adversarially tiny init ring -> must expand
    b = {(r.query_id, r.rank, r.neighbor_key) for r in
         knn_join_auto(pts, q, k=5, length=3, init_ring=1,
                       max_ring=4, point_key='url').collect()}
    assert b == exact
    assert suggest_ring(pts, k=5, length=2) >= 1


# --- H3 polyfill: antimeridian-crossing outlines ----------------------------

def test_h3_polyfill_antimeridian_circle():
    """A circle straddling the antimeridian must polyfill to cells near
    the circle only — the r3 SQL cover replay exposed ~109 spurious
    cells 1000+ km away from the wrapped ring (h3 C polyfill declares
    transmeridian polygons unsupported; our kernel now handles them
    correctly via ring unwrapping)."""
    import numpy as np
    from geostructures_spark.kernels import h3_core as H
    from geostructures_spark.kernels.geodesy import haversine_distance
    from geostructures_spark.kernels.h3_cover import cover_shape_h3
    shape = {'kind': 'circle',
             'params': {'center_lon': -179.999877,
                        'center_lat': -84.999679,
                        'radius': 100_000.0},
             'rings': None}
    cells = cover_shape_h3(shape, 5)
    assert 80 < len(cells) < 200        # ~ area / res5 cell area
    for c in cells:
        la, ln = H.cell_to_latlng(c)
        d = float(haversine_distance(
            np.array([-179.999877]), np.array([-84.999679]),
            np.array([ln]), np.array([la]))[0])
        assert d < 110_000.0            # no far-side spurious cells
    # non-wrapping circles are untouched by the unwrap (identity path)
    plain = {'kind': 'circle',
             'params': {'center_lon': 10.0, 'center_lat': 45.0,
                        'radius': 100_000.0},
             'rings': None}
    cells2 = cover_shape_h3(plain, 5)
    assert 90 < len(cells2) < 160


# --- generic Transverse Mercator --------------------------------------------

def test_tm_params_utm_equivalence_and_lat0():
    """tm_forward_params with UTM constants reproduces utm_forward
    bit-for-bit; lat0 shifts the northing origin to the given parallel
    (forward(lat0, lon0) == (x0, y0)); round trips close to ~1e-13 deg."""
    from geostructures_spark.kernels.mgrs import (
        K0, tm_forward_params, tm_inverse_params, utm_forward)
    lon = np.array([9.5, 7.2, 11.9])
    lat = np.array([48.0, -33.5, 62.1])
    _, _, e, n = utm_forward(lon, lat)
    x, y = tm_forward_params(lon, lat, 9.0, K0, 500_000.0, 0.0)
    assert np.array_equal(e, x)
    # UTM northing uses the south false offset; compare north rows only
    assert np.array_equal(n[[0, 2]], y[[0, 2]])
    x0, y0 = tm_forward_params(np.array([13.5]), np.array([45.0]),
                               13.5, 1.0003, 250_000.0, -100_000.0,
                               lat0=45.0)
    assert abs(x0[0] - 250_000.0) < 1e-9
    assert abs(y0[0] + 100_000.0) < 1e-6
    lon2, lat2 = tm_inverse_params(
        *tm_forward_params(lon, lat, 10.0, 1.0, 0.0, 0.0, lat0=30.0),
        10.0, 1.0, 0.0, 0.0, lat0=30.0)
    assert np.allclose(lon2, lon, atol=1e-11)
    assert np.allclose(lat2, lat, atol=1e-11)


# --- connected components (dedup clustering) --------------------------------

def test_connected_components_chain_star_isolated(spark):
    """Min-label propagation: a 4-chain, a star, and a separate pair
    resolve to min-id components; convergence needs diameter rounds."""
    from geostructures_spark.operators.dedup import connected_components
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),          # chain 1-2-3-4
         (10, 11), (10, 12), (10, 13),    # star at 10
         (20, 21)],                       # pair
        'doc_a long, doc_b long')
    got = {r['node']: r['component']
           for r in connected_components(pairs, n_partitions=4).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10, 13: 10,
                   20: 20, 21: 20}


# --- S2 cells (from-scratch Hilbert kernel) ---------------------------------

def test_s2_kernel_invariants():
    """Face-cell tokens match the published scheme; encode/decode round
    trips at every level; parent/children containment; Hilbert
    continuity (consecutive curve positions are adjacent cells)."""
    from geostructures_spark.kernels import s2
    face_centers = [(0.0, 0.0), (0.0, 90.0), (90.0, 0.0),
                    (0.0, 180.0), (0.0, -90.0), (-90.0, 0.0)]
    cells = s2.latlng_to_cell(np.array([c[0] for c in face_centers]),
                              np.array([c[1] for c in face_centers]), 0)
    assert s2.cell_token(cells) == ['1', '3', '5', '7', '9', 'b']

    lat = (np.arange(1, 1501) * 48271 % 2147483647) / 2147483647.0 * 178 - 89
    lon = (np.arange(1, 1501) * 16807 % 2147483647) / 2147483647.0 * 360 - 180
    for level in (0, 4, 12, 21, 30):
        c = s2.latlng_to_cell(lat, lon, level)
        assert (s2.cell_level(c) == level).all()
        la, ln = s2.cell_to_latlng(c)
        assert (s2.latlng_to_cell(la, ln, level) == c).all()
    c10 = s2.latlng_to_cell(lat[:200], lon[:200], 10)
    kids = s2.cell_children(c10)
    for k in range(4):
        assert (s2.cell_parent(kids[:, k], 10) == c10).all()
    assert (s2.token_to_cell(s2.cell_token(c10)) == c10).all()
    # Hilbert continuity: walk 40 consecutive positions at level 8
    import math
    base = int(s2.latlng_to_cell(np.array([10.0]), np.array([10.0]), 8)[0])
    lsb = base & (-base)
    ids = np.array([base + 2 * k * lsb for k in range(40)], dtype=np.uint64)
    la, ln = s2.cell_to_latlng(ids)
    cell_deg = 90.0 / (1 << 8)
    for i in range(39):
        step = math.hypot(la[i + 1] - la[i],
                          (ln[i + 1] - ln[i]) * math.cos(math.radians(la[i])))
        assert step < 1.6 * cell_deg  # adjacent, never a jump


def test_s2_with_cell_spark(spark):
    from pyspark.sql import functions as F
    from geostructures_spark.operators.tiling import with_cell
    pts = spark.createDataFrame(
        [(1, -0.1, 51.5), (2, -0.1001, 51.5001), (3, 139.7, 35.7)],
        'id long, lon double, lat double')
    rows = with_cell(pts, scheme='s2', resolution=10).collect()
    cells = {r['id']: r['cell'] for r in rows}
    assert cells[1] == cells[2]      # near-identical points share a cell
    assert cells[1] != cells[3]


def test_s2_cover_antimeridian_and_plain():
    """S2 polyfill: plausible counts, no far-side spurious cells for an
    antimeridian circle (shares the unwrapped-frame fix with H3)."""
    import math
    from geostructures_spark.kernels import s2
    from geostructures_spark.kernels.shapes import circle_ring
    for lon, lat in ((10.0, 45.0), (-179.9999, -84.9997)):
        ring = circle_ring(lon, lat, 100_000.0)
        cells = s2.polygon_to_cells_s2([ring], 9)
        assert 60 < len(cells) < 250
        ids = s2.token_to_cell(sorted(cells))
        la, ln = s2.cell_to_latlng(ids)
        from geostructures_spark.kernels.geodesy import haversine_distance
        d = haversine_distance(np.full(len(ids), lon), np.full(len(ids), lat),
                               ln, la)
        assert float(d.max()) < 115_000.0
