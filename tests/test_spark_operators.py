"""Spark-side operator parity tests: the reference's golden test cases
(tests/test_collections.py, BASELINE.json invariants) replayed through the
distributed operators on a shared local session.
"""

from datetime import datetime

import numpy as np
import pytest

from pyspark.sql import functions as F

from geostructures_spark.plans.session import get_session


@pytest.fixture(scope='module')
def spark():
    s = get_session(app='tests', cores=4, shuffle_partitions=8)
    yield s


def _pings(spark, rows):
    return spark.createDataFrame(
        [(e, datetime(*t), lon, lat) for e, t, lon, lat in rows],
        'entity string, dt_start timestamp, lon double, lat double')


def test_track_speed_diffs_golden(spark):
    # tests/test_collections.py:916-932
    rows = [('a', (2020, 1, 1), 1.0, 1.0), ('a', (2020, 1, 2), 2.0, 2.0),
            ('a', (2020, 1, 3), 3.0, 3.0)]
    from geostructures_spark.operators.tracks import with_track_diffs
    out = (with_track_diffs(_pings(spark, rows))
           .filter(F.col('speed_mps').isNotNull())
           .orderBy('dt_start').select('speed_mps').collect())
    got = np.round([r.speed_mps for r in out], 5)
    assert list(got) == list(np.round([1.8197388, 1.81918463], 5))


def test_track_distances_golden(spark):
    # tests/test_collections.py:936-961: consecutive distances 157.241 m
    rows = [('a', (2020, 1, 1, h), h * 0.001, 1.0 + h * 0.001) for h in range(8)]
    from geostructures_spark.operators.tracks import with_track_diffs
    out = (with_track_diffs(_pings(spark, rows))
           .filter(F.col('dist_m').isNotNull()).select('dist_m').collect())
    got = np.round([r.dist_m for r in out], 3)
    assert list(got) == [157.241] * 7


def test_track_diffs_sub_second(spark):
    # dt_sec is the microsecond difference, as the track_speed_stats oracle
    # computes it ((epoch_us(ts) - epoch_us(prev_ts)) / 1e6): 'a' pings are
    # 0.5 s apart; 'b' straddles a whole second, 0.2 s apart and ~334 m
    # moved, fast at 1 km/s (a whole-second diff reads 1 s: not fast)
    rows = [('a', (2020, 1, 1, 0, 0, 0), 0.0, 0.0),
            ('a', (2020, 1, 1, 0, 0, 0, 500000), 0.0, 0.001),
            ('b', (2020, 1, 1, 0, 0, 0, 900000), 0.0, 0.0),
            ('b', (2020, 1, 1, 0, 0, 1, 100000), 0.0, 0.003)]
    from geostructures_spark.operators.tracks import with_track_diffs
    out = {r.entity: r for r in (with_track_diffs(_pings(spark, rows))
                                 .filter(F.col('dt_sec').isNotNull()).collect())}
    assert out['a'].dt_sec == 0.5
    assert out['b'].dt_sec == 200000 / 1e6
    oracle_fast = out['b'].dist_m > (200000 / 1e6) * 1000.0
    assert oracle_fast
    assert (out['b'].dist_m > out['b'].dt_sec * 1000.0) == oracle_fast
    assert out['b'].speed_mps == out['b'].dist_m / 0.2


def test_impossible_journeys_golden(spark):
    # tests/test_collections.py:1067-1083
    rows = [
        ('a', (2020, 1, 1), 0.0, 0.0),
        ('a', (2020, 1, 1, 0, 1), 0.0001, 0.0001),
        ('a', (2020, 1, 1, 0, 2), 1.0, 1.0),        # impossible
        ('a', (2020, 1, 1, 0, 3), 1.0, 1.0),        # impossible
        ('a', (2020, 1, 1, 0, 4), 0.0002, 0.0002),
        ('a', (2020, 1, 1, 0, 5), 0.0002, 0.0002),  # zero movement
        ('a', (2020, 1, 1, 0, 5), 0.0003, 0.0003),  # zero timediff: dropped
    ]
    from geostructures_spark.operators.tracks import filter_impossible_journeys
    kept = (filter_impossible_journeys(_pings(spark, rows), max_speed_mps=5.0)
            .orderBy('dt_start').collect())
    got = [(r.dt_start.minute, r.lon) for r in kept]
    assert got == [(0, 0.0), (1, 0.0001), (4, 0.0002), (5, 0.0002)]


def test_track_slicing_golden(spark):
    # tests/test_collections.py:819-835: [t0, t1) slicing
    rows = [('a', (2020, 1, d), 1.0, 1.0) for d in (1, 2, 3)]
    df = _pings(spark, rows).withColumn('dt_end', F.col('dt_start'))
    from geostructures_spark.operators.tracks import slice_track
    got = slice_track(df, datetime(2020, 1, 2), datetime(2020, 1, 3)).collect()
    assert len(got) == 1 and got[0].dt_start.day == 2


def test_pages_extraction_byte_identical(spark):
    # north rule: byte-identical extracted text per url
    from geostructures_spark.operators.miner import extract_text_expr
    from geostructures_spark.sources.pages import pages_df
    pages = pages_df(spark, 300, seed=42)
    assert pages.filter(extract_text_expr(F.col('html')) != F.col('text')).count() == 0
    # mining from html equals mining from text
    from geostructures_spark.operators.miner import mine_points
    a = mine_points(pages).orderBy('url', 'point_idx').collect()
    b = mine_points(pages, from_html=True).orderBy('url', 'point_idx').collect()
    assert a == b
    assert len(a) > 100


def test_miner_page_points_do_not_depend_on_batch_neighbours():
    # 'coords@lonlat: 1' + '0.5, 2' reads as one mention across the row
    # boundary, so both rows are rescanned on their own; the rescan must
    # match ASCII digits only, as the batch scan does
    import pyarrow as pa
    from geostructures_spark.operators.miner import _mine_arrow_batch
    for page, want in (('0.5, 2 and coords@lonlat: ٣٤, ٥', []),
                       ('0.5, 2 and coords@lonlat: 34, 5', [(34.0, 5.0)])):
        for batch, row in (([page], 0), (['coords@lonlat: 1', page], 1)):
            row_idx, point_idx, lon, lat, _ = _mine_arrow_batch(pa.array(batch))
            assert list(row_idx) == [row] * len(want), batch
            assert list(point_idx) == list(range(len(want))), batch
            assert list(zip(lon, lat)) == want, batch


def test_spatial_join_matches_brute_force(spark):
    # cell-join + exact kernel == brute-force haversine filter
    from geostructures_spark.operators.miner import mine_points
    from geostructures_spark.operators.spatial_join import spatial_join_points
    from geostructures_spark.functions.geo import haversine_expr
    from geostructures_spark.sources.pages import pages_df

    pts = mine_points(pages_df(spark, 300, seed=1)).cache()
    shapes = spark.createDataFrame(
        [(1, -0.12, 51.5, 80_000.0), (2, 139.7, 35.7, 120_000.0)],
        'shape_id long, c_lon double, c_lat double, radius double'
    ).select(
        'shape_id', F.lit('circle').alias('kind'),
        F.struct(F.col('c_lon').alias('center_lon'),
                 F.col('c_lat').alias('center_lat'),
                 F.col('radius').alias('radius')).alias('params'),
        F.lit(None).cast('array<array<struct<lon:double,lat:double>>>').alias('rings'),
        F.lit(None).cast('timestamp').alias('dt_start'),
        F.lit(None).cast('timestamp').alias('dt_end'))

    joined = spatial_join_points(pts, shapes, length=4, base=16,
                                 time_gated=False)
    got = {(r.shape_id, r.url, r.point_idx) for r in joined.collect()}

    brute = set()
    for sid, clon, clat, rad in [(1, -0.12, 51.5, 80_000.0), (2, 139.7, 35.7, 120_000.0)]:
        rows = (pts.withColumn('d', haversine_expr(F.col('lon'), F.col('lat'),
                                                   F.lit(clon), F.lit(clat)))
                .filter(F.col('d') <= rad).collect())
        brute |= {(sid, r.url, r.point_idx) for r in rows}
    assert got == brute
    assert len(got) > 0


def test_salted_spatial_join_same_result(spark):
    from geostructures_spark.operators.miner import mine_points
    from geostructures_spark.operators.spatial_join import spatial_join_points
    from geostructures_spark.sources.pages import pages_df
    pts = mine_points(pages_df(spark, 200, seed=2))
    shapes = spark.createDataFrame(
        [(7, -74.0, 40.7, 150_000.0)],
        'shape_id long, c_lon double, c_lat double, radius double'
    ).select(
        'shape_id', F.lit('circle').alias('kind'),
        F.struct(F.col('c_lon').alias('center_lon'),
                 F.col('c_lat').alias('center_lat'),
                 F.col('radius').alias('radius')).alias('params'),
        F.lit(None).cast('array<array<struct<lon:double,lat:double>>>').alias('rings'),
        F.lit(None).cast('timestamp').alias('dt_start'),
        F.lit(None).cast('timestamp').alias('dt_end'))
    plain = {(r.shape_id, r.url, r.point_idx) for r in
             spatial_join_points(pts, shapes, length=4, time_gated=False).collect()}
    salted = {(r.shape_id, r.url, r.point_idx) for r in
              spatial_join_points(pts, shapes, length=4, time_gated=False,
                                  salt_shards=4).collect()}
    assert plain == salted


def test_time_gated_join(spark):
    # untimed shapes match all; timed shapes gate by right-open interval
    from geostructures_spark.operators.spatial_join import spatial_join_points
    pts = spark.createDataFrame(
        [('u1', datetime(2020, 1, 1, 12), 0, 0.0, 51.5, 'decimal'),
         ('u2', datetime(2020, 6, 1, 12), 0, 0.0, 51.5, 'decimal')],
        'url string, warc_ts timestamp, point_idx int, lon double, lat double, fmt string')
    shapes = spark.createDataFrame(
        [(1, datetime(2020, 1, 1), datetime(2020, 2, 1))],
        'shape_id long, dt_start timestamp, dt_end timestamp'
    ).select(
        'shape_id', F.lit('circle').alias('kind'),
        F.struct(F.lit(0.0).alias('center_lon'), F.lit(51.5).alias('center_lat'),
                 F.lit(10_000.0).alias('radius')).alias('params'),
        F.lit(None).cast('array<array<struct<lon:double,lat:double>>>').alias('rings'),
        'dt_start', 'dt_end')
    got = spatial_join_points(pts, shapes, length=4, time_gated=True).collect()
    assert [r.url for r in got] == ['u1']


def test_knn_cell_pruned_matches_exact(spark):
    from geostructures_spark.operators.knn import knn_join, knn_join_exact
    from geostructures_spark.operators.miner import mine_points
    from geostructures_spark.sources.pages import pages_df
    pts = mine_points(pages_df(spark, 300, seed=3)).cache()
    q = spark.createDataFrame([(1, -0.12, 51.5), (2, 139.7, 35.7)],
                              'query_id long, q_lon double, q_lat double')
    exact = {(r.query_id, r.rank, r.neighbor_key) for r in
             knn_join_exact(pts, q, k=3).collect()}
    pruned = {(r.query_id, r.rank, r.neighbor_key) for r in
              knn_join(pts, q, k=3, length=2, ring=1).collect()}
    # hot-cluster queries: ring-1 candidates at length 2 cover the true k
    assert exact == pruned


def test_knn_ring_crosses_the_pole_from_a_latitude_edge(spark):
    """A query exactly on a dyadic latitude edge (-45.0 at length 1) sits in
    the row next to the south pole; its ring-1 block reflects across the
    pole into the row on the far side, which holds the nearest point A."""
    from geostructures_spark.operators.knn import knn_join, knn_join_exact
    pts = spark.createDataFrame([('A', 135.0, -89.0), ('B', -85.0, -1.0)],
                                'url string, lon double, lat double')
    q = spark.createDataFrame([(1, 0.0, -45.0)], 'query_id long, q_lon double, q_lat double')
    exact = [(r.neighbor_key, round(r.dist_m / 1000)) for r in
             knn_join_exact(pts, q, k=1).collect()]
    assert exact == [('A', 5083)]
    assert [(r.neighbor_key, round(r.dist_m / 1000)) for r in
            knn_join(pts, q, k=1, length=1, ring=1).collect()] == exact


def test_streaming_matches_batch(spark):
    import os
    from geostructures_spark.streaming.events import (
        run_stream_to_memory, windowed_event_agg)
    sf = '/root/testdata/sf0.001'
    batch = spark.read.parquet(os.path.join(sf, 'events.parquet')) \
        .withColumn('ts', F.col('ts').cast('timestamp'))
    b = {(r.window_start, r.event_type, r.n_events) for r in
         windowed_event_agg(batch).collect()}
    s = {(r.window_start, r.event_type, r.n_events) for r in
         run_stream_to_memory(spark, os.path.join(sf, 'events.parquet'),
                              query_name='t_stream').collect()}
    assert b == s and len(b) > 10


def test_wkt_geojson_interchange(spark):
    from geostructures_spark.operators.interchange import (
        parse_geojson_df, parse_wkt_df, to_geojson_df, to_wkt_df)
    df = spark.createDataFrame(
        [(1, 'POLYGON ((0 0, 1 0, 1 1, 0 0), (0.2 0.2, 0.4 0.2, 0.2 0.4, 0.2 0.2))'),
         (2, 'POINT Z (1.5 2.5 9.0)'),
         (3, 'MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))'),
         (4, 'not wkt at all')],
        'id long, wkt string')
    parsed = parse_wkt_df(df)
    rows = {r.id: r for r in parsed.collect()}
    assert rows[1].kind == 'polygon' and len(rows[1].rings) == 2
    assert rows[2].kind == 'point' and rows[2].rings[0][0][0] == 1.5
    assert rows[3].kind == 'multilinestring'
    assert rows[4].kind is None
    # emit -> reparse is stable
    emitted = to_wkt_df(parsed.filter(parsed.kind.isNotNull())
                        .select('id', 'kind', 'rings'), out_col='wkt2')
    re_parsed = parse_wkt_df(emitted.select('id', 'wkt2'), wkt_col='wkt2')
    back = {r.id: r for r in re_parsed.collect()}
    for i in (1, 2, 3):
        assert back[i].kind == rows[i].kind
        assert back[i].rings == rows[i].rings

    gj = spark.createDataFrame(
        [(1, '{"type":"Feature","geometry":{"type":"Point","coordinates":[3.0,4.0]},"properties":{"a":"b"}}')],
        'id long, geojson string')
    g = parse_geojson_df(gj).collect()[0]
    assert g.kind == 'point' and g.rings[0][0][0] == 3.0 and g.properties == {'a': 'b'}
    out = to_geojson_df(parse_geojson_df(gj).select('id', 'kind', 'rings')).collect()[0]
    assert '"type":"Point"' in out.geojson


def test_shape_join_matches_kernel_brute_force(spark):
    from geostructures_spark.operators.shape_join import shape_join
    from geostructures_spark.operators.tiling import (
        SHAPES_SCHEMA_DDL, shape_row_to_kernel)
    from geostructures_spark.sources.shapes import shapes_df
    from geostructures_spark.kernels import shapes as shp

    def edge_circles(id0):
        # two circles across the antimeridian, one near each pole
        circles = [(179.5, 10.0, 300_000.0), (-179.8, 10.5, 200_000.0),
                   (30.0, 86.0, 500_000.0), (0.0, -88.0, 400_000.0)]
        return spark.createDataFrame(
            [(id0 + i, 'circle', {'center_lon': lon, 'center_lat': lat, 'radius': r},
              None, None, None, None) for i, (lon, lat, r) in enumerate(circles)],
            SHAPES_SCHEMA_DDL)

    a = shapes_df(spark, 60, seed=42).unionByName(edge_circles(1000)).cache()
    b = shapes_df(spark, 200, seed=9).filter('shape_id < 4') \
        .unionByName(edge_circles(2000)).cache()
    ca = {r['shape_id']: shape_row_to_kernel(r.asDict(recursive=True)) for r in a.collect()}
    cb = {r['shape_id']: shape_row_to_kernel(r.asDict(recursive=True)) for r in b.collect()}
    for predicate, kernel in (('intersects', shp.shapes_intersect),
                              ('contains', shp.shape_contains_shape)):
        got = {(r.a_id, r.b_id) for r in
               shape_join(a, b, predicate=predicate, time_gated=False).collect()}
        brute = {(x, y) for x in ca for y in cb if kernel(ca[x], cb[y])}
        assert got == brute, predicate
        assert {(x, y) for x, y in brute if x >= 1000 and y >= 2000}, predicate


def test_shape_join_contains(spark):
    from geostructures_spark.operators.shape_join import shape_join
    from pyspark.sql import functions as F

    def circles(rows):
        return spark.createDataFrame(rows, 'shape_id long, lon double, lat double, r double') \
            .select('shape_id', F.lit('circle').alias('kind'),
                    F.struct(F.col('lon').alias('center_lon'),
                             F.col('lat').alias('center_lat'),
                             F.col('r').alias('radius')).alias('params'),
                    F.lit(None).cast('array<array<struct<lon:double,lat:double>>>').alias('rings'),
                    F.lit(None).cast('timestamp').alias('dt_start'),
                    F.lit(None).cast('timestamp').alias('dt_end'),
                    F.lit(None).cast('map<string,string>').alias('properties'))
    big = circles([(1, 0.0, 0.0, 50_000.0)])
    small = circles([(10, 0.0, 0.0, 5_000.0), (11, 3.0, 3.0, 5_000.0)])
    got = {(r.a_id, r.b_id) for r in
           shape_join(big, small, predicate='contains', time_gated=False).collect()}
    assert got == {(1, 10)}
    # the packed key's level tag needs length <= 15
    for length in (0, 16):
        with pytest.raises(ValueError, match='length 1..15'):
            shape_join(big, small, predicate='contains', length=length)


def test_shape_join_finds_pair_in_an_edge_cell(spark):
    """Box B lies in the cell row that box A's top edge runs through. A
    hash_shape cover of A omits that row (it keeps the cells whose box
    meets A's discretized outline), so a cover join on it finds no pair at
    length 6; the window cover holds every cell with a point of A."""
    from geostructures_spark.kernels import shapes as shp
    from geostructures_spark.operators.shape_join import shape_join
    from geostructures_spark.operators.tiling import (
        SHAPES_SCHEMA_DDL, shape_row_to_kernel)
    from geostructures_spark.sources.shapes import shapes_df
    a = shapes_df(spark, 120, seed=10002).filter('shape_id = 0').cache()
    b = spark.createDataFrame(
        [(1, 'box', {'min_lon': -74.2588, 'min_lat': 40.5186,
                     'max_lon': -74.1885, 'max_lat': 40.5272}, None, None, None, None)],
        SHAPES_SCHEMA_DDL)
    ka, kb = (shape_row_to_kernel(df.collect()[0].asDict(recursive=True)) for df in (a, b))
    assert ka['kind'] == 'box'
    for predicate, kernel in (('intersects', shp.shapes_intersect),
                              ('contains', shp.shape_contains_shape)):
        assert kernel(ka, kb), predicate
        got = [tuple(r) for r in shape_join(a, b, predicate=predicate).collect()]
        assert got == [(0, 1)], predicate
    a.unpersist()


def test_karney_udfs_match_kernel(spark):
    from geostructures_spark.functions.geo import (
        karney_destination_udf, karney_distance_udf)
    from geostructures_spark.kernels.karney import (
        karney_destination, karney_distance)
    rows = [(1, -74.006, 40.7128, -0.1278, 51.5074),
            (2, 10.0, -30.0, 10.0, 12.5),       # meridional branch
            (3, 179.0, 0.2, -179.5, -0.1),      # antimeridian
            (4, 0.0, 0.0, 180.0, 0.0)]          # antipodal (Vincenty fails)
    df = spark.createDataFrame(
        rows, 'id long, lon1 double, lat1 double, lon2 double, lat2 double')
    kd, kdest = karney_distance_udf(), karney_destination_udf()
    got = (df.select('id', kd('lon1', 'lat1', 'lon2', 'lat2').alias('d'),
                     kdest('lon1', 'lat1', F.lit(37.0), F.lit(250_000.0)).alias('p'))
           .orderBy('id').collect())
    import numpy as np
    for r, (i, lon1, lat1, lon2, lat2) in zip(got, rows):
        assert r.d == float(karney_distance(lon1, lat1, lon2, lat2))
        dlon, dlat, _ = karney_destination(lon1, lat1, 37.0, 250_000.0)
        assert r.p.lon == float(dlon) and r.p.lat == float(dlat)


def test_shape_derived_area_exact(spark):
    """area_m2 must be the exact WGS84 ellipsoidal area: the reference's
    pyproj golden for a 1x1-degree box at the equator (structures.py:69-76,
    tests/base/test_shape_mixins.py:29), and volume = area * elapsed sec."""
    from geostructures_spark.operators.derive import with_shape_derived
    row = [(1, 'box', {'min_lon': 0.0, 'min_lat': 0.0,
                       'max_lon': 1.0, 'max_lat': 1.0})]
    df = spark.createDataFrame(row, 'shape_id long, kind string, '
                               'params map<string,double>') \
        .select('shape_id', 'kind', 'params',
                F.lit(None).cast('array<array<struct<lon:double,lat:double>>>').alias('rings'),
                F.lit('2020-01-01 00:00:00').cast('timestamp').alias('dt_start'),
                F.lit('2020-01-01 01:00:00').cast('timestamp').alias('dt_end'))
    got = with_shape_derived(df).collect()[0]
    assert abs(got.area_m2 - 12_308_778_361.469452) < 100.0  # < 1e-8 relative
    assert abs(got.volume_m2s - got.area_m2 * 3600.0) < 1e-3


def test_streaming_impossible_journeys_matches_batch(spark, tmp_path):
    """applyInPandasWithState stateful filter: pings fed in 3 time-ordered
    micro-batches must reproduce the batch greedy filter exactly (the
    GroupState anchor stands in for the batch scan's last-kept ping)."""
    import os
    from geostructures_spark.operators.tracks import filter_impossible_journeys
    from geostructures_spark.streaming.tracks import (
        PINGS_SCHEMA, run_impossible_to_memory)
    rng = __import__('random').Random(11)
    rows = []
    for ent in range(6):
        lon, lat = rng.uniform(-10, 10), rng.uniform(-10, 10)
        for i in range(60):
            # mix of plausible moves and teleports
            if rng.random() < 0.25:
                lon += rng.uniform(-5, 5)  # teleport (impossible at 200 m/s)
            else:
                lon += rng.uniform(-0.001, 0.001)
                lat += rng.uniform(-0.001, 0.001)
            rows.append((ent, f'2024-03-01 00:{i:02d}:00', lon, lat))
    df = (spark.createDataFrame(rows, 'entity long, t string, lon double, lat double')
          .select('entity', F.col('t').cast('timestamp').alias('dt_start'),
                  'lon', 'lat'))
    batch_kept = filter_impossible_journeys(df, 200.0).collect()

    src = str(tmp_path / 'pings_stream')
    os.makedirs(src)
    pdf = df.toPandas().sort_values('dt_start').reset_index(drop=True)
    for ci, chunk in enumerate(np.array_split(pdf, 3)):
        p = os.path.join(src, f'chunk_{ci:03d}.parquet')
        spark.createDataFrame(chunk, PINGS_SCHEMA).coalesce(1) \
            .write.mode('overwrite').parquet(p + '.dir')
        # one parquet FILE per micro-batch, mtime-ordered (the file source
        # processes oldest-first under maxFilesPerTrigger=1)
        part = [f for f in os.listdir(p + '.dir') if f.endswith('.parquet')][0]
        os.rename(os.path.join(p + '.dir', part), p)
        os.utime(p, (1000 + ci, 1000 + ci))
    streamed = run_impossible_to_memory(spark, src, 200.0,
                                        query_name='j_kept_test').collect()
    key = lambda r: (r.entity, r.dt_start, round(r.lon, 9), round(r.lat, 9))
    assert sorted(map(key, streamed)) == sorted(map(key, batch_kept))
    assert len(batch_kept) < len(rows)  # the filter actually dropped pings


def test_projection_goldens(spark):
    """Coordinate.to_projection/from_projection goldens
    (reference tests/test_coordinates.py:78-82, EPSG:3857) and UTM-family
    EPSG codes against the Krüger kernel."""
    from geostructures_spark.functions.geo import (
        from_projection_udf, to_projection_udf)
    inv = from_projection_udf('EPSG:3857')
    r = (spark.createDataFrame([(2000.0, 3000.0)], 'x double, y double')
         .select(inv('x', 'y').alias('p')).collect()[0].p)
    assert (r.lon, r.lat) == (0.017966, 0.026949)
    fwd = to_projection_udf('EPSG:3857')
    r2 = (spark.createDataFrame([(0.017966, 0.026949)], 'lon double, lat double')
          .select(fwd('lon', 'lat').alias('p')).collect()[0].p)
    assert (r2.x, r2.y) == (1999.965972, 2999.949068)
    # EPSG:326xx equals the zone-derived UTM kernel; 327xx south CRS
    # round-trips even for northern points (false northing is CRS property)
    from geostructures_spark.kernels.mgrs import utm_forward
    import numpy as np
    df = spark.createDataFrame([(4.35, 50.85), (3.0, -26.1)],
                               'lon double, lat double')
    got = df.select(to_projection_udf(32631)('lon', 'lat').alias('p')).collect()
    _, _, e, n = utm_forward(np.array([4.35]), np.array([50.85]))
    assert got[0].p.x == round(float(e[0]), 6) and got[0].p.y == round(float(n[0]), 6)
    rt = (df.select('lon', 'lat',
                    to_projection_udf('EPSG:32731')('lon', 'lat').alias('p'))
          .select('lon', 'lat',
                  from_projection_udf('EPSG:32731')(F.col('p.x'), F.col('p.y')).alias('q'))
          .collect())
    for r in rt:
        assert (r.q.lon, r.q.lat) == (r.lon, r.lat)
    # identity CRS
    ident = to_projection_udf(4326)
    r3 = df.select(ident('lon', 'lat').alias('p')).collect()[0].p
    assert (r3.x, r3.y) == (4.35, 50.85)
    import pytest as _pt
    with _pt.raises(ValueError):
        # EPSG:2193 (NZTM2000) is intentionally outside the registry
        to_projection_udf('EPSG:2193')


def test_embedding_neardup_finds_planted_pairs(spark):
    """IVF-bucketed cosine near-dup: planted duplicates (same vector +
    tiny noise) must be found; orthogonal vectors must not pair."""
    import random
    rng = random.Random(3)
    dim = 16
    base = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(20)]
    rows = [(i, v) for i, v in enumerate(base)]
    # plant near-dups of vectors 0..4 as ids 100..104
    for i in range(5):
        rows.append((100 + i, [x + rng.gauss(0, 0.01) for x in base[i]]))
    vecs = spark.createDataFrame(rows, 'vec_id long, embedding array<double>')
    cents = (vecs.filter(F.col('vec_id') < 4)
             .select(F.col('vec_id').alias('centroid_id'),
                     F.col('embedding').alias('c_embedding')))
    from geostructures_spark.operators.simsearch import embedding_neardup_pairs
    got = {(r.doc_a, r.doc_b)
           for r in embedding_neardup_pairs(vecs, cents, threshold=0.98).collect()}
    assert got == {(i, 100 + i) for i in range(5)}


def test_xyz_tile_quadkey_golden(spark):
    """Known slippy/Bing example: (139.7006793 E, 35.6590699 N) at zoom 18
    is tile (232798, 103246), quadkey 133002112303013330; plus edge clamps
    beyond the Mercator latitude limit."""
    from geostructures_spark.functions.geo import quadkey_expr, xyz_tile_exprs
    df = spark.createDataFrame([(139.7006793, 35.6590699), (0.0, 89.9),
                                (0.0, -89.9)], 'lon double, lat double')
    x, y = xyz_tile_exprs(F.col('lon'), F.col('lat'), 18)
    out = (df.select(x.alias('x'), y.alias('y'))
           .withColumn('qk', quadkey_expr(F.col('x'), F.col('y'), 18))
           .collect())
    assert (out[0].x, out[0].y) == (232798, 103246)
    assert out[0].qk == '133002112303013330'
    assert out[1].y == 0 and out[2].y == (1 << 18) - 1  # clamped to edges


def test_resize_images_operator(spark):
    """Distributed resize: PPM blobs decode, resample, re-encode; decoding
    the output must equal the kernel resize of the input."""
    import numpy as np
    from geostructures_spark.kernels.media import (
        decode_ppm, encode_ppm, resize_nearest)
    from geostructures_spark.operators.multimodal import resize_images
    from geostructures_spark.sources.media import media_blobs
    ids = spark.range(6).selectExpr('id AS media_id')  # 3 images, 3 wavs
    media = media_blobs(ids)
    out = {r.media_id: r.blob
           for r in resize_images(media, 4, 4).collect()}
    src = {r.media_id: r.blob for r in media.collect()}
    for mid in (0, 2, 4):
        want = resize_nearest(decode_ppm(src[mid]), 4, 4)
        assert np.array_equal(decode_ppm(out[mid]), want)
    for mid in (1, 3, 5):
        assert out[mid] is None  # audio rows pass through null


def test_wkb_interchange(spark):
    """OGC WKB spec golden (POINT(2 4) LE hex) + distributed round trip
    preserving multipolygon hole grouping and bit-exact doubles."""
    from geostructures_spark.operators.wkb import (
        parse_wkb_df, shape_row_to_wkb, to_wkb_df, wkb_to_shape_row)
    assert shape_row_to_wkb('point', [[{'lon': 2.0, 'lat': 4.0}]]).hex() == \
        '010100000000000000000000400000000000001040'
    import struct
    be = struct.pack('>BIdd', 0, 1, 2.0, 4.0)  # big-endian variant parses
    assert wkb_to_shape_row(be)['rings'][0][0]['lon'] == 2.0
    assert wkb_to_shape_row(b'\x01\x63\x00\x00\x00') is None

    tri = lambda x0, y0, s: [(x0, y0), (x0 + s, y0), (x0, y0 + s), (x0, y0)]
    rows = [(1, 'multipolygon',
             [tri(0.1234567891234, 7.0, 1.0), tri(0.3, 7.2, 0.1), tri(5.0, 5.0, 1.0)],
             [2, 1]),
            (2, 'linestring', [tri(0.0, 0.0, 2.0)[:3]], None),
            (3, 'point', [[(3.5, -1.25)]], None)]
    df = spark.createDataFrame(
        rows, 'pid long, kind string, '
              'rings array<array<struct<lon:double,lat:double>>>, '
              'poly_sizes array<int>')
    parsed = parse_wkb_df(to_wkb_df(df).select('pid', 'wkb')).collect()
    byid = {r.pid: r for r in parsed}
    assert byid[1].kind == 'multipolygon' and byid[1].poly_sizes == [2, 1]
    assert byid[1].rings[0][0].lon == 0.1234567891234  # bit-exact double
    assert byid[2].kind == 'linestring' and len(byid[2].rings[0]) == 3
    assert byid[3].kind == 'point' and byid[3].rings[0][0].lat == -1.25


def test_geojson_featurecollection_explode(spark):
    """FeatureCollection documents explode to per-feature parsed rows
    (reference parsers.py:146-148); bare geometries pass through."""
    import json
    from geostructures_spark.operators.interchange import (
        explode_feature_collections)
    fc = json.dumps({'type': 'FeatureCollection', 'features': [
        {'type': 'Feature', 'geometry': {'type': 'Point',
                                         'coordinates': [1.0, 2.0]},
         'properties': {'a': 'x'}},
        {'type': 'Feature', 'geometry': {'type': 'Polygon', 'coordinates':
            [[[0, 0], [1, 0], [1, 1], [0, 0]]]}, 'properties': {}}]})
    single = json.dumps({'type': 'Point', 'coordinates': [9.0, 9.0]})
    df = spark.createDataFrame([(1, fc), (2, single)], 'id long, geojson string')
    out = sorted(explode_feature_collections(df).collect(),
                 key=lambda r: (r.id, r.feature_idx))
    assert [(r.id, r.feature_idx, r.kind) for r in out] == [
        (1, 0, 'point'), (1, 1, 'polygon'), (2, 0, 'point')]
    assert dict(out[0].properties) == {'a': 'x'}
    assert len(out[1].rings[0]) == 4


def test_split_multishapes_and_set_property(spark):
    """MultiShapeBase.split (_base.py:940-946): children keep hole grouping
    and inherit dt/properties; set_property upserts into the map."""
    from geostructures_spark.operators.derive import (
        set_property, split_multishapes)
    tri = lambda x0, y0, s: [(float(x0), float(y0)), (float(x0 + s), float(y0)),
                             (float(x0), float(y0 + s)), (float(x0), float(y0))]
    rows = [(1, 'multipolygon',
             [tri(0, 0, 1), tri(0.2, 0.2, 0.1), tri(5, 5, 1)], [2, 1], {'a': 'b'}),
            (2, 'multipoint', [[(1.0, 2.0)], [(3.0, 4.0)]], None, None),
            (3, 'polygon', [tri(9, 9, 1)], None, {'k': 'v'})]
    df = spark.createDataFrame(
        rows, 'shape_id long, kind string, '
              'rings array<array<struct<lon:double,lat:double>>>, '
              'poly_sizes array<int>, properties map<string,string>')
    got = [(r.shape_id, r.child_idx, r.kind, len(r.rings),
            dict(r.properties or {}))
           for r in split_multishapes(df).orderBy('shape_id', 'child_idx').collect()]
    assert got == [(1, 0, 'polygon', 2, {'a': 'b'}),
                   (1, 1, 'polygon', 1, {'a': 'b'}),
                   (2, 0, 'point', 1, {}),
                   (2, 1, 'point', 1, {}),
                   (3, 0, 'polygon', 1, {'k': 'v'})]
    props = [dict(r.properties) for r in
             set_property(df, 'a', 'z').orderBy('shape_id').collect()]
    assert props == [{'a': 'z'}, {'a': 'z'}, {'a': 'z', 'k': 'v'}]


def test_xyz_assign_tiles_matches_kernel(spark):
    """Raster->vector assignment: circle fast path (pure predicate) and
    polygon slow path (exact kernel) both emit exactly the tiles whose
    centers are inside; oversized shapes are dropped by the guard."""
    import math
    import numpy as np
    from geostructures_spark.kernels.shapes import shape_contains_points
    from geostructures_spark.operators.derive import with_shape_derived
    from geostructures_spark.operators.raster import xyz_assign_tiles
    tri = [(10.0, 45.0), (10.3, 45.0), (10.15, 45.3), (10.0, 45.0)]
    shapes = spark.createDataFrame(
        [(1, 'circle', {'center_lon': 10.0, 'center_lat': 45.0,
                        'radius': 20000.0}, None),
         (2, 'polygon', None, [tri]),
         (3, 'circle', {'center_lon': 0.0, 'center_lat': 0.0,
                        'radius': 5_000_000.0}, None)],  # guard-dropped
        'shape_id long, kind string, params map<string,double>, '
        'rings array<array<struct<lon:double,lat:double>>>') \
        .select('shape_id', 'kind',
                F.struct(*[F.col('params').getItem(k).alias(k) for k in
                           ('center_lon', 'center_lat', 'radius')]).alias('params'),
                'rings')
    sb = with_shape_derived(shapes).select(
        'shape_id', 'kind', 'params', 'rings',
        'min_lon', 'min_lat', 'max_lon', 'max_lat')
    out = xyz_assign_tiles(sb, zoom=11, max_tiles_per_shape=500).collect()
    got = {}
    for r in out:
        got.setdefault(r.shape_id, set()).add((r.tile_x, r.tile_y))
    assert 3 not in got  # 5000 km circle exceeds the tile guard at z11
    n = 1 << 11
    # every emitted tile's center is inside; brute-force completeness over
    # the bbox grid for the polygon
    poly = {'kind': 'polygon', 'params': {}, 'rings': [np.array(tri)],
            'children': None}
    want = set()
    for x in range(int((10.0 + 180) / 360 * n) - 1, int((10.3 + 180) / 360 * n) + 2):
        for y in range(1, n):
            lon = (x + 0.5) / n * 360 - 180
            lat = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * (y + 0.5) / n))))
            if 44.9 < lat < 45.4 and shape_contains_points(
                    poly, np.array([lon]), np.array([lat]))[0]:
                want.add((x, y))
    assert got[2] == want
    assert len(got[1]) > 0


def test_streaming_watermark_drops_late_events(spark, tmp_path):
    """Append-mode windowed agg with a 1-hour watermark: an event arriving
    after the watermark has passed its window is dropped (the late-data
    contract that makes unbounded aggregation state safe at scale)."""
    import os
    from geostructures_spark.streaming.events import (
        EVENTS_SCHEMA, windowed_event_agg)
    src = str(tmp_path / 'late_stream')
    os.makedirs(src)

    def write_chunk(name, rows, mtime):
        p = os.path.join(src, name)
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1) \
            .write.mode('overwrite').parquet(p + '.dir')
        part = [f for f in os.listdir(p + '.dir') if f.endswith('.parquet')][0]
        os.rename(os.path.join(p + '.dir', part), p)
        os.utime(p, (mtime, mtime))

    def ev(i, ts, typ='a', v=1.0):
        import datetime as dt
        return (i, dt.datetime.fromisoformat(ts), 1, typ, v, '{}')

    write_chunk('c0.parquet',
                [ev(1, '2024-01-01 00:10:00'), ev(2, '2024-01-01 00:20:00')],
                1000)
    # advance event time far past window [00:00, 01:00) — stateful
    # operators apply the watermark one batch late, so a second fresh
    # batch lets it propagate and finalize the window ...
    write_chunk('c1.parquet', [ev(3, '2024-01-01 12:00:00')], 1001)
    write_chunk('c2.parquet', [ev(6, '2024-01-01 12:30:00')], 1002)
    # ... so this late arrival for the finalized window must be dropped
    write_chunk('c3.parquet', [ev(4, '2024-01-01 00:30:00')], 1003)
    # one more advance so the 12:00 window can finalize too
    write_chunk('c4.parquet', [ev(5, '2024-01-02 00:00:00')], 1004)

    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .option('maxFilesPerTrigger', 1).parquet(src))
    agg = windowed_event_agg(stream, window='1 hour', watermark='1 hour')
    q = (agg.writeStream.outputMode('append')
         .format('memory').queryName('late_agg_test').start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.window_start.isoformat(): r.n_events
           for r in spark.sql('SELECT * FROM late_agg_test').collect()}
    # the 00:00 window finalized with 2 events — the late one was dropped
    assert got.get('2024-01-01T00:00:00') == 2
    assert got.get('2024-01-01T12:00:00') == 2
    dropped = sum((p.get('stateOperators') or [{}])[0]
                  .get('numRowsDroppedByWatermark', 0) or 0
                  for p in q.recentProgress)
    assert dropped == 1
