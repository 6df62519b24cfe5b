"""Round-2 operator parity tests: ellipse covariance, split_by_length,
simhash kernel semantics, canonical-ring dedup — reference goldens replayed
through kernels and Spark operators.
"""

import os

import numpy as np
import pytest
from numpy.testing import assert_allclose

from pyspark.sql import functions as F

from geostructures_spark.plans.session import get_session


@pytest.fixture(scope='module')
def spark():
    s = get_session(app='tests_r2', cores=4, shuffle_partitions=8)
    yield s


# --- ellipse <-> covariance (reference tests/structures/test_geoellipse.py:163-200)

def test_ellipse_covariance_matrix_golden():
    from geostructures_spark.kernels.shapes import ellipse_covariance_matrix
    v1, c, v2 = ellipse_covariance_matrix(100.0, 50.0, 45.0)
    assert_allclose([v1, c, v2], [6250.0, 3750.0, 6250.0])
    v1, c, v2 = ellipse_covariance_matrix(100.0, 50.0, 90.0)
    assert_allclose([v1, c, v2], [10000.0, 0.0, 2500.0], atol=1e-7)
    v1, c, v2 = ellipse_covariance_matrix(100.0, 50.0, 90.0,
                                          to_trigonometric_rotation=False)
    assert_allclose([v1, c, v2], [2500.0, 0.0, 10000.0], atol=1e-7)


def test_ellipse_from_covariance_golden():
    from geostructures_spark.kernels.shapes import ellipse_from_covariance
    maj, mino, rot = ellipse_from_covariance(6250.0, 3750.0, 6250.0)
    assert_allclose([maj[0], mino[0], rot[0]], [100.0, 50.0, 45.0])
    maj, mino, rot = ellipse_from_covariance(10000.0, 0.0, 2500.0)
    assert_allclose([maj[0], mino[0], rot[0]], [100.0, 50.0, 90.0])
    maj, mino, rot = ellipse_from_covariance(
        2500.0, 0.0, 10000.0, from_trigonometric_rotation=False)
    assert_allclose([maj[0], mino[0], rot[0]], [100.0, 50.0, 90.0])


def test_ellipse_covariance_roundtrip_batch():
    from geostructures_spark.kernels.shapes import (
        ellipse_covariance_matrix, ellipse_from_covariance)
    rng = np.random.default_rng(7)
    maj = rng.uniform(50, 500, 200)
    mino = maj * rng.uniform(0.2, 0.99, 200)
    rot = rng.uniform(0, 180, 200)
    v1, c, v2 = ellipse_covariance_matrix(maj, mino, rot)
    rmaj, rmino, rrot = ellipse_from_covariance(v1, c, v2)
    assert_allclose(rmaj, maj, rtol=1e-9)
    assert_allclose(rmino, mino, rtol=1e-9)
    assert_allclose(np.mod(rrot, 180), np.mod(rot, 180), atol=1e-7)


def test_ellipse_covariance_spark_exprs(spark):
    """Column-expression path agrees with the eigvalsh kernel path."""
    from geostructures_spark.operators.derive import (
        covariance_from_ellipse_exprs, ellipse_from_covariance_exprs)
    df = spark.createDataFrame(
        [(100.0, 50.0, 45.0), (100.0, 50.0, 90.0), (300.0, 120.0, 123.4)],
        'semi_major double, semi_minor double, rotation double')
    v1, c, v2 = covariance_from_ellipse_exprs(
        F.col('semi_major'), F.col('semi_minor'), F.col('rotation'))
    d = df.select('semi_major', 'semi_minor', 'rotation',
                  v1.alias('v1'), c.alias('c'), v2.alias('v2'))
    maj, mino, rot = ellipse_from_covariance_exprs(
        F.col('v1'), F.col('c'), F.col('v2'))
    rows = d.select('semi_major', 'semi_minor', 'rotation',
                    maj.alias('maj'), mino.alias('mino'), rot.alias('rot')).collect()
    for r in rows:
        assert_allclose([r.maj, r.mino], [r.semi_major, r.semi_minor], rtol=1e-9)
        assert_allclose(r.rot % 180, r.rotation % 180, atol=1e-7)


# --- split_by_length (reference tests/structures/test_geolinestring.py:236-261)

def test_split_by_length_golden_kernel():
    from geostructures_spark.kernels.geodesy import destination_point
    from geostructures_spark.kernels.shapes import split_linestring_by_length
    c1 = (0.0, 0.0)
    c2 = destination_point(*c1, 90.0, 1000.0)
    c3 = destination_point(*c2, 0.0, 1000.0)
    c1_mid = destination_point(*c1, 90.0, 750.0)
    c2_mid = destination_point(*c2, 0.0, 500.0)
    verts = np.array([c1, [float(c2[0]), float(c2[1])],
                      [float(c3[0]), float(c3[1])]])
    chunks = split_linestring_by_length(verts, 750.0)
    assert len(chunks) == 3
    assert_allclose(chunks[0], [c1, c1_mid], atol=1e-9)
    assert_allclose(chunks[1],
                    [c1_mid, (float(c2[0]), float(c2[1])), c2_mid], atol=1e-9)
    assert_allclose(chunks[2],
                    [c2_mid, (float(c3[0]), float(c3[1]))], atol=1e-9)
    with pytest.raises(ValueError):
        split_linestring_by_length(verts, 0)
    with pytest.raises(ValueError):
        split_linestring_by_length(verts, -5)


def test_split_by_length_operator(spark):
    from geostructures_spark.kernels.geodesy import destination_point
    from geostructures_spark.operators.derive import split_by_length
    c2 = destination_point(0.0, 0.0, 90.0, 2600.0)
    rings = [[{'lon': 0.0, 'lat': 0.0},
              {'lon': float(c2[0]), 'lat': float(c2[1])}]]
    df = spark.createDataFrame(
        [(1, 'linestring', rings), (2, 'point', [[{'lon': 5.0, 'lat': 5.0}]])],
        'shape_id long, kind string, '
        'rings array<array<struct<lon:double,lat:double>>>')
    out = split_by_length(df, 1000.0).orderBy('shape_id', 'chunk_idx').collect()
    ls = [r for r in out if r.shape_id == 1]
    assert [r.chunk_idx for r in ls] == [0, 1, 2]
    assert all(len(r.rings[0]) == 2 for r in ls)
    # chunks chain: each chunk starts where the previous ended
    for a, b in zip(ls, ls[1:]):
        assert a.rings[0][-1] == b.rings[0][0]
    # passthrough row
    pt = [r for r in out if r.shape_id == 2]
    assert len(pt) == 1 and pt[0].chunk_idx == 0


# --- canonical shape dedup (reference structures.py:348-355, _base.py:880-888)

def test_canonical_shape_key_invariances():
    from geostructures_spark.operators.shape_dedup import canonical_shape_key
    sq = [{'lon': 0.0, 'lat': 0.0}, {'lon': 1.0, 'lat': 0.0},
          {'lon': 1.0, 'lat': 1.0}, {'lon': 0.0, 'lat': 1.0},
          {'lon': 0.0, 'lat': 0.0}]
    rot = sq[2:4] + sq[0:2] + [sq[2]]          # rotated start, re-closed
    rev = list(reversed(sq))                   # reversed orientation
    h1 = [{'lon': 0.2, 'lat': 0.2}, {'lon': 0.3, 'lat': 0.2},
          {'lon': 0.25, 'lat': 0.3}, {'lon': 0.2, 'lat': 0.2}]
    h2 = [{'lon': 0.6, 'lat': 0.6}, {'lon': 0.7, 'lat': 0.6},
          {'lon': 0.65, 'lat': 0.7}, {'lon': 0.6, 'lat': 0.6}]
    k = canonical_shape_key('polygon', rings=[sq])
    assert canonical_shape_key('polygon', rings=[rot]) == k
    assert canonical_shape_key('polygon', rings=[rev]) == k
    # hole order is a set (reference __eq__ compares hole sets)
    assert (canonical_shape_key('polygon', rings=[sq, h1, h2]) ==
            canonical_shape_key('polygon', rings=[sq, h2, h1]))
    assert canonical_shape_key('polygon', rings=[sq, h1]) != k
    # parametric kinds compare on params; dt participates
    c = {'center_lon': 1.0, 'center_lat': 2.0, 'radius': 500.0}
    assert (canonical_shape_key('circle', params=c) ==
            canonical_shape_key('circle', params=dict(c)))
    assert (canonical_shape_key('circle', params=c) !=
            canonical_shape_key('circle', params={**c, 'radius': 501.0}))
    assert (canonical_shape_key('circle', params=c, dt_start='2020-01-01') !=
            canonical_shape_key('circle', params=c))


def test_shape_equality_join(spark):
    from geostructures_spark.operators.shape_dedup import shape_equality_join
    sq = [{'lon': 0.0, 'lat': 0.0}, {'lon': 1.0, 'lat': 0.0},
          {'lon': 1.0, 'lat': 1.0}, {'lon': 0.0, 'lat': 0.0}]
    rot = sq[1:3] + [sq[0], sq[1]]
    other = [{'lon': 5.0, 'lat': 5.0}, {'lon': 6.0, 'lat': 5.0},
             {'lon': 6.0, 'lat': 6.0}, {'lon': 5.0, 'lat': 5.0}]
    schema = ('shape_id long, kind string, '
              'rings array<array<struct<lon:double,lat:double>>>')
    a = spark.createDataFrame([(1, 'polygon', [sq]), (2, 'polygon', [other])],
                              schema)
    b = spark.createDataFrame([(10, 'polygon', [rot]), (20, 'polygon', [sq])],
                              schema)
    pairs = {(r.a_id, r.b_id)
             for r in shape_equality_join(a, b).collect()}
    assert pairs == {(1, 10), (1, 20)}


# --- WKT/GeoJSON multipolygon hole grouping (multistructures.py:663-712)

HOLED_MP_WKT = ('MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0), '
                '(1 1, 3 1, 3 3, 1 3, 1 1)), '
                '((10 10, 12 10, 12 12, 10 12, 10 10)))')


def test_wkt_multipolygon_hole_grouping_roundtrip(spark):
    from geostructures_spark.operators.interchange import (
        parse_wkt_df, to_geojson_df, to_wkt_df)
    df = spark.createDataFrame([(1, HOLED_MP_WKT)], 'id long, wkt string')
    parsed = parse_wkt_df(df)
    row = parsed.collect()[0]
    assert row.kind == 'multipolygon'
    assert list(row.poly_sizes) == [2, 1]       # [outline+hole, outline]
    assert len(row.rings) == 3
    # WKT round trip preserves the grouping
    emitted = to_wkt_df(parsed.select('id', 'kind', 'rings', 'poly_sizes'),
                        out_col='wkt2').collect()[0]
    re = parse_wkt_df(spark.createDataFrame([(1, emitted.wkt2)],
                                            'id long, wkt2 string'),
                      wkt_col='wkt2').collect()[0]
    assert list(re.poly_sizes) == [2, 1]
    # GeoJSON emitter groups too
    import json
    gj = to_geojson_df(parsed.select('id', 'kind', 'rings', 'poly_sizes'))
    coords = json.loads(gj.collect()[0].geojson)['coordinates']
    assert [len(p) for p in coords] == [2, 1]


def test_parsed_multipolygon_containment_with_hole(spark):
    """A parsed holed multipolygon must reject points in the hole —
    exercises shape_row_to_kernel's poly_sizes grouping end-to-end."""
    from geostructures_spark.kernels.shapes import shape_contains_points
    from geostructures_spark.operators.interchange import parse_wkt_df
    from geostructures_spark.operators.tiling import shape_row_to_kernel
    df = spark.createDataFrame([(1, HOLED_MP_WKT)], 'id long, wkt string')
    row = parse_wkt_df(df).collect()[0].asDict(recursive=True)
    shape = shape_row_to_kernel(row)
    assert shape['children'] is not None and len(shape['children']) == 2
    got = shape_contains_points(shape, [0.5, 2.0, 11.0, 20.0],
                                [0.5, 2.0, 11.0, 20.0])
    # 2.0 is inside the hole; 11.0 inside the second polygon
    assert list(got) == [True, False, True, False]


# --- spatial join scale paths: spec-shipped + salted == broadcast ----------

def _join_fixture(spark):
    pts = spark.createDataFrame(
        [(f'u{i}', ((i * 7919) % 3600) / 10.0 - 180.0 + 0.000123,
          ((i * 104729) % 1700) / 10.0 - 85.0 + 0.000321)
         for i in range(400)],
        'url string, lon double, lat double')
    shapes = spark.createDataFrame(
        [(j, ((j * 104729) % 3600) / 10.0 - 180.0 + 0.000123,
          ((j * 7919) % 1700) / 10.0 - 85.0 + 0.000321)
         for j in range(25)],
        'shape_id long, c_lon double, c_lat double').selectExpr(
        'shape_id', "'circle' AS kind",
        'named_struct("center_lon", c_lon, "center_lat", c_lat, '
        '"radius", 900000.0D) AS params',
        'CAST(NULL AS array<array<struct<lon:double,lat:double>>>) AS rings',
        'CAST(NULL AS timestamp) AS dt_start',
        'CAST(NULL AS timestamp) AS dt_end')
    return pts, shapes


def test_spatial_join_spec_path_matches_broadcast(spark):
    from geostructures_spark.operators.spatial_join import spatial_join_points
    pts, shapes = _join_fixture(spark)
    base = {(r.url, r.shape_id) for r in
            spatial_join_points(pts, shapes, length=3, base=16,
                                time_gated=False).collect()}
    spec = {(r.url, r.shape_id) for r in
            spatial_join_points(pts, shapes, length=3, base=16,
                                time_gated=False,
                                max_broadcast_shapes=0).collect()}
    assert len(base) > 0
    assert spec == base


def test_spatial_join_salted_matches_unsalted(spark):
    from geostructures_spark.operators.spatial_join import spatial_join_points
    pts, shapes = _join_fixture(spark)
    base = {(r.url, r.shape_id) for r in
            spatial_join_points(pts, shapes, length=3, base=16,
                                time_gated=False).collect()}
    salted = {(r.url, r.shape_id) for r in
              spatial_join_points(pts, shapes, length=3, base=16,
                                  time_gated=False, salt_shards=4).collect()}
    assert salted == base


def _broadcast_inputs(df):
    """Input columns of each BroadcastExchange in the plan as built. Call it
    before the first action: an executed adaptive plan prints its final
    form, where AQE may have turned small shuffle joins into broadcasts."""
    import re
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    plan = df._jdf.queryExecution().explainString(mode.fromString('formatted'))
    return re.findall(r'^\(\d+\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]',
                      plan, flags=re.M)


def test_shape_join_spec_path_matches_broadcast(spark, monkeypatch):
    from geostructures_spark.operators import shape_join as sj
    from geostructures_spark.operators import spatial_join as spj
    _, shapes = _join_fixture(spark)
    other = shapes.selectExpr(
        'shape_id + 100 AS shape_id', 'kind',
        'named_struct("center_lon", params.center_lon + 3.0, '
        '"center_lat", params.center_lat, "radius", 700000.0D) AS params',
        'rings', 'dt_start', 'dt_end')
    # within the budget both spec sides broadcast; the lowered budget
    # plans them as shuffle joins
    spec_sides = lambda df: sorted(s for cols in _broadcast_inputs(df)
                                   for s in ('_spec_a', '_spec_b') if s in cols)
    within = sj.shape_join(shapes, other, length=3, time_gated=False)
    assert spec_sides(within) == ['_spec_a', '_spec_b']
    base = {(r.a_id, r.b_id) for r in within.collect()}
    monkeypatch.setattr(spj, '_BROADCAST_MAX_SHAPES', 0)
    forced = sj.shape_join(shapes, other, length=3, time_gated=False)
    assert spec_sides(forced) == []
    spec = {(r.a_id, r.b_id) for r in forced.collect()}
    assert len(base) > 0
    assert spec == base


# --- filter_by_time + dt mutation coverage ---------------------------------

def test_filter_by_time_of_day_golden(spark):
    """Reference tests/test_collections.py:1045-1064: points at hours 0..7
    (instant dt) + one [1h, 7h] interval, window [02:30, 05:30] keeps hours
    3, 4, 5 and the spanning interval."""
    from datetime import datetime
    from geostructures_spark.operators.tracks import filter_by_time_of_day
    rows = [(h, datetime(2020, 1, 1, h), datetime(2020, 1, 1, h))
            for h in range(8)]
    rows.append((8, datetime(2020, 1, 1, 1), datetime(2020, 1, 1, 7)))
    df = spark.createDataFrame(
        rows, 'id long, dt_start timestamp, dt_end timestamp')
    kept = sorted(r.id for r in
                  filter_by_time_of_day(df, '02:30:00', '05:30:00').collect())
    assert kept == [3, 4, 5, 8]


def test_dt_mutation_helpers(spark):
    from datetime import datetime
    from geostructures_spark.operators.derive import buffer_dt, set_dt, strip_dt
    df = spark.createDataFrame(
        [(1, datetime(2020, 1, 1, 12), datetime(2020, 1, 1, 13))],
        'id long, dt_start timestamp, dt_end timestamp')
    b = buffer_dt(df, 3600, 1800).collect()[0]
    assert b.dt_start == datetime(2020, 1, 1, 11)
    assert b.dt_end == datetime(2020, 1, 1, 13, 30)
    s = set_dt(df, datetime(2021, 1, 1), datetime(2021, 1, 2)).collect()[0]
    assert (s.dt_start, s.dt_end) == (datetime(2021, 1, 1), datetime(2021, 1, 2))
    n = strip_dt(df).collect()[0]
    assert n.dt_start is None and n.dt_end is None


# --- two-stage convex hull matches single-pass kernel -----------------------

def test_convex_hull_two_stage_matches_kernel(spark):
    from geostructures_spark.kernels.geometry import convex_hull
    from geostructures_spark.operators.hull import convex_hull_by_key
    rng = np.random.default_rng(11)
    pts = rng.uniform(-50, 50, size=(5000, 2))
    df = spark.createDataFrame(
        [('g', float(x), float(y)) for x, y in pts],
        'seg string, lon double, lat double')
    got = {(r.lon, r.lat) for r in
           convex_hull_by_key(df, key_col='seg', shards=16).collect()}
    ring = convex_hull(pts)
    want = {(float(x), float(y)) for x, y in ring[:-1]}
    assert got == want


# --- snapshot checkpoint / resume (north rule: per-partition lineage) -------

def test_snapshot_writer_commit_and_resume(spark, tmp_path):
    import json
    import os
    from geostructures_spark.sources.manifest import (
        SnapshotWriter, last_snapshot_id, read_snapshot)
    table = str(tmp_path / 'tbl')

    w = SnapshotWriter(table, snapshot_id='s000')
    for k in ('p0', 'p1'):
        df = spark.range(10).selectExpr(f"'{k}' AS part", 'id')
        rec = w.write_partition(k, df, lineage={'input': f'gen:{k}'})
        assert rec['rows'] == 10 and rec['lineage'] == {'input': f'gen:{k}'}
    mpath = w.commit()
    assert last_snapshot_id(table) == 's000'
    assert read_snapshot(spark, table).count() == 20
    manifest = json.load(open(mpath))
    assert manifest['total_rows'] == 20
    assert all('wall_sec' in p and 'lineage' in p for p in manifest['partitions'])

    # resume: s001 picks up s000's partitions, skips done work, adds one
    w2 = SnapshotWriter(table, snapshot_id='s001', resume_from='s000')
    assert w2.is_done('p0') and w2.is_done('p1') and not w2.is_done('p2')
    w2.write_partition('p2', spark.range(5).selectExpr("'p2' AS part", 'id'))
    w2.commit()
    assert last_snapshot_id(table) == 's001'
    assert read_snapshot(spark, table).count() == 25
    # earlier snapshot remains readable (time travel)
    assert read_snapshot(spark, table, 's000').count() == 20


def test_snapshot_uncommitted_invisible(spark, tmp_path):
    from geostructures_spark.sources.manifest import SnapshotWriter, last_snapshot_id
    table = str(tmp_path / 'tbl2')
    w = SnapshotWriter(table, snapshot_id='s000')
    w.write_partition('p0', spark.range(3).selectExpr('id'))
    # no commit -> snapshot invisible
    assert last_snapshot_id(table) is None


# --- KML / KMZ (reference tests/test_parsers.py goldens, stdlib XML) --------

REF_FILES = '/root/reference/tests/test_files'


@pytest.mark.skipif(not os.path.isdir(REF_FILES),
                    reason='the reference KML fixtures are not checked out')
def test_parse_kml_reference_fixtures():
    from geostructures_spark.operators.kml import kmz_to_kml, parse_kml_blob
    with open(f'{REF_FILES}/test_kml.kml', encoding='utf8') as f:
        kml_str = f.read()
    # 19 placemarks (test_parsers.py:70-86), also with BOM / bytes input
    assert len(parse_kml_blob(kml_str)) == 19
    assert len(parse_kml_blob('﻿' + kml_str)) == 19
    assert len(parse_kml_blob(b'\xef\xbb\xbf' + kml_str.encode('utf8'))) == 19
    # folder names land in sub_folder_i properties
    first = parse_kml_blob(kml_str)[0]
    assert first['properties']['sub_folder_0'] == 'Placemarks'
    assert first['properties']['name'] == 'Simple placemark'
    # SchemaData fields (test_parsers.py:51-58)
    with open(f'{REF_FILES}/test_schemadata.kml') as f:
        rows = parse_kml_blob(f.read())
    assert rows[0]['properties']['TrailHeadName'] == 'Pi in the sky'
    # mixed SchemaData + Data (test_parsers.py:61-67)
    with open(f'{REF_FILES}/test_mixed_extendeddata.kml') as f:
        rows = parse_kml_blob(f.read())
    assert rows[0]['properties']['TrailHeadName'] == 'Pi in the sky'
    assert rows[0]['properties']['holler'] == 'world'
    # KMZ archive
    with open(f'{REF_FILES}/test_kmz.kmz', 'rb') as f:
        assert len(parse_kml_blob(kmz_to_kml(f.read()))) == 83


def test_parse_kml_linearring_and_resource_forks():
    from io import BytesIO
    from zipfile import ZipFile
    from geostructures_spark.operators.kml import kmz_to_kml, parse_kml_blob
    # LinearRing as direct geometry parses as its polygon (test_parsers.py)
    rows = parse_kml_blob('''
        <kml xmlns="http://www.opengis.net/kml/2.2"><Document><Placemark>
        <LinearRing><coordinates>0,0 1,0 1,1 0,0</coordinates></LinearRing>
        </Placemark></Document></kml>''')
    assert len(rows) == 1 and rows[0]['kind'] == 'polygon'
    assert rows[0]['rings'][0] == [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0),
                                   (0.0, 0.0)]
    # macOS AppleDouble members must be skipped (test_parsers.py:269-289)
    doc = ('<kml xmlns="http://www.opengis.net/kml/2.2"><Document><Placemark>'
           '<Point><coordinates>1.0,2.0</coordinates></Point>'
           '</Placemark></Document></kml>')
    buf = BytesIO()
    with ZipFile(buf, 'w') as z:
        z.writestr('__MACOSX/._doc.kml', b'\x00\x05\x16\x07binary')
        z.writestr('doc.kml', doc)
    assert len(parse_kml_blob(kmz_to_kml(buf.getvalue()))) == 1


def test_kml_df_roundtrip(spark):
    from geostructures_spark.operators.kml import parse_kml_df, to_kml_df
    shapes = spark.createDataFrame(
        [(1, 'polygon',
          [[{'lon': 0.0, 'lat': 0.0}, {'lon': 4.0, 'lat': 0.0},
            {'lon': 4.0, 'lat': 4.0}, {'lon': 0.0, 'lat': 0.0}],
           [{'lon': 1.0, 'lat': 1.0}, {'lon': 2.0, 'lat': 1.0},
            {'lon': 1.5, 'lat': 2.0}, {'lon': 1.0, 'lat': 1.0}]],
          None, {'name': 'holed', 'k': 'v'})],
        'id long, kind string, '
        'rings array<array<struct<lon:double,lat:double>>>, '
        'poly_sizes array<int>, properties map<string,string>')
    kml = to_kml_df(shapes)
    back = parse_kml_df(kml.select('id', 'kml')).collect()[0]
    assert back.kind == 'polygon'
    assert len(back.rings) == 2          # outline + hole preserved
    assert back.properties['name'] == 'holed'
    assert back.properties['k'] == 'v'
    assert (back.rings[1][0].lon, back.rings[1][0].lat) == (1.0, 1.0)


# --- MGRS / UTM (reference tests/test_coordinates.py:71-77 goldens) ---------

def test_mgrs_reference_goldens():
    from geostructures_spark.kernels.mgrs import mgrs_decode, mgrs_encode
    # Coordinate(0., 0.).to_mgrs() == '31NAA6602100000'
    assert mgrs_encode([0.0], [0.0])[0] == '31NAA6602100000'
    # from_mgrs('31NAA6602100000') rounds to (0, 0) at 5 dp
    lon, lat = mgrs_decode(['31NAA6602100000'])
    assert (round(float(lon[0]), 5), round(float(lat[0]), 5)) == (0.0, 0.0)


def test_utm_mgrs_roundtrip_batch():
    from geostructures_spark.kernels.geodesy import haversine_distance
    from geostructures_spark.kernels.mgrs import (
        mgrs_decode, mgrs_encode, utm_forward, utm_inverse)
    rng = np.random.default_rng(5)
    lons = rng.uniform(-179.0, 179.0, 400)
    lats = rng.uniform(-79.9, 83.9, 400)
    # UTM forward/inverse closes to sub-micron
    z, s, e, n = utm_forward(lons, lats)
    rlon, rlat = utm_inverse(z, s, e, n)
    assert float(haversine_distance(lons, lats, rlon, rlat).max()) < 1e-6
    # MGRS decode lands in the 1 m cell (SW corner, <= sqrt(2) m away)
    dlon, dlat = mgrs_decode(mgrs_encode(lons, lats))
    assert float(haversine_distance(lons, lats, dlon, dlat).max()) < 1.5
    # Norway/Svalbard zone exceptions
    z, *_ = utm_forward([5.0], [60.0]);  assert int(z[0]) == 32
    z, *_ = utm_forward([10.0], [75.0]); assert int(z[0]) == 33
    # published UTM value: (0, 0) -> 31N 166021.44, 0
    z, s, e, n = utm_forward([0.0], [0.0])
    assert int(z[0]) == 31 and abs(float(e[0]) - 166021.443) < 0.01
    assert abs(float(n[0])) < 1e-6


# --- shapefile read/write (public binary spec, no pyshp) -------------------

def test_shapefile_roundtrip_and_spec():
    import io
    import struct
    import zipfile
    from geostructures_spark.operators.shapefile import (
        read_shapefile_zip, write_shapefile_zip)
    shapes = [
        {'kind': 'point', 'rings': [[(1.5, 2.5)]],
         'properties': {'name': 'a', 'n': '1'}},
        {'kind': 'point', 'rings': [[(-3.25, 4.0)]],
         'properties': {'name': 'bb', 'n': '22'}},
    ]
    blob = write_shapefile_zip(shapes)
    back = read_shapefile_zip(blob)
    assert [s['rings'] for s in back] == [s['rings'] for s in shapes]
    assert back[0]['properties'] == {'n': '1', 'name': 'a'}
    # spec-golden header fields (ESRI whitepaper): BE file code 9994,
    # LE version 1000, LE shape type, LE bbox; Point record = 10 words
    with zipfile.ZipFile(io.BytesIO(blob)) as z:
        shp = z.read('shapes.shp')
    assert struct.unpack_from('>i', shp, 0)[0] == 9994
    assert struct.unpack_from('<i', shp, 28)[0] == 1000
    assert struct.unpack_from('<i', shp, 32)[0] == 1
    assert struct.unpack_from('<4d', shp, 36) == (-3.25, 2.5, 1.5, 4.0)
    assert struct.unpack_from('>2i', shp, 100) == (1, 10)
    # polygon with hole keeps [outline, hole] part order; linestring and
    # multipoint kinds roundtrip
    poly = [{'kind': 'polygon', 'properties': {'id': 'p1'}, 'rings':
             [[(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)],
              [(1, 1), (2, 1), (1.5, 2), (1, 1)]]}]
    b2 = read_shapefile_zip(write_shapefile_zip(poly))[0]
    assert b2['kind'] == 'polygon' and len(b2['rings']) == 2
    mp = [{'kind': 'multipoint', 'properties': {},
           'rings': [[(0.0, 1.0)], [(2.0, 3.0)]]}]
    assert read_shapefile_zip(write_shapefile_zip(mp))[0]['kind'] == 'multipoint'


def test_shapefile_df_operators(spark):
    from geostructures_spark.operators.shapefile import (
        parse_shapefile_df, to_shapefile_zip, write_shapefile_zip)
    shapes = spark.createDataFrame(
        [(1, 'polygon',
          [[{'lon': 0.0, 'lat': 0.0}, {'lon': 2.0, 'lat': 0.0},
            {'lon': 1.0, 'lat': 2.0}, {'lon': 0.0, 'lat': 0.0}]],
          {'id': 's1'})],
        'sid long, kind string, '
        'rings array<array<struct<lon:double,lat:double>>>, '
        'properties map<string,string>')
    blob = to_shapefile_zip(shapes)
    df = spark.createDataFrame([(1, bytearray(blob))], 'row_id long, shp_zip binary')
    back = parse_shapefile_df(df).collect()
    assert len(back) == 1
    assert back[0].kind == 'polygon'
    assert back[0].properties['id'] == 's1'
    assert back[0].rings[0][1].lon == 2.0


# --- DMS / QDMS output conversions (tests/test_coordinates.py:85-115) -------

def test_to_dms_and_qdms_goldens(spark):
    from geostructures_spark.functions.geo import to_dms_exprs, to_qdms_udf
    df = spark.createDataFrame([(-0.118092, 51.509865)],
                               'lon double, lat double')
    dlon = to_dms_exprs(F.col('lon'), is_lon=True)
    dlat = to_dms_exprs(F.col('lat'), is_lon=False)
    r = df.select(dlon[0].alias('lod'), dlon[1].alias('lom'),
                  dlon[2].alias('los'), dlon[3].alias('loh'),
                  dlat[0].alias('lad'), dlat[1].alias('lam'),
                  dlat[2].alias('las'), dlat[3].alias('lah'),
                  to_qdms_udf(True)(F.col('lon')).alias('qlon'),
                  to_qdms_udf(False)(F.col('lat')).alias('qlat')).collect()[0]
    # Coordinate(-0.118092, 51.509865).to_dms()
    # == ((0, 7, 5.1312, 'W'), (51, 30, 35.514, 'N'))
    assert (r.lod, r.lom, r.los, r.loh) == (0, 7, 5.1312, 'W')
    assert (r.lad, r.lam, r.las, r.lah) == (51, 30, 35.514, 'N')
    # .to_qdms() == ('W000070513', 'N51303551')
    assert (r.qlon, r.qlat) == ('W000070513', 'N51303551')


# --- bucketed co-located joins (explicit partitioning, north rule) ----------

def test_bucketed_join_is_shuffle_free(spark):
    from geostructures_spark.plans.bucketing import bucketed_join, write_bucketed
    old = spark.conf.get('spark.sql.autoBroadcastJoinThreshold')
    spark.conf.set('spark.sql.autoBroadcastJoinThreshold', '-1')
    try:
        a = spark.range(5000).selectExpr('CAST(id % 97 AS STRING) AS cell',
                                         'id AS v1')
        b = spark.range(2000).selectExpr('CAST(id % 97 AS STRING) AS cell',
                                         'id AS v2')
        write_bucketed(a, 'tbuck_a', 'cell', 8)
        write_bucketed(b, 'tbuck_b', 'cell', 8)
        j = bucketed_join(spark, 'tbuck_a', 'tbuck_b', 'cell')
        je = j._jdf.queryExecution()
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
        plan = je.explainString(mode.fromString('formatted'))
        assert 'Exchange' not in plan     # co-located: no shuffle at all
        # correctness: same result as the plain join
        assert j.count() == a.join(b, 'cell').count()
    finally:
        spark.conf.set('spark.sql.autoBroadcastJoinThreshold', old)
        spark.sql('DROP TABLE IF EXISTS tbuck_a')
        spark.sql('DROP TABLE IF EXISTS tbuck_b')


# --- simhash kernel semantics (portable md5-based definition)

def test_simhash_matches_pure_python(spark):
    import hashlib
    from geostructures_spark.operators.dedup import simhash_buckets

    def py_simhash(text, bits=32):
        import re
        toks = re.split(' +', text.strip(' '))
        n = len(toks)
        counts = [0] * bits
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
            for i in range(bits):
                counts[i] += (h >> i) & 1
        return sum((1 << i) for i in range(bits) if counts[i] * 2 >= n)

    texts = ['the quick brown fox', 'the quick brown fox', 'a  b   c',
             'jumps over the lazy dog', 'single']
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               'doc_id long, text string')
    rows = {r.doc_id: (r.simhash, r.bucket)
            for r in simhash_buckets(df).collect()}
    for i, t in enumerate(texts):
        exp = py_simhash(t)
        assert rows[i][0] == exp
        assert rows[i][1] == exp >> 16
    assert rows[0] == rows[1]  # identical docs collide exactly


# --- BPE-ish token counting (training-data budgeting operator)

def test_token_counts_hand_values(spark):
    from geostructures_spark.operators.textstats import with_token_counts

    df = spark.createDataFrame(
        [(0, 'hello world 42 foo-bar!  end'),
         (1, 'a'),
         (2, "it's 2024, really?")],
        'doc_id long, text string')
    rows = {r.doc_id: r for r in with_token_counts(df).collect()}
    # doc 0 pieces: hello | world | 42 | foo | - | bar | ! | end  (ws runs dropped)
    assert rows[0].n_bpe_tokens == 8
    assert rows[0].n_ws_tokens == 5
    assert rows[1].n_bpe_tokens == 1 and rows[1].n_ws_tokens == 1
    # doc 2 pieces: it | ' | s | 2024 | , | really | ?
    assert rows[2].n_bpe_tokens == 7
    assert rows[2].chars_per_token == pytest.approx(len("it's 2024, really?") / 7)


# --- geopandas bridge (reference collections.py:236-311, 481-513) ---------

def test_pandas_features_roundtrip(spark):
    import pandas as pd
    from geostructures_spark.operators.geopandas_io import (
        from_pandas_features, to_pandas_features)

    pdf = pd.DataFrame({
        'geometry': ['POINT (1.5 2.5)',
                     'POLYGON ((0 0, 1 0, 1 1, 0 0))'],
        'name': ['a', None],
        'score': [1.25, float('nan')],
    })
    shapes = from_pandas_features(spark, pdf)
    rows = shapes.orderBy('kind').collect()
    assert [r.kind for r in rows] == ['point', 'polygon']
    # NaN/None properties dropped per row (reference NaN stripping)
    pt = next(r for r in rows if r.kind == 'point')
    poly = next(r for r in rows if r.kind == 'polygon')
    assert pt.properties == {'name': 'a', 'score': '1.25'}
    assert poly.properties == {}

    back = to_pandas_features(shapes)
    # reference to_wkt byte format: bare commas in rings, trimmed floats
    assert sorted(back['geometry']) == [
        'POINT(1.5 2.5)',
        'POLYGON((0 0,1 0,1 1,0 0))']
    assert 'name' in back.columns and 'score' in back.columns


def test_geopandas_gated_import_raises(spark):
    import pytest as _pytest
    from geostructures_spark.operators.geopandas_io import to_geopandas
    from geostructures_spark.operators.interchange import parse_wkt_df

    df = spark.createDataFrame([('POINT (0 0)',)], 'wkt string')
    shapes = parse_wkt_df(df)
    try:
        import geopandas  # noqa: F401
        _pytest.skip('geopandas installed; gate not exercisable')
    except ImportError:
        pass
    with _pytest.raises(ImportError, match='geopandas'):
        to_geopandas(shapes)


def test_scrubbed_text_hand_values(spark):
    from geostructures_spark.operators.textstats import with_scrubbed_text

    df = spark.createDataFrame(
        [(0, 'mail a@b.io or visit https://x.io/a?b=1 from 192.168.0.1 id 1234567'),
         (1, 'clean words only'),
         (2, 'http://a.io/u@v.com trailing')],  # email inside URL not double-counted
        'doc_id long, text string')
    rows = {r.doc_id: r for r in with_scrubbed_text(df).collect()}
    r0 = rows[0]
    assert (r0.n_url, r0.n_email, r0.n_ip, r0.n_longnum) == (1, 1, 1, 1)
    assert r0.scrubbed == 'mail <EMAIL> or visit <URL> from <IP> id <NUM>'
    r1 = rows[1]
    assert (r1.n_url, r1.n_email, r1.n_ip, r1.n_longnum) == (0, 0, 0, 0)
    assert r1.scrubbed == 'clean words only'
    r2 = rows[2]
    assert (r2.n_url, r2.n_email) == (1, 0)
    assert r2.scrubbed == '<URL> trailing'


# --- WKT byte parity with the reference emitters (Z/M preserved) ----------

REF_WKT_GOLDENS = [
    # harvested from the reference library's to_wkt (verified byte-identical
    # over 300 randomized shapes incl. Z/M in-session)
    'POLYGON((0 0,1 0,1 1,0 0))',
    'POINT(1.5 2.5)',
    'POINT Z(1.5 2.5 3)',
    'POINT M(1.5 2.5 9)',
    'LINESTRING ZM(0 0 1 2,1 1 3 4)',
    'MULTIPOLYGON(((0 0,1 0,1 1,0 0)), ((5 5,6 5,6 6,5 5)))',
    'MULTIPOINT((1 2), (3 4))',
    'MULTILINESTRING((0 0,1 1), (2 2,3 3))',
    'POLYGON((0 0,4 0,4 4,0 0), (1 1,2 1,1.5 2,1 1))',
    'POINT(-179.999877 0.000321)',
]


def test_wkt_byte_parity_goldens():
    from geostructures_spark.operators.interchange import (
        shape_row_to_wkt, wkt_to_shape_row)
    for w in REF_WKT_GOLDENS:
        row = wkt_to_shape_row(w)
        assert row is not None, w
        out = shape_row_to_wkt(row['kind'], row['rings'],
                               row.get('poly_sizes'), zm=row.get('zm'))
        assert out == w


def test_wkt_zm_spark_roundtrip(spark):
    """Z/M values survive parse_wkt_df -> to_wkt_df byte-identically
    (reference preserves Z/M through WKT, _base.py:169-183)."""
    from geostructures_spark.operators.interchange import (
        parse_wkt_df, to_wkt_df)
    rows = [(i, w) for i, w in enumerate(REF_WKT_GOLDENS)]
    df = spark.createDataFrame(rows, 'id long, wkt string')
    parsed = parse_wkt_df(df)
    out = to_wkt_df(parsed.select('id', 'kind', 'rings', 'poly_sizes', 'zm'),
                    out_col='wkt2')
    got = {r.id: r.wkt2 for r in out.collect()}
    for i, w in rows:
        assert got[i] == w, (w, got[i])


# --- shapefile Z/M variants (ESRI spec types 11/13/15/18/21/23/25/28) -----

def test_shapefile_zm_roundtrip():
    from geostructures_spark.operators.shapefile import (
        read_shapefile_zip, write_shapefile_zip)
    cases = [
        [{'kind': 'point', 'rings': [[(1.5, 2.5)]],
          'zm': [[[3.25, 9.5]]], 'properties': {}}],
        [{'kind': 'point', 'rings': [[(1.5, 2.5)]],
          'zm': [[[None, 7.5]]], 'properties': {}}],          # PointM
        [{'kind': 'polygon', 'rings': [[(0., 0.), (4., 0.), (4., 4.), (0., 0.)]],
          'zm': [[[1.0, 10.0], [2.0, None], [3.0, 30.0], [1.0, 10.0]]],
          'properties': {}}],                                  # PolygonZ + partial M
        [{'kind': 'multipoint', 'rings': [[(1., 2.)], [(3., 4.)]],
          'zm': [[[5.0, None]], [[6.0, None]]], 'properties': {}}],
        [{'kind': 'linestring', 'rings': [[(0., 0.), (1., 1.), (2., 0.)]],
          'zm': [[[None, 1.5], [None, 2.5], [None, 3.5]]],
          'properties': {}}],                                  # PolyLineM
    ]
    for shapes in cases:
        got = read_shapefile_zip(write_shapefile_zip(shapes))[0]
        exp = shapes[0]
        assert got['kind'] == exp['kind']
        assert got['rings'] == [[tuple(p) for p in r] for r in exp['rings']]
        assert got.get('zm') == exp.get('zm'), exp['kind']


def test_shapefile_zm_spark_df(spark):
    """parse_shapefile_df surfaces the zm column; to_shapefile_zip
    round-trips it."""
    from geostructures_spark.operators.shapefile import (
        parse_shapefile_df, to_shapefile_zip, write_shapefile_zip)
    blob = write_shapefile_zip(
        [{'kind': 'point', 'rings': [[(10.0, 20.0)]],
          'zm': [[[7.5, None]]], 'properties': {'n': '1'}}])
    df = spark.createDataFrame([(1, bytearray(blob))], 'id long, shp_zip binary')
    rows = parse_shapefile_df(df).collect()
    assert len(rows) == 1
    assert rows[0].zm == [[[7.5, None]]]
    # DF -> zip keeps the z value
    parsed = parse_shapefile_df(df)
    blob2 = to_shapefile_zip(parsed.select('kind', 'rings', 'properties', 'zm'))
    from geostructures_spark.operators.shapefile import read_shapefile_zip
    assert read_shapefile_zip(blob2)[0]['zm'] == [[[7.5, None]]]


def test_geojson_z_roundtrip(spark):
    """GeoJSON positions carry Z only, never M (coordinates.py:278-292):
    parse_geojson_df captures third elements into zm; to_geojson_df
    re-emits them (and drops M values from WKT-sourced shapes)."""
    import json
    from geostructures_spark.operators.interchange import (
        parse_geojson_df, to_geojson_df)
    docs = [
        (1, '{"type":"Point","coordinates":[1.5,2.5,30.0]}'),
        (2, '{"type":"LineString","coordinates":[[0,0,5],[1,1],[2,0,7]]}'),
        (3, '{"type":"Polygon","coordinates":[[[0,0],[1,0],[1,1],[0,0]]]}'),
    ]
    df = spark.createDataFrame(docs, 'id long, geojson string')
    parsed = parse_geojson_df(df)
    rows = {r.id: r for r in parsed.collect()}
    assert rows[1].zm == [[[30.0, None]]]
    assert rows[2].zm == [[[5.0, None], [None, None], [7.0, None]]]
    assert rows[3].zm is None
    out = to_geojson_df(parsed.select('id', 'kind', 'rings', 'poly_sizes', 'zm'))
    got = {r.id: json.loads(r.geojson) for r in out.collect()}
    assert got[1]['coordinates'] == [1.5, 2.5, 30.0]
    assert got[2]['coordinates'] == [[0.0, 0.0, 5.0], [1.0, 1.0], [2.0, 0.0, 7.0]]
    assert got[3]['coordinates'] == [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]]


def test_kml_altitude_roundtrip(spark):
    """KML lon,lat,alt tuples preserve altitude through
    parse_kml_df -> to_kml_df (zm side channel, z-only like GeoJSON)."""
    from geostructures_spark.operators.kml import parse_kml_df, to_kml_df
    kml = ('<kml xmlns="http://www.opengis.net/kml/2.2"><Document>'
           '<Placemark><name>p</name><Point>'
           '<coordinates>1.5,2.5,30.0</coordinates></Point></Placemark>'
           '<Placemark><name>l</name><LineString>'
           '<coordinates>0.0,0.0,5.0 1.0,1.0 2.0,0.0,7.0</coordinates>'
           '</LineString></Placemark>'
           '<Placemark><name>q</name><Point>'
           '<coordinates>3.0,4.0</coordinates></Point></Placemark>'
           '</Document></kml>')
    df = spark.createDataFrame([(1, kml)], 'id long, kml string')
    parsed = parse_kml_df(df)
    rows = sorted(parsed.collect(), key=lambda r: r.placemark_idx)
    assert rows[0].zm == [[[30.0, None]]]
    assert rows[1].zm == [[[5.0, None], [None, None], [7.0, None]]]
    assert rows[2].zm is None
    out = to_kml_df(parsed.select('kind', 'rings', 'poly_sizes',
                                  'properties', 'placemark_idx', 'zm'))
    frags = {r.placemark_idx: r.kml for r in out.collect()}
    assert '<coordinates>1.5,2.5,30.0</coordinates>' in frags[0]
    assert '<coordinates>0.0,0.0,5.0 1.0,1.0 2.0,0.0,7.0</coordinates>' in frags[1]
    assert '<coordinates>3.0,4.0</coordinates>' in frags[2]


def test_wkb_zm_roundtrip():
    """ISO WKB Z/M dims (+1000/+2000 codes) round-trip through the zm
    side channel; the 2D golden header stays byte-exact."""
    from geostructures_spark.operators.wkb import (
        shape_row_to_wkb, wkb_to_shape_row)
    cases = [
        ('point', [[{'lon': 2.0, 'lat': 4.0}]], None, [[[5.0, None]]]),
        ('point', [[{'lon': 2.0, 'lat': 4.0}]], None, [[[None, 6.0]]]),
        ('point', [[{'lon': 2.0, 'lat': 4.0}]], None, [[[5.0, 6.0]]]),
        ('polygon', [[{'lon': 0.0, 'lat': 0.0}, {'lon': 1.0, 'lat': 0.0},
                      {'lon': 1.0, 'lat': 1.0}, {'lon': 0.0, 'lat': 0.0}]],
         None, [[[1.0, 2.0], [3.0, 4.0], [5.0, 6.0], [1.0, 2.0]]]),
    ]
    for kind, rings, sizes, zm in cases:
        row = wkb_to_shape_row(shape_row_to_wkb(kind, rings, sizes, zm=zm))
        assert row['kind'] == kind and row['rings'] == rings
        assert row.get('zm') == zm
    assert shape_row_to_wkb(
        'point', [[{'lon': 2.0, 'lat': 4.0}]]).hex().startswith('0101000000')
