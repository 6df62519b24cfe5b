"""The spatial join's JVM window cover: exact results against brute force on
mixed catalogs (mixed-level ones too, within and over the broadcast
budget), the window as a superset of the Python ``hash_shape`` cover for
every shape kind, the coarser cover level of shapes whose window is over
the budget at the points' cell length, and a circle's verdict that does
not depend on the rest of its catalog.
"""

from collections import Counter

import numpy as np
import pytest

from geostructures_spark.plans.session import get_session


@pytest.fixture(scope='module')
def spark():
    s = get_session(app='tests_window', cores=4, shuffle_partitions=8)
    yield s


def _gate(start, end, t) -> bool:
    """Right-open instant-in-interval; untimed shapes match all times."""
    if start is None or end is None:
        return True
    return start == t if start == end else start <= t < end


def _brute_force(points, shapes, time_gated):
    """(shape_id, url, point_idx) of every point x shape pair the exact
    kernel accepts."""
    from geostructures_spark.kernels.shapes import shape_contains_points
    from geostructures_spark.operators.tiling import shape_row_to_kernel
    pts = points.select('url', 'point_idx', 'lon', 'lat',
                        *(['warc_ts'] if time_gated else [])).collect()
    lons = np.array([p.lon for p in pts], dtype=np.float64)
    lats = np.array([p.lat for p in pts], dtype=np.float64)
    out = Counter()
    for row in shapes.collect():
        d = row.asDict(recursive=True)
        hit = shape_contains_points(shape_row_to_kernel(d), lons, lats)
        for k in np.flatnonzero(hit):
            p = pts[k]
            if not time_gated or _gate(d['dt_start'], d['dt_end'], p.warc_ts):
                out[(d['shape_id'], p.url, p.point_idx)] += 1
    return out


@pytest.mark.parametrize('seed', [10001, 10002, 10003, 10013])
def test_mixed_catalog_join_matches_brute_force(spark, seed):
    """Seed 10002 has a box whose top edge the Python hash_shape cover
    misses (shape 0, two matches near lat 40.524); the window cover keeps
    them. Seed 10013 has an antimeridian circle whose full-longitude window
    is over the budget at length 6: it covers one level coarser."""
    from geostructures_spark.operators.miner import mine_points
    from geostructures_spark.operators.spatial_join import spatial_join_points
    from geostructures_spark.sources.pages import pages_df
    from geostructures_spark.sources.shapes import shapes_df
    points = mine_points(pages_df(spark, 20_000, seed=seed)).cache()
    shapes = shapes_df(spark, 120, seed=seed).cache()
    joined = spatial_join_points(points, shapes, length=6, time_gated=True)
    got = Counter((r.shape_id, r.url, r.point_idx) for r in
                  joined.select('shape_id', 'url', 'point_idx').collect())
    want = _brute_force(points, shapes, time_gated=True)
    points.unpersist()
    shapes.unpersist()
    assert len(want) > 1000
    assert got == want


PARAMS = ('center_lon', 'center_lat', 'radius', 'semi_major', 'semi_minor',
          'rotation', 'inner_radius', 'outer_radius', 'angle_min', 'angle_max',
          'min_lon', 'min_lat', 'max_lon', 'max_lat')


def _shape(sid, kind, rings=None, poly_sizes=None, **params):
    return (sid, kind, tuple(params.get(f) for f in PARAMS), rings,
            None, None, {}, poly_sizes)


def _ring(*pts):
    return [(float(x), float(y)) for x, y in pts]


# every kind, plus shapes touching a pole and next to the antimeridian
SHAPES = [
    _shape(1, 'circle', center_lon=10.0, center_lat=45.0, radius=300_000.0),
    _shape(2, 'ellipse', center_lon=-60.0, center_lat=-20.0, semi_major=400_000.0,
           semi_minor=150_000.0, rotation=30.0),
    _shape(3, 'ring', center_lon=100.0, center_lat=30.0, inner_radius=100_000.0,
           outer_radius=300_000.0, angle_min=0.0, angle_max=360.0),
    _shape(4, 'ring', center_lon=-120.0, center_lat=50.0, inner_radius=50_000.0,
           outer_radius=250_000.0, angle_min=30.0, angle_max=120.0),
    _shape(5, 'box', min_lon=20.0, min_lat=-10.0, max_lon=24.5, max_lat=-6.25),
    _shape(6, 'polygon', rings=[
        _ring((0, 0), (4, 0), (4, 3), (0, 3), (0, 0)),
        _ring((1, 1), (1, 2), (2, 2), (2, 1), (1, 1))]),
    _shape(7, 'multipolygon', poly_sizes=[2, 1], rings=[
        _ring((30, 30), (33, 30), (33, 33), (30, 33), (30, 30)),
        _ring((31, 31), (31, 32), (32, 32), (32, 31), (31, 31)),
        _ring((40, 35), (42, 35), (41, 37), (40, 35))]),
    _shape(8, 'linestring', rings=[_ring((-5, 50), (-3, 51.5), (-1, 50.2), (2, 52))]),
    _shape(9, 'point', center_lon=139.7, center_lat=35.7),
    _shape(10, 'multilinestring', rings=[_ring((60, 10), (62, 11)),
                                         _ring((63, 12), (64, 10.5))]),
    _shape(11, 'multipoint', rings=[_ring((-70, -33)), _ring((-71.5, -34.2))]),
    _shape(12, 'circle', center_lon=45.0, center_lat=88.5, radius=300_000.0),
    _shape(13, 'box', min_lon=-20.0, min_lat=86.0, max_lon=20.0, max_lat=90.0),
    _shape(14, 'polygon', rings=[_ring((-10, -85), (10, -85), (0, -90), (-10, -85))]),
    _shape(15, 'circle', center_lon=179.5, center_lat=-15.0, radius=200_000.0),
    _shape(16, 'polygon', rings=[_ring((178, 60), (180, 60), (180, 62), (178, 60))]),
    _shape(17, 'ellipse', center_lon=-179.8, center_lat=10.0, semi_major=150_000.0,
           semi_minor=300_000.0, rotation=80.0),
]


def _shapes_df(spark, rows):
    from geostructures_spark.operators.tiling import SHAPES_SCHEMA_DDL
    return spark.createDataFrame(rows, SHAPES_SCHEMA_DDL + ', poly_sizes array<int>')


def _cell_key(cell: str, level: int) -> int:
    """The join key (spatial_join._key_sql) of a base-16 Niemeyer cell's
    parent ``level`` chars up: de-interleave the MSB-first lon/lat bits,
    shift both indexes right by 2 bits per level, tag the level."""
    length, v = len(cell), int(cell, 16)
    i = j = 0
    for b in range(2 * length):
        i = (i << 1) | (v >> (4 * length - 1 - 2 * b)) & 1
        j = (j << 1) | (v >> (4 * length - 2 - 2 * b)) & 1
    s = 2 * level
    return ((i >> s) << 32) | (1 << 2 * (length - level)) | (j >> s)


@pytest.mark.parametrize('length', [3, 4, 6])
def test_window_cover_superset_of_python_cover(spark, length):
    """Every cell of the Python cover has its parent at the shape's cover
    level in the window cover, over-budget shapes included."""
    from geostructures_spark.kernels.tiling_niemeyer import cover_shape
    from geostructures_spark.operators.spatial_join import (
        _sql_cover_ok_expr, _window_cover, _with_window)
    from geostructures_spark.operators.tiling import shape_row_to_kernel
    shapes = _shapes_df(spark, SHAPES)
    windowed = _with_window(shapes, length).cache()
    ok = {r.shape_id: r._ok for r in windowed.select('shape_id', '_ok').collect()}
    # the standalone predicate agrees with the operator's level-0 window
    assert ({r.shape_id for r in shapes.filter(_sql_cover_ok_expr(length)).collect()}
            == {sid for sid, good in ok.items() if good})
    window = {}
    for r in _window_cover(windowed, length).collect():
        window.setdefault(r.shape_id, set()).add(r.cell)
    rows = {r.shape_id: r.asDict(recursive=True) for r in windowed.collect()}
    windowed.unpersist()
    # only the full-longitude caps (a pole or the antimeridian inside) at
    # the finest length exceed the window budget; they cover one level up
    over_cap = {sid for sid, good in ok.items() if not good}
    assert over_cap == ({12, 15, 17} if length == 6 else set())
    assert {sid for sid, row in rows.items() if row['_lvl']} == over_cap
    for sid, row in rows.items():
        python = cover_shape(shape_row_to_kernel(row), length, 16)
        assert python, sid
        parents = {_cell_key(c, row['_lvl']) for c in python}
        assert parents <= window[sid], (sid, len(parents - window[sid]))


def _uniform_points(spark, n, lon, lat, seed=7):
    rng = np.random.default_rng(seed)
    return spark.createDataFrame(
        [(f'u{i}', i, float(x), float(y)) for i, (x, y) in
         enumerate(zip(rng.uniform(*lon, n), rng.uniform(*lat, n)))],
        'url string, point_idx int, lon double, lat double')


def test_over_budget_window_covers_at_a_coarser_level(spark):
    """A 20 x 20 degree polygon at length 6 spans ~104k cells, above the
    window budget: it covers one level up, next to a box at level 0, with
    no Python cover stage, and the join stays exact."""
    from geostructures_spark.operators.spatial_join import (
        _catalog_size, _with_window, spatial_join_points)
    shapes = _shapes_df(spark, [
        _shape(1, 'polygon', rings=[_ring((0, 10), (20, 10), (20, 30), (0, 30), (0, 10))]),
        _shape(2, 'box', min_lon=5.0, min_lat=15.0, max_lon=9.0, max_lat=18.0)])
    assert _catalog_size(_with_window(shapes, 6))[2] == [0, 1]
    points = _uniform_points(spark, 3000, (-2, 22), (8, 32))
    joined = spatial_join_points(points, shapes, length=6, time_gated=False)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert 'MapInPandas' not in plan
    got = Counter((r.shape_id, r.url, r.point_idx) for r in
                  joined.select('shape_id', 'url', 'point_idx').collect())
    want = _brute_force(points, shapes, time_gated=False)
    assert {sid for sid, _, _ in want} == {1, 2}
    assert got == want


def test_level_tag_keeps_coinciding_indexes_apart(spark):
    """A south-polar circle covers at level 1 (parent indexes i 0..1023,
    j 0..21 at length 6) next to a box at level 0. Near (-180, -90) a
    point's fine indexes fall in that same range: untagged, its level-0 key
    would equal one of the circle's parent keys and the pair would join
    twice. The level tag keeps each pair to one row."""
    from geostructures_spark.operators.spatial_join import (
        _catalog_size, _with_window, spatial_join_points)
    shapes = _shapes_df(spark, [
        _shape(1, 'circle', center_lon=0.0, center_lat=-89.0, radius=300_000.0),
        _shape(2, 'box', min_lon=-170.0, min_lat=-89.5, max_lon=-160.0, max_lat=-89.0)])
    assert _catalog_size(_with_window(shapes, 6))[2] == [0, 1]
    points = _uniform_points(spark, 3000, (-180, -90), (-90, -88.5))
    joined = spatial_join_points(points, shapes, length=6, time_gated=False)
    got = Counter((r.shape_id, r.url, r.point_idx) for r in
                  joined.select('shape_id', 'url', 'point_idx').collect())
    want = _brute_force(points, shapes, time_gated=False)
    assert {sid for sid, _, _ in want} == {1, 2}
    assert got == want


@pytest.mark.parametrize('kwargs, match', [({'length': 6, 'base': 32}, 'base 16'),
                                           ({'length': 16}, 'length 1..15')])
def test_unsupported_cell_grid_raises(spark, kwargs, match):
    """Only base-16 cells join, and only up to length 15: the level tag
    needs a free bit above the top bit of the packed key's low word."""
    from geostructures_spark.operators.spatial_join import spatial_join_points
    shapes = _shapes_df(spark, SHAPES[:1])
    points = _uniform_points(spark, 10, (0, 1), (0, 1))
    with pytest.raises(ValueError, match=match):
        spatial_join_points(points, shapes, **kwargs)


def test_trim_keeps_cell_nearer_than_its_clamped_corner(spark):
    """At high latitude the point of a cell nearest the circle's center in
    lon/lat (the clamped center) is not the nearest on the sphere: this
    cell's west edge passes 283 m closer to the center than the clamped
    point, which lies outside the circle. The trim's pad keeps the cell."""
    from geostructures_spark.operators.spatial_join import spatial_join_points
    shapes = _shapes_df(spark, [
        _shape(1, 'circle', center_lon=0.0, center_lat=60.0, radius=312_500.0),
        _shape(2, 'box', min_lon=-50.0, min_lat=-10.0, max_lon=-49.0, max_lat=-9.0)])
    points = spark.createDataFrame([('u0', 0, 5.625 + 1e-9, 60.1196)],
                                   'url string, point_idx int, lon double, lat double')
    joined = spatial_join_points(points, shapes, length=3, time_gated=False)
    got = Counter((r.shape_id, r.url, r.point_idx) for r in
                  joined.select('shape_id', 'url', 'point_idx').collect())
    assert _brute_force(points, shapes, time_gated=False) == Counter({(1, 'u0', 0): 1})
    assert got == Counter({(1, 'u0', 0): 1})


def test_shape_join_keys_each_cover_at_its_own_level(spark):
    """A 120 x 90 degree polygon covers two levels up at length 6. Keyed at
    one common level, its cover coarsened every cover of the join (the 750
    candidate pairs of the other shapes became 1,130); keyed at its own
    level, with the finer side reaching it through ancestor keys, the other
    shapes keep their pairs. Both predicates match brute force, and the
    cover runs without a shuffle."""
    from geostructures_spark.kernels import shapes as shp
    from geostructures_spark.operators.shape_join import _cover_pairs, shape_join
    from geostructures_spark.operators.spatial_join import (
        _catalog_size, _window_cover, _with_window)
    from geostructures_spark.operators.tiling import shape_row_to_kernel
    from geostructures_spark.sources.shapes import shapes_df
    a = shapes_df(spark, 60, seed=42)
    ring = [{'lon': float(x), 'lat': float(y)}
            for x, y in ((-60, -45), (60, -45), (60, 45), (-60, 45), (-60, -45))]
    big = a.unionByName(spark.createDataFrame(
        [(1000, 'polygon', None, [ring], None, None, None)], a.schema)).cache()
    b = shapes_df(spark, 200, seed=9).cache()

    def pairs(shapes):
        win, win_b = _with_window(shapes, 6), _with_window(b, 6)
        levels = _catalog_size(win, win_b)[2]
        return levels, {tuple(r) for r in _cover_pairs(win, win_b, levels, 6).collect()}

    levels, before = pairs(a)
    levels_big, after = pairs(big)
    assert levels == [0] and levels_big == [0, 2]
    assert len(before) == 750
    assert {p for p in after if p[0] != 1000} == before

    ka = {r.shape_id: shape_row_to_kernel(r.asDict(recursive=True)) for r in big.collect()}
    kb = {r.shape_id: shape_row_to_kernel(r.asDict(recursive=True)) for r in b.collect()}
    for predicate, kernel in (('intersects', shp.shapes_intersect),
                              ('contains', shp.shape_contains_shape)):
        got = {(r.a_id, r.b_id) for r in
               shape_join(big, b, predicate=predicate, time_gated=False).collect()}
        brute = {(x, y) for x in ka for y in kb if kernel(ka[x], kb[y])}
        assert got == brute, predicate
        assert {y for x, y in brute if x == 1000}, predicate

    cover = _window_cover(_with_window(big, 6), 6)
    assert 'Exchange' not in cover._jdf.queryExecution().executedPlan().toString()
    big.unpersist()
    b.unpersist()


def test_circle_verdict_does_not_depend_on_its_catalog(spark):
    """The NumPy kernel's distance_meters and the JVM haversine_sql can
    differ in the last bit. A circle whose radius lies between the two
    values of a point must give that point one verdict whether its catalog
    holds only circles or also a box: a plain circle refines in the JVM in
    every catalog."""
    from geostructures_spark.functions.geo import haversine_sql
    from geostructures_spark.kernels.geodesy import distance_meters
    from geostructures_spark.operators.spatial_join import spatial_join_points
    clon, clat = 10.0, 45.0
    rng = np.random.default_rng(3)
    lons, lats = rng.uniform(7.0, 13.0, 2000), rng.uniform(43.0, 47.0, 2000)
    jvm = np.array([r.d for r in spark.createDataFrame(
        [(float(x), float(y), clon, clat) for x, y in zip(lons, lats)],
        'lon double, lat double, clon double, clat double').selectExpr(
        f"{haversine_sql('lon', 'lat', 'clon', 'clat')} AS d").collect()])
    numpy = distance_meters(lons, lats, clon, clat)
    k = int(np.flatnonzero(jvm != numpy)[0])
    radius = float(min(jvm[k], numpy[k]))
    points = spark.createDataFrame([('u0', 0, float(lons[k]), float(lats[k]))],
                                   'url string, point_idx int, lon double, lat double')
    circle = _shape(1, 'circle', center_lon=clon, center_lat=clat, radius=radius)
    box = _shape(2, 'box', min_lon=-50.0, min_lat=-10.0, max_lon=-49.0, max_lat=-9.0)
    verdicts = [{r.shape_id for r in spatial_join_points(
                    points, _shapes_df(spark, catalog), length=6, time_gated=False).collect()}
                for catalog in ([circle], [circle, box])]
    assert verdicts[0] == verdicts[1]


def test_mixed_level_catalog_matches_brute_force(spark):
    """Level-0 shapes next to a 120 x 90 degree polygon (covered two or more
    levels up) and four antimeridian and polar circles, time-gated, within
    the broadcast budget and over it; over it, with Spark's own broadcast
    off, no cover side broadcasts."""
    from pyspark.sql import functions as F

    from geostructures_spark.operators.miner import mine_points
    from geostructures_spark.operators.spatial_join import _with_window, spatial_join_points
    from geostructures_spark.sources.pages import pages_df
    from geostructures_spark.sources.shapes import shapes_df
    edge = _shapes_df(spark, [
        _shape(1000, 'polygon', rings=[_ring((-60, -45), (60, -45), (60, 45), (-60, 45),
                                             (-60, -45))])] + [
        _shape(1001 + i, 'circle', center_lon=lon, center_lat=lat, radius=r)
        for i, (lon, lat, r) in enumerate([(179.5, 10.0, 300_000.0), (-179.8, 10.5, 200_000.0),
                                           (30.0, 86.0, 500_000.0), (0.0, -88.0, 400_000.0)])])
    shapes = shapes_df(spark, 120, seed=10001).unionByName(
        edge, allowMissingColumns=True).cache()
    lvl = {r.shape_id: r._lvl for r in _with_window(shapes, 6).select('shape_id', '_lvl')
           .collect()}
    assert lvl[1000] >= 2 and sorted(lvl.values()).count(0) > 100

    mined = mine_points(pages_df(spark, 5000, seed=10001)).select(
        'url', 'point_idx', 'lon', 'lat', 'warc_ts')
    rng = np.random.default_rng(11)
    extra = [(-180.0, 180.0, 80.0, 90.0), (-180.0, 180.0, -90.0, -80.0),
             (175.0, 180.0, 5.0, 15.0), (-180.0, -175.0, 5.0, 15.0),
             (-65.0, 65.0, -50.0, 50.0)]
    rows = [(f'x{b}', i, float(x), float(y))
            for b, (x0, x1, y0, y1) in enumerate(extra)
            for i, (x, y) in enumerate(zip(rng.uniform(x0, x1, 400), rng.uniform(y0, y1, 400)))]
    points = mined.unionByName(
        spark.createDataFrame(rows, 'url string, point_idx int, lon double, lat double')
        .withColumn('warc_ts', F.lit('2020-01-05 12:00:00').cast('timestamp'))).cache()
    want = _brute_force(points, shapes, time_gated=True)
    assert {sid for sid, _, _ in want} >= {1000, 1001, 1002, 1003, 1004}

    spark.conf.set('spark.sql.autoBroadcastJoinThreshold', '-1')
    try:
        for budget in (None, 1):
            kwargs = {} if budget is None else {'max_broadcast_shapes': budget}
            joined = spatial_join_points(points, shapes, length=6, time_gated=True, **kwargs)
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert ('BroadcastExchange' in plan) == (budget is None)
            got = Counter((r.shape_id, r.url, r.point_idx) for r in
                          joined.select('shape_id', 'url', 'point_idx').collect())
            assert got == want, budget
    finally:
        spark.conf.unset('spark.sql.autoBroadcastJoinThreshold')
        points.unpersist()
        shapes.unpersist()
