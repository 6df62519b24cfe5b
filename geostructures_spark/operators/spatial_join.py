"""The spatial join: points x shapes via cell candidates + exact kernels.

Architecture (SURVEY.md §3.2):

  points --packed (i, j) cell key (JVM quantize)--> keyed by cell
  shapes --JVM window cover (SQL text)--> (shape_id, cell), broadcast
  candidates = points ⋈ broadcast(covers) ON cell        (equi-join)
  time gate  = right-open interval Column predicate      (JVM, pre-UDF)
  exact      = JVM haversine for all-circle catalogs, else an
               Arrow-batched kernel predicate per shape  (pandas UDF)

The cover is one closed-form window per shape (_window_cols): the
spherical-cap box of a circle, ellipse or ring, trimmed by distance, and
the min/max box of every other kind, enumerated as cell-index ranges in
the JVM. Only a shape whose window exceeds _SQL_COVER_MAX_BOXES cells falls
back to the per-shape Python cover (``tiling.cover_shapes``), unioned in.

The cell equi-join replaces the reference's per-pair sweep-line pruning
(_geometry.py:223-316) as the candidate structure; the exact predicate
replays contains_coordinate/intersects semantics (structures.py:440-458 etc.)
bit-for-bit via kernels.shapes.

Scale notes:
- the shapes side is broadcast (shape catalogs are ~10^4-10^6 rows; the
  pages/points side is the 10^12-row one);
- shape *geometries* travel to executors once as a Spark broadcast variable,
  not per-row through the join;
- hot cells (cities) can be salted: ``salt_shards > 0`` replicates cover
  rows per shard and salts the points side, splitting a hot cell across
  ``shards`` tasks; AQE skew-join is the backstop.
"""

from __future__ import annotations

from typing import List, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geostructures_spark.functions.geo import interval_contains_instant_expr
from geostructures_spark.operators.tiling import (
    cover_shapes, shape_row_to_kernel, with_cell,
)

__all__ = ['spatial_join_points', 'filter_points_by_shape']


_BROADCAST_MAX_SHAPES = 200_000
_BROADCAST_MAX_RING_VERTS = 20_000_000   # ~640 MB of packed ring floats


def _params_sql(shapes: DataFrame):
    """``params.<field>`` as SQL text, or a typed NULL for a field the
    catalog's ``params`` struct does not carry (callers pass narrow structs,
    e.g. circles with only center and radius)."""
    fields = set(shapes.schema['params'].dataType.fieldNames())
    return lambda f: f'params.{f}' if f in fields else 'CAST(NULL AS DOUBLE)'


def _plain_circle_sql(p) -> str:
    """Plain circle = no holes, radius set."""
    return (f"(kind = 'circle' AND {p('radius')} IS NOT NULL AND "
            f'coalesce(size(rings), 0) <= 0)')


def _catalog_size(shapes: DataFrame, length: int = None, base: int = 16):
    """(n_shapes, total ring vertices, n_plain_circles, n_sql_cover) — ONE
    cheap agg over the catalog side deciding broadcast vs shipped-spec
    execution, the all-circle JVM exact predicate (plain circle = no holes,
    radius set), and how many shapes the JVM window cover can serve (when
    ``length`` is given and base is 16; ``shapes`` may already carry its
    window columns, see _with_window)."""
    p = _params_sql(shapes)
    windowed = length is not None and base == 16
    if windowed and '_ok' not in shapes.columns:
        shapes = _with_window(shapes, length)
    row = shapes.selectExpr(
        'count(*) AS n',
        'coalesce(sum(aggregate(rings, 0, (acc, ring) -> acc + size(ring))), 0) AS verts',
        f'coalesce(sum(CAST({_plain_circle_sql(p)} AS INT)), 0) AS plain',
        f"coalesce(sum(CAST({'_ok' if windowed else 'false'} AS INT)), 0) AS sql_cover",
    ).collect()[0]
    return (int(row['n']), int(row['verts']), int(row['plain']),
            int(row['sql_cover']))


def _shape_broadcast(spark: SparkSession, shapes: DataFrame):
    """Collect the (small) shapes side and broadcast kernel dicts keyed by
    shape_id. One driver collect of catalog metadata — not data-path collect.
    Callers guard with _catalog_size before taking this path."""
    cols = ['shape_id', 'kind', 'params', 'rings'] + (
        ['poly_sizes'] if 'poly_sizes' in shapes.columns else [])
    rows = shapes.select(*cols).collect()
    catalog = {}
    for r in rows:
        d = r.asDict(recursive=True)
        catalog[d['shape_id']] = shape_row_to_kernel(d)
    return spark.sparkContext.broadcast(catalog)


def _shape_spec_col(shapes: DataFrame):
    """One JSON column carrying the whole shape geometry — the no-broadcast
    transport: specs travel through the equi-join instead of the driver."""
    fields = [F.col('kind'), F.col('params'), F.col('rings')] + (
        [F.col('poly_sizes')] if 'poly_sizes' in shapes.columns else [])
    names = ['kind', 'params', 'rings'] + (
        ['poly_sizes'] if 'poly_sizes' in shapes.columns else [])
    return F.to_json(F.struct(*[c.alias(n) for c, n in zip(fields, names)]))


def _exact_predicate_spec_udf():
    """Exact containment over shipped shape specs: per Arrow batch, group
    candidate rows by shape_id (argsort), build each kernel dict once from
    its JSON spec, evaluate vectorized. No driver collect, no broadcast —
    the scale path for catalogs beyond the broadcast guard."""
    import json

    from geostructures_spark.kernels import shapes as shp

    @F.pandas_udf(T.BooleanType())
    def _pred(shape_id: pd.Series, spec: pd.Series,
              lon: pd.Series, lat: pd.Series) -> pd.Series:
        out = np.zeros(len(shape_id), dtype=bool)
        if len(shape_id) == 0:
            return pd.Series(out)
        sid = shape_id.to_numpy()
        lons = lon.to_numpy(np.float64)
        lats = lat.to_numpy(np.float64)
        specs = spec.to_numpy()
        order = np.argsort(sid, kind='stable')
        sorted_sid = sid[order]
        bounds = np.flatnonzero(np.r_[True, sorted_sid[1:] != sorted_sid[:-1], True])
        for i in range(len(bounds) - 1):
            sel = order[bounds[i]:bounds[i + 1]]
            shape = shape_row_to_kernel(json.loads(specs[sel[0]]))
            out[sel] = shp.shape_contains_points(shape, lons[sel], lats[sel])
        return pd.Series(out, index=shape_id.index)

    return _pred


def _exact_predicate_udf(bc, predicate: str):
    from geostructures_spark.kernels import shapes as shp

    @F.pandas_udf(T.BooleanType())
    def _pred(shape_id: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        out = np.zeros(len(shape_id), dtype=bool)
        if len(shape_id) == 0:
            return pd.Series(out)
        sid = shape_id.to_numpy()
        lons = lon.to_numpy(np.float64)
        lats = lat.to_numpy(np.float64)
        catalog = bc.value
        # batch by shape: vectorized kernel per shape over its candidates
        order = np.argsort(sid, kind='stable')
        sorted_sid = sid[order]
        bounds = np.flatnonzero(np.r_[True, sorted_sid[1:] != sorted_sid[:-1], True])
        for i in range(len(bounds) - 1):
            sel = order[bounds[i]:bounds[i + 1]]
            shape = catalog.get(sorted_sid[bounds[i]])
            if shape is None:
                continue
            out[sel] = shp.shape_contains_points(shape, lons[sel], lats[sel])
        return pd.Series(out, index=shape_id.index)

    return _pred


_SQL_COVER_MAX_BOXES = 65_536


def _double(x) -> str:
    """A DOUBLE literal in SQL text (a bare ``6371000.0`` parses as DECIMAL)."""
    return f'{float(x)!r}D'


def _window_cols(p, length: int) -> List[Tuple[str, str]]:
    """(name, SQL) columns of one shape's cover window, each reading the
    shape's columns or earlier names (lateral aliases in one selectExpr):
    the box-index range ``_i0.._i1`` x ``_j0.._j1`` of the cells at
    ``length`` that can hold a point the exact predicate accepts, the
    ``_r``/``_clon``/``_clat``/``_full`` the trim reads, and ``_ok`` (the
    window is finite and within _SQL_COVER_MAX_BOXES; never NULL, so a
    shape the window cannot serve routes to ``cover_shapes``).

    - circle, ellipse and ring accept only points within ``_r`` (radius,
      the larger semi-axis, outer radius) of the center: the window is the
      spherical cap's bounding box. Every p with hav(p, center) <= r has
      |lat_p - clat| <= ang and |lon_p - clon| <= asin(sin(ang)/cos(clat))
      when no pole is inside; the window falls back to the full longitude
      range when the cap touches a pole or crosses the antimeridian.
    - box accepts only points inside its min/max bounds; point only its
      center; polygon, linestring and the multi-kinds only points inside
      the min/max of their vertices (``flatten(rings)``).

    A +-1 cell slack covers the points' quantization rule (a point on a
    cell edge belongs to the lower cell), so the window holds every cell
    with a matching point; cells outside it can only hold candidates the
    exact predicate rejects."""
    from geostructures_spark.kernels.geodesy import EARTH_RADIUS_METERS
    m = (4 * length) // 2
    w, h, hi = 360.0 / (1 << m), 180.0 / (1 << m), (1 << m) - 1

    def bound(agg, axis, center, half):
        sign, pick = ('-', 'least') if agg == 'min' else ('+', 'greatest')
        return (f"CASE WHEN kind = 'box' THEN {pick}({p('min_' + axis)}, {p('max_' + axis)}) "
                f"WHEN kind = 'point' THEN {center} "
                f"WHEN kind IN ('circle', 'ellipse', 'ring') THEN {center} {sign} {half} "
                f'ELSE array_{agg}(flatten(rings).{axis}) END')

    def index(x, lo, span, size):  # clamp into the domain, then quantize
        return (f'floor((least(greatest({x}, {_double(lo)}), {_double(lo + span)}) - {_double(lo)})'
                f' / {_double(size)})')
    return [
        ('_r', f"CAST(CASE kind WHEN 'circle' THEN {p('radius')} "
               f"WHEN 'ellipse' THEN greatest({p('semi_major')}, {p('semi_minor')}) "
               f"WHEN 'ring' THEN {p('outer_radius')} END AS DOUBLE)"),
        ('_clon', p('center_lon')),
        ('_clat', p('center_lat')),
        ('_ang', f'degrees(greatest(_r, 0D) / {_double(EARTH_RADIUS_METERS)})'),
        # the asin argument is < 1 when no pole is inside; clamped against
        # fp overshoot
        ('_ext', 'degrees(asin(least(sin(radians(_ang)) / '
                 'greatest(cos(radians(_clat)), 1e-12D), 1D)))'),
        ('_full', '(abs(_clat) + _ang >= 90D OR abs(_clon) + _ext > 180D)'),
        ('_lonhalf', 'CASE WHEN _full THEN 360D ELSE _ext END'),
        ('_i0', f"greatest({index(bound('min', 'lon', '_clon', '_lonhalf'), -180, 360, w)}"
                f' - 1, 0)'),
        ('_i1', f"least({index(bound('max', 'lon', '_clon', '_lonhalf'), -180, 360, w)}"
                f' + 1, {hi})'),
        ('_j0', f"greatest({index(bound('min', 'lat', '_clat', '_ang'), -90, 180, h)} - 1, 0)"),
        ('_j1', f"least({index(bound('max', 'lat', '_clat', '_ang'), -90, 180, h)} + 1, {hi})"),
        ('_ok', f'coalesce((_i1 - _i0 + 1) * (_j1 - _j0 + 1) <= {_SQL_COVER_MAX_BOXES}, false)'),
    ]


def _with_window(shapes: DataFrame, length: int) -> DataFrame:
    """``shapes`` plus its window columns (_window_cols)."""
    return shapes.selectExpr('*', *(f'{sql} AS {name}' for name, sql in
                                     _window_cols(_params_sql(shapes), length)))


def _sql_cover_ok_expr(length: int):
    """Deterministic routing predicate over a SHAPES_SCHEMA_DDL catalog: this
    shape's cover is the JVM window; the rest go to ``cover_shapes``. Never
    NULL. ``_ok`` of _window_cols with its lateral names substituted, for
    callers that filter a plain catalog (perfbench's cover probes); the
    operator itself reads ``_ok`` from _with_window."""
    import re
    cols = _window_cols(lambda f: f'params.{f}', length)
    text = '_ok'
    for name, sql in reversed(cols):
        text = re.sub(rf'\b{name}\b', f'({sql})', text)
    return F.expr(text)


def _window_cover(windowed: DataFrame, length: int, drop_chars: int = 0,
                  carry=(), numeric_key: bool = False) -> DataFrame:
    """(shape_id, cell, *carry) cover rows of shapes that carry their
    window columns (_with_window; callers keep only ``_ok`` shapes so the
    per-shape explode stays bounded): the window is enumerated, and
    circle, ellipse and ring cells are trimmed by a triangle-inequality
    distance test. The cover is a SUPERSET of the cells holding a matching
    point, so the exact containment predicate downstream returns the same
    rows. Cells are built by interleaving the (i, j) box indices directly —
    no Python stage. Base 16 only. ``carry`` names further columns kept on
    every row (``dt_start``..., or the trim's ``_clon``, ``_clat``, ``_r``).

    Trim-safety: a cell containing a point p within ``_r`` of the center
    satisfies hav(center, clamp(center)) <= hav(center, p) +
    hav(p, clamp(center)) <= r + (widest parallel arc + meridian height of
    the cell), so keeping every cell with clamped-distance <= r + pad can
    drop no needed cell. Clamping ignores longitude wrap, which
    over-estimates distance only when the window wraps — those shapes take
    the full-longitude branch, where the trim is skipped.

    ``drop_chars`` > 0 emits the cover at PARENT-cell granularity (the
    Niemeyer prefix of length - drop_chars chars; one dropped char = 2
    bits per axis): ~16x fewer cover rows per dropped char for the same
    candidate-superset guarantee — the knob that keeps the broadcast
    relation small when candidates are cheap to reject (all-circle JVM
    predicate). Join such covers against a substring of the points' cell
    column.

    ``numeric_key`` emits the packed ``(i << 32) | j`` BIGINT instead of
    the cell string; only valid when the points side derives the same key
    from the same quantization (caller-guarded)."""
    import math

    from geostructures_spark.functions.geo import (
        haversine_sql, niemeyer_interleave_sql)
    from geostructures_spark.kernels.geodesy import EARTH_RADIUS_METERS
    out_len = length - drop_chars
    assert out_len >= 1
    s = 2 * drop_chars  # bits dropped per axis
    m = (4 * out_len) // 2
    w, h = 360.0 / (1 << m), 180.0 / (1 << m)  # (parent-)cell geometry
    base = windowed.selectExpr(
        'shape_id', *(c for c in carry if c not in ('_clon', '_clat', '_r')),
        '_r', '_clon', '_clat', '_full',
        *(f'shiftright(_{k}, {s}) AS _{k}' for k in ('i0', 'i1', 'j0', 'j1')))
    if drop_chars == 0:
        # parallelize big fine-grained explodes: the shapes side typically
        # scans from a small file (1-2 input partitions) — a tiny keyed
        # repartition spreads the window enumeration over the cluster.
        # Prefix covers (~16x fewer rows per dropped char) skip the extra
        # shuffle stage.
        n_parts = max(8, windowed.sparkSession.sparkContext.defaultParallelism)
        base = base.repartition(n_parts, 'shape_id')
    lon_lo, lat_lo = f'(-180D + _i * {_double(w)})', f'(-90D + _j * {_double(h)})'
    lon_cl = f'least(greatest(_clon, {lon_lo}), {lon_lo} + {_double(w)})'
    lat_cl = f'least(greatest(_clat, {lat_lo}), {lat_lo} + {_double(h)})'
    # widest parallel of the cell (the latitude nearest the equator)
    lat_wide = (f'CASE WHEN {lat_lo} <= 0D AND {lat_lo} + {_double(h)} >= 0D THEN 0D '
                f'ELSE least(abs({lat_lo}), abs({lat_lo} + {_double(h)})) END')
    pad = (f"{haversine_sql('0D', lat_wide, _double(w), lat_wide)} + "
           f'{_double(EARTH_RADIUS_METERS * math.radians(h))}')
    keep = (f'_r IS NULL OR _full OR '
            f"{haversine_sql('_clon', '_clat', lon_cl, lat_cl)} <= _r + {pad}")
    key = ('shiftleft(_i, 32) | _j' if numeric_key
           else niemeyer_interleave_sql('_i', '_j', out_len))
    return (base.selectExpr('*', 'explode(sequence(_i0, _i1)) AS _i')
            .selectExpr('*', 'explode(sequence(_j0, _j1)) AS _j')
            .filter(keep)
            .selectExpr('shape_id', f'{key} AS cell', *carry))


def spatial_join_points(
    points: DataFrame,
    shapes: DataFrame,
    length: int = 8,
    base: int = 16,
    time_gated: bool = True,
    salt_shards: int = 0,
    cell_col: str = 'cell',
    max_broadcast_shapes: int = _BROADCAST_MAX_SHAPES,
    max_broadcast_ring_verts: int = _BROADCAST_MAX_RING_VERTS,
) -> DataFrame:
    """points ⨝ shapes with exact containment (point-probe semantics of
    contains/intersects, which coincide for points — structures.py:156-157).

    Returns candidate-join columns: all point columns + shape_id.
    ``time_gated`` applies the right-open instant-in-interval predicate
    (reference _base.py:282-291: time gate short-circuits before spatial)
    using points.warc_ts vs shapes dt_start/dt_end; shapes with NULL dt
    match all times (untimed shapes tested spatially, collections.py:447-452).

    Physical strategy is size-guarded: catalogs within the broadcast budget
    collect once to the driver and broadcast kernel dicts (fastest); larger
    catalogs never touch the driver — covers join as a shuffle join and the
    geometry travels to its candidate rows as a JSON spec through a
    shape_id equi-join (set the thresholds to 0 to force that path)."""
    spark = points.sparkSession
    had_cell = cell_col in points.columns
    if not had_cell:
        points = with_cell(points, length, base, cell_col=cell_col)

    windowed = _with_window(shapes, length) if base == 16 else shapes
    n_shapes, n_verts, n_plain, n_sql = _catalog_size(windowed, length, base)
    use_broadcast = (n_shapes <= max_broadcast_shapes and
                     n_verts <= max_broadcast_ring_verts)
    all_plain_circles = n_shapes > 0 and n_plain == n_shapes
    gated = time_gated and 'warc_ts' in points.columns
    dt_cols = ['dt_start', 'dt_end'] if gated else []
    all_window = 0 < n_sql == n_shapes

    # cover side: every shape whose window stays within the box cap gets
    # the JVM window cover (no Python stage); only the rest keep the
    # per-shape applyInPandas covering. When ALL covers are window-built,
    # the JVM predicate is cheap, and the covers broadcast, emit the cover
    # at parent-cell granularity (one prefix char dropped): ~16x fewer rows
    # in the broadcast relation for a modest candidate inflation the
    # codegen haversine filter absorbs.
    prefix_drop = 1 if (all_window and use_broadcast and all_plain_circles
                        and length >= 2) else 0
    # when every cover row is window-built for a plain circle, the circle's
    # (center, radius) triple rides the cover rows themselves — the exact
    # predicate then needs NO second join at all
    carry_params = all_plain_circles and all_window
    # when we assigned the points' cells ourselves (same closed-form
    # quantization as the cover windows), join on the packed (i, j)
    # integer key instead of cell strings: no string building on either
    # side, and Catalyst prunes the points' string encode wholesale when
    # the caller doesn't read it
    numeric_key = all_window and not had_cell
    # the time interval rides the window cover rows (no dt join); the
    # Python-covered rest joins it by shape_id
    covers = None
    if n_sql:
        covers = _window_cover(
            windowed.filter('_ok'), length, prefix_drop,
            carry=dt_cols + (['_clon', '_clat', '_r'] if carry_params else []),
            numeric_key=numeric_key)
    if not all_window:
        rest = windowed.filter('NOT _ok').select(*shapes.columns) if n_sql else shapes
        rest_cover = cover_shapes(
            rest, length, base,
            n_partitions=min(64, max(4, (n_shapes - n_sql) // 25 + 1)))
        if gated:
            dt_map = rest.select('shape_id', *dt_cols)
            rest_cover = rest_cover.join(
                F.broadcast(dt_map) if use_broadcast else dt_map, 'shape_id')
        covers = rest_cover if covers is None else covers.unionByName(rest_cover)

    if numeric_key:
        from geostructures_spark.functions.geo import niemeyer_quantize_sql
        s = 2 * prefix_drop
        qlon, qlat = niemeyer_quantize_sql('lon', 'lat', length)
        points = points.withColumn('_ck', F.expr(
            f'shiftleft(shiftright({qlon}, {s}), 32) | shiftright({qlat}, {s})'))
        pkey = '_ck'
    elif prefix_drop:
        points = points.withColumn(
            '_ck', F.substring(F.col(cell_col), 1, length - prefix_drop))
        pkey = '_ck'
    else:
        pkey = cell_col

    if salt_shards > 0:
        # replicate the broadcast side per shard; salt the big side
        shards = spark.range(salt_shards).select(F.col('id').cast('int').alias('_shard'))
        covers = covers.crossJoin(F.broadcast(shards)).withColumn(
            'join_key', F.concat_ws('#', 'cell', F.col('_shard').cast('string')))
        points = points.withColumn(
            'join_key',
            F.concat_ws('#', F.col(pkey),
                        F.pmod(F.xxhash64(*[c for c in ('url', 'lon', 'lat')
                                            if c in points.columns]),
                               F.lit(salt_shards)).cast('string')))
        join_key = 'join_key'
    else:
        covers = covers.withColumnRenamed('cell', pkey)
        join_key = pkey

    param_cols = ['_clon', '_clat', '_r'] if carry_params else []
    covers_sel = covers.select(join_key, 'shape_id', *dt_cols, *param_cols)
    cand = points.join(F.broadcast(covers_sel) if use_broadcast else covers_sel,
                       join_key)

    if gated:
        no_dt = F.col('dt_start').isNull() | F.col('dt_end').isNull()
        gate = no_dt | interval_contains_instant_expr(
            F.col('dt_start'), F.col('dt_end'), F.col('warc_ts'))
        cand = cand.filter(gate)

    if all_plain_circles:
        # exact containment for a circle is haversine(point, center) <=
        # radius — the identical formula (and argument order) the NumPy
        # kernel evaluates (kernels/shapes.py:291-293), as a JVM Column
        # expression: no Arrow boundary, no Python workers, whole-stage
        # codegen through the candidate join. The (center, radius) triple
        # rides the cover rows when all covers are SQL-built (no second
        # join); otherwise it joins by shape_id (24 bytes/shape — never
        # driver-collected on the no-broadcast path).
        from geostructures_spark.functions.geo import haversine_sql
        if not carry_params:
            params = shapes.selectExpr(
                'shape_id', 'params.center_lon AS _clon',
                'params.center_lat AS _clat', 'CAST(params.radius AS DOUBLE) AS _r')
            cand = cand.join(F.broadcast(params) if use_broadcast else params,
                             'shape_id')
        out = (cand.filter(f"{haversine_sql('lon', 'lat', '_clon', '_clat')} <= _r")
               .drop('_clon', '_clat', '_r'))
    elif use_broadcast:
        bc = _shape_broadcast(spark, shapes)
        pred = _exact_predicate_udf(bc, 'contains')
        out = cand.filter(pred(F.col('shape_id'), F.col('lon'), F.col('lat')))
    else:
        specs = shapes.select('shape_id', _shape_spec_col(shapes).alias('_spec'))
        pred = _exact_predicate_spec_udf()
        out = (cand.join(specs, 'shape_id')
               .filter(pred(F.col('shape_id'), F.col('_spec'),
                            F.col('lon'), F.col('lat')))
               .drop('_spec'))
    drop = dt_cols + (['join_key', '_shard'] if salt_shards else []) + \
        (['_ck'] if (prefix_drop or numeric_key) else [])
    return out.drop(*[c for c in drop if c in out.columns])


def filter_points_by_shape(points: DataFrame, shapes: DataFrame,
                           **kwargs) -> DataFrame:
    """filter_by_intersection with a point-set left side
    (collections.py:119-131): semi-join — points that fall in ANY shape."""
    joined = spatial_join_points(points, shapes, **kwargs)
    key_cols = [c for c in ('url', 'warc_ts', 'point_idx') if c in points.columns]
    return points.join(joined.select(*key_cols).distinct(), key_cols, 'left_semi')
