"""The spatial join: points x shapes via cell candidates + exact kernels.

Architecture (SURVEY.md §3.2):

  points --packed (i, j) cell key at every level (JVM quantize)--> keyed
  shapes --JVM window cover at the shape's level (SQL text)--> (shape_id,
           key, center, radius), broadcast by Spark's size estimate
  candidates = points ⋈ broadcast(covers) ON key         (equi-join)
  time gate  = right-open interval Column predicate      (JVM, pre-UDF)
  exact      = per row: JVM haversine for a plain circle, else an
               Arrow-batched kernel predicate per shape over its JSON
               spec, LEFT-joined by shape_id             (pandas UDF)

The cover is one closed-form window per shape (_window_cols): the
spherical-cap box of a circle, ellipse or ring, trimmed by distance, and
the min/max box of every other kind, enumerated as cell-index ranges in
the JVM. Each shape covers at its own level (dropped Niemeyer chars): the
fewest at which its window fits _SQL_COVER_MAX_BOXES cells, so a big shape
gets a coarser cover instead of a Python one. The points side derives one
key per level the cover can use; a tag bit keeps levels apart. Building the
join runs no Spark job.

The cell equi-join replaces the reference's per-pair sweep-line pruning
(_geometry.py:223-316) as the candidate structure; the exact predicate
replays contains_coordinate/intersects semantics (structures.py:440-458 etc.)
bit-for-bit via kernels.shapes.

Scale notes:
- the shapes side is broadcast when Spark's static size estimate of the
  catalog is within budget (shape catalogs are ~10^4-10^6 rows; the
  pages/points side is the 10^12-row one);
- shape geometries are never collected: they reach their
  candidate rows as JSON specs through a shape_id equi-join;
- hot cells (cities) can be salted: ``salt_shards > 0`` replicates cover
  rows per shard and salts the points side, and the join keys on the
  numeric pair (cell key, shard), splitting a hot cell across ``shards``
  tasks; AQE skew-join is the backstop.
"""

from __future__ import annotations

from functools import reduce
from typing import List, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geostructures_spark.functions.geo import (
    haversine_sql, interval_contains_instant_expr, niemeyer_quantize_sql)
from geostructures_spark.operators.tiling import shape_row_to_kernel

__all__ = ['spatial_join_points']


_BROADCAST_MAX_SHAPES = 200_000
_BROADCAST_MAX_RING_VERTS = 20_000_000   # ~640 MB of packed ring floats
# the point join reads its shape budget as bytes of Spark's static size
# estimate of the catalog: a Parquet shapes_df(200_000) estimates 12.4 MB
_BROADCAST_BYTES_PER_SHAPE = 80


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


def _catalog_size(*windowed: DataFrame):
    """(n_shapes, total ring vertices, levels) of catalogs that carry their
    window columns (_with_window): ONE agg (a Spark job) over the union of
    their narrow projections, deciding broadcast vs shuffle execution and
    the sorted distinct cover levels (``_lvl``). shape_join's probe; the
    point join needs none (spatial_join_points)."""
    row = reduce(DataFrame.union, (w.select('rings', '_lvl') for w in windowed)).selectExpr(
        'count(*) AS n',
        'coalesce(sum(aggregate(rings, 0, (acc, ring) -> acc + size(ring))), 0) AS verts',
        'collect_set(_lvl) AS levels',
    ).collect()[0]
    return int(row['n']), int(row['verts']), sorted(int(d) for d in row['levels'])


def _shape_spec_col(shapes: DataFrame):
    """One JSON column carrying the whole shape geometry: specs travel
    through a shape_id equi-join instead of a collect."""
    fields = [F.col('kind'), F.col('params'), F.col('rings')] + (
        [F.col('poly_sizes')] if 'poly_sizes' in shapes.columns else [])
    names = ['kind', 'params', 'rings'] + (
        ['poly_sizes'] if 'poly_sizes' in shapes.columns else [])
    return F.to_json(F.struct(*[c.alias(n) for c, n in zip(fields, names)]))


def _exact_predicate_spec_udf():
    """Exact containment over shipped shape specs: per Arrow batch, group
    candidate rows by shape_id (argsort), build each kernel dict once from
    its JSON spec, evaluate vectorized. A NULL spec (a plain circle, which
    the JVM refines) is skipped. No collect, no broadcast variable."""
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
            if specs[sel[0]] is None:
                continue
            shape = shape_row_to_kernel(json.loads(specs[sel[0]]))
            out[sel] = shp.shape_contains_points(shape, lons[sel], lats[sel])
        return pd.Series(out, index=shape_id.index)

    return _pred


_SQL_COVER_MAX_BOXES = 65_536


def _double(x) -> str:
    """A DOUBLE literal in SQL text (a bare ``6371000.0`` parses as DECIMAL)."""
    return f'{float(x)!r}D'


def _key_sql(i: str, j: str, lvl, length: int) -> str:
    """Packed BIGINT join key of the cell ``(i, j)`` at ``lvl`` dropped
    chars: ``i`` in the high word, ``j`` in the low word, and a tag bit at
    ``2 * (length - lvl)``, one above ``j``'s top bit at that level, so keys
    of different levels never collide (needs length <= 15)."""
    return f'shiftleft({i}, 32) | shiftleft(1L, 2 * ({length} - {lvl})) | {j}'


def _level_keys_sql(i: str, j: str, lvl, levels, length: int) -> str:
    """SQL of the join keys of the cell ``(i, j)`` at level ``lvl`` (0 for
    points, the ``_lvl`` column for cover cells): its ancestor's key
    (_key_sql; indexes shift right 2 bits a level) at each catalog level at
    or above ``lvl``. A plain key for one level, else an explode; a cover
    cell keys itself at lower levels, and array_distinct drops the repeats."""
    keys = [_key_sql(f'shiftright({i}, 2 * ({d} - {lvl}))', f'shiftright({j}, 2 * ({d} - {lvl}))',
                     d, length)
            for d in (levels if lvl == 0 else [f'greatest({d}, {lvl})' for d in levels])]
    arr = f"array({', '.join(keys)})"
    return keys[0] if len(keys) == 1 else (
        f'explode({arr if lvl == 0 else f"array_distinct({arr})"})')


def _window_cols(p, length: int) -> List[Tuple[str, str]]:
    """(name, SQL) columns of one shape's cover window, each reading the
    shape's columns or earlier names (lateral aliases in one selectExpr):
    the box-index range ``_i0.._i1`` x ``_j0.._j1`` of the cells at
    ``length`` that can hold a point the exact predicate accepts, the
    ``_r``/``_clon``/``_clat``/``_full`` the trim reads, ``_ok`` (the
    window is finite and within _SQL_COVER_MAX_BOXES cells at level 0;
    never NULL) and ``_lvl``, the shape's cover level: the fewest dropped
    chars at which the window, shifted right by 2 bits per char, fits the
    budget. Level ``length - 1`` (4 x 4 cells) always fits, so ``_lvl``
    is never NULL either.

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
    exact predicate rejects. A point's parent at any level is its cell
    index shifted right, so the shifted window keeps that guarantee."""
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

    def fits(d):  # the window's cell count at d dropped chars is in budget
        def n(lo, hi):
            return (f'(shiftright(_{hi}, {2 * d}) - shiftright(_{lo}, {2 * d}) + 1)'
                    if d else f'(_{hi} - _{lo} + 1)')
        return f"{n('i0', 'i1')} * {n('j0', 'j1')} <= {_SQL_COVER_MAX_BOXES}"
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
        ('_ok', f'coalesce({fits(0)}, false)'),
        ('_lvl', 'CASE WHEN _ok THEN 0 ' +
                 ''.join(f'WHEN {fits(d)} THEN {d} ' for d in range(1, length - 1)) +
                 f'ELSE {length - 1} END'),
    ]


def _with_window(shapes: DataFrame, length: int) -> DataFrame:
    """``shapes`` plus its window columns (_window_cols)."""
    return shapes.selectExpr('*', *(f'{sql} AS {name}' for name, sql in
                                     _window_cols(_params_sql(shapes), length)))


def _sql_cover_ok_expr(length: int):
    """Deterministic predicate over a SHAPES_SCHEMA_DDL catalog: this
    shape's window fits the budget at level 0, i.e. it is covered at the
    points' own cell length; the rest cover at a coarser level. Never NULL.
    ``_ok`` of _window_cols with its lateral names substituted, for callers
    that filter a plain catalog; the operator itself reads ``_lvl`` from
    _with_window."""
    import re
    cols = _window_cols(lambda f: f'params.{f}', length)
    text = '_ok'
    for name, sql in reversed(cols):
        text = re.sub(rf'\b{name}\b', f'({sql})', text)
    return F.expr(text)


def _window_cover(windowed: DataFrame, length: int, carry=()) -> DataFrame:
    """(shape_id, cell, *carry) cover rows of shapes that carry their
    window columns (_with_window): each shape's window is shifted to its
    level ``_lvl``, enumerated, and circle, ellipse and ring cells are
    trimmed by a triangle-inequality distance test. ``cell``
    is the level-tagged packed key (_key_sql) the points side derives from
    the same quantization. The cover is a SUPERSET of the cells holding a
    matching point, so the exact containment predicate downstream returns
    the same rows. ``carry`` names further columns kept on every row
    (``dt_start``..., or the trim's ``_clon``, ``_clat``, ``_r``).

    Trim-safety: a cell containing a point p within ``_r`` of the center
    satisfies hav(center, clamp(center)) <= hav(center, p) +
    hav(p, clamp(center)) <= r + (widest parallel arc + meridian height of
    the cell), so keeping every cell with clamped-distance <= r + pad can
    drop no needed cell, at any level. Clamping ignores longitude wrap,
    which over-estimates distance only when the window wraps — those
    shapes take the full-longitude branch, where the trim is skipped.

    ``carry`` may name the cell's ``_i``, ``_j`` and ``_lvl`` (for
    _level_keys_sql). The cover runs in the partitions the shapes arrive
    in: no shuffle."""
    from geostructures_spark.kernels.geodesy import EARTH_RADIUS_METERS
    base = windowed.selectExpr(
        'shape_id', *(c for c in carry if c not in ('_clon', '_clat', '_r', '_lvl', '_i', '_j')),
        '_r', '_clon', '_clat', '_full', '_lvl',
        *(f'shiftright(_{k}, 2 * _lvl) AS _{k}' for k in ('i0', 'i1', 'j0', 'j1')),
        # the (parent-)cell geometry at the shape's level; a product of
        # non-NULL terms keeps the columns non-nullable, so the codegen of
        # the per-cell trim below stays small enough for the JIT
        *(f'{_double(span / (1 << 2 * length))} * shiftleft(1L, 2 * _lvl) AS _{name}'
          for name, span in (('w', 360), ('h', 180))))
    lon_lo, lat_lo = '(-180D + _i * _w)', '(-90D + _j * _h)'
    lon_cl = f'least(greatest(_clon, {lon_lo}), {lon_lo} + _w)'
    lat_cl = f'least(greatest(_clat, {lat_lo}), {lat_lo} + _h)'
    # widest parallel of the cell (the latitude nearest the equator)
    lat_wide = (f'CASE WHEN {lat_lo} <= 0D AND {lat_lo} + _h >= 0D THEN 0D '
                f'ELSE least(abs({lat_lo}), abs({lat_lo} + _h)) END')
    # haversine((0, lat_wide), (_w, lat_wide)) in closed form, plus the
    # meridian height
    pad = (f'{_double(2 * EARTH_RADIUS_METERS)} * asin(cos(radians({lat_wide})) * '
           f'sin(radians(_w) / 2D)) + {_double(EARTH_RADIUS_METERS)} * radians(_h)')
    keep = (f'_r IS NULL OR _full OR '
            f"{haversine_sql('_clon', '_clat', lon_cl, lat_cl)} <= _r + {pad}")
    return (base.selectExpr('*', 'explode(sequence(_i0, _i1)) AS _i')
            .selectExpr('*', 'explode(sequence(_j0, _j1)) AS _j')
            .filter(keep)
            .selectExpr('shape_id', f"{_key_sql('_i', '_j', '_lvl', length)} AS cell",
                        *carry))


def spatial_join_points(
    points: DataFrame,
    shapes: DataFrame,
    length: int = 8,
    base: int = 16,
    time_gated: bool = True,
    salt_shards: int = 0,
    max_broadcast_shapes: int = _BROADCAST_MAX_SHAPES,
) -> DataFrame:
    """points ⨝ shapes with exact containment (point-probe semantics of
    contains/intersects, which coincide for points — structures.py:156-157).

    Returns candidate-join columns: all point columns + shape_id.
    ``time_gated`` applies the right-open instant-in-interval predicate
    (reference _base.py:282-291: time gate short-circuits before spatial)
    using points.warc_ts vs shapes dt_start/dt_end; shapes with NULL dt
    match all times (untimed shapes tested spatially, collections.py:447-452).

    Every shape covers with its JVM window at its own level (_window_cols),
    and the points key at every level ``0..length-1`` (a shape's cover holds
    keys at its own level only, so the candidates are the same). Base 16
    only, ``length`` 1..15. Building the join runs no Spark job:
    - refine, per row: a plain circle (no holes, radius set) by the JVM
      haversine over the center and radius its cover rows carry; every
      other shape by the kernel over its JSON spec, LEFT-joined by
      shape_id. Where Catalyst can prove every shape a plain circle (a
      literal 'circle' kind, a non-NULL radius and NULL rings, as in
      spatial_join_circles), it folds the spec join and the UDF away;
    - strategy: the covers and the specs broadcast when Spark's static size
      estimate of ``shapes`` is within ``max_broadcast_shapes`` x
      _BROADCAST_BYTES_PER_SHAPE bytes; beyond it both join unhinted (set
      ``max_broadcast_shapes`` to 0 to force that). The geometry is never
      collected."""
    if base != 16:
        raise ValueError('spatial_join_points supports base 16 only')
    if not 1 <= length <= 15:
        raise ValueError('spatial_join_points supports length 1..15')
    spark = points.sparkSession
    size = shapes._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    use_broadcast = size <= max_broadcast_shapes * _BROADCAST_BYTES_PER_SHAPE
    hint = F.broadcast if use_broadcast else (lambda df: df)
    gated = time_gated and 'warc_ts' in points.columns
    dt_cols = ['dt_start', 'dt_end'] if gated else []

    # the time interval, and the plain-circle flag with the (center,
    # radius) triple, ride the cover rows: the gate and a circle's
    # haversine need no second join
    plain = f'coalesce({_plain_circle_sql(_params_sql(shapes))}, false)'
    param_cols = ['_plain', '_clon', '_clat', '_r']
    covers = (_window_cover(_with_window(shapes, length).selectExpr('*', f'{plain} AS _plain'),
                            length, carry=dt_cols + param_cols)
              .withColumnRenamed('cell', '_ck'))

    # a point is a level-0 cell: one key per level a cover can use, from
    # the same quantization as the windows
    qlon, qlat = niemeyer_quantize_sql('lon', 'lat', length)
    points = points.withColumn(
        '_ck', F.expr(_level_keys_sql(qlon, qlat, 0, range(length), length)))
    keys = ['_ck']

    if salt_shards > 0:
        # replicate the broadcast side per shard; salt the big side
        shards = spark.range(salt_shards).select(F.col('id').cast('int').alias('_shard'))
        covers = covers.crossJoin(F.broadcast(shards))
        points = points.withColumn(
            '_shard', F.pmod(F.xxhash64(*[c for c in ('url', 'lon', 'lat')
                                          if c in points.columns]),
                             F.lit(salt_shards)).cast('int'))
        keys.append('_shard')

    cand = points.join(hint(covers.select(*keys, 'shape_id', *dt_cols, *param_cols)), keys)

    if gated:
        no_dt = F.col('dt_start').isNull() | F.col('dt_end').isNull()
        gate = no_dt | interval_contains_instant_expr(
            F.col('dt_start'), F.col('dt_end'), F.col('warc_ts'))
        cand = cand.filter(gate)

    # exact containment for a plain circle is haversine(point, center) <=
    # radius, as a JVM expression in every catalog; only the other shapes
    # carry a spec, and only their verdict comes from the kernel
    specs = (shapes.filter(f'NOT {plain}')
             .select('shape_id', _shape_spec_col(shapes).alias('_spec')))
    pred = _exact_predicate_spec_udf()
    out = (cand.join(hint(specs), 'shape_id', 'left')
           .filter(F.when(F.col('_plain'),
                          F.expr(f"{haversine_sql('lon', 'lat', '_clon', '_clat')} <= _r"))
                   .otherwise(pred(F.col('shape_id'), F.col('_spec'),
                                   F.col('lon'), F.col('lat')))))
    return out.drop('_ck', '_spec', '_shard', *dt_cols, *param_cols)
