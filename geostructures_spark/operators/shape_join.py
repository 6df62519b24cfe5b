"""Shape-vs-shape spatial join: contains / intersects between shape sets.

The distributed form of the reference's collection filters
(filter_by_intersection :119-131, filter_contained_by :133-145,
filter_contains :147-159, intersects :433-458 in collections.py), on the
spatial join's JVM window cover (operators/spatial_join.py):

  levels     = the _lvl both sides' windows use (one _catalog_size agg
               over both, which also sizes the budget)
  covers     = _window_cover(_with_window(side)), each shape at its _lvl
  candidates = covers_a ⋈ covers_b ON cell at greatest(a_lvl, b_lvl)
               (_cover_pairs; packed BIGINT; distinct ids)
  sides      = (id, dt_start, dt_end, JSON spec) per shape, joined onto
               the candidates by id (broadcast within the spatial join's
               budget, shuffled beyond it)
  time gate  = right-open interval Column predicate
  exact      = shapes_intersect / shape_contains_shape kernels per pair,
               each kernel built once per Arrow batch from its spec

A window holds every cell with a point of its shape, so two shapes sharing
a point share its cell's ancestor at the coarser of their levels, which
the finer side keys too: the cell join is a superset filter, and the
refine makes it exact. Shape geometries never reach the driver: they ride
the id joins as JSON specs.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geostructures_spark.functions.geo import (
    interval_contains_expr, interval_intersects_expr,
)
from geostructures_spark.kernels import shapes as shp
from geostructures_spark.operators import spatial_join as spj
from geostructures_spark.operators.tiling import shape_row_to_kernel

__all__ = ['shape_join']


def _cover_pairs(win_a: DataFrame, win_b: DataFrame, levels, length: int) -> DataFrame:
    """Distinct (a_id, b_id) pairs of windowed catalogs (_with_window) whose
    covers share a cell. Each cell keys at every catalog level at or above
    its own (_level_keys_sql); a pair keeps only the level where one side's
    key is its own cell's, greatest(a_lvl, b_lvl)."""
    def keyed(windowed: DataFrame, s: str) -> DataFrame:
        cover = spj._window_cover(windowed, length, carry=('_i', '_j', '_lvl'))
        return cover.selectExpr(
            f'shape_id AS {s}_id', f'cell AS {s}_own',
            f"{spj._level_keys_sql('_i', '_j', '_lvl', levels, length)} AS cell")
    return (keyed(win_a, 'a').join(keyed(win_b, 'b'), 'cell')
            .filter('a_own = cell OR b_own = cell')
            .select('a_id', 'b_id').distinct())


def shape_join(shapes_a: DataFrame, shapes_b: DataFrame,
               predicate: str = 'intersects', length: int = 6,
               time_gated: bool = True) -> DataFrame:
    """Pairs (a_id, b_id) where predicate(A, B) holds.

    predicate: 'intersects' (A ∩ B ≠ ∅) or 'contains' (A ⊇ B). Time
    semantics follow the reference: intersects requires interval overlap
    when both sides carry dt (intersects_time, _base.py:387-401); contains
    requires A's interval to contain B's (contains_time, _base.py:326-340);
    shapes without dt are tested spatially only (collections.py:447-452).
    """
    if predicate not in ('intersects', 'contains'):
        raise ValueError(predicate)
    if not 1 <= length <= 15:
        raise ValueError('shape_join supports length 1..15')
    test = shp.shapes_intersect if predicate == 'intersects' else shp.shape_contains_shape

    win_a, win_b = spj._with_window(shapes_a, length), spj._with_window(shapes_b, length)
    # the budget is read here, at call time, so callers can lower it
    n, verts, levels = spj._catalog_size(win_a, win_b)
    hint = F.broadcast if (n <= spj._BROADCAST_MAX_SHAPES and
                           verts <= spj._BROADCAST_MAX_RING_VERTS) else (lambda df: df)
    cand = _cover_pairs(win_a, win_b, levels, length)
    for shapes, s in ((shapes_a, 'a'), (shapes_b, 'b')):
        cand = cand.join(hint(shapes.select(
            F.col('shape_id').alias(f'{s}_id'), F.col('dt_start').alias(f'{s}_start'),
            F.col('dt_end').alias(f'{s}_end'),
            spj._shape_spec_col(shapes).alias(f'_spec_{s}'))), f'{s}_id')

    if time_gated:
        untimed = (F.col('a_start').isNull() | F.col('a_end').isNull() |
                   F.col('b_start').isNull() | F.col('b_end').isNull())
        a_us = (F.unix_micros(F.col('a_start')), F.unix_micros(F.col('a_end')))
        b_us = (F.unix_micros(F.col('b_start')), F.unix_micros(F.col('b_end')))
        if predicate == 'intersects':
            gate = untimed | interval_intersects_expr(*a_us, *b_us)
        else:
            gate = untimed | interval_contains_expr(*a_us, *b_us)
        cand = cand.filter(gate)

    @F.pandas_udf(T.BooleanType())
    def _pred(a_id: pd.Series, sa_js: pd.Series,
              b_id: pd.Series, sb_js: pd.Series) -> pd.Series:
        # one kernel per distinct shape per Arrow batch
        memo_a, memo_b = {}, {}
        out = []
        for a, sa_j, b, sb_j in zip(a_id, sa_js, b_id, sb_js):
            sa = memo_a.get(a)
            if sa is None:
                sa = memo_a[a] = shape_row_to_kernel(json.loads(sa_j))
            sb = memo_b.get(b)
            if sb is None:
                sb = memo_b[b] = shape_row_to_kernel(json.loads(sb_j))
            out.append(test(sa, sb))
        return pd.Series(out, index=a_id.index)

    return (cand.filter(_pred(F.col('a_id'), F.col('_spec_a'),
                              F.col('b_id'), F.col('_spec_b')))
            .select('a_id', 'b_id'))
