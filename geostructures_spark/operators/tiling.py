"""Tiling operators: cell assignment, shape covers, cell aggregations.

The Spark-side of the reference's hashers (geohash.py:328-764):

- ``with_cell``: points + Niemeyer (or H3, once available) cell column —
  the engine's partition/join key (one Arrow-batched kernel call per batch).
- ``cover_shapes``: shapes -> exploded (shape_id, cell) cover rows via
  ``applyInPandas`` (one shape's BFS cover is small and bounded; the
  distributed dimension is the number of shapes, SURVEY.md §7.4).
- ``hash_coordinates_agg`` / ``hash_collection_agg``: the reference's
  hash_coordinates/hash_collection (geohash.py:446-510) as
  explode -> groupBy(cell).agg(...) — count, total_time (sum of interval
  seconds, utils/agg_functions.py:9-24), unique_entities (countDistinct of
  the 'entity' property, :26-40).

Skew note: cell keys are Zipf-hot for web data (cities). The spatial join
salts its points side (``spatial_join_points(salt_shards=...)``); AQE skew
splitting is on as backstop (plans/session.py).
"""

from __future__ import annotations

import json
from typing import Dict, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geostructures_spark.functions.geo import niemeyer_encode_udf

DEFAULT_COVER_PARTITIONS = 64

__all__ = [
    'with_cell', 'cover_shapes', 'hash_coordinates_agg',
    'hash_collection_agg', 'shape_row_to_kernel', 'SHAPES_SCHEMA_DDL',
    'compact_cover', 'uncompact_cover',
]

SHAPES_SCHEMA_DDL = (
    'shape_id long, kind string, '
    'params struct<center_lon:double,center_lat:double,radius:double,'
    'semi_major:double,semi_minor:double,rotation:double,'
    'inner_radius:double,outer_radius:double,angle_min:double,angle_max:double,'
    'min_lon:double,min_lat:double,max_lon:double,max_lat:double>, '
    'rings array<array<struct<lon:double,lat:double>>>, '
    'dt_start timestamp, dt_end timestamp, properties map<string,string>'
)


def shape_row_to_kernel(row: Dict) -> Dict:
    """Convert a shapes-table row (dict form) to a kernel shape dict.

    Multi-kinds expand into kernel children: multipolygon groups its flat
    rings into per-polygon [outline, *holes] via the row's ``poly_sizes``
    (reference multistructures.py:663-682; one ring per child when sizes are
    absent), multilinestring/multipoint get one child per ring."""
    params = {k: v for k, v in (row.get('params') or {}).items() if v is not None}
    rings = row.get('rings')
    np_rings: Optional[List[np.ndarray]] = None
    if rings is not None and len(rings):
        np_rings = [np.array([[c['lon'], c['lat']] if isinstance(c, dict)
                              else [c[0], c[1]] for c in ring], dtype=np.float64)
                    for ring in rings]
    kind = row['kind']
    if kind in ('multipolygon', 'multilinestring', 'multipoint') and np_rings:
        children: List[Dict] = []
        if kind == 'multipolygon':
            sizes = row.get('poly_sizes')
            if sizes is None or not len(sizes):
                sizes = [1] * len(np_rings)
            i = 0
            for n in sizes:
                children.append({'kind': 'polygon', 'params': {},
                                 'rings': np_rings[i:i + int(n)],
                                 'children': None})
                i += int(n)
        elif kind == 'multilinestring':
            children = [{'kind': 'linestring', 'params': {}, 'rings': [r],
                         'children': None} for r in np_rings]
        else:
            children = [{'kind': 'point',
                         'params': {'center_lon': float(r[0, 0]),
                                    'center_lat': float(r[0, 1])},
                         'rings': None, 'children': None} for r in np_rings]
        return {'kind': kind, 'params': params, 'rings': np_rings,
                'children': children}
    return {'kind': kind, 'params': params, 'rings': np_rings,
            'children': None}


def with_cell(df: DataFrame, length: int = 8, base: int = 16,
              lon: str = 'lon', lat: str = 'lat',
              cell_col: str = 'cell', scheme: str = 'niemeyer',
              resolution: int = 9) -> DataFrame:
    """Assign the tiling/partition cell key: Niemeyer (reference
    geohash.py:129-183), H3 (from-scratch kernel, geohash.py:420-444) or
    S2 (from-scratch Hilbert kernel, kernels/s2.py; ``resolution`` is
    the S2 level)."""
    if scheme == 'h3':
        from geostructures_spark.functions.geo import h3_encode_udf
        enc = h3_encode_udf(resolution)
    elif scheme == 's2':
        from geostructures_spark.functions.geo import s2_encode_udf
        enc = s2_encode_udf(resolution)
    elif base == 16:
        # closed-form JVM expression (functions/geo.niemeyer_cell_expr):
        # value-identical to the Arrow kernel, but whole-stage codegen fuses
        # the encode with the surrounding scan/join — no Python worker, no
        # Arrow boundary on the (big) points side of cell equi-joins
        from geostructures_spark.functions.geo import niemeyer_cell_expr
        return df.withColumn(cell_col,
                             niemeyer_cell_expr(f'`{lon}`', f'`{lat}`', length))
    else:
        enc = niemeyer_encode_udf(length, base)
    return df.withColumn(cell_col, enc(F.col(lon), F.col(lat)))


def cover_shapes(shapes: DataFrame, length: int = 8, base: int = 16,
                 scheme: str = 'niemeyer', resolution: int = 9,
                 n_partitions: int = None) -> DataFrame:
    """shapes -> (shape_id, cell) cover rows (hash_shape semantics:
    NiemeyerHasher geohash.py:746-764 / H3Hasher geohash.py:512-542). Runs
    per-shape covering in mapInPandas over a shape_id repartition.

    The hash_shape cover keeps the cells whose box intersects the shape's
    discretized outline, so it can omit an edge cell that still holds a
    matching point (e.g. cells of the row a box's top edge runs through):
    it is not a safe candidate filter, and both joins cover every shape
    with its JVM window instead."""
    from geostructures_spark.kernels import tiling_niemeyer as tn
    from geostructures_spark.kernels import h3_cover as hc
    from geostructures_spark.operators.ringio import (
        decode_rings_json, encode_rings_json)

    cols = ['shape_id', 'kind', 'params', 'rings'] + (
        ['poly_sizes'] if 'poly_sizes' in shapes.columns else [])

    def per_batch(batches):
        from geostructures_spark.kernels import s2 as s2k
        from geostructures_spark.kernels import shapes as shp

        def s2_cover(shape):
            kind = shape['kind']
            if kind in shp.MULTI_KINDS:
                out = set()
                for child in shape['children']:
                    out |= s2_cover(child)
                return out
            if kind == 'point':
                p = shape['params']
                import numpy as _np
                c = s2k.latlng_to_cell(_np.array([p['center_lat']]),
                                       _np.array([p['center_lon']]),
                                       resolution)
                return set(s2k.cell_token(c))
            rings = shp.shape_linear_rings(shape)
            return s2k.polygon_to_cells_s2(rings, resolution)

        for pdf in batches:
            out_ids, out_cells = [], []
            for row in pdf.to_dict('records'):
                row['rings'] = decode_rings_json(row.get('rings'))
                shape = shape_row_to_kernel(row)
                cells = (hc.cover_shape_h3(shape, resolution) if scheme == 'h3'
                         else s2_cover(shape) if scheme == 's2'
                         else tn.cover_shape(shape, length, base))
                for cell in cells:
                    out_ids.append(row['shape_id'])
                    out_cells.append(cell)
            yield pd.DataFrame({'shape_id': out_ids, 'cell': out_cells})

    # explicit repartition: per-shape covering is CPU-bound Python; an
    # AQE-coalesced tiny shuffle would serialize it onto one task. A
    # user-specified repartition count is never coalesced. Callers that know
    # the catalog size pass n_partitions (~100 shapes/task) so tiny catalogs
    # don't pay 64 Python-worker round trips.
    n_parts = n_partitions or max(32, DEFAULT_COVER_PARTITIONS)
    return (encode_rings_json(shapes.select(*cols))
            .repartition(n_parts, 'shape_id')
            .mapInPandas(per_batch, schema='shape_id long, cell string'))


def hash_coordinates_agg(points_with_cell: DataFrame,
                         cell_col: str = 'cell') -> DataFrame:
    """{cell: count} (reference hash_coordinates, geohash.py:482-510) as a
    hash aggregation with map-side partial combine."""
    return points_with_cell.groupBy(cell_col).agg(F.count('*').alias('n'))


def hash_collection_agg(shapes: DataFrame, length: int = 8, base: int = 16,
                        agg: str = 'count') -> DataFrame:
    """{cell: agg(shapes covering cell)} (reference hash_collection,
    geohash.py:446-480). agg in {'count', 'total_time', 'unique_entities'}
    (utils/agg_functions.py:9-40)."""
    covers = cover_shapes(shapes, length, base)
    joined = covers.join(
        F.broadcast(shapes.select('shape_id', 'dt_start', 'dt_end', 'properties')),
        'shape_id')
    if agg == 'count':
        return joined.groupBy('cell').agg(F.count('*').alias('value'))
    if agg == 'total_time':
        return joined.groupBy('cell').agg(
            F.sum(F.unix_timestamp('dt_end') - F.unix_timestamp('dt_start'))
            .cast('double').alias('value'))
    if agg == 'unique_entities':
        return joined.groupBy('cell').agg(
            F.countDistinct(F.col('properties').getItem('entity')).alias('value'))
    raise ValueError(f'unknown agg: {agg}')


def compact_cover(cover: DataFrame, key_col: str = 'shape_id',
                  cell_col: str = 'cell') -> DataFrame:
    """Losslessly compact a uniform-resolution H3 cover per key: complete
    child sets collapse into their parent recursively (public H3
    compactCells semantics; kernels/h3_core.py:978). A compacted cover is
    the scale lever for storing and joining large covers — a res-9 polygon
    fill shrinks ~7x per complete level.

    Distribution: cells sharing a key never share parents with other keys'
    cells, so compaction is key-local — one applyInPandas over the existing
    (key, cell) shuffle partitioning, no cross-key traffic."""
    from geostructures_spark.kernels.h3_core import compact_cells

    def per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        cells = compact_cells(pdf[cell_col].tolist())
        return pd.DataFrame({key_col: [pdf[key_col].iloc[0]] * len(cells),
                             cell_col: cells})

    return (cover.groupBy(key_col)
            .applyInPandas(per_key, schema=f'{key_col} long, {cell_col} string'))


def uncompact_cover(cover: DataFrame, res: int, key_col: str = 'shape_id',
                    cell_col: str = 'cell') -> DataFrame:
    """Expand a (possibly compacted) cover back to uniform ``res`` — the
    join-time inverse of compact_cover, row-parallel (each cell expands
    independently; no grouping needed)."""
    from geostructures_spark.kernels.h3_core import cell_to_children

    def per_batch(batches):
        for pdf in batches:
            keys, cells = [], []
            for k, c in zip(pdf[key_col], pdf[cell_col]):
                kids = cell_to_children(c, res)
                keys.extend([k] * len(kids))
                cells.extend(kids)
            yield pd.DataFrame({key_col: keys, cell_col: cells})

    return cover.mapInPandas(per_batch,
                             schema=f'{key_col} long, {cell_col} string')
