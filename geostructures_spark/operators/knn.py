"""kNN between point sets (driver-mandated operator, BASELINE.json).

Semantics derive from the reference's ``distance_meters`` + min
(SURVEY.md §2.6): for each query point, the k nearest data points by
haversine distance.

Two physical strategies:

- ``knn_join``: cell candidate generation on the spatial join's packed
  ``(i << 32) | j`` cell key (spatial_join._key_sql), base 16 only — the
  points key their cell in the JVM, each query takes the (2r+1)^2 index
  block around its cell (longitude wrapped, latitude reflected across the
  pole), equi-join on the BIGINT key, JVM-side haversine, per-query top-k
  window. No Python in the plan. Scales: the big points side is keyed once;
  queries are broadcast. The ring must cover the k-th neighbor distance;
  pick ``ring`` from data density (``suggest_ring``), certify it
  (``knn_join_auto``), or use ``knn_join_exact`` for the correctness oracle.
- ``knn_join_exact``: broadcast cross join + top-k window — exact for any k,
  right when |queries| is small (the oracle-checkable baseline).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geostructures_spark.functions.geo import (
    haversine_expr, haversine_sql, niemeyer_quantize_sql)
from geostructures_spark.operators.spatial_join import _double, _key_sql

__all__ = ['knn_join_exact', 'knn_join', 'knn_join_auto', 'suggest_ring']

_M_PER_DEG = 111194.92664455873  # pi * 6371000 / 180, matches haversine R


def _topk(cand: DataFrame, k: int, query_id: str = 'query_id') -> DataFrame:
    w = Window.partitionBy(query_id).orderBy(F.col('dist_m').asc(), F.col('neighbor_key').asc())
    return (cand.withColumn('rank', F.row_number().over(w))
            .filter(F.col('rank') <= k))


def knn_join_exact(points: DataFrame, queries: DataFrame, k: int,
                   point_key: str = 'url') -> DataFrame:
    """Brute-force kNN: broadcast(queries) x points -> top-k per query.

    Output: query_id, neighbor_key, dist_m, rank. Deterministic tie-break on
    neighbor_key. queries needs (query_id, q_lon, q_lat)."""
    cand = (points
            .withColumnRenamed(point_key, 'neighbor_key')
            .crossJoin(F.broadcast(queries.select('query_id', 'q_lon', 'q_lat')))
            .withColumn('dist_m', haversine_expr(
                F.col('q_lon'), F.col('q_lat'), F.col('lon'), F.col('lat')))
            .select('query_id', 'neighbor_key', 'dist_m', 'lon', 'lat'))
    return _topk(cand, k)


def _cells_per_axis(length: int) -> int:
    """Base-16 cells per axis at ``length``: 2^(2 * length). The packed key
    holds ``length`` 1..15."""
    if not 1 <= length <= 15:
        raise ValueError('knn supports base 16 at length 1..15')
    return 1 << 2 * length


def _ring_keys_sql(qi: str, qj: str, ring: str, length: int) -> str:
    """SQL array of the packed keys of every cell within ``ring`` (SQL
    text: a literal or a column) Chebyshev hops of the cell ``(qi, qj)`` —
    the cells a BFS over kernels.niemeyer.surrounding reaches. Offsets
    ``(di, dj)`` range over ``-ring..ring``; longitude wraps by ``pmod``; a
    row ``j' < 0`` or ``j' >= N`` reflects across the pole to ``-1 - j'`` or
    ``2N - 1 - j'`` with its longitude shifted by ``N / 2``, as
    normalize_lonlat reflects a coordinate. A row still out of range after
    one reflection needs ``ring > N``, where the block already holds every
    cell, so a clamp stands in for further reflections. array_distinct
    drops the cells the wrap folds together."""
    n = _cells_per_axis(length)
    jj = f'({qj} + dj)'
    j = (f'least(greatest(CASE WHEN {jj} < 0 THEN -1 - {jj} '
         f'WHEN {jj} >= {n} THEN {2 * n - 1} - {jj} ELSE {jj} END, 0), {n - 1})')
    i = f'pmod({qi} + di + IF({jj} < 0 OR {jj} >= {n}, {n // 2}, 0), {n})'
    d = f'sequence(-{ring}, {ring})'
    return (f'array_distinct(flatten(transform({d}, di -> '
            f'transform({d}, dj -> {_key_sql(i, j, 0, length)}))))')


def _ring_join(points: DataFrame, queries: DataFrame, k: int, length: int,
               ring: str, point_key: str) -> DataFrame:
    """knn_join with ``ring`` as SQL text over the query columns."""
    qi, qj = niemeyer_quantize_sql('q_lon', 'q_lat', length)
    q_cells = (queries.selectExpr('*', f'{qi} AS _qi', f'{qj} AS _qj')
               .selectExpr('query_id', 'q_lon', 'q_lat',
                           f"explode({_ring_keys_sql('_qi', '_qj', ring, length)}) AS _ck"))
    pi, pj = niemeyer_quantize_sql('lon', 'lat', length)
    cand = (points
            .selectExpr(f'`{point_key}` AS neighbor_key', 'lon', 'lat',
                        f'{_key_sql(pi, pj, 0, length)} AS _ck')
            .join(F.broadcast(q_cells), '_ck')
            .selectExpr('query_id', 'neighbor_key',
                        f"{haversine_sql('q_lon', 'q_lat', 'lon', 'lat')} AS dist_m",
                        'lon', 'lat'))
    return _topk(cand, k)


def knn_join(points: DataFrame, queries: DataFrame, k: int,
             length: int = 6, ring: int = 1,
             point_key: str = 'url') -> DataFrame:
    """Cell-pruned kNN: each query covers its cell + ``ring`` neighbor hops
    (_ring_keys_sql); candidates come from the packed-key equi-join against
    the points' cells; exact distances + top-k. Base 16, ``length`` 1..15.

    Completeness holds when the true k-th neighbor lies within ``ring``
    cells of the query cell — callers size (length, ring) to the data
    density, or use knn_join_auto, which certifies each query."""
    return _ring_join(points, queries.select('query_id', 'q_lon', 'q_lat'), k, length,
                      str(int(ring)), point_key)


def suggest_ring(points: DataFrame, k: int, length: int = 6) -> int:
    """Sizing rule for ``knn_join``'s ring from a density sample.

    One aggregate over the points' packed cell keys: rho = points per
    OCCUPIED cell. A ring of h hops sees up to (2h+1)^2 cells, so the
    expected candidate count is (2h+1)^2 * rho; solving
    (2h+1)^2 * rho >= 2k (safety factor 2 for non-uniform density) gives
    h = ceil((sqrt(2k/rho) - 1) / 2), floored at 1. This is an
    expectation, not a guarantee — ``knn_join_auto`` adds the per-query
    completeness certificate and expand/exact fallback on top."""
    _cells_per_axis(length)
    pi, pj = niemeyer_quantize_sql('lon', 'lat', length)
    row = points.selectExpr(
        'count(*) AS n', f'count(DISTINCT {_key_sql(pi, pj, 0, length)}) AS c').collect()[0]
    if not row['n'] or not row['c']:
        return 1
    rho = row['n'] / row['c']
    return max(1, math.ceil((math.sqrt(2.0 * k / rho) - 1.0) / 2.0))


def knn_join_auto(points: DataFrame, queries: DataFrame, k: int,
                  length: int = 6, point_key: str = 'url',
                  init_ring: int | None = None,
                  max_ring: int = 8) -> DataFrame:
    """Cell-pruned kNN with a per-query completeness certificate and
    expand-until-complete fallback (r2-verdict task 6: ``knn_join``'s
    ring was parameter-trusted — wrong sizing silently truncated top-k).
    Base 16, ``length`` 1..15.

    Round structure: run ``knn_join`` at the current ring, then CERTIFY
    each query from its own k-th neighbor — the ring provably covers every
    point within ring*cell_extent degrees of the query point (the ring
    cells enclose that box by construction; a cell spans 360 / N by
    180 / N degrees, N = 2^(2 * length)), so a query whose k-th neighbor
    distance converts to lat/lon spans inside that reach cannot have a
    closer uncovered neighbor. A round is ONE action, which brings the
    round's queries back to the driver with their verdict (no more rows
    than the broadcast query side); uncertified ones re-run with ring*2 as
    a local relation, and whatever survives ``max_ring`` (pathologically
    sparse regions, polar cos-collapse) falls back to ``knn_join_exact``.
    The result is one cell join of the certified queries, each at the ring
    that certified it, plus that fallback. Initial ring comes from
    ``suggest_ring``'s density sample unless given."""
    n = _cells_per_axis(length)
    cell_w, cell_h = 360.0 / n, 180.0 / n
    spark = queries.sparkSession

    ring = init_ring if init_ring is not None else suggest_ring(points, k, length)
    remaining = queries.select('query_id', 'q_lon', 'q_lat')
    schema = remaining.schema
    # conservative reach test of the k-th neighbor distance d_k: lat span,
    # lon span at the worst-case latitude the disc can reach (cos shrinks
    # there); pole-crossing discs void the box argument
    m = _double(_M_PER_DEG)
    reach_lat = f'd_k / {m}'
    reach_lon = f'd_k / ({m} * cos(radians(least(89.9D, abs(q_lat) + {reach_lat}))))'
    done = []   # (query_id, q_lon, q_lat, ring) of each certified query
    while ring <= max_ring:
        kth = (knn_join(points, remaining, k, length, ring, point_key)
               .filter(f'rank = {k}').selectExpr('query_id AS _id', 'dist_m AS d_k'))
        cert = (f'query_id = _id AND {reach_lat} <= {_double(ring * cell_h)} AND '
                f'{reach_lon} <= {_double(ring * cell_w)} AND abs(q_lat) + {reach_lat} < 89.9D')
        rows = remaining.join(kth, F.expr(cert), 'left').collect()
        done += [(*r[:3], ring) for r in rows if r._id is not None]
        rest = [r[:3] for r in rows if r._id is None]
        if not rest:
            break
        remaining = spark.createDataFrame(rest, schema)
        ring *= 2
    certified = spark.createDataFrame(
        done, T.StructType(schema.fields + [T.StructField('_ring', T.IntegerType())]))
    out = _ring_join(points, certified, k, length, '_ring', point_key)
    return out if ring <= max_ring else out.unionByName(
        knn_join_exact(points, remaining, k, point_key))
