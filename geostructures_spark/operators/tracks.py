"""Track analytics: window-function ping metrics + sequential filters.

The Spark-side of the reference's Track (collections.py:707-955):

- consecutive-ping distance / time / speed diffs as lag-window expressions
  (centroid_distances :795-805, time_start_diffs :859-869, speed_diffs
  :841-849) — one shuffle on the entity key, everything else JVM-side;
- time slicing ``[t0:t1)`` as a filter ``start >= t0 AND end < t1``
  (:770-782);
- convolve_duplicate_timestamps (:875-904) as groupBy(entity, dt) mean;
- filter_impossible_journeys (:917-955) — greedy scan whose anchor is the
  last *kept* ping, inherently sequential per entity -> ``applyInPandas``
  with a NumPy loop, never cluster-wide (SURVEY.md §7.4).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geostructures_spark.functions.geo import haversine_expr

__all__ = [
    'with_track_diffs', 'slice_track', 'convolve_duplicate_timestamps',
    'filter_impossible_journeys', 'has_duplicate_timestamps', 'greedy_keep',
    'resample_track', 'simplify_track_radial',
]


def greedy_keep(lons: np.ndarray, lats: np.ndarray, ts: np.ndarray,
                max_speed_mps: float,
                anchor=(float('nan'), float('nan'), float('nan'))):
    """The reference's greedy speed scan (collections.py:917-955), seeded
    from a prior (lon, lat, ts-seconds) anchor (NaN ts = no anchor yet, so
    the first ping is kept, ref :930). Returns (keep mask, final anchor or
    None). Shared by the batch applyInPandas filter and the streaming
    applyInPandasWithState filter, which carries the anchor in GroupState."""
    from geostructures_spark.kernels.geodesy import haversine_distance
    n = len(ts)
    keep = np.zeros(n, dtype=bool)
    a_lon, a_lat, a_ts = anchor
    have_anchor = not np.isnan(a_ts)
    for j in range(n):
        if not have_anchor:
            keep[j] = True
            a_lon, a_lat, a_ts = lons[j], lats[j], ts[j]
            have_anchor = True
            continue
        dt = ts[j] - a_ts
        if dt == 0:
            continue  # duplicate timestamp vs anchor: dropped (ref :940-945)
        dist = float(haversine_distance(a_lon, a_lat, lons[j], lats[j]))
        speed = 0.0 if dist == 0 else dist / dt  # ref :947
        if np.isnan(speed):
            a_lon, a_lat, a_ts = lons[j], lats[j], ts[j]  # ref :949-950
        elif speed <= max_speed_mps:
            keep[j] = True
            a_lon, a_lat, a_ts = lons[j], lats[j], ts[j]
    return keep, ((a_lon, a_lat, a_ts) if have_anchor else None)


def _track_window(entity_col: str, time_col: str, idx_col: str = None):
    order = [F.col(time_col)] + ([F.col(idx_col)] if idx_col else [])
    return Window.partitionBy(entity_col).orderBy(*order)


def with_track_diffs(tracks: DataFrame, entity_col: str = 'entity',
                     time_col: str = 'dt_start',
                     lon_col: str = 'lon', lat_col: str = 'lat') -> DataFrame:
    """Adds dist_m (to previous ping), dt_sec, speed_mps via lag windows.

    Reference semantics: distances use the active geodesic (haversine
    default, geodesic.py:358-361); speed = distance / seconds
    (collections.py:841-849). First ping per entity has NULLs (the reference
    returns n-1 values)."""
    w = _track_window(entity_col, time_col)
    prev_lon = F.lag(lon_col).over(w)
    prev_lat = F.lag(lat_col).over(w)
    prev_t = F.lag(time_col).over(w)
    dist = haversine_expr(prev_lon, prev_lat, F.col(lon_col), F.col(lat_col))
    # microsecond-exact, as the oracle's epoch_us difference, so sub-second
    # pings and segments near a speed threshold count as the oracle counts
    # them (unix_micros takes TIMESTAMP, not TIMESTAMP_NTZ)
    t_us, prev_us = (F.unix_micros(c.cast('timestamp')) for c in (F.col(time_col), prev_t))
    dt_sec = (t_us - prev_us) / 1e6
    # IEEE division semantics under ANSI mode: 0/0 -> NaN, x/0 -> inf
    # (mirrors the reference's NumPy array division, collections.py:841-849);
    # first ping per entity stays NULL (lag is NULL)
    speed = (F.when(dt_sec.isNull() | dist.isNull(), F.lit(None).cast('double'))
             .when(dt_sec != 0, dist / dt_sec)
             .when(dist == 0, F.lit(float('nan')))
             .otherwise(F.lit(float('inf'))))
    return (tracks
            .withColumn('dist_m', dist)
            .withColumn('dt_sec', dt_sec)
            .withColumn('speed_mps', speed))


def slice_track(tracks: DataFrame, t0, t1,
                start_col: str = 'dt_start', end_col: str = 'dt_end') -> DataFrame:
    """Track time slicing [t0, t1): start >= t0 AND end < t1
    (reference collections.py:770-782)."""
    return tracks.filter((F.col(start_col) >= F.lit(t0)) & (F.col(end_col) < F.lit(t1)))


def has_duplicate_timestamps(tracks: DataFrame, entity_col: str = 'entity',
                             time_col: str = 'dt_start') -> DataFrame:
    """Per entity: count(*) > countDistinct(dt) (collections.py:823-831)."""
    return (tracks.groupBy(entity_col)
            .agg((F.count('*') > F.countDistinct(time_col)).alias('has_dupes')))


def convolve_duplicate_timestamps(tracks: DataFrame, entity_col: str = 'entity',
                                  time_col: str = 'dt_start',
                                  lon_col: str = 'lon', lat_col: str = 'lat') -> DataFrame:
    """Same-timestamp pings -> mean lon/lat (collections.py:875-904) as a
    hash aggregation."""
    return (tracks.groupBy(entity_col, time_col)
            .agg(F.avg(lon_col).alias(lon_col), F.avg(lat_col).alias(lat_col),
                 F.count('*').alias('n_convolved')))


def filter_by_time_of_day(tracks: DataFrame, start_hms: str, end_hms: str,
                          start_col: str = 'dt_start',
                          end_col: str = 'dt_end') -> DataFrame:
    """Time-of-day window filter incl. the spanning case
    (reference collections.py:905-914): keep a ping if its start or end
    time-of-day falls in [start_hms, end_hms], or the ping spans the window."""
    s = F.date_format(F.col(start_col), 'HH:mm:ss')
    e = F.date_format(F.col(end_col), 'HH:mm:ss')
    lo, hi = F.lit(start_hms), F.lit(end_hms)
    return tracks.filter(
        ((lo <= e) & (e <= hi)) |
        ((lo <= s) & (s <= hi)) |
        ((s <= lo) & (lo <= hi) & (hi <= e)))


def filter_impossible_journeys(tracks: DataFrame, max_speed_mps: float,
                               entity_col: str = 'entity',
                               time_col: str = 'dt_start',
                               lon_col: str = 'lon', lat_col: str = 'lat') -> DataFrame:
    """Greedy per-entity scan (collections.py:917-955): keep ping j iff the
    speed from the last *kept* ping i is <= max_speed_mps; pings sharing the
    anchor's timestamp are dropped; NaN speed resets nothing (anchor stays).

    Not expressible as a window function (the anchor depends on prior keep
    decisions) -> applyInPandas running the shared ``greedy_keep`` kernel.
    """
    out_schema = tracks.schema

    def per_entity(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col, kind='stable').reset_index(drop=True)
        if not len(pdf):
            return pdf
        keep, _ = greedy_keep(pdf[lon_col].to_numpy(np.float64),
                              pdf[lat_col].to_numpy(np.float64),
                              pdf[time_col].astype('int64').to_numpy() / 1e9,
                              max_speed_mps)
        return pdf.iloc[keep]

    return tracks.groupBy(entity_col).applyInPandas(per_entity, schema=out_schema)


def _slerp_staged(both: DataFrame, frac) -> DataFrame:
    """Spherical-slerp interpolation of (b_p_lon,b_p_lat)..(f_p_lon,
    f_p_lat) at ``frac``, staged so each intermediate (unit vectors,
    omega, sin weights, blended vector) is computed ONCE per row in its
    own projection instead of being re-inlined into every downstream
    term. Float-op order matches functions/geo.py slerp_exprs exactly,
    so results are bit-identical; only the plan shape differs. Adds
    guarded ``__sl_lon``/``__sl_lat`` columns (degenerate arcs with
    sin(omega) <= 1e-12 return the first point, as in slerp_exprs)."""
    s1 = both.select(
        '*', frac.alias('__fr'),
        (F.cos(F.radians('b_p_lat')) * F.cos(F.radians('b_p_lon'))).alias('__x1'),
        (F.cos(F.radians('b_p_lat')) * F.sin(F.radians('b_p_lon'))).alias('__y1'),
        F.sin(F.radians('b_p_lat')).alias('__z1'),
        (F.cos(F.radians('f_p_lat')) * F.cos(F.radians('f_p_lon'))).alias('__x2'),
        (F.cos(F.radians('f_p_lat')) * F.sin(F.radians('f_p_lon'))).alias('__y2'),
        F.sin(F.radians('f_p_lat')).alias('__z2'))
    dot = F.least(F.greatest(F.col('__x1') * F.col('__x2')
                             + F.col('__y1') * F.col('__y2')
                             + F.col('__z1') * F.col('__z2'),
                             F.lit(-1.0)), F.lit(1.0))
    s2 = (s1.withColumn('__om', F.acos(dot))
          .withColumn('__so', F.sin(F.col('__om'))))
    # ANSI mode: the staged form evaluates /sin(omega) unconditionally
    # (slerp_exprs hides it inside the lazily-evaluated `when` branch),
    # so degenerate arcs need a dummy non-zero divisor — those rows'
    # weights are discarded by the same `__so > 1e-12` guard below.
    so_safe = F.when(F.col('__so') > F.lit(1e-12), F.col('__so')) \
               .otherwise(F.lit(1.0))
    s3 = (s2.withColumn('__a', F.sin((1.0 - F.col('__fr')) * F.col('__om'))
                        / so_safe)
          .withColumn('__b', F.sin(F.col('__fr') * F.col('__om'))
                      / so_safe))
    s4 = s3.select(
        '*',
        (F.col('__a') * F.col('__x1') + F.col('__b') * F.col('__x2')).alias('__xi'),
        (F.col('__a') * F.col('__y1') + F.col('__b') * F.col('__y2')).alias('__yi'),
        (F.col('__a') * F.col('__z1') + F.col('__b') * F.col('__z2')).alias('__zi'))
    lon_i = F.degrees(F.atan2(F.col('__yi'), F.col('__xi')))
    lat_i = F.degrees(F.atan2(
        F.col('__zi'),
        F.sqrt(F.col('__xi') * F.col('__xi') + F.col('__yi') * F.col('__yi'))))
    deg = F.lit(1e-12)
    return s4.select(
        '*',
        F.when(F.col('__so') > deg, lon_i).otherwise(F.col('b_p_lon'))
        .alias('__sl_lon'),
        F.when(F.col('__so') > deg, lat_i).otherwise(F.col('b_p_lat'))
        .alias('__sl_lat'))


def resample_track(pings: DataFrame, step_sec: int,
                   entity_col: str = 'entity', time_col: str = 'ts',
                   lon_col: str = 'lon', lat_col: str = 'lat',
                   method: str = 'linear') -> DataFrame:
    """Resample each entity's track onto a regular time grid by linear
    interpolation between the bracketing pings.

    The reference answers point-in-time questions by slicing eager
    per-track lists (collections.py Track.__getitem__); at table scale
    the same question is two as-of joins (operators/asof.py): the grid
    epoch's latest ping at-or-before and earliest ping at-or-after,
    then lon/lat interpolate linearly in time (an epoch exactly on a
    ping returns that ping; an epoch outside the track's span returns
    the one-sided neighbor). Duplicate (entity, ts) pings are
    canonicalized by MIN(lon)/MIN(lat) first — as-of joins need a
    unique right side.

    Grid: per entity, epochs ceil(min_ts / step) * step .. max_ts in
    ``step_sec`` strides — generated JVM-side with sequence/explode.
    Cost: two keyed shuffles (one per as-of direction) of
    grid + pings; everything else is column arithmetic.

    Returns (entity, epoch_sec, lon, lat).
    """
    from geostructures_spark.operators.asof import asof_join

    p = (pings.groupBy(entity_col, time_col)
         .agg(F.min(lon_col).alias('p_lon'), F.min(lat_col).alias('p_lat'))
         .select(entity_col, F.unix_micros(time_col).alias('t_us'),
                 'p_lon', 'p_lat'))

    step_us = int(step_sec) * 1_000_000
    span = pings.groupBy(entity_col).agg(
        F.unix_micros(F.min(time_col)).alias('t0'),
        F.unix_micros(F.max(time_col)).alias('t1'))
    start = F.ceil(F.col('t0') / F.lit(step_us)).cast('long') * step_us
    # an entity whose span contains no grid point would make sequence()
    # throw (start > stop with a positive step) — filter it out instead
    grid = (span.where(start <= F.col('t1'))
            .select(entity_col,
                    F.explode(F.sequence(start, F.col('t1'),
                                         F.lit(step_us))).alias('t_us')))

    prev = asof_join(grid, p, on=entity_col, left_ts='t_us',
                     right_ts='t_us', direction='backward', prefix='b_')
    both = asof_join(prev, p, on=entity_col, left_ts='t_us',
                     right_ts='t_us', direction='forward', prefix='f_')

    tp, tn = F.col('b_t_us'), F.col('f_t_us')
    frac = F.when(tn > tp, (F.col('t_us') - tp).cast('double')
                  / (tn - tp).cast('double')).otherwise(F.lit(0.0))
    if method == 'linear':
        lon_i = (F.col('b_p_lon')
                 + (F.col('f_p_lon') - F.col('b_p_lon')) * frac)
        lat_i = (F.col('b_p_lat')
                 + (F.col('f_p_lat') - F.col('b_p_lat')) * frac)
    elif method == 'slerp':
        # great-circle interpolation: geodetically correct for sparse
        # pings / long hops where linear lon/lat cuts the chord.
        # Staged through explicit projections (same float-op order as
        # functions/geo.py slerp_exprs, value-identical): the single
        # inlined Column tree duplicates every unit-vector/omega
        # subterm into lon AND lat, ballooning codegen past the JIT
        # limit — measured 2x slower than this staged form at 210k
        # grid rows. Catalyst keeps the stages apart because each
        # alias is referenced more than once downstream.
        both = _slerp_staged(both, frac)
        lon_i, lat_i = F.col('__sl_lon'), F.col('__sl_lat')
    else:
        raise ValueError(f'method must be linear|slerp: {method!r}')
    lon = (F.when(tp.isNull(), F.col('f_p_lon'))
           .when(tn.isNull(), F.col('b_p_lon'))
           .otherwise(lon_i))
    lat = (F.when(tp.isNull(), F.col('f_p_lat'))
           .when(tn.isNull(), F.col('b_p_lat'))
           .otherwise(lat_i))
    return both.select(
        entity_col,
        (F.col('t_us') / F.lit(1_000_000)).cast('long').alias('epoch_sec'),
        lon.alias('lon'), lat.alias('lat'))


def simplify_track_radial(tracks: DataFrame, epsilon_m: float,
                          entity_col: str = 'entity',
                          time_col: str = 'dt_start',
                          lon_col: str = 'lon',
                          lat_col: str = 'lat') -> DataFrame:
    """Radial-distance track simplification: the greedy ping-thinning
    every GPS ingest pipeline runs before storage.

    Per entity in time order: the first ping is kept; a later ping is
    kept iff its haversine distance from the last KEPT ping is
    >= ``epsilon_m`` (the anchor then moves). Same anchor-recursion
    shape as filter_impossible_journeys — not window-expressible, so
    the same applyInPandas plan (one shuffle on the entity key); the
    oracle replays the recursion with a recursive CTE.
    """
    from geostructures_spark.kernels.geodesy import haversine_distance
    out_schema = tracks.schema

    def per_entity(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col, kind='stable').reset_index(drop=True)
        if not len(pdf):
            return pdf
        lons = pdf[lon_col].to_numpy(np.float64)
        lats = pdf[lat_col].to_numpy(np.float64)
        keep = np.zeros(len(pdf), dtype=bool)
        a = -1
        for j in range(len(pdf)):
            if a < 0 or float(haversine_distance(
                    lons[a], lats[a], lons[j], lats[j])) >= epsilon_m:
                keep[j] = True
                a = j
        return pdf.iloc[keep]

    return tracks.groupBy(entity_col).applyInPandas(per_entity,
                                                    schema=out_schema)
