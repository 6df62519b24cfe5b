"""DuckDB-SQL replay of the S2 cell-id forward transform.

Independent execution of kernels/s2.py (cube face -> quadratic st ->
Hilbert curve position -> 64-bit id), one 2-bit Hilbert step per CTE
layer with the published order/orientation tables as array literals.
UBIGINT arithmetic uses multiplication by power-of-two constants
(DuckDB's << overflow-checks at bit 61). Same oracle standard as
oracles/h3_sql.py.
"""

from __future__ import annotations

from oracles.h3_sql import _Pipe, _r

__all__ = ['s2_latlng_to_token_sql', 's2_cell_center_sql',
           's2_circle_cover_counts_sql']

def s2_latlng_to_token_sql(points_sql: str, level: int,
                           id_col: str = 'pid') -> str:
    """SQL producing ({id_col}, cell) — canonical S2 tokens at ``level``
    for every (lon, lat) row of ``points_sql``."""
    from geostructures_spark.kernels import s2 as S

    # build the 1-indexed lookup literal from the kernel's table so the
    # two implementations share one source of truth
    ij_to_pos = ('[' + ', '.join(
        '[' + ', '.join(str(int(S._IJ_TO_POS[o, ij]) + 1) for ij in range(4)) + ']'
        for o in range(4)) + ']')
    pos_to_orient = ('[' + ', '.join(str(int(v)) for v in S._POS_TO_ORIENT)
                     + ']')

    pipe = _Pipe('s2pts')
    pipe.layer({
        'px': 'cos(radians(lat)) * cos(radians(lon))',
        'py': 'cos(radians(lat)) * sin(radians(lon))',
        'pz': 'sin(radians(lat))',
    })
    pipe.layer({'ax': 'abs(px)', 'ay': 'abs(py)', 'az': 'abs(pz)'})
    pipe.layer({'f0': """CASE WHEN ax >= ay THEN
                    CASE WHEN ax >= az THEN 0 ELSE 2 END
                  ELSE CASE WHEN ay >= az THEN 1 ELSE 2 END END"""})
    pipe.layer({'face': """f0 + CASE WHEN
        (CASE f0 WHEN 0 THEN px WHEN 1 THEN py ELSE pz END) < 0.0e0
        THEN 3 ELSE 0 END"""})
    pipe.layer({
        'fu': """CASE face
            WHEN 0 THEN py / px WHEN 1 THEN -px / py WHEN 2 THEN -px / pz
            WHEN 3 THEN pz / px WHEN 4 THEN pz / py ELSE -py / pz END""",
        'fv': """CASE face
            WHEN 0 THEN pz / px WHEN 1 THEN pz / py WHEN 2 THEN -py / pz
            WHEN 3 THEN py / px WHEN 4 THEN -px / py ELSE -px / pz END""",
    })
    st = ("""CASE WHEN {0} >= 0.0e0
             THEN 0.5e0 * sqrt(1.0e0 + 3.0e0 * {0})
             ELSE 1.0e0 - 0.5e0 * sqrt(1.0e0 - 3.0e0 * {0}) END""")
    pipe.layer({'fs': st.format('fu'), 'ft': st.format('fv')})
    max_ij = (1 << S.MAX_LEVEL) - 1
    pipe.layer({
        'ci': (f'LEAST(GREATEST(CAST(trunc(fs * {1 << S.MAX_LEVEL}) '
               f'AS BIGINT), 0), {max_ij})'),
        'cj': (f'LEAST(GREATEST(CAST(trunc(ft * {1 << S.MAX_LEVEL}) '
               f'AS BIGINT), 0), {max_ij})'),
    })
    # Hilbert walk: one 2-bit step per layer, MSB first
    pipe.layer({'o0': 'face % 2', 'p0': 'CAST(0 AS UBIGINT)'})
    for step, k in enumerate(range(S.MAX_LEVEL - 1, -1, -1)):
        prev_o, prev_p = f'o{step}', f'p{step}'
        ij = f'((ci // {1 << k}) % 2) * 2 + ((cj // {1 << k}) % 2)'
        pipe.layer({f'd{step}': f'{ij_to_pos}[{prev_o} + 1][{ij} + 1] - 1'})
        pipe.layer({
            f'o{step + 1}': f'xor({prev_o}, {pos_to_orient}[d{step} + 1])',
            f'p{step + 1}': (f'{prev_p} * CAST(4 AS UBIGINT) '
                             f'+ CAST(d{step} AS UBIGINT)'),
        })
    pos = f'p{S.MAX_LEVEL}'
    # leaf id then ancestor at `level` (clear below the sentinel, set it)
    two61 = 1 << 61
    lsb = 1 << (2 * (S.MAX_LEVEL - level))
    pipe.layer({'leaf': (f'CAST(face AS UBIGINT) * {two61} '
                         f'+ {pos} * CAST(2 AS UBIGINT) '
                         f'+ CAST(1 AS UBIGINT)')})
    pipe.layer({'cid': (f'leaf - (leaf % {2 * lsb}) '
                        f'+ CAST({lsb} AS UBIGINT)')})
    pipe.layer({'cell': "rtrim(lpad(lower(to_hex(cid)), 16, '0'), '0')"})
    ctes = ',\n'.join([f's2pts AS ({points_sql})'] + pipe.ctes)
    return f'WITH {ctes}\nSELECT {id_col}, cell FROM {pipe.prev}'


def s2_cell_center_sql(cells_sql: str, level: int,
                       id_cols: str = 'cid') -> str:
    """SQL producing ({id_cols}, clat, clng) — the S2 cell-center
    geodetic coordinates for every row of ``cells_sql`` (exposing
    {id_cols} and a UBIGINT id column ``h`` at the given fixed level).
    Mirrors kernels/s2.py cell_to_latlng: reverse Hilbert walk (level
    steps), center (i + 0.5) leaf coordinates, quadratic st->uv, face
    frame to xyz, xyz to lat/lng."""
    from geostructures_spark.kernels import s2 as S

    pos_to_ij = ('[' + ', '.join(
        '[' + ', '.join(str(int(S._POS_TO_IJ[o, p]) + 1) for p in range(4)) + ']'
        for o in range(4)) + ']')
    pos_to_orient = ('[' + ', '.join(str(int(v)) for v in S._POS_TO_ORIENT)
                     + ']')

    pipe = _Pipe('s2cells')
    two61 = 1 << 61
    pipe.layer({'cface': f'CAST(h // {two61} AS BIGINT)',
                'cpos': f'(h % {two61}) // CAST(2 AS UBIGINT)'})
    pipe.layer({'io0': 'cface % 2', 'ii0': 'CAST(0 AS BIGINT)',
                'ij0': 'CAST(0 AS BIGINT)'})
    for lvl in range(level):
        shift = 60 - 2 * (lvl + 1)
        prev = f'{lvl}'
        pipe.layer({f'q{lvl}': (f'CAST((cpos // {1 << shift}) '
                                f'% CAST(4 AS UBIGINT) AS BIGINT)')})
        pipe.layer({f'ijv{lvl}': f'{pos_to_ij}[io{prev} + 1][q{lvl} + 1] - 1'})
        pipe.layer({
            f'ii{lvl + 1}': f'ii{prev} * 2 + (ijv{lvl} // 2)',
            f'ij{lvl + 1}': f'ij{prev} * 2 + (ijv{lvl} % 2)',
            f'io{lvl + 1}': f'xor(io{prev}, {pos_to_orient}[q{lvl} + 1])',
        })
    size = float(1 << (S.MAX_LEVEL - level))
    inv_max = 1.0 / (1 << S.MAX_LEVEL)
    st = ('(CAST({0} AS DOUBLE) * {1} + {2}) * {3}'
          .format('{0}', repr(size), repr(size * 0.5), repr(inv_max)))
    uv = ("""CASE WHEN {0} >= 0.5e0
             THEN (4.0e0 * {0} * {0} - 1.0e0) / 3.0e0
             ELSE (1.0e0 - 4.0e0 * (1.0e0 - {0}) * (1.0e0 - {0})) / 3.0e0
             END""")
    pipe.layer({'cs': st.format(f'ii{level}'), 'ct': st.format(f'ij{level}')})
    pipe.layer({'cu': uv.format('cs'), 'cv': uv.format('ct')})
    pipe.layer({
        'gx': """CASE cface WHEN 0 THEN 1.0e0 WHEN 1 THEN -cu
                 WHEN 2 THEN -cu WHEN 3 THEN -1.0e0 WHEN 4 THEN cv
                 ELSE cv END""",
        'gy': """CASE cface WHEN 0 THEN cu WHEN 1 THEN 1.0e0
                 WHEN 2 THEN -cv WHEN 3 THEN -cv WHEN 4 THEN -1.0e0
                 ELSE cu END""",
        'gz': """CASE cface WHEN 0 THEN cv WHEN 1 THEN cv
                 WHEN 2 THEN 1.0e0 WHEN 3 THEN -cu WHEN 4 THEN -cu
                 ELSE -1.0e0 END""",
    })
    pipe.layer({'clat': 'degrees(atan2(gz, sqrt(gx * gx + gy * gy)))',
                'clng': 'degrees(atan2(gy, gx))'})
    ctes = ',\n'.join([f's2cells AS ({cells_sql})'] + pipe.ctes)
    return f'WITH {ctes}\nSELECT {id_cols}, clat, clng FROM {pipe.prev}'


def s2_circle_cover_counts_sql(shapes_sql: str, level: int,
                               radius_m: float, ring_k: int = 36) -> str:
    """Per-shape S2 polyfill counts for circles, fully replayed in SQL —
    the same structure as the H3 cover oracle (oracles/h3_sql.py): polar
    candidate grid -> forward transform -> distinct cells -> inverse for
    centers -> even-odd PIP of centers vs the circle's discretized ring
    in the antimeridian-unwrapped frame. Candidate grid spacing is 0.4x
    the published minimum cell width at ``level``, so every cell whose
    center can be inside holds a sample."""
    import math as _m

    from geostructures_spark.kernels import s2 as S

    R = 6371000.0
    tau = _r(2 * _m.pi)
    step = S.min_cell_width_deg(level) * 111194.92664455873 * 0.4
    pad = S.min_cell_width_deg(level) * 111194.92664455873 * 2.0
    n_rad = int(_m.ceil((radius_m + pad + step) / step))

    def dest(lat1, lon1, brad, ang):
        sinlat2 = (f'(sin({lat1}) * cos({ang}) + cos({lat1}) * sin({ang})'
                   f' * cos({brad}))')
        return (f'asin({sinlat2})',
                f'({lon1} + atan2(sin({brad}) * sin({ang}) * cos({lat1}), '
                f'cos({ang}) - sin({lat1}) * {sinlat2}))')

    lat2, lon2 = dest('radians(q_lat)', 'radians(q_lon)', 'brad', 'ang')
    ring_sql = f"""
      SELECT shape_id, vi,
             degrees({lon2}) AS vlon, degrees({lat2}) AS vlat
      FROM (
        SELECT s.shape_id, s.q_lon, s.q_lat, t.vi,
               radians(degrees({_r(2 * _m.pi / ring_k)} *
                               ({ring_k} + 1 - t.vi))) AS brad,
               {_r(radius_m / R)} AS ang
        FROM ({shapes_sql}) s CROSS JOIN range(1, {ring_k + 1}) t(vi))"""

    grid_sql = f"""
      SELECT shape_id, gidx,
             CASE WHEN lon0 > 180.0e0 THEN lon0 - 360.0e0
                  WHEN lon0 < -180.0e0 THEN lon0 + 360.0e0
                  ELSE lon0 END AS lon, lat FROM (
        SELECT s.shape_id,
               g.rk * 100000 + g.ai AS gidx,
               degrees({lon2}) AS lon0, degrees({lat2}) AS lat
        FROM ({shapes_sql}) s
        JOIN (
          SELECT r.rk, a.ai,
                 CAST(r.rk AS DOUBLE) * {_r(step)} - {_r(step / 2)} AS dist
          FROM range(1, {n_rad + 1}) r(rk)
          CROSS JOIN range(0, {int(_m.ceil(2 * _m.pi * (n_rad + 1))) + 1}) a(ai)
          WHERE a.ai < CAST(ceil({tau} * (CAST(r.rk AS DOUBLE) * {_r(step)} - {_r(step / 2)}) / {_r(step)}) AS BIGINT)
        ) g ON TRUE
        CROSS JOIN LATERAL (SELECT radians(360.0e0 * g.ai /
                 ceil({tau} * g.dist / {_r(step)})) AS brad,
                 g.dist / {_r(R)} AS ang) x
        UNION ALL
        SELECT shape_id, 0 AS gidx, q_lon AS lon0, q_lat AS lat
        FROM ({shapes_sql}))"""

    fwd = s2_latlng_to_token_sql(grid_sql, level, id_col='shape_id, gidx')
    # keep the raw UBIGINT id alongside the token for the inverse
    fwd = fwd.replace('SELECT shape_id, gidx, cell FROM',
                      'SELECT shape_id, gidx, cell, cid FROM')

    inv = s2_cell_center_sql('SELECT h AS cid, h FROM cells', level,
                             id_cols='cid')

    rhu = "round({0} + 1e-22, 10)"
    return f"""
WITH cand AS MATERIALIZED (
  SELECT DISTINCT shape_id, cid AS h FROM ({fwd})),
cells AS (SELECT DISTINCT h FROM cand),
cent AS (SELECT cid AS h, clat, clng FROM ({inv})),
shf AS (SELECT shape_id AS fs_id, q_lon AS frame FROM ({shapes_sql})),
cc AS (
  SELECT c.shape_id, c.h, ct.clat AS t_lat,
         ct.clng + 360.0e0 * round((f.frame - ct.clng) / 360.0e0)
           AS p_lon0
  FROM cand c
  JOIN cent ct ON ct.h = c.h
  JOIN shf f ON f.fs_id = c.shape_id),
redge AS (
  SELECT a.shape_id, a.vi,
         a.vlon AS ga0, a.vlat AS la, b.vlon AS gb0, b.vlat AS lb
  FROM ({ring_sql}) a
  JOIN ({ring_sql}) b
    ON b.shape_id = a.shape_id AND b.vi = (a.vi % {ring_k}) + 1),
eb AS (
  SELECT shape_id, vi, la, lb, ga0 AS ga,
         CASE WHEN abs(ga0 - gb0) > 180.0e0 THEN
           CASE WHEN ga0 < 0.0e0 THEN gb0 - 360.0e0 ELSE gb0 + 360.0e0 END
         ELSE gb0 END AS gb
  FROM redge),
pe AS (
  SELECT cc.shape_id, cc.h, cc.t_lat, e.la, e.lb, e.ga, e.gb,
         CASE WHEN cc.p_lon0 - (e.ga + e.gb) / 2.0e0 > 180.0e0
              THEN cc.p_lon0 - 360.0e0
              WHEN (e.ga + e.gb) / 2.0e0 - cc.p_lon0 > 180.0e0
              THEN cc.p_lon0 + 360.0e0
              ELSE cc.p_lon0 END AS p_lon
  FROM cc JOIN eb e ON e.shape_id = cc.shape_id),
px AS (
  SELECT *, la = lb AS horiz,
         CASE WHEN la = lb THEN 1e308
              ELSE {rhu.format('ga + (t_lat - la) * (gb - ga) / (lb - la)')}
         END AS lon_cross
  FROM pe),
pv AS (
  SELECT shape_id, h,
         MAX(CASE WHEN (horiz AND la = t_lat
                        AND LEAST(ga, gb) <= p_lon
                        AND p_lon <= GREATEST(ga, gb))
                  OR ((NOT horiz)
                      AND LEAST(la, lb) <= t_lat
                      AND t_lat <= GREATEST(la, lb)
                      AND lon_cross = {rhu.format('p_lon')})
                  THEN 1 ELSE 0 END) AS on_boundary,
         SUM(CASE WHEN (NOT horiz)
                       AND ((la > t_lat) <> (lb > t_lat))
                       AND lon_cross > p_lon
                  THEN 1 ELSE 0 END) AS crossings
  FROM px GROUP BY shape_id, h)
SELECT CAST(shape_id AS BIGINT) AS shape_id,
       CAST(SUM(CASE WHEN on_boundary = 0 AND crossings % 2 = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_cells
FROM pv GROUP BY shape_id ORDER BY shape_id"""
