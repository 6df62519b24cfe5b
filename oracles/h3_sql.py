"""DuckDB-SQL replay of the H3 forward transform (latlng -> cell).

Purpose: convert the engine's H3 contract queries from rows-only checks
into value-exact oracles (r2-verdict task 4). DuckDB has no H3 extension
in this environment, so the oracle re-derives every cell id from pure
SQL arithmetic: nearest icosahedron face (20-row VALUES + argmin),
gnomonic projection to the face hex grid, the published hex2d->IJK
rounding, the aperture-7 upward walk collecting one digit per
resolution, the [face][i][j][k] base-cell/rotation lookup (540-row
VALUES generated from the kernel's calibrated tables), and the full
rotation assembly — including the pentagon path (leading-K cw/ccw offset
adjustment and the conditional-double-ccw pentagon rotation, which is
algebraically equal to the reference's digit-by-digit loop; see
_pent_rotate_sql).

The SQL mirrors kernels/h3_core.py (golden-verified against the h3 C
library) operation-for-operation; constants are embedded as exact repr
literals so both engines compute from identical doubles. The replay is
an independent EXECUTION of the same published algorithm — the same
standard the Niemeyer cover oracle uses (grid constants shared, every
arithmetic step re-run by DuckDB).

No exact-tie hazards: the only round() calls act on n/7 for integer n
(never a .5), and the int casts are explicit trunc/floor of
non-negative values.
"""

from __future__ import annotations

import math
from typing import List

import numpy as np

__all__ = ['latlng_to_cell_sql', 'h3_tables_sql']


def _r(x) -> str:
    """Exact round-trip double literal, DuckDB-typed."""
    s = repr(float(x))
    if 'e' not in s and '.' not in s:
        s += '.0'
    return s + 'e0' if 'e' not in s else s


def _faces_values() -> str:
    from geostructures_spark.kernels import h3_core as H
    rows = []
    for f in range(20):
        x, y, z = H._FACE_XYZ[f]
        rows.append(f'({f}, {_r(x)}, {_r(y)}, {_r(z)}, '
                    f'{_r(H._FACE_LAT[f])}, {_r(H._FACE_LON[f])}, '
                    f'{_r(H._FACE_AZ[f])})')
    return ('faces(face, fx, fy, fz, flat, flon, faz) AS (VALUES\n  '
            + ',\n  '.join(rows) + ')')


def _bc_values() -> str:
    """[face][i][j][k] -> (base cell, ccw rotations, pentagon flag,
    cw-offset flag) from the kernel's calibrated tables."""
    from geostructures_spark.kernels import h3_core as H
    from geostructures_spark.kernels import h3_tables as T
    bc_tab, rot_tab = H._calibrated_tables()
    rows = []
    for f in range(20):
        for i in range(3):
            for j in range(3):
                for k in range(3):
                    bc = int(bc_tab[f, i, j, k])
                    if bc < 0:
                        continue
                    rot = int(rot_tab[f, i, j, k])
                    pent = int(T.base_cell_is_pentagon(bc))
                    cwoff = int(pent and T.base_cell_is_cw_offset(bc, f))
                    rows.append(f'({f},{i},{j},{k},{bc},{rot},{pent},{cwoff})')
    return ('bctab(face, bi, bj, bk, bc, rot, pent, cwoff) AS (VALUES\n  '
            + ',\n  '.join(rows) + ')')


_CCW = '[0, 5, 3, 1, 6, 4, 2]'   # digit -> ccw-rotated digit (1-indexed via d+1)
_CW = '[0, 3, 6, 2, 5, 1, 4]'


def _rotpow_literal() -> str:
    from geostructures_spark.kernels import h3_core as H
    return ('[' + ', '.join(
        '[' + ', '.join(str(int(v)) for v in H._ROT60CCW_POW[r]) + ']'
        for r in range(6)) + ']')


def _norm_layers(pipe: '_Pipe', a: str, b: str, c: str, out: str) -> None:
    """ijk normalization (kernels/h3_core.py _ijk_normalize): three signed
    folds then min-subtraction, one CTE layer each."""
    a0, b0, c0 = f'{out}_a0', f'{out}_b0', f'{out}_c0'
    pipe.layer({a0: f'CASE WHEN {a} < 0 THEN 0 ELSE {a} END',
                b0: f'CASE WHEN {a} < 0 THEN {b} - {a} ELSE {b} END',
                c0: f'CASE WHEN {a} < 0 THEN {c} - {a} ELSE {c} END'})
    a1, b1, c1 = f'{out}_a1', f'{out}_b1', f'{out}_c1'
    pipe.layer({a1: f'CASE WHEN {b0} < 0 THEN {a0} - {b0} ELSE {a0} END',
                b1: f'CASE WHEN {b0} < 0 THEN 0 ELSE {b0} END',
                c1: f'CASE WHEN {b0} < 0 THEN {c0} - {b0} ELSE {c0} END'})
    a2, b2, c2 = f'{out}_a2', f'{out}_b2', f'{out}_c2'
    pipe.layer({a2: f'CASE WHEN {c1} < 0 THEN {a1} - {c1} ELSE {a1} END',
                b2: f'CASE WHEN {c1} < 0 THEN {b1} - {c1} ELSE {b1} END',
                c2: f'CASE WHEN {c1} < 0 THEN 0 ELSE {c1} END'})
    m = f'LEAST({a2}, {b2}, {c2})'
    pipe.layer({f'{out}_i': f'{a2} - {m}',
                f'{out}_j': f'{b2} - {m}',
                f'{out}_k': f'{c2} - {m}'})


class _Pipe:
    """Chained-CTE builder: each layer adds computed columns on top of the
    previous CTE (SELECT *, <new> FROM prev)."""

    def __init__(self, base_name: str):
        self.prev = base_name
        self.ctes: List[str] = []
        self.n = 0

    def layer(self, exprs: dict) -> str:
        self.n += 1
        name = f's{self.n}'
        cols = ',\n    '.join(f'{e} AS {k}' for k, e in exprs.items())
        self.ctes.append(f'{name} AS (\n  SELECT *,\n    {cols}\n'
                         f'  FROM {self.prev})')
        self.prev = name
        return name

    def join(self, join_clause: str, exprs: dict) -> str:
        """Layer with a JOIN: SELECT prev.*, <exprs> FROM prev <join>."""
        self.n += 1
        name = f's{self.n}'
        cols = ',\n    '.join(f'{e} AS {k}' for k, e in exprs.items())
        self.ctes.append(
            f'{name} AS (\n  SELECT {self.prev}.*,\n    {cols}\n'
            f'  FROM {self.prev} {join_clause})')
        self.prev = name
        return name


def latlng_to_cell_sql(points_sql: str, res: int,
                       id_col: str = 'pid') -> str:
    # id_col may be a comma-separated list of id columns
    """SQL producing ({id_col}, cell) — H3 cell hex strings at ``res`` for
    every row of ``points_sql`` (must expose {id_col}, lon, lat).

    Mirrors kernels/h3_core.py latlng_to_cell exactly; see module
    docstring. Points whose base-cell walk lands outside the [0,2]^3
    table range (the kernel's epsilon-retry path) would drop from the
    join and surface as a row-count mismatch — an honest failure, never
    a silently wrong cell."""
    from geostructures_spark.kernels import h3_tables as T

    class_iii = res % 2 == 1
    sqrt7_pow = _r(T.M_SQRT7 ** res)
    res0 = _r(T.RES0_U_GNOMONIC)
    ap7rot = _r(T.M_AP7_ROT_RADS)
    sin60 = _r(math.sqrt(3.0) / 2.0)
    tau = _r(2 * math.pi)

    pipe = _Pipe('pf')

    # --- gnomonic projection onto the nearest face's res grid ---
    pos_az = f'(CASE WHEN az < 0 THEN az + {tau} WHEN az >= {tau} THEN az - {tau} ELSE az END)'
    pipe.layer({
        'r_ang': 'acos(GREATEST(-1.0e0, LEAST(1.0e0, 1.0e0 - sqd / 2.0e0)))',
        'az': ('atan2(cos(radians(lat)) * sin(radians(lon) - flon), '
               'cos(flat) * sin(radians(lat)) - sin(flat) * '
               'cos(radians(lat)) * cos(radians(lon) - flon))'),
    })
    pipe.layer({'th0': f'faz - {pos_az}'})
    pipe.layer({'th1': f'(CASE WHEN th0 < 0 THEN th0 + {tau} WHEN th0 >= {tau} THEN th0 - {tau} ELSE th0 END)'})
    if class_iii:
        pipe.layer({'th2': f'th1 - {ap7rot}'})
        pipe.layer({'theta': f'(CASE WHEN th2 < 0 THEN th2 + {tau} WHEN th2 >= {tau} THEN th2 - {tau} ELSE th2 END)'})
    else:
        pipe.layer({'theta': 'th1'})
    pipe.layer({'rr': f'tan(r_ang) / {res0} * {sqrt7_pow}'})
    pipe.layer({
        'hx': 'CASE WHEN sqd < 1e-20 THEN 0.0e0 ELSE rr * cos(theta) END',
        'hy': 'CASE WHEN sqd < 1e-20 THEN 0.0e0 ELSE rr * sin(theta) END',
    })

    # --- hex2d -> IJK (published rounding, branch-for-branch) ---
    pipe.layer({
        'a1': 'abs(hx)', 'a2': 'abs(hy)',
    })
    pipe.layer({'hx2': f'a2 / {sin60}'})
    pipe.layer({'hx1': 'a1 + hx2 / 2.0e0'})
    pipe.layer({
        'm1': 'CAST(trunc(hx1) AS BIGINT)', 'm2': 'CAST(trunc(hx2) AS BIGINT)',
    })
    pipe.layer({'r1': 'hx1 - m1', 'r2': 'hx2 - m2'})
    # i/j selection table from the reference rounding
    i_expr = """CASE
      WHEN r1 < 0.5e0 THEN CASE
        WHEN r1 < (1.0e0/3.0e0) THEN m1
        WHEN ((1.0e0 - r1) <= r2) AND (r2 < (2.0e0 * r1)) THEN m1 + 1
        ELSE m1 END
      ELSE CASE
        WHEN r1 < (2.0e0/3.0e0) THEN
          CASE WHEN ((2.0e0 * r1 - 1.0e0) < r2) AND (r2 < (1.0e0 - r1))
               THEN m1 ELSE m1 + 1 END
        ELSE m1 + 1 END
      END"""
    j_expr = """CASE
      WHEN r1 < 0.5e0 THEN CASE
        WHEN r1 < (1.0e0/3.0e0) THEN
          CASE WHEN r2 < ((1.0e0 + r1) / 2.0e0) THEN m2 ELSE m2 + 1 END
        ELSE CASE WHEN r2 < (1.0e0 - r1) THEN m2 ELSE m2 + 1 END END
      ELSE CASE
        WHEN r1 < (2.0e0/3.0e0) THEN
          CASE WHEN r2 < (1.0e0 - r1) THEN m2 ELSE m2 + 1 END
        ELSE CASE WHEN r2 < (r1 / 2.0e0) THEN m2 ELSE m2 + 1 END END
      END"""
    pipe.layer({'qi': i_expr, 'qj': j_expr})
    # fold across axes (j >= 0 throughout, so // is plain floor)
    pipe.layer({'fi': """CASE WHEN hx < 0.0e0 THEN
        CASE WHEN qj % 2 = 0 THEN qi - 2 * (qi - qj // 2)
             ELSE qi - (2 * (qi - (qj + 1) // 2) + 1) END
        ELSE qi END"""})
    pipe.layer({
        'gi': 'CASE WHEN hy < 0.0e0 THEN fi - (2 * qj + 1) // 2 ELSE fi END',
        'gj': 'CASE WHEN hy < 0.0e0 THEN -qj ELSE qj END',
    })
    _norm_layers(pipe, 'gi', 'gj', '0', f'w{res}')

    # --- aperture-7 upward walk: digit per resolution ---
    for r in range(res, 0, -1):
        cur = f'w{r}'       # ijk at res r (normalized)
        parent = f'w{r - 1}'
        ci, cj, ck = f'{cur}_i', f'{cur}_j', f'{cur}_k'
        pipe.layer({f'di{r}': f'CAST({ci} - {ck} AS DOUBLE)',
                    f'dj{r}': f'CAST({cj} - {ck} AS DOUBLE)'})
        if r % 2 == 1:  # class III child: _up_ap7
            up_i = f'CAST(round((3.0e0 * di{r} - dj{r}) / 7.0e0) AS BIGINT)'
            up_j = f'CAST(round((di{r} + 2.0e0 * dj{r}) / 7.0e0) AS BIGINT)'
        else:           # class II child: _up_ap7r
            up_i = f'CAST(round((2.0e0 * di{r} + dj{r}) / 7.0e0) AS BIGINT)'
            up_j = f'CAST(round((3.0e0 * dj{r} - di{r}) / 7.0e0) AS BIGINT)'
        pipe.layer({f'u{r}_i': up_i, f'u{r}_j': up_j})
        _norm_layers(pipe, f'u{r}_i', f'u{r}_j', '0', parent)
        pi, pj, pk = f'{parent}_i', f'{parent}_j', f'{parent}_k'
        # center = down(parent), matching variant; non-negative combos so
        # only the min-subtraction step of normalize applies
        if r % 2 == 1:  # _down_ap7: i->(3,0,1), j->(1,3,0), k->(0,1,3)
            c_i = f'(3 * {pi} + 1 * {pj} + 0 * {pk})'
            c_j = f'(0 * {pi} + 3 * {pj} + 1 * {pk})'
            c_k = f'(1 * {pi} + 0 * {pj} + 3 * {pk})'
        else:           # _down_ap7r: i->(3,1,0), j->(0,3,1), k->(1,0,3)
            c_i = f'(3 * {pi} + 0 * {pj} + 1 * {pk})'
            c_j = f'(1 * {pi} + 3 * {pj} + 0 * {pk})'
            c_k = f'(0 * {pi} + 1 * {pj} + 3 * {pk})'
        pipe.layer({f'c{r}_i0': c_i, f'c{r}_j0': c_j, f'c{r}_k0': c_k})
        cm = f'LEAST(c{r}_i0, c{r}_j0, c{r}_k0)'
        pipe.layer({f'c{r}_i': f'c{r}_i0 - {cm}',
                    f'c{r}_j': f'c{r}_j0 - {cm}',
                    f'c{r}_k': f'c{r}_k0 - {cm}'})
        # digit = unit-vector match of normalize(cur - center)
        _norm_layers(pipe, f'({ci} - c{r}_i)', f'({cj} - c{r}_j)',
                     f'({ck} - c{r}_k)', f'e{r}')
        pipe.layer({f'd{r}': f"""CASE
          WHEN e{r}_i = 0 AND e{r}_j = 0 AND e{r}_k = 0 THEN 0
          WHEN e{r}_i = 0 AND e{r}_j = 0 AND e{r}_k = 1 THEN 1
          WHEN e{r}_i = 0 AND e{r}_j = 1 AND e{r}_k = 0 THEN 2
          WHEN e{r}_i = 0 AND e{r}_j = 1 AND e{r}_k = 1 THEN 3
          WHEN e{r}_i = 1 AND e{r}_j = 0 AND e{r}_k = 0 THEN 4
          WHEN e{r}_i = 1 AND e{r}_j = 0 AND e{r}_k = 1 THEN 5
          WHEN e{r}_i = 1 AND e{r}_j = 1 AND e{r}_k = 0 THEN 6
          ELSE -1 END"""})

    # digits list (res entries, index 1 = res 1 digit)
    ds_lit = ('[' + ', '.join(f'd{r}' for r in range(1, res + 1)) + ']'
              if res >= 1 else 'CAST([] AS BIGINT[])')
    pipe.layer({'ds': ds_lit})
    walk = pipe.prev

    # --- base cell lookup + rotation assembly ---
    rotpow = _rotpow_literal()
    lead = "coalesce(list_filter({0}, d -> d != 0)[1], 0)"
    # pentagon leading-K adjustment (cw when cwoff, ccw otherwise)
    pent_adj = f"""CASE
      WHEN pent = 1 AND {lead.format('ds')} = 1 THEN
        CASE WHEN cwoff = 1
             THEN list_transform(ds, d -> {_CW}[d + 1])
             ELSE list_transform(ds, d -> {_CCW}[d + 1]) END
      ELSE ds END"""
    # one pentagon ccw rotation == rotate all digits ccw, then once more
    # if the leading nonzero digit became K (algebraic collapse of the
    # reference's sequential loop; see kernels/h3_core.py _rotate_pent60ccw)
    pent_step = (f"CASE WHEN {lead.format('list_transform({0}, d -> ' + _CCW + '[d + 1])')} = 1 "
                 f"THEN list_transform(list_transform({{0}}, d -> {_CCW}[d + 1]), d -> {_CCW}[d + 1]) "
                 f"ELSE list_transform({{0}}, d -> {_CCW}[d + 1]) END")

    asm = [f"""lk AS (
  SELECT w.*, b.bc, b.rot, b.pent, b.cwoff
  FROM {walk} w
  JOIN bctab b ON b.face = w.face AND b.bi = w.w0_i
              AND b.bj = w.w0_j AND b.bk = w.w0_k)"""]
    asm.append(f"""p0 AS (
  SELECT *, {pent_adj} AS pd0 FROM lk)""")
    prev = 'pd0'
    for it in range(1, 6):
        step = pent_step.format(prev)
        asm.append(f"""p{it} AS (
  SELECT *, CASE WHEN pent = 1 AND rot >= {it} THEN {step}
                 ELSE {prev} END AS pd{it} FROM p{it - 1})""")
        prev = f'pd{it}'
    asm.append(f"""fin AS (
  SELECT *, CASE WHEN pent = 1 THEN {prev}
                 ELSE list_transform(ds, d -> {rotpow}[rot + 1][d + 1]) END
            AS fd FROM p5)""")
    # index assembly: mode 1, res, base cell, digits, trailing 7s
    head = (1 << 59) | (res << 52)
    trailing = sum(7 << (3 * (15 - rr)) for rr in range(res + 1, 16))
    digit_terms = ' + '.join(
        f'CAST(fd[{r}] AS BIGINT) * {1 << (3 * (15 - r))}'
        for r in range(1, res + 1)) or '0'
    asm.append(f"""idx AS (
  SELECT {id_col}, {head + trailing} + CAST(bc AS BIGINT) * {1 << 45}
         + {digit_terms} AS h FROM fin)""")

    ctes = ',\n'.join(
        [f'h3pts AS ({points_sql})',
         _faces_values(),
         _bc_values(),
         """pf AS (
  SELECT * FROM (
    SELECT q.*, ROW_NUMBER() OVER (PARTITION BY q.""" + id_col + """
                                   ORDER BY q.sqd ASC, q.face ASC) AS fr
    FROM (
      SELECT p.*, f.face, f.flat, f.flon, f.faz,
             (cos(radians(p.lat)) * cos(radians(p.lon)) - f.fx) ^ 2
             + (cos(radians(p.lat)) * sin(radians(p.lon)) - f.fy) ^ 2
             + (sin(radians(p.lat)) - f.fz) ^ 2 AS sqd
      FROM h3pts p CROSS JOIN faces f) q) z
  WHERE fr = 1)"""]
        + pipe.ctes + asm)
    return (f'WITH {ctes}\n'
            f'SELECT {id_col}, printf(\'%x\', h) AS cell FROM idx')


def _affine_fn_values(adj_res: int) -> str:
    """face_neighbors overage transforms as a VALUES table with the
    rot-ccw matrix composed in Python (rot is constant per entry) and the
    translation pre-scaled by unitScaleByCIIres[adj_res]."""
    from geostructures_spark.kernels import h3_core as H
    fn = H.face_neighbors()
    unit = H._UNIT_SCALE_BY_CII_RES[adj_res]
    rows = []
    for face, quads in fn.items():
        for quad, (g, rot, trans) in quads.items():
            m = np.eye(3, dtype=np.int64)
            r_ccw = np.array([[1, 0, 1], [1, 1, 0], [0, 1, 1]],
                             dtype=np.int64)  # raw ccw rotate60
            for _ in range(rot):
                m = r_ccw @ m
            t = [int(v) * unit for v in trans]
            rows.append(f"({face}, '{quad}', {g}, "
                        + ', '.join(str(int(v)) for v in m.reshape(-1))
                        + f', {t[0]}, {t[1]}, {t[2]})')
    return ('fnt(face, quad, g, m00, m01, m02, m10, m11, m12, '
            'm20, m21, m22, t0, t1, t2) AS (VALUES\n  '
            + ',\n  '.join(rows) + ')')


def _bchome_values() -> str:
    from geostructures_spark.kernels import h3_tables as T
    rows = []
    for bc, (face, ijk, pent, _off) in enumerate(T.BASE_CELL_DATA):
        rows.append(f'({bc}, {face}, {ijk[0]}, {ijk[1]}, {ijk[2]}, {int(pent == 1)})')
    return ('bchome(bc, hface, hi, hj, hk, pent) AS (VALUES\n  '
            + ',\n  '.join(rows) + ')')


_POSMOD = '(CASE WHEN ({0} % {1}) < 0 THEN ({0} % {1}) + {1} ELSE ({0} % {1}) END)'


def _overage_app(pipe: '_Pipe', tag: str, i: str, j: str, k: str,
                 face: str, guard: str, max_dim: int,
                 pent_l4: str = 'FALSE') -> tuple:
    """One _adjust_overage_class_ii application (non-substrate), guarded.
    Returns (i', j', k', face', applied') column names."""
    s = f'({i} + {j} + {k})'
    pipe.layer({f'{tag}_ov': f'({guard}) AND {s} > {max_dim}',
                f'{tag}_q': f"""CASE WHEN {k} > 0 THEN
                    CASE WHEN {j} > 0 THEN 'jk' ELSE 'ki' END
                    ELSE 'ij' END"""})
    # pentagon leading-4 rotation out of the missing-k subsequence
    # (about the pentagon center (max_dim, 0, 0), raw cw)
    pi_ = f"""CASE WHEN {pent_l4} AND {tag}_q = 'ki'
              THEN (({i} - {max_dim}) + {j}) + {max_dim}
              ELSE {i} END"""
    pj_ = f"CASE WHEN {pent_l4} AND {tag}_q = 'ki' THEN {j} + {k} ELSE {j} END"
    pk_ = f"""CASE WHEN {pent_l4} AND {tag}_q = 'ki'
              THEN ({i} - {max_dim}) + {k} ELSE {k} END"""
    pipe.layer({f'{tag}_pi': pi_, f'{tag}_pj': pj_, f'{tag}_pk': pk_})
    pipe.join(f'LEFT JOIN fnt {tag}_f ON {tag}_f.face = {face} '
              f'AND {tag}_f.quad = {tag}_q',
              {f'{tag}_g': f'{tag}_f.g',
               **{f'{tag}_m{a}{b}': f'{tag}_f.m{a}{b}'
                  for a in range(3) for b in range(3)},
               **{f'{tag}_t{a}': f'{tag}_f.t{a}' for a in range(3)}})
    pipe.layer({
        f'{tag}_ri': (f'CASE WHEN {tag}_ov THEN {tag}_m00 * {tag}_pi + '
                      f'{tag}_m01 * {tag}_pj + {tag}_m02 * {tag}_pk + {tag}_t0 '
                      f'ELSE {i} END'),
        f'{tag}_rj': (f'CASE WHEN {tag}_ov THEN {tag}_m10 * {tag}_pi + '
                      f'{tag}_m11 * {tag}_pj + {tag}_m12 * {tag}_pk + {tag}_t1 '
                      f'ELSE {j} END'),
        f'{tag}_rk': (f'CASE WHEN {tag}_ov THEN {tag}_m20 * {tag}_pi + '
                      f'{tag}_m21 * {tag}_pj + {tag}_m22 * {tag}_pk + {tag}_t2 '
                      f'ELSE {k} END'),
        f'{tag}_gf': f'CASE WHEN {tag}_ov THEN {tag}_g ELSE {face} END',
    })
    _norm_layers(pipe, f'{tag}_ri', f'{tag}_rj', f'{tag}_rk', f'{tag}n')
    return (f'{tag}n_i', f'{tag}n_j', f'{tag}n_k', f'{tag}_gf', f'{tag}_ov')


def cell_to_latlng_sql(cells_sql: str, res: int,
                       id_cols: str = 'cid', h_col: str = 'h') -> str:
    """SQL producing ({id_cols}, clat, clng) — the H3 cell center in
    degrees for every row of ``cells_sql`` (exposing {id_cols} and a
    BIGINT index column {h_col}). Mirrors kernels/h3_core.py
    cell_to_latlng: pentagon leading-5 adjustment, class-aware downward
    descent, the overage face-crossing adjustment (pentagon cascade
    unrolled 3 deep), and the spherical az/distance destination."""
    from geostructures_spark.kernels import h3_core as H
    from geostructures_spark.kernels import h3_tables as T

    class_iii = res % 2 == 1
    adj_res = res + 1 if class_iii else res
    max_dim = H._MAX_DIM_BY_CII_RES[adj_res]
    sqrt7_pow = _r(T.M_SQRT7 ** res)
    res0 = _r(T.RES0_U_GNOMONIC)
    ap7rot = _r(T.M_AP7_ROT_RADS)
    sin60 = _r(math.sqrt(3.0) / 2.0)
    tau = _r(2 * math.pi)
    eps = '1e-10'
    pi_lit = _r(math.pi)
    halfpi = _r(math.pi / 2)

    pipe = _Pipe('hcells')
    pipe.layer({'hbc': f'CAST(({h_col} >> 45) & 127 AS INTEGER)',
                'ds0': '[' + ', '.join(
                    f'CAST(({h_col} >> {3 * (15 - r)}) & 7 AS BIGINT)'
                    for r in range(1, res + 1)) + ']'})
    pipe.join('JOIN bchome bh ON bh.bc = hbc',
              {'hface': 'bh.hface', 'hi': 'bh.hi', 'hj': 'bh.hj',
               'hk': 'bh.hk', 'pent': 'bh.pent'})
    lead = "coalesce(list_filter({0}, d -> d != 0)[1], 0)"
    pipe.layer({'ds': f"""CASE WHEN pent = 1 AND {lead.format('ds0')} = 5
        THEN list_transform(ds0, d -> {_CW}[d + 1]) ELSE ds0 END"""})
    pipe.layer({'pl4': f'pent = 1 AND {lead.format("ds")} = 4',
                'no_ov': f'pent = 0 AND hi = 0 AND hj = 0 AND hk = 0'})

    # descent from the base cell home ijk
    ci, cj, ck = 'hi', 'hj', 'hk'
    ui = '[0, 0, 0, 0, 1, 1, 1]'
    uj = '[0, 0, 1, 1, 0, 0, 1]'
    uk = '[0, 1, 0, 1, 0, 1, 0]'
    for r in range(1, res + 1):
        if r % 2 == 1:  # class III: _down_ap7
            di = f'(3 * {ci} + 1 * {cj} + 0 * {ck}) + {ui}[ds[{r}] + 1]'
            dj = f'(0 * {ci} + 3 * {cj} + 1 * {ck}) + {uj}[ds[{r}] + 1]'
            dk = f'(1 * {ci} + 0 * {cj} + 3 * {ck}) + {uk}[ds[{r}] + 1]'
        else:           # class II: _down_ap7r
            di = f'(3 * {ci} + 0 * {cj} + 1 * {ck}) + {ui}[ds[{r}] + 1]'
            dj = f'(1 * {ci} + 3 * {cj} + 0 * {ck}) + {uj}[ds[{r}] + 1]'
            dk = f'(0 * {ci} + 1 * {cj} + 3 * {ck}) + {uk}[ds[{r}] + 1]'
        pipe.layer({f'v{r}_i0': di, f'v{r}_j0': dj, f'v{r}_k0': dk})
        m = f'LEAST(v{r}_i0, v{r}_j0, v{r}_k0)'
        pipe.layer({f'v{r}_i': f'v{r}_i0 - {m}',
                    f'v{r}_j': f'v{r}_j0 - {m}',
                    f'v{r}_k': f'v{r}_k0 - {m}'})
        ci, cj, ck = f'v{r}_i', f'v{r}_j', f'v{r}_k'

    # overage adjustment on the (possibly finer) Class II grid
    if class_iii:
        pipe.layer({'a_i0': f'3 * {ci} + 0 * {cj} + 1 * {ck}',
                    'a_j0': f'1 * {ci} + 3 * {cj} + 0 * {ck}',
                    'a_k0': f'0 * {ci} + 1 * {cj} + 3 * {ck}'})
        m = 'LEAST(a_i0, a_j0, a_k0)'
        pipe.layer({'a_i': 'a_i0 - ' + m, 'a_j': 'a_j0 - ' + m,
                    'a_k': 'a_k0 - ' + m})
        ai, aj, ak = 'a_i', 'a_j', 'a_k'
    else:
        ai, aj, ak = ci, cj, ck

    oi, oj, ok, oface, ov1 = _overage_app(
        pipe, 'o1', ai, aj, ak, 'hface', 'NOT no_ov', max_dim, 'pl4')
    applied = ov1
    for it in (2, 3, 4):
        oi, oj, ok, oface, ovn = _overage_app(
            pipe, f'o{it}', oi, oj, ok, oface,
            f'pent = 1 AND {applied}', max_dim)
        pipe.layer({f'ap{it}': f'{applied} OR {ovn}'})
        applied = f'ap{it}'

    if class_iii:
        # up_ap7r back to the odd res (round halves impossible: n/7)
        pipe.layer({'b_di': f'CAST({oi} - {ok} AS DOUBLE)',
                    'b_dj': f'CAST({oj} - {ok} AS DOUBLE)'})
        pipe.layer({
            'b_i0': 'CAST(round((2.0e0 * b_di + b_dj) / 7.0e0) AS BIGINT)',
            'b_j0': 'CAST(round((3.0e0 * b_dj - b_di) / 7.0e0) AS BIGINT)'})
        _norm_layers(pipe, 'b_i0', 'b_j0', '0', 'bn')
        up_i, up_j, up_k = 'bn_i', 'bn_j', 'bn_k'
    else:
        up_i, up_j, up_k = oi, oj, ok

    pipe.layer({
        'f_i': f'CASE WHEN {applied} THEN {up_i} ELSE {ci} END',
        'f_j': f'CASE WHEN {applied} THEN {up_j} ELSE {cj} END',
        'f_k': f'CASE WHEN {applied} THEN {up_k} ELSE {ck} END',
        'f_face': f'CASE WHEN {applied} THEN {oface} ELSE hface END',
    })

    # ijk -> hex2d -> geo (mirrors _hex2d_to_geo + _geo_az_distance)
    pipe.join('JOIN faces ff ON ff.face = f_face',
              {'gflat': 'ff.flat', 'gflon': 'ff.flon', 'gfaz': 'ff.faz'})
    pipe.layer({'gx': 'CAST(f_i - f_k AS DOUBLE) - 0.5e0 * (f_j - f_k)',
                'gy': f'CAST(f_j - f_k AS DOUBLE) * {sin60}'})
    pipe.layer({'gr0': 'sqrt(gx * gx + gy * gy)'})
    pipe.layer({'gth0': 'atan2(gy, gx)'})
    pipe.layer({'gdist': f'atan(gr0 / {sqrt7_pow} * {res0})'})
    if class_iii:
        pipe.layer({'gth1': _POSMOD.format(f'(gth0 + {ap7rot})', tau)})
    else:
        pipe.layer({'gth1': 'gth0'})
    pipe.layer({'gaz0': _POSMOD.format('(gfaz - gth1)', tau)})
    pipe.layer({'gaz': _POSMOD.format('gaz0', tau)})
    # destination point (spherical), with the kernel's edge handling
    pipe.layer({'d_ns': f'gaz < {eps} OR abs(gaz - {pi_lit}) < {eps}'})
    pipe.layer({'lat_ns': f"""CASE WHEN gaz < {eps} THEN gflat + gdist
                              ELSE gflat - gdist END"""})
    pipe.layer({'sinlat': f"""GREATEST(-1.0e0, LEAST(1.0e0,
        sin(gflat) * cos(gdist) + cos(gflat) * sin(gdist) * cos(gaz)))"""})
    pipe.layer({'lat_g': 'asin(sinlat)'})
    pipe.layer({'lat2': f"""CASE
        WHEN gr0 < {eps} OR gdist < {eps} THEN gflat
        WHEN d_ns THEN CASE
            WHEN abs(lat_ns - {halfpi}) < {eps} THEN {halfpi}
            WHEN abs(lat_ns + {halfpi}) < {eps} THEN -{halfpi}
            ELSE lat_ns END
        WHEN abs(lat_g - {halfpi}) < {eps} THEN {halfpi}
        WHEN abs(lat_g + {halfpi}) < {eps} THEN -{halfpi}
        ELSE lat_g END"""})
    pipe.layer({'at_pole': f"""(NOT (gr0 < {eps} OR gdist < {eps}))
        AND ((d_ns AND (abs(lat_ns - {halfpi}) < {eps}
                        OR abs(lat_ns + {halfpi}) < {eps}))
             OR ((NOT d_ns) AND (abs(lat_g - {halfpi}) < {eps}
                                 OR abs(lat_g + {halfpi}) < {eps})))"""})
    pipe.layer({'sinlon': """GREATEST(-1.0e0, LEAST(1.0e0,
        sin(gaz) * sin(gdist) / cos(lat2)))""",
                'coslon': """GREATEST(-1.0e0, LEAST(1.0e0,
        (cos(gdist) - sin(gflat) * sinlat)
        / (cos(gflat) * cos(lat2))))"""})
    pipe.layer({'lon_g0': 'gflon + atan2(sinlon, coslon)'})
    pipe.layer({'lon_g': f"""CASE WHEN lon_g0 > {pi_lit} THEN lon_g0 - {tau}
        WHEN lon_g0 < -{pi_lit} THEN lon_g0 + {tau} ELSE lon_g0 END"""})
    pipe.layer({'lon2': f"""CASE
        WHEN gr0 < {eps} OR gdist < {eps} THEN gflon
        WHEN at_pole THEN 0.0e0
        WHEN d_ns THEN gflon
        ELSE lon_g END"""})

    ctes = ',\n'.join([f'hcells AS ({cells_sql})',
                       _faces_values(), _bchome_values(),
                       _affine_fn_values(adj_res)] + pipe.ctes)
    return (f'WITH {ctes}\n'
            f'SELECT {id_cols}, degrees(lat2) AS clat, degrees(lon2) AS clng '
            f'FROM {pipe.prev}')


def circle_cover_counts_sql(shapes_sql: str, res: int, radius_m: float,
                            ring_k: int = 36) -> str:
    """Per-shape H3 polyfill COUNTS for circles (see
    circle_cover_cells_sql): (shape_id, n_cells)."""
    inner = circle_cover_cells_sql(shapes_sql, res, radius_m, ring_k)
    return (f"SELECT CAST(shape_id AS BIGINT) AS shape_id, "
            f"CAST(COUNT(*) AS BIGINT) AS n_cells FROM ({inner}) "
            f"GROUP BY shape_id ORDER BY shape_id")


def circle_cover_cells_sql(shapes_sql: str, res: int, radius_m: float,
                           ring_k: int = 36) -> str:
    """Per-shape H3 polyfill CELL SET for circles, fully replayed in
    SQL: (shape_id, h) rows where h is the BIGINT index of each res cell
    whose center lies inside the circle's discretized ring — the
    centroid-containment polyfill of kernels/h3_cover.py
    polygon_to_cells (antimeridian circles handled via the unwrapped
    ring frame, matching the r3 kernel fix).

    ``shapes_sql`` must expose (shape_id, q_lon, q_lat).

    Replay structure:
    1. ring vertices: the kernel's circle_ring (k haversine destination
       points, CCW from angle 2*pi, normalize_lonlat wrap).
    2. candidate cells: a POLAR sample grid around each center pushed
       through the forward latlng->cell replay at res-1 (grid spacing
       under the res-1 hex inradius even at worst-case gnomonic
       distortion, radius padded by the res-1 circumradius so every
       possible PARENT of a kept cell is sampled), then each parent
       expands to its 7 children (6 for pentagons) by bit arithmetic.
       The polar frame needs no antimeridian or pole special-casing.
    3. centers: the inverse cell->center replay on the distinct cells.
    4. keep: the reference's even-odd ray-cast PIP (edge antimeridian
       unbounding, point shifted to the edge frame, 10-dp round-half-up
       crossing compare, boundary excluded) of each center vs the ring.
    """
    import math as _m

    from geostructures_spark.kernels import h3_cover as HC
    from geostructures_spark.kernels import h3_tables as T

    R = 6371000.0
    tau = _r(2 * _m.pi)
    pres = res - 1
    # worst-case res-1 inradius ~ circum * cos30 * 0.75 gnomonic shrink;
    # spacing below it guarantees every parent cell holds a sample
    step = HC._HEX_RADIUS_KM[pres] * 0.7 * 1000.0
    pad = HC._HEX_RADIUS_KM[pres] * 1.5 * 1000.0
    n_rad = int(_m.ceil((radius_m + pad + step) / step))

    # destination-point expression pieces (shared by ring + grid)
    def dest(lat1, lon1, brad, ang):
        sinlat2 = (f'(sin({lat1}) * cos({ang}) + cos({lat1}) * sin({ang})'
                   f' * cos({brad}))')
        lat2 = f'asin({sinlat2})'
        lon2 = (f'({lon1} + atan2(sin({brad}) * sin({ang}) * cos({lat1}), '
                f'cos({ang}) - sin({lat1}) * {sinlat2}))')
        return lat2, lon2

    lat2, lon2 = dest('radians(q_lat)', 'radians(q_lon)', 'brad', 'ang')

    # 1. ring vertices (vertex vi=1..k maps to the kernel's i=k..1 CCW).
    # RAW destination longitudes (no normalization): for a small circle
    # the raw ring is already continuous around the center — exactly the
    # kernel's unwrap(normalize(ring)) frame (normalize's +-360 vertex
    # wraps are float-exact at these magnitudes, so unwrapping restores
    # the raw values bit-for-bit).
    ring_sql = f"""
      SELECT shape_id, vi,
             degrees({lon2}) AS vlon,
             degrees({lat2}) AS vlat
      FROM (
        SELECT s.shape_id, s.q_lon, s.q_lat, t.vi,
               radians(degrees({_r(2 * _m.pi / ring_k)} *
                               ({ring_k} + 1 - t.vi))) AS brad,
               {_r(radius_m / R)} AS ang
        FROM ({shapes_sql}) s CROSS JOIN range(1, {ring_k + 1}) t(vi))"""

    # 2. polar candidate grid: ring rk=1..n_rad at dist rk*step-step/2,
    #    n_az = ceil(tau * dist / step) points; plus the center itself
    grid_sql = f"""
      SELECT shape_id, gidx, lon, lat FROM (
        SELECT s.shape_id,
               g.rk * 100000 + g.ai AS gidx,
               degrees({lon2}) AS lon, degrees({lat2}) AS lat
        FROM ({shapes_sql}) s
        JOIN (
          SELECT r.rk, a.ai,
                 CAST(r.rk AS DOUBLE) * {_r(step)} - {_r(step / 2)} AS dist
          FROM range(1, {n_rad + 1}) r(rk)
          CROSS JOIN range(0, {int(_m.ceil(2 * _m.pi * (n_rad * step) / step)) + 1}) a(ai)
          WHERE a.ai < CAST(ceil({tau} * (CAST(r.rk AS DOUBLE) * {_r(step)} - {_r(step / 2)}) / {_r(step)}) AS BIGINT)
        ) g ON TRUE
        CROSS JOIN LATERAL (SELECT radians(360.0e0 * g.ai /
                 ceil({tau} * g.dist / {_r(step)})) AS brad,
                 g.dist / {_r(R)} AS ang) x
        UNION ALL
        SELECT shape_id, 0 AS gidx, q_lon AS lon, q_lat AS lat
        FROM ({shapes_sql}))"""

    fwd = latlng_to_cell_sql(grid_sql, pres, id_col='shape_id, gidx')

    # parent -> children expansion (one level, digit pres+1 = res):
    # pentagon parents (pentagon base cell, digits 1..pres all zero)
    # skip the K child
    shift = 3 * (15 - res)
    pent_bcs = [bc for bc in range(T.NUM_BASE_CELLS)
                if T.base_cell_is_pentagon(bc)]
    pent_list = '(' + ', '.join(map(str, pent_bcs)) + ')'
    if pres > 0:
        pmask = ((1 << (3 * pres)) - 1) << (3 * (15 - pres))
        parent_pent = (f'(CAST((ph >> 45) & 127 AS INTEGER) IN {pent_list} '
                       f'AND (ph & {pmask}) = 0)')
    else:
        parent_pent = f'(CAST((ph >> 45) & 127 AS INTEGER) IN {pent_list})'
    expand_sql = f"""
  SELECT shape_id,
         (((ph & ~(15::BIGINT << 52)) | ({res}::BIGINT << 52))
           & ~(7::BIGINT << {shift})) | (d.d::BIGINT << {shift}) AS h
  FROM pcand CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS d) d
  WHERE NOT ({parent_pent} AND d.d = 1)"""

    inv = cell_to_latlng_sql('SELECT h AS cid, h FROM cells', res,
                             id_cols='cid')

    # 4. PIP of centers vs ring edges (kernels/geometry.py
    #    points_in_polygon, include_boundary=False)
    rhu = "round({0} + 1e-22, 10)"
    return f"""
WITH pcand AS MATERIALIZED (
  SELECT DISTINCT shape_id,
         CAST(('0x' || cell) AS UBIGINT)::BIGINT AS ph
  FROM ({fwd})),
cand AS MATERIALIZED ({expand_sql}),
cells AS (SELECT DISTINCT h FROM cand),
cent AS (SELECT cid AS h, clat, clng FROM ({inv})),
shf AS (SELECT shape_id AS fs_id, q_lon AS frame FROM ({shapes_sql})),
cc AS (
  -- candidate centers shifted into the ring's longitudinal frame
  -- (kernel polygon_to_cells frame-shift; frame ~ first ring vertex
  -- = the due-north destination = the center longitude)
  SELECT c.shape_id, c.h, ct.clat AS t_lat,
         ct.clng + 360.0e0 * round((f.frame - ct.clng) / 360.0e0)
           AS p_lon0
  FROM cand c
  JOIN cent ct ON ct.h = c.h
  JOIN shf f ON f.fs_id = c.shape_id),
redge AS (
  SELECT a.shape_id, a.vi,
         a.vlon AS ga0, a.vlat AS la,
         b.vlon AS gb0, b.vlat AS lb
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
SELECT shape_id, h FROM pv
WHERE on_boundary = 0 AND crossings % 2 = 1"""


def compact_roundtrip_sql(shapes_sql: str, res: int, radius_m: float) -> str:
    """Independent SQL replay of the compact/uncompact round trip over
    circle covers: per shape (n_full, n_compact, rt_count_ok,
    rt_cells_ok) — the h3_compact_cover contract columns.

    compact: res..1 iterations merging any parent whose full sibling set
    (7, or 6 for a pentagon parent — the K child does not exist) is
    present, exactly kernels/h3_core.py compact_cells. uncompact: the
    merged parents expand back to res via unrolled child joins (pentagon
    K-child skip mirrored); the round-trip set compares against the
    original cover with an anti-join, so rt_cells_ok is derived, not
    assumed."""
    from geostructures_spark.kernels import h3_tables as T

    pent_bcs = [bc for bc in range(T.NUM_BASE_CELLS)
                if T.base_cell_is_pentagon(bc)]
    pent_list = '(' + ', '.join(map(str, pent_bcs)) + ')'

    def is_pent(h, r):
        """h is a res-r index: pentagon iff pentagon base cell and all
        digits 1..r are 0 (center descent)."""
        if r == 0:
            return f'(CAST(({h} >> 45) & 127 AS INTEGER) IN {pent_list})'
        mask = ((1 << (3 * r)) - 1) << (3 * (15 - r))
        return (f'(CAST(({h} >> 45) & 127 AS INTEGER) IN {pent_list} '
                f'AND ({h} & {mask}) = 0)')

    cover = circle_cover_cells_sql(shapes_sql, res, radius_m)

    # compact: iterate res -> 1; carry two pools: still-mergeable cells
    # at the current res (curN) and emitted output (outN). MATERIALIZED
    # keeps DuckDB from re-inlining the expensive cover replay at every
    # one of the many references.
    ctes = [f'cov AS MATERIALIZED ({cover})',
            f'cur{res} AS MATERIALIZED (SELECT shape_id, h FROM cov)',
            'out_base AS (SELECT shape_id, h FROM cov WHERE FALSE)']
    out_parts = ['SELECT shape_id, h FROM out_base']
    for r in range(res, 0, -1):
        shift = 3 * (15 - r)
        # parent at res r-1: clear res field, set r-1, set digit r to 7
        parent = (f'((h & ~(15::BIGINT << 52)) | ({r - 1}::BIGINT << 52) '
                  f'| (7::BIGINT << {shift}))')
        ctes.append(f"""grp{r} AS MATERIALIZED (
  SELECT shape_id, {parent} AS p, COUNT(*) AS nk
  FROM cur{r} GROUP BY shape_id, {parent})""")
        ctes.append(f"""merged{r} AS MATERIALIZED (
  SELECT shape_id, p FROM grp{r}
  WHERE nk = CASE WHEN {is_pent('p', r - 1)} THEN 6 ELSE 7 END)""")
        ctes.append(f"""cur{r - 1} AS MATERIALIZED (
  SELECT shape_id, p AS h FROM merged{r})""")
        out_parts.append(f"""SELECT c.shape_id, c.h FROM cur{r} c
  LEFT JOIN merged{r} m
    ON m.shape_id = c.shape_id AND m.p = {parent.replace('h', 'c.h')}
  WHERE m.p IS NULL""")
    out_parts.append('SELECT shape_id, h FROM cur0')
    ctes.append('comp AS (' + '\nUNION ALL\n'.join(out_parts) + ')')

    # uncompact: expand each compacted cell back to res level by level;
    # the pentagon test uses the cell's own res-dependent digit mask
    # (all digits 1..hres zero on a pentagon base cell)
    pent_dynamic = (f'(CAST((e.h >> 45) & 127 AS INTEGER) IN {pent_list} '
                    f'AND (e.h & ((((1::BIGINT << (3 * e.hres)) - 1)'
                    f' << (3 * (15 - e.hres))))) = 0)')
    ctes.append(f"""ex{0} AS (
  SELECT shape_id, h, CAST((h >> 52) & 15 AS INTEGER) AS hres FROM comp)""")
    for step in range(res):
        # cells below res gain one level: 7 children (6 for pentagons,
        # K child skipped); cells already at res pass through
        ctes.append(f"""ex{step + 1} AS MATERIALIZED (
  SELECT shape_id, h, hres FROM ex{step} WHERE hres >= {res}
  UNION ALL
  SELECT e.shape_id,
         (((e.h & ~(15::BIGINT << 52)) | ((e.hres + 1)::BIGINT << 52))
           & ~(7::BIGINT << (3 * (15 - (e.hres + 1)))))
           | (d.d::BIGINT << (3 * (15 - (e.hres + 1)))) AS h,
         e.hres + 1 AS hres
  FROM ex{step} e
  CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS d) d
  WHERE e.hres < {res}
    AND NOT ({pent_dynamic} AND d.d = 1))""")
    ctes.append(f"""rt AS (SELECT shape_id, h FROM ex{res})""")

    full_sql = 'WITH ' + ',\n'.join(ctes)

    return full_sql + f""",
nf AS (SELECT shape_id, COUNT(*) AS n_full FROM cov GROUP BY shape_id),
nc AS (SELECT shape_id, COUNT(*) AS n_compact FROM comp GROUP BY shape_id),
nr AS (
  SELECT r.shape_id, COUNT(*) AS n_rt,
         SUM(CASE WHEN c.h IS NULL THEN 1 ELSE 0 END) AS n_extra
  FROM rt r LEFT JOIN cov c
    ON c.shape_id = r.shape_id AND c.h = r.h
  GROUP BY r.shape_id)
SELECT CAST(nf.shape_id AS BIGINT) AS shape_id,
       CAST(n_full AS BIGINT) AS n_full,
       CAST(n_compact AS BIGINT) AS n_compact,
       (n_rt = n_full) AS rt_count_ok,
       (n_extra = 0) AS rt_cells_ok
FROM nf JOIN nc ON nc.shape_id = nf.shape_id
JOIN nr ON nr.shape_id = nf.shape_id
ORDER BY shape_id"""
