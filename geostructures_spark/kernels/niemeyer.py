"""Niemeyer geohash kernels (pure NumPy, no Spark).

Reimplements the reference's interleaved-bit binary-subdivision geohash
(``/root/reference/geostructures/geohash.py:26-204``) as vectorized batch
encoders/decoders. The encode loop is a bit-by-bit interval halving with
float midpoints — every midpoint is exactly representable (dyadic fractions
of 180/90), so the vectorized float64 arithmetic is bit-identical to the
reference's scalar loop.

Bases 16/32/64; cell ids are strings used as the engine's partition/join key.
"""

from __future__ import annotations

from typing import Dict, List, Set, Tuple

import numpy as np

from geostructures_spark.kernels import ensure_malloc_tuned

__all__ = [
    'CHARSETS', 'encode', 'encode_scalar', 'decode', 'decode_scalar',
    'subhashes', 'surrounding', 'cell_to_box',
]

# charsets and per-character bit masks (reference geohash.py:40-80)
CHARSETS: Dict[int, str] = {
    16: '0123456789abcdef',
    32: '0123456789bcdefghjkmnpqrstuvwxyz',
    64: '0123456789=ABCDEFGHIJKLMNOPQRSTUVWXYZ_abcdefghijklmnopqrstuvwxyz',
}
_BITS_PER_CHAR = {16: 4, 32: 5, 64: 6}


def _check_base(base: int) -> None:
    if base not in CHARSETS:
        raise ValueError('Unsupported base, must be one of: 16, 32, 64')


def encode(lons, lats, length: int, base: int) -> np.ndarray:
    """Vectorized `_coord_to_niemeyer` (reference geohash.py:129-183).

    Bit b (0-indexed, alternating lon/lat starting with lon) halves the
    active interval; `value > mid` (strict) sets the bit. Returns an array
    of fixed-length strings (dtype '<U{length}').
    """
    ensure_malloc_tuned()
    _check_base(base)
    lons = np.asarray(lons, dtype=np.float64)
    lats = np.asarray(lats, dtype=np.float64)
    n = lons.shape[0]
    bits_per_char = _BITS_PER_CHAR[base]
    total_bits = length * bits_per_char

    lon_lo = np.full(n, -180.0)
    lon_hi = np.full(n, 180.0)
    lat_lo = np.full(n, -90.0)
    lat_hi = np.full(n, 90.0)

    # accumulate the bit string into one uint64 code (MSB-first), exactly
    # mirroring the reference's interval halving with strict `>` comparisons
    code = np.zeros(n, dtype=np.uint64)
    for b in range(total_bits):
        if b % 2 == 0:  # lon component
            mid = (lon_lo + lon_hi) / 2.0
            hi_side = lons > mid
            lon_lo = np.where(hi_side, mid, lon_lo)
            lon_hi = np.where(hi_side, lon_hi, mid)
        else:
            mid = (lat_lo + lat_hi) / 2.0
            hi_side = lats > mid
            lat_lo = np.where(hi_side, mid, lat_lo)
            lat_hi = np.where(hi_side, lat_hi, mid)
        code |= hi_side.astype(np.uint64) << np.uint64(total_bits - 1 - b)

    # fully vectorized code -> string: per-character LUT into an ASCII byte
    # matrix viewed as fixed-width bytes, then a C-level bytes->str cast
    lut = np.frombuffer(CHARSETS[base].encode('ascii'), dtype=np.uint8)
    mask = np.uint64(base - 1)
    ascii_mat = np.empty((n, length), dtype=np.uint8)
    for c in range(length):
        shift = np.uint64((length - 1 - c) * bits_per_char)
        ascii_mat[:, c] = lut[((code >> shift) & mask).astype(np.int64)]
    return ascii_mat.reshape(-1).view(f'S{length}').astype(f'U{length}')


def encode_scalar(lon: float, lat: float, length: int, base: int) -> str:
    return str(encode(np.array([lon]), np.array([lat]), length, base)[0])


def decode(cells: np.ndarray, base: int) -> Tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized `_decode_niemeyer` (reference geohash.py:83-126).

    Returns (lon, lat, lon_error, lat_error) center/half-width arrays.
    All cells must share one length.
    """
    ensure_malloc_tuned()
    _check_base(base)
    cells = np.asarray(cells)
    if cells.size == 0:
        z = np.zeros(0)
        return z, z, z.copy(), z.copy()
    length = len(str(cells.flat[0]))
    bits_per_char = _BITS_PER_CHAR[base]
    charset = CHARSETS[base]
    inverse = {c: i for i, c in enumerate(charset)}

    n = cells.shape[0]
    vals = np.zeros((n, length), dtype=np.int64)
    for row, cell in enumerate(cells):
        s = str(cell)
        for col, ch in enumerate(s):
            if ch not in inverse:
                raise ValueError(f'invalid character in geohash: {ch}')
            vals[row, col] = inverse[ch]

    weights_idx = np.arange(bits_per_char - 1, -1, -1)
    bits = ((vals[:, :, None] >> weights_idx[None, None, :]) & 1).astype(bool)
    bits = bits.reshape(n, length * bits_per_char)

    lon_lo = np.full(n, -180.0)
    lon_hi = np.full(n, 180.0)
    lat_lo = np.full(n, -90.0)
    lat_hi = np.full(n, 90.0)
    lon_err = np.full(n, 180.0)
    lat_err = np.full(n, 90.0)
    for b in range(length * bits_per_char):
        hi_side = bits[:, b]
        if b % 2 == 0:
            lon_err = lon_err / 2.0
            mid = (lon_lo + lon_hi) / 2.0
            lon_lo = np.where(hi_side, mid, lon_lo)
            lon_hi = np.where(hi_side, lon_hi, mid)
        else:
            lat_err = lat_err / 2.0
            mid = (lat_lo + lat_hi) / 2.0
            lat_lo = np.where(hi_side, mid, lat_lo)
            lat_hi = np.where(hi_side, lat_hi, mid)

    return ((lon_lo + lon_hi) / 2.0, (lat_lo + lat_hi) / 2.0, lon_err, lat_err)


def decode_scalar(cell: str, base: int) -> Tuple[float, float, float, float]:
    lon, lat, lon_e, lat_e = decode(np.array([cell]), base)
    return float(lon[0]), float(lat[0]), float(lon_e[0]), float(lat_e[0])


def subhashes(cell: str, base: int) -> Set[str]:
    """Children of a cell (reference geohash.py:186-204)."""
    _check_base(base)
    return {cell + c for c in CHARSETS[base]}


def surrounding(cell: str, base: int) -> List[str]:
    """8 neighbors, from directly above then clockwise (reference
    geohash.py:565-590): re-encodes the center offset by ±2*err."""
    lon, lat, lon_e, lat_e = decode_scalar(cell, base)
    length = len(cell)
    offsets = [
        (lon, lat + lat_e * 2),
        (lon + lon_e * 2, lat + lat_e * 2),
        (lon + lon_e * 2, lat),
        (lon + lon_e * 2, lat - lat_e * 2),
        (lon, lat - lat_e * 2),
        (lon - lon_e * 2, lat - lat_e * 2),
        (lon - lon_e * 2, lat),
        (lon - lon_e * 2, lat + lat_e * 2),
    ]
    lons = np.array([o[0] for o in offsets])
    lats = np.array([o[1] for o in offsets])
    # the reference passes offsets through Coordinate(), which wraps them
    # (coordinates.py:53-65)
    from geostructures_spark.kernels.geodesy import normalize_lonlat
    lons, lats = normalize_lonlat(lons, lats)
    return [str(c) for c in encode(lons, lats, length, base)]


def cell_to_box(cell: str, base: int) -> Tuple[float, float, float, float]:
    """Cell -> GeoBox bounds (min_lon, min_lat, max_lon, max_lat), matching
    niemeyer_to_geobox's center±error box (reference geohash.py:242-278)."""
    lon, lat, lon_e, lat_e = decode_scalar(cell, base)
    return lon - lon_e, lat - lat_e, lon + lon_e, lat + lat_e
