"""Coordinate mining: pages(html/text) -> points(url, warc_ts, point_idx, lon, lat).

The first stage of the engine's pipeline (SURVEY.md §2.1 "pages scan +
text -> coordinate mining"). Two steps:

1. ``extract_text``: html BINARY -> text STRING, a pure JVM-side expression
   (cast + regexp) — byte-identical inverse of the generator's wrapper,
   enforced by tests (north_rule: byte-identical extracted text per url).
2. ``mine_points``: Arrow-batched ``mapInArrow``. Each batch runs one
   compiled bytes-regex scan over its Arrow string value buffer (one
   C-level pass per batch, no per-row Python strings), maps match offsets
   back to rows with searchsorted, rescans on its own each row that a
   match across a row boundary touched, converts DMS/QDMS groups vectorized
   with NumPy using the reference's exact formulas (coordinates.py:127-148
   from_dms — no rounding; :181-203 from_qdms — round_half_up at 6
   decimals), and emits the exploded points frame directly (no
   intermediate array column). ``mine_cell_counts`` is the same scan
   fused with the Niemeyer cell assignment and a per-batch count.

``point_idx`` is the mention ordinal within the page (FIXTURES.md §2);
matches are ordered by row and position, so a per-row running count gives
the ordinal.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geostructures_spark.kernels.geodesy import normalize_lonlat, round_half_up

__all__ = ['extract_text_expr', 'mine_points', 'MENTION_REGEX']

_DEC = r'coords@(?P<flag>lonlat|latlon): (?P<a>-?\d+(?:\.\d+)?), (?P<b>-?\d+(?:\.\d+)?)'
_DMS = (r'(?P<lod>\d+)°(?P<lom>\d+)\'(?P<los>\d+(?:\.\d+)?)"(?P<loq>[EW]) '
        r'(?P<lad>\d+)°(?P<lam>\d+)\'(?P<las>\d+(?:\.\d+)?)"(?P<laq>[NS])')
_QDMS = r'(?P<qlon>[EW]\d{9}) (?P<qlat>[NS]\d{8})'
MENTION_REGEX = f'(?:{_DEC})|(?:{_DMS})|(?:{_QDMS})'
# bytes: ``\d`` matches ASCII digits only
_COMPILED_BYTES = re.compile(MENTION_REGEX.encode('utf-8'))

POINTS_SCHEMA = ('url string, warc_ts timestamp, point_idx int, '
                 'lon double, lat double, fmt string')


def extract_text_expr(html_col: Column) -> Column:
    """html BINARY -> text STRING, byte-exact inverse of the generator
    wrapper. JVM-side: binary->string cast is UTF-8; (?s) keeps newlines."""
    return F.regexp_extract(html_col.cast('string'), r'(?s)^<html><body>(.*)</body></html>$', 1)


def _parse_match_lists(kinds, g_dec, g_dms, g_q):
    """Vectorized conversion of the bytes regex groups, in match order, to
    lon/lat/fmt arrays."""
    n = len(kinds)
    lon = np.zeros(n)
    lat = np.zeros(n)
    fmt = np.empty(n, dtype=object)
    kinds = np.asarray(kinds, dtype=np.int64)

    if g_dec:
        d = np.array(g_dec, dtype=object)
        a = d[:, 1].astype(np.float64)
        b = d[:, 2].astype(np.float64)
        is_lonlat = d[:, 0] == b'lonlat'
        sel = kinds == 0
        lon[sel] = np.where(is_lonlat, a, b)
        lat[sel] = np.where(is_lonlat, b, a)
        fmt[sel] = 'decimal'

    if g_dms:
        d = np.array(g_dms, dtype=object)
        # from_dms: deg + min/60 + sec/3600, sign by quadrant; no rounding
        dlon = (d[:, 0].astype(np.float64) + d[:, 1].astype(np.float64) / 60
                + d[:, 2].astype(np.float64) / 3600)
        dlon *= np.where(d[:, 3] == b'W', -1.0, 1.0)
        dlat = (d[:, 4].astype(np.float64) + d[:, 5].astype(np.float64) / 60
                + d[:, 6].astype(np.float64) / 3600)
        dlat *= np.where(d[:, 7] == b'S', -1.0, 1.0)
        sel = kinds == 1
        lon[sel] = dlon
        lat[sel] = dlat
        fmt[sel] = 'dms'

    if g_q:
        # from_qdms: QDDDMMSSHH -> deg + min/60 + 'SS.HH'/3600; 6dp round_half_up
        qlon_s = [s for s, _ in g_q]
        qlat_s = [s for _, s in g_q]
        vlon = (np.array([s[1:4] for s in qlon_s], dtype=np.float64)
                + np.array([s[4:6] for s in qlon_s], dtype=np.float64) / 60
                + np.array([s[6:8] + b'.' + s[8:] for s in qlon_s], dtype=np.float64) / 3600)
        vlon *= np.where(np.array([s[:1] for s in qlon_s]) == b'W', -1.0, 1.0)
        vlat = (np.array([s[1:3] for s in qlat_s], dtype=np.float64)
                + np.array([s[3:5] for s in qlat_s], dtype=np.float64) / 60
                + np.array([s[5:7] + b'.' + s[7:] for s in qlat_s], dtype=np.float64) / 3600)
        vlat *= np.where(np.array([s[:1] for s in qlat_s]) == b'S', -1.0, 1.0)
        sel = kinds == 2
        lon[sel] = round_half_up(vlon, 6)
        lat[sel] = round_half_up(vlat, 6)
        fmt[sel] = 'qdms'

    return lon, lat, fmt


def _mine_arrow_batch(text_arr):
    """Zero-copy mine over a pyarrow StringArray: byte-regex directly on the
    Arrow value buffer (no per-row Python string objects). Returns (row_idx,
    point_idx, lon, lat, fmt).

    Rows are adjacent in the value buffer with no separator; matches whose
    span crosses a row boundary are discarded and the touched rows re-scanned
    individually (rare: needs a mention split across two pages)."""
    import pyarrow as pa
    arr = text_arr.combine_chunks() if isinstance(text_arr, pa.ChunkedArray) else text_arr
    n_rows = len(arr)
    if n_rows == 0:
        z = np.zeros(0)
        return (np.zeros(0, np.int64), np.zeros(0, np.int64), z, z.copy(),
                np.zeros(0, dtype=object))
    bufs = arr.buffers()
    off_dtype = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    offs = np.frombuffer(bufs[1], dtype=off_dtype)[arr.offset:arr.offset + n_rows + 1].astype(np.int64)
    data = memoryview(bufs[2])[offs[0]:offs[-1]]
    rel = offs - offs[0]

    def groups_of(m):
        if m.group('flag') is not None:
            return (0, (m.group('flag'), m.group('a'), m.group('b')))
        if m.group('lod') is not None:
            return (1, (m.group('lod'), m.group('lom'), m.group('los'),
                        m.group('loq'), m.group('lad'), m.group('lam'),
                        m.group('las'), m.group('laq')))
        return (2, (m.group('qlon'), m.group('qlat')))

    # one C-level scan: (start, end, kind, groups) per match
    matches = [(m.start(), m.end()) + groups_of(m)
               for m in _COMPILED_BYTES.finditer(data)]

    if matches:
        starts = np.array([m[0] for m in matches], dtype=np.int64)
        stops = np.array([m[1] for m in matches], dtype=np.int64)
        r0 = np.searchsorted(rel, starts, side='right') - 1
        r1 = np.searchsorted(rel, stops - 1, side='right') - 1
        crossing = r0 != r1
        if crossing.any():
            bad_rows = set(r0[crossing].tolist()) | set(r1[crossing].tolist())
            keep = ~np.isin(r0, list(bad_rows))
            matches = [m for m, k in zip(matches, keep) if k]
            # rescan each affected row on its own with the same bytes regex
            for r in sorted(bad_rows):
                for m in _COMPILED_BYTES.finditer(data, int(rel[r]), int(rel[r + 1])):
                    matches.append((m.start(), m.end()) + groups_of(m))

    n = len(matches)
    if n == 0:
        z = np.zeros(0)
        return (np.zeros(0, np.int64), np.zeros(0, np.int64), z, z.copy(),
                np.zeros(0, dtype=object))

    starts = np.array([m[0] for m in matches], dtype=np.int64)
    row_all = np.searchsorted(rel, starts, side='right') - 1
    order = np.lexsort((starts, row_all))
    row_idx = row_all[order]
    kinds = [matches[i][2] for i in order]
    g_dec = [matches[i][3] for i in order if matches[i][2] == 0]
    g_dms = [matches[i][3] for i in order if matches[i][2] == 1]
    g_q = [matches[i][3] for i in order if matches[i][2] == 2]

    lon, lat, fmt = _parse_match_lists(kinds, g_dec, g_dms, g_q)
    lon, lat = normalize_lonlat(lon, lat)

    point_idx = np.zeros(n, dtype=np.int64)
    if n > 1:
        change = np.r_[True, row_idx[1:] != row_idx[:-1]]
        seg_starts = np.flatnonzero(change)
        seg_id = np.cumsum(change) - 1
        point_idx = np.arange(n) - seg_starts[seg_id]
    return row_idx, point_idx, lon, lat, fmt


def mine_points(pages: DataFrame, from_html: bool = False) -> DataFrame:
    """pages -> points with (url, warc_ts, point_idx, lon, lat, fmt).

    Column-prunes to (url, warc_ts, text) before the Arrow boundary so the
    heavy ``html`` binary never crosses it (unless ``from_html`` exercises
    the extraction path).

    Arrow-native (mapInArrow): the mention regex runs directly over the
    Arrow string value buffer as bytes — no per-row Python string objects
    are ever materialized. ``mine_cell_counts`` is the fused mine + tile
    path."""
    text_col = extract_text_expr(F.col('html')) if from_html else F.col('text')
    pruned = pages.select('url', 'warc_ts', text_col.alias('_text'))

    def run(batches):
        import pyarrow as pa
        for batch in batches:
            row_idx, point_idx, lon, lat, fmt = _mine_arrow_batch(batch.column(2))
            idx = pa.array(row_idx, type=pa.int64())
            yield pa.RecordBatch.from_arrays([
                batch.column(0).take(idx),
                batch.column(1).take(idx),
                pa.array(point_idx.astype(np.int32), type=pa.int32()),
                pa.array(lon, type=pa.float64()),
                pa.array(lat, type=pa.float64()),
                pa.array(fmt.astype(str), type=pa.string()),
            ], names=['url', 'warc_ts', 'point_idx', 'lon', 'lat', 'fmt'])

    return pruned.mapInArrow(run, schema=POINTS_SCHEMA)


def mine_cell_counts(pages: DataFrame, from_html: bool = False,
                     cell_length: int = 8, cell_base: int = 16) -> DataFrame:
    """pages -> (cell, n) partial counts: the minimal-payload fused path for
    tiling aggregation (hash_coordinates at web scale).

    Mines and tiles inside one Arrow stage and pre-aggregates per batch with
    np.unique, so the bytes returned to the JVM (and the following shuffle)
    carry only (cell, partial count) — the full points frame never
    materializes. Finish with groupBy('cell').agg(sum('n'))."""
    text_col = extract_text_expr(F.col('html')) if from_html else F.col('text')
    pruned = pages.select(text_col.alias('_text'))

    def run(batches):
        import pyarrow as pa
        from geostructures_spark.kernels import niemeyer as nie
        for batch in batches:
            _, _, lon, lat, _ = _mine_arrow_batch(batch.column(0))
            cells = nie.encode(lon, lat, cell_length, cell_base)
            uniq, counts = np.unique(cells, return_counts=True)
            yield pa.RecordBatch.from_arrays(
                [pa.array(uniq.astype(str), type=pa.string()),
                 pa.array(counts.astype(np.int64), type=pa.int64())],
                names=['cell', 'n'])

    partial = pruned.mapInArrow(run, schema='cell string, n long')
    return partial.groupBy('cell').agg(F.sum('n').alias('n'))
