"""Deterministic Common-Crawl-style pages generator (driver input contract).

Produces the mandated table shape (BASELINE.json input_hint):
  url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING

Design for scale: generation is **stateless per row id** — every field is a
pure function of (seed, id) via a splitmix64-style hash — so the table can be
generated distributed over ``spark.range(n)`` with any partitioning and is
bit-identical regardless of parallelism. No RNG sequence state crosses rows.

The page text embeds 0-4 coordinate mentions in the three formats the
reference can parse (decimal pairs, DMS per coordinates.py:127-148, QDMS per
coordinates.py:181-203), with a 70% hot-cluster / 30% uniform skew knob
(FIXTURES.md §1) that deliberately produces hot tiling cells.

``html`` is a deterministic wrapper over ``text``; extraction must be
byte-exact (north_rule: "byte-identical extracted text per url").
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

__all__ = ['pages_df', 'HOT_CLUSTERS', 'PAGES_SCHEMA']

PAGES_SCHEMA = 'url string, warc_ts timestamp, html binary, text string, lang string'

# (lon, lat) hot clusters: London, NYC, Tokyo, São Paulo, Sydney
HOT_CLUSTERS = np.array([
    (-0.12, 51.5), (-74.0, 40.7), (139.7, 35.7), (-46.6, -23.5), (151.2, -33.9),
], dtype=np.float64)

_LANGS = np.array(['en', 'en', 'en', 'en', 'en', 'de', 'fr', 'es', 'pt', 'zh'])

_NOISE = np.array([
    'the', 'quick', 'brown', 'fox', 'jumps', 'over', 'lazy', 'dog', 'page',
    'archive', 'crawl', 'web', 'data', 'report', 'city', 'travel', 'store',
    'news', 'market', 'weather', 'history', 'science', 'local', 'global',
])


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — the per-row hash primitive."""
    x = x.astype(np.uint64)
    with np.errstate(over='ignore'):
        x = (x + np.uint64(0x9E3779B97F4A7C15))
        z = x
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return z


def _hash_stream(ids: np.ndarray, salt: int) -> np.ndarray:
    with np.errstate(over='ignore'):
        return _mix64(ids.astype(np.uint64) * np.uint64(0x2545F4914F6CDD1D)
                      + np.uint64(salt) * np.uint64(0x9E3779B97F4A7C15))


def _uniform01(ids: np.ndarray, salt: int) -> np.ndarray:
    return (_hash_stream(ids, salt) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _mention_coords(ids: np.ndarray, mention: int, seed: int):
    """Deterministic (lon, lat) per (row, mention): 70% gaussian around a hot
    cluster (sigma 0.05 deg), 30% uniform over the globe."""
    s = seed * 1000 + mention * 10
    u_sel = _uniform01(ids, s + 1)
    cluster_idx = (_hash_stream(ids, s + 2) % np.uint64(len(HOT_CLUSTERS))).astype(np.int64)
    # Box-Muller from two hash-derived uniforms
    u1 = np.clip(_uniform01(ids, s + 3), 1e-12, 1.0)
    u2 = _uniform01(ids, s + 4)
    r = np.sqrt(-2.0 * np.log(u1))
    g1 = r * np.cos(2 * np.pi * u2)
    g2 = r * np.sin(2 * np.pi * u2)
    hot_lon = HOT_CLUSTERS[cluster_idx, 0] + 0.05 * g1
    hot_lat = HOT_CLUSTERS[cluster_idx, 1] + 0.05 * g2
    uni_lon = _uniform01(ids, s + 5) * 360.0 - 180.0
    uni_lat = _uniform01(ids, s + 6) * 170.0 - 85.0
    hot = u_sel < 0.7
    lon = np.where(hot, hot_lon, uni_lon)
    lat = np.where(hot, hot_lat, uni_lat)
    return np.round(lon, 6), np.round(lat, 6)


def _f2s(arr: np.ndarray) -> np.ndarray:
    """float64 array -> shortest-roundtrip decimal strings (vectorized)."""
    return np.array([repr(float(v)) for v in arr], dtype=object)


def _dms_strings(vals: np.ndarray, is_lon: bool) -> np.ndarray:
    quad = np.where(vals >= 0, 'E' if is_lon else 'N', 'W' if is_lon else 'S')
    a = np.abs(vals)
    deg = a.astype(np.int64)
    rem = (a - deg) * 60
    mins = rem.astype(np.int64)
    secs = np.round((rem - mins) * 60, 4)
    return (deg.astype(str).astype(object) + '°'
            + mins.astype(str).astype(object) + "'"
            + _f2s(secs) + '"' + quad.astype(object))


def _qdms_strings(vals: np.ndarray, is_lon: bool) -> np.ndarray:
    quad = np.where(vals >= 0, 'E' if is_lon else 'N', 'W' if is_lon else 'S')
    a = np.abs(vals)
    deg = a.astype(np.int64)
    rem = (a - deg) * 60
    mins = rem.astype(np.int64)
    hund = np.round((rem - mins) * 60 * 100).astype(np.int64)
    carry = hund >= 6000
    hund = np.where(carry, hund - 6000, hund)
    mins = mins + carry
    carry2 = mins >= 60
    mins = np.where(carry2, mins - 60, mins)
    deg = deg + carry2
    width = 3 if is_lon else 2
    deg_s = np.char.zfill(deg.astype(str), width)
    return (quad.astype(object) + deg_s.astype(object)
            + np.char.zfill(mins.astype(str), 2).astype(object)
            + np.char.zfill(hund.astype(str), 4).astype(object))


def _gen_batch(pdf: pd.DataFrame, seed: int) -> pd.DataFrame:
    """Fully vectorized page synthesis — no per-row Python in the loop body
    except the final shortest-float repr (C-level float repr per value)."""
    ids = pdf['id'].to_numpy(np.int64)
    n = len(ids)
    h = _hash_stream(ids, seed)

    n_mentions = (_hash_stream(ids, seed + 7) % np.uint64(5)).astype(np.int64)
    # ~80% of rows carry >=1 mention: rows hashed into the top 20% get 0
    no_mention = _uniform01(ids, seed + 8) < 0.2
    n_mentions = np.where(no_mention, 0, np.maximum(n_mentions, 1))

    fmt_h = _hash_stream(ids, seed + 9)
    all_langs = _LANGS[(h % np.uint64(len(_LANGS))).astype(np.int64)]
    noise_idx = (_hash_stream(ids, seed + 10) % np.uint64(len(_NOISE))).astype(np.int64)

    # leading noise phrase: 6 words by index arithmetic
    lead = _NOISE[(noise_idx + 0) % len(_NOISE)].astype(object)
    for w in range(1, 6):
        lead = lead + ' ' + _NOISE[(noise_idx + w * 7) % len(_NOISE)].astype(object)

    text = lead
    for m in range(4):
        lon, lat = _mention_coords(ids, m, seed)
        fmt = ((fmt_h >> np.uint64(m * 2)) & np.uint64(3)).astype(np.int64)
        lon_s, lat_s = _f2s(lon), _f2s(lat)
        mention = np.empty(n, dtype=object)
        mask0 = fmt == 0
        mask1 = fmt == 1
        mask2 = fmt == 2
        mask3 = fmt == 3
        mention[mask0] = 'coords@lonlat: ' + lon_s[mask0] + ', ' + lat_s[mask0]
        mention[mask1] = 'coords@latlon: ' + lat_s[mask1] + ', ' + lon_s[mask1]
        if mask2.any():
            mention[mask2] = (_dms_strings(lon[mask2], True) + ' '
                              + _dms_strings(lat[mask2], False))
        if mask3.any():
            mention[mask3] = (_qdms_strings(lon[mask3], True) + ' '
                              + _qdms_strings(lat[mask3], False))
        tail = _NOISE[(noise_idx + m) % len(_NOISE)].astype(object)
        has_m = n_mentions > m
        text = np.where(has_m, text + ' ' + mention + ' ' + tail, text)

    text = text.astype(object)
    urls = ('https://site' + (ids % 1000).astype(str).astype(object)
            + '.example/' + np.char.zfill(
                np.vectorize(lambda x: format(int(x), 'x'), otypes=[str])(h), 16).astype(object))
    ts = (pd.Timestamp('2020-01-01').to_datetime64()
          + (ids * 137).astype('timedelta64[s]'))
    html_arr = ('<html><body>' + text + '</body></html>')
    html = [s.encode('utf-8') for s in html_arr]
    return pd.DataFrame({
        'url': urls,
        'warc_ts': ts,
        'html': html,
        'text': text,
        'lang': all_langs,
    })


def pages_df(spark: SparkSession, n_rows: int, seed: int = 42,
             partitions: int | None = None) -> DataFrame:
    """Distributed deterministic pages table (stateless per row id)."""
    if partitions is None:
        # generation + any fused miner stage is CPU-bound Python: default
        # to the scheduler's full width (bounded by ~5k rows/task so tiny
        # tables don't pay empty-task overhead). 200k bench rows on 8
        # fixed partitions left 3/4 of a 32-core host idle.
        partitions = max(1, min(max(8, spark.sparkContext.defaultParallelism),
                                n_rows // 5_000 + 1))
    rng = spark.range(0, n_rows, 1, partitions)

    def gen(it):
        for pdf in it:
            yield _gen_batch(pdf, seed)

    return rng.mapInPandas(gen, schema=PAGES_SCHEMA)
