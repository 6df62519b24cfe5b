"""The benchmark workloads. Each one sets up its inputs, runs one pass of
operations through the engine's public API, and checks its outputs against
a reference computed another way.

A workload pass returns a list of operations, each ``(name, latency_s,
output)``; an operation that raised has output ``None`` and counts as
failed. Outputs are reduced to digests after the timed loop, so checking
counts toward no metric.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics
import time
import traceback
from contextlib import nullcontext

import numpy as np
import pyarrow.parquet as pq

from perfbench.trace import EventLog, Tracer, catalyst_ms

HERE = os.path.dirname(os.path.abspath(__file__))
# a copy of the repository's sf0.01 test tables (TESTDATA.md), the six the
# headline queries read
DATA_DIR = os.path.join(HERE, 'data', 'sf0.01')
DIGESTS = os.path.join(HERE, 'query_digests.json')  # written by pin_digests.py
JOIN_PAGES = 20_000
JOIN_SHAPES = 120
JOIN_LENGTH = 6          # cover/cell length of the shape_join equi-join
STREAM_FILES = 2         # micro-batches of the traced streaming probe
STREAM_ROWS = 5_000      # events per streamed file
MAX_SPEED_MPS = 250.0


def digest(columns, rows) -> str:
    """Order-insensitive digest of a result: columns sorted by name, every
    number rendered as a float (so BIGINT and DOUBLE agree) and rows
    sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def cell(v):
        if isinstance(v, (bool, np.bool_)):
            v = int(v)
        if isinstance(v, (int, float, np.integer, np.floating)):
            return repr(float(v))
        return str(v)

    lines = sorted('\t'.join(cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256('\t'.join(columns[i] for i in order).encode())
    h.update('\n'.join(lines).encode())
    return h.hexdigest()


def _op(name: str, fn):
    """Run one operation; an exception is printed and recorded as a
    ``None`` output instead of ending the pass."""
    t0 = time.time()
    try:
        out = fn()
    except Exception:
        traceback.print_exc()
        out = None
    return name, time.time() - t0, out


class QueryMix:
    """The 12 frozen headline queries of ``bench.HEADLINE`` over the
    checked-in sf0.01 tables, each built through ``__spark_entry__.queries()``
    and collected; the seed shuffles the query order of every pass."""

    name = 'query_mix'
    item = 'queries'
    op = 'query'
    warmup_passes = 1
    min_passes = 1

    def __init__(self, ctx):
        import __spark_entry__ as em
        from bench import HEADLINE
        self.ctx = ctx
        self.queries = em.queries()
        self.names = list(HEADLINE)
        self.rng = random.Random(ctx.seed)
        self.data_dir = DATA_DIR
        with open(DIGESTS) as f:
            self.want = json.load(f)

    def materialize(self, path: str) -> None:
        """Nothing to write: the queries read the checked-in tables."""

    def items(self, output) -> int:
        return 1

    def _query(self, name: str, tracer: Tracer | None):
        spark = self.ctx.spark
        if tracer is None:
            df = self.queries[name](spark, self.data_dir)
            return df.columns, df.collect()
        with tracer.span(f'query.{name}'):
            with tracer.span('build'):
                df = self.queries[name](spark, self.data_dir)
            with tracer.span('action'):
                rows = df.collect()
        self.ctx.catalyst_ms += catalyst_ms(df)
        return df.columns, rows

    def run_pass(self, tracer: Tracer | None = None):
        order = self.names[:]
        self.rng.shuffle(order)
        return [_op(name, lambda: self._query(name, tracer)) for name in order]

    def check(self, ops) -> int:
        """Digests pinned from each query's DuckDB ``oracle_sql()``."""
        return sum(out is None or digest(*out) != self.want[name] for name, _, out in ops)

    def layer_metrics(self, tracer: Tracer, log: EventLog, pass_ops) -> dict:
        out = {}
        for name in self.names:
            out[f'query.{name}.build_s'] = _dur(tracer, f'pass/query.{name}/build')
            out[f'query.{name}.action_s'] = _dur(tracer, f'pass/query.{name}/action')
        _, rows = next(out for name, _, out in pass_ops if name == 'spatial_join_circles') \
            or (None, [])
        out.update(_join_metrics(out['query.spatial_join_circles.build_s'],
                                 log.join_output_rows('pass/query.spatial_join_circles'),
                                 sum(r['n_points'] for r in rows)))
        return out

    def probes(self, tracer: Tracer) -> dict:
        from geostructures_spark.kernels import h3_core
        n = pq.read_metadata(os.path.join(self.data_dir, 'customer.parquet')).num_rows
        keys = np.arange(n, dtype=np.int64)
        lon = ((keys * 7919) % 360000) / 1000.0 - 180.0 + 0.000123
        lat = ((keys * 104729) % 170000) / 1000.0 - 85.0 + 0.000321
        with tracer.span('kernels.h3_core.latlng_to_cell'):
            rate = _rate(lambda: h3_core.latlng_to_cell(lat, lon, 7), len(keys))
        out = {'kernels.h3_core.encode_per_s': rate}
        out.update(stream_probe(self.ctx, tracer, self.data_dir))
        return out


class ShapeJoin:
    """Mine points from the seeded pages, join them against a seeded mixed
    shape catalog (circles, boxes, polygons, ellipses, rings, linestrings;
    60% time-bounded) with ``spatial_join_points(time_gated=True)`` and
    collect the per-shape match counts."""

    name = 'shape_join'
    item = 'points'
    op = 'pass'
    # the pass after the cold one still runs 20-40% slower than later ones
    warmup_passes = 2
    # the first measured pass still runs slower than later ones; runs on a
    # busy host that fitted only two passes in --seconds weighed it more and
    # read 11.4-12.3 CPU seconds a pass, against 8.3-10.8 with three
    min_passes = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.pages = self.shapes = None
        self.n_points = None

    def materialize(self, path: str) -> None:
        from geostructures_spark.sources.pages import pages_df
        from geostructures_spark.sources.shapes import shapes_df
        self.pages, self.shapes = path + '/pages', path + '/shapes'
        t0 = time.time()
        pages_df(self.ctx.spark, JOIN_PAGES, seed=self.ctx.seed).write.parquet(self.pages)
        t1 = time.time()
        shapes_df(self.ctx.spark, JOIN_SHAPES, seed=self.ctx.seed).write.parquet(self.shapes)
        self.ctx.gen_rows_per_s.append(JOIN_PAGES / (t1 - t0))
        self.ctx.shapes_gen_s.append(time.time() - t1)

    def items(self, output) -> int:
        return self.n_points  # counted by check()

    def _join(self, tracer=None, **kwargs):
        from geostructures_spark.operators.miner import mine_points
        from geostructures_spark.operators.spatial_join import spatial_join_points
        from pyspark.sql import functions as F
        spark = self.ctx.spark
        with _maybe(tracer, 'build'):
            joined = spatial_join_points(mine_points(spark.read.parquet(self.pages)),
                                         spark.read.parquet(self.shapes),
                                         length=JOIN_LENGTH, time_gated=True, **kwargs)
        rollup = joined.groupBy('shape_id').agg(F.count('*').alias('n'))
        with _maybe(tracer, 'action'):
            rows = rollup.collect()
        if tracer is not None:
            self.ctx.catalyst_ms += catalyst_ms(rollup)
        return rows

    def run_pass(self, tracer: Tracer | None = None):
        def join():
            with _maybe(tracer, 'shape_join'):
                return sorted(tuple(r) for r in self._join(tracer))
        return [_op('shape_join', join)]

    def check(self, ops) -> int:
        from geostructures_spark.operators.miner import mine_points
        self.n_points = mine_points(self.ctx.spark.read.parquet(self.pages)).count()
        # the shipped-spec path: no driver collect of the catalog, JSON-spec
        # exact predicate
        want = sorted(tuple(r) for r in self._join(max_broadcast_shapes=0))
        return sum(out != want for _, _, out in ops)

    def layer_metrics(self, tracer, log, pass_ops) -> dict:
        return _join_metrics(_dur(tracer, 'pass/shape_join/build'),
                             log.join_output_rows('pass/shape_join'),
                             sum(n for _, n in pass_ops[0][2] or []))

    def probes(self, tracer: Tracer) -> dict:
        from geostructures_spark.kernels import niemeyer
        from geostructures_spark.kernels import shapes as shp
        from geostructures_spark.kernels import tiling_niemeyer
        from geostructures_spark.operators.miner import mine_points
        from geostructures_spark.operators.spatial_join import _sql_cover_ok_expr
        from geostructures_spark.operators.tiling import cover_shapes, shape_row_to_kernel
        with tracer.span('operators.miner.mine_points'):
            t0 = time.time()
            n_points = mine_points(self.ctx.spark.read.parquet(self.pages)).count()
            mine_s = time.time() - t0
        rng = np.random.default_rng(self.ctx.seed)
        lon, lat = rng.uniform(-180.0, 180.0, 200_000), rng.uniform(-90.0, 90.0, 200_000)
        with tracer.span('kernels.niemeyer.encode'):
            encode_rate = _rate(lambda: niemeyer.encode(lon, lat, JOIN_LENGTH, 16), len(lon))
        shapes_df = self.ctx.spark.read.parquet(self.shapes)
        # spatial_join_points covers plain circles with a pure-SQL window;
        # only the rest go through the Python cover, with this partition count
        python_cover = shapes_df.filter(~_sql_cover_ok_expr(JOIN_LENGTH))
        n_python = python_cover.count()
        with tracer.span('operators.tiling.cover_shapes'):
            t0 = time.time()
            cover_rows = cover_shapes(python_cover, JOIN_LENGTH, 16,
                                      n_partitions=min(64, max(4, n_python // 25 + 1))).count()
            cover_s = time.time() - t0
        cols = ('shape_id', 'kind', 'params', 'rings')
        covered = [shape_row_to_kernel(r.asDict(recursive=True))
                   for r in python_cover.select(*cols).collect()]
        with tracer.span('kernels.tiling_niemeyer.cover_shape'):
            cover_rate = _rate(lambda: [tiling_niemeyer.cover_shape(s, JOIN_LENGTH, 16)
                                        for s in covered], len(covered))
        # the exact predicate runs for every shape, circles included
        kernels = [shape_row_to_kernel(r.asDict(recursive=True))
                   for r in shapes_df.select(*cols).collect()]
        probes = []
        for s in kernels:
            x0, y0, x1, y1 = shp.shape_bounds(s)
            probes.append((s, rng.uniform(x0, x1 + 1e-9, 1000), rng.uniform(y0, y1 + 1e-9, 1000)))
        with tracer.span('kernels.shapes.shape_contains_points'):
            contains_rate = _rate(lambda: [shp.shape_contains_points(s, x, y)
                                           for s, x, y in probes], 1000 * len(probes))
        return {'operators.miner.rows_per_s': JOIN_PAGES / mine_s,
                'operators.miner.points': n_points,
                'kernels.niemeyer.encode_per_s': encode_rate,
                'operators.tiling.cover_s': cover_s,
                'operators.tiling.cover_rows': cover_rows,
                'kernels.tiling_niemeyer.cover_per_s': cover_rate,
                'kernels.shapes.contains_per_s': contains_rate}


WORKLOADS = {w.name: w for w in (QueryMix, ShapeJoin)}


def stream_probe(ctx, tracer: Tracer, data_dir: str) -> dict:
    """Drain the first STREAM_FILES time-ordered slices of the events table,
    one file per trigger, through the watermarked window aggregation and the
    stateful impossible-journey filter; checks both against their batch
    forms and returns the streaming layer numbers from ``recentProgress``."""
    import pyarrow.parquet as pq

    from geostructures_spark.operators.tracks import filter_impossible_journeys
    from geostructures_spark.streaming.events import EVENTS_SCHEMA, windowed_event_agg
    from geostructures_spark.streaming.tracks import filter_impossible_journeys_stream

    spark = ctx.spark
    src = os.path.join(ctx.run_dir, 'stream', 'events')
    os.makedirs(src)
    events = pq.read_table(os.path.join(data_dir, 'events.parquet'))
    for i in range(STREAM_FILES):
        pq.write_table(events.slice(i * STREAM_ROWS, STREAM_ROWS),
                       os.path.join(src, f'part-{i:04d}.parquet'))

    def pings(df):
        return df.selectExpr(
            'user_id AS entity', 'CAST(ts AS TIMESTAMP) AS dt_start',
            '((event_id * 7919) % 360000) / 1000.0D - 180.0D + 0.000123D AS lon',
            '((event_id * 104729) % 170000) / 1000.0D - 85.0D + 0.000321D AS lat')

    stream = spark.readStream.schema(EVENTS_SCHEMA).option('maxFilesPerTrigger', 1).parquet(src)
    queries = {'agg': (windowed_event_agg(stream), 'complete'),
               'tracks': (filter_impossible_journeys_stream(pings(stream), MAX_SPEED_MPS),
                          'append')}
    progress, got = [], {}
    for key, (df, mode) in queries.items():
        qname = f'perfbench_{os.getpid()}_{key}'
        with tracer.span(f'streaming.{key}'):
            q = (df.writeStream.outputMode(mode).format('memory').queryName(qname)
                 .option('checkpointLocation', os.path.join(ctx.run_dir, 'stream', 'ck', key))
                 .start())
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        progress += [p for p in q.recentProgress if p['numInputRows'] > 0]
        got[key] = spark.table(qname).collect()
        spark.sql(f'DROP VIEW IF EXISTS {qname}')

    batch = spark.read.schema(EVENTS_SCHEMA).parquet(src)
    agg_cols = ['window_start', 'event_type', 'n_events', 'sum_value']
    round6 = lambda rows: [tuple(round(v, 6) if isinstance(v, float) else v  # noqa: E731
                                 for v in (r[c] for c in agg_cols)) for r in rows]
    want_agg = round6(windowed_event_agg(batch).collect())
    want_tracks = filter_impossible_journeys(pings(batch), MAX_SPEED_MPS).collect()
    ctx.attempted += 1
    if (digest(agg_cols, round6(got['agg'])) != digest(agg_cols, want_agg)
            or digest(['e', 't', 'x', 'y'], got['tracks'])
            != digest(['e', 't', 'x', 'y'], want_tracks)):
        ctx.failed += 1
    last = {}
    for p in progress:
        last[p['id']] = p
    state = [op for p in last.values() for op in p.get('stateOperators', [])]
    ms = lambda key: sum(p['durationMs'].get(key, 0) for p in progress) / 1e3  # noqa: E731
    return {'streaming.batches': len(progress),
            'streaming.add_batch_s': ms('addBatch'),
            'streaming.commit_s': ms('walCommit') + ms('commitOffsets'),
            'streaming.state_rows': sum(op['numRowsTotal'] for op in state),
            'streaming.state_mb': sum(op['memoryUsedBytes'] for op in state) / 1e6}


def _join_metrics(build_s: float, candidates: float, matches: float) -> dict:
    return {'operators.spatial_join.build_s': build_s,
            'operators.spatial_join.candidate_rows': candidates,
            'operators.spatial_join.match_rows': matches,
            'operators.spatial_join.match_ratio': matches / candidates if candidates else 0.0}


def _dur(tracer: Tracer, path: str) -> float:
    """Duration of a span; 0 for one an exception skipped."""
    s = tracer.get(path)
    return s['t1'] - s['t0'] if s else 0.0


def _rate(fn, n: int, reps: int = 3) -> float:
    """Items per second of ``fn`` over ``n`` items, median of ``reps``."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return n / statistics.median(times)


def _maybe(tracer, name):
    return tracer.span(name) if tracer is not None else nullcontext()
