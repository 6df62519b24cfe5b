"""Repository benchmark: one named workload per run, in a fresh process.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 8 --trace 0

Run from the repository root. The run starts one Spark session with the
engine defaults (``plans.session.get_session(cores=nproc)``), sets up the
workload's inputs (three times; the median counts), runs its warm-up passes,
then drives the workload in a closed loop with one client for ``--seconds``
and checks every output against a reference computed another way. An
operation that raises or returns a wrong output counts as failed.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json; ``--trace 1``
enables the Spark event log, runs one extra pass with one job group per
layer call plus the workload's layer probes, and reports the per-layer
metrics. Human-readable lines go first; the last stdout line is the JSON
result. All temporary files live in a private directory under
``.perfbench/`` that is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
SETUP_REPS = 3


def _process_start() -> float:
    """Wall-clock start of this process, from /proc."""
    with open('/proc/self/stat') as f:
        start_ticks = int(f.read().rsplit(')', 1)[1].split()[19])
    with open('/proc/stat') as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith('btime'))
    return btime + start_ticks / os.sysconf('SC_CLK_TCK')


class Ctx:
    """Per-run state shared by the workload and the harness."""

    def __init__(self, seed: int, cores: int, run_dir: str):
        self.seed, self.cores, self.run_dir = seed, cores, run_dir
        self.spark = None
        self.attempted = self.failed = 0
        self.catalyst_ms = 0.0
        self.gen_rows_per_s: list[float] = []
        self.shapes_gen_s: list[float] = []


def _metric_specs(trace: bool) -> list[dict]:
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        spec = json.load(f)
    return spec['per_layer' if trace else 'end_to_end']


def _shutdown(spark) -> None:
    """Stop the session and wait for the JVM (and with it every Python
    worker) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, 'proc', None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _stop_stray_children(timeout_s: float = 10.0) -> None:
    """Kill whatever the session left behind and wait until it is gone."""
    from perfbench.trace import descendants
    pids = descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.time() + timeout_s
    for pid in pids:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            while os.path.exists(f'/proc/{pid}') and time.time() < deadline:
                time.sleep(0.05)


def run(args) -> dict:
    from perfbench.trace import Noise, eventlog_conf

    t_process = _process_start()
    noise = Noise()
    cores = os.cpu_count()
    run_dir = os.path.join(ROOT, '.perfbench', f'run-{os.getpid()}')
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ('local', 'warehouse', 'tmp', 'eventlog', 'inputs'):
        os.makedirs(os.path.join(run_dir, sub))
    # private temporary space for Spark, the JVM and Python; workers import the
    # engine from this checkout
    os.environ['SPARK_GRAFT_LOCAL_DIR'] = os.path.join(run_dir, 'local')
    os.environ['TMPDIR'] = os.path.join(run_dir, 'tmp')
    os.environ['PYTHONPATH'] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get('PYTHONPATH', '').split(os.pathsep) if p])
    conf = {'spark.sql.warehouse.dir': os.path.join(run_dir, 'warehouse'),
            'spark.sql.streaming.checkpointLocation': os.path.join(run_dir, 'checkpoint'),
            'spark.driver.extraJavaOptions': '-Djava.io.tmpdir=' + os.path.join(run_dir, 'tmp')}
    if args.trace:
        conf.update(eventlog_conf(os.path.join(run_dir, 'eventlog')))

    ctx = Ctx(args.seed, cores, run_dir)
    try:
        return _run(args, ctx, conf, t_process, noise)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, '.perfbench'))
        except OSError:
            pass


def _run(args, ctx: Ctx, conf: dict, t_process: float, noise) -> dict:
    from perfbench import workloads
    from perfbench.trace import EventLog, Tracer, peak_rss_mb, tree_cpu_s

    cores = ctx.cores
    spark = None
    try:
        from geostructures_spark.plans.session import get_session
        t0 = time.time()
        spark = ctx.spark = get_session(app='perfbench', cores=cores, extra_conf=conf)
        session_up = time.time()
        phases = {'session_s': session_up - t_process}
        wl = workloads.WORKLOADS[args.workload](ctx)
        mat_s = []
        for rep in range(SETUP_REPS):
            t = time.time()
            wl.materialize(os.path.join(ctx.run_dir, 'inputs', str(rep)))
            mat_s.append(time.time() - t)
        t = time.time()
        for _ in range(wl.warmup_passes):
            wl.run_pass()
        warmup_s = time.time() - t
        setup_s = (session_up - t_process) + statistics.median(mat_s) + warmup_s
        phases.update(materialize_s=mat_s, warmup_s=warmup_s)

        # closed loop, one client: whole passes until --seconds elapse, and at
        # least the workload's minimum pass count
        ops, pass_walls = [], []
        cpu0 = tree_cpu_s()
        t_loop = time.time()
        while time.time() - t_loop < args.seconds or len(pass_walls) < wl.min_passes:
            t = time.time()
            ops += wl.run_pass()
            pass_walls.append(time.time() - t)
        loop_cpu_s = tree_cpu_s() - cpu0
        measured_s = sum(latency for _, latency, _ in ops)

        layer, pass_ops = {}, []
        if args.trace:
            tracer = Tracer(spark)
            with tracer.span('pass'):
                pass_ops = wl.run_pass(tracer)
            layer.update(wl.probes(tracer))
        rss_mb = peak_rss_mb()

        t = time.time()
        ctx.attempted += len(ops) + len(pass_ops)
        try:
            ctx.failed += wl.check(ops + pass_ops)
        except Exception:
            traceback.print_exc()
            ctx.failed += len(ops) + len(pass_ops)
        phases['check_s'] = time.time() - t
        noise_rec = noise.record()
    finally:
        t = time.time()
        if spark is not None:
            _shutdown(spark)
        _stop_stray_children()
    phases['shutdown_s'] = time.time() - t

    if args.trace:
        log = EventLog(os.path.join(ctx.run_dir, 'eventlog'))
        p = tracer.get('pass')
        wall = p['t1'] - p['t0']
        layer.update(log.layer_stats('pass', cores, wall))
        layer.update(wl.layer_metrics(tracer, log, pass_ops))
        layer.update({
            'spark.catalyst_ms': ctx.catalyst_ms,
            'spark.driver_gap_s': wall - log.covered_s(p['t0'], p['t1']),
            'plans.session.start_s': session_up - t0,
            'sources.pages.gen_rows_per_s': statistics.median(ctx.gen_rows_per_s or [0.0]),
            'sources.shapes.gen_s': statistics.median(ctx.shapes_gen_s or [0.0]),
            'process.peak_rss_mb': rss_mb,
        })
        tracer.dump()

    n_items = sum(wl.items(out) or 0 for _, _, out in ops if out is not None)
    # wall-clock figures follow the host's co-tenant load, so they are
    # reported per layer (no bound); CPU time per op is what the host resolves
    run_metrics = {'loop.items_per_s': n_items / measured_s if measured_s > 0 else 0.0,
                   'loop.op_p50_s': statistics.median([lat for _, lat, _ in ops] or [0.0]),
                   'op_cpu_s': loop_cpu_s / max(1, len(ops)),
                   'setup_s': setup_s}
    print(json.dumps({'noise': noise_rec, 'workload': args.workload, 'seed': args.seed,
                      'pass_s': [round(x, 3) for x in pass_walls],
                      'op_s': [[name, round(latency, 3)] for name, latency, _ in ops],
                      'ops': len(ops), 'items': n_items,
                      'measured_s': measured_s, 'loop_cpu_s': loop_cpu_s,
                      'phases': {k: [round(x, 3) for x in v] if isinstance(v, list) else round(v, 3)
                                 for k, v in phases.items()}}))
    print(f'{args.workload}: {wl.item}_per_s = {run_metrics["loop.items_per_s"]:.4f} 1/s; '
          f'{wl.op}_p50_s = {run_metrics["loop.op_p50_s"]:.4f} s; '
          f'{wl.op}_cpu_s = {run_metrics["op_cpu_s"]:.4f} s; setup_s = {setup_s:.4f} s; '
          f'peak_rss_mb = {rss_mb:.1f} MB; '
          f'error_rate = {ctx.failed / max(1, ctx.attempted):.4f}')
    values = {**run_metrics, **layer}
    metrics = {m['name']: {'value': float(values.get(m['name'], 0.0)), 'unit': m['unit']}
               for m in _metric_specs(args.trace)}
    return {'correct': ctx.failed == 0, 'attempted': ctx.attempted,
            'failed': ctx.failed, 'metrics': metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('--workload', required=True)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in ('geostructures_spark', '__spark_entry__.py', 'bench.py',
                           'BENCHMARK.json') if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f'perfbench: run from the repository root; missing {missing}', file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f'perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}',
              file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == '__main__':
    sys.exit(main())
