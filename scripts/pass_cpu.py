"""CPU of each warm perfbench pass, split by process, JVM thread and JIT.

    python scripts/pass_cpu.py shape_join --seed 10001 --passes 5

Starts one Spark session as ``perfbench/run.py`` does (engine defaults,
``local[nproc]``), sets up the workload's inputs once, runs its warm-up
passes, then runs ``--passes`` passes and prints one JSON line per pass:

- ``cpu_s``: user + system CPU seconds of the driver Python process (its
  own; ``jstat`` runs as its child and is not counted), the JVM, and the
  PySpark daemon with its workers (reaped workers included);
- ``jvm_threads_s``: the JVM's CPU seconds by thread name, digits folded to
  ``N`` and cut to the kernel's 15 characters (``Thread-N`` are the py4j
  gateway threads, ``CN CompilerThre`` the C1 and C2 JIT threads). A
  thread that exits during the pass is missing from it, and the JVM stops
  idle JIT threads, so ``jit`` is the JIT figure to read;
- ``jit``: methods compiled and JIT seconds during the pass, from
  ``jstat -compiler``.

The last line checks every pass's output as perfbench does (``failed``
counts wrong or raised passes). perfbench itself is not changed; the
numbers come from ``/proc`` of this process's own descendants.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.trace import descendants  # noqa: E402

_TICK = os.sysconf('SC_CLK_TCK')
_WORKER_ARGS = ('pyspark.daemon', 'pyspark.worker')


def _stat_ticks(path: str, reaped: bool) -> int:
    """utime + stime (and cutime + cstime when ``reaped``) of a /proc stat."""
    with open(path) as f:
        fields = f.read().rsplit(')', 1)[1].split()
    return sum(int(v) for v in fields[11:15 if reaped else 13])


def _jvm_pid() -> int:
    for pid in descendants(os.getpid()):
        try:
            with open(f'/proc/{pid}/comm') as f:
                if f.read().strip() == 'java':
                    return pid
        except OSError:
            continue
    raise RuntimeError('no JVM below this process')


def snapshot(jvm: int) -> dict:
    """Cumulative CPU seconds by process and by JVM thread name, and the
    JIT counters."""
    cpu = Counter({'driver_python': _stat_ticks('/proc/self/stat', reaped=False) / _TICK,
                   'jvm': _stat_ticks(f'/proc/{jvm}/stat', reaped=False) / _TICK})
    for pid in descendants(os.getpid()):
        try:
            with open(f'/proc/{pid}/cmdline', 'rb') as f:
                argv = f.read().decode(errors='replace').split('\0')
            if any(a in _WORKER_ARGS for a in argv):
                cpu['python_workers'] += _stat_ticks(f'/proc/{pid}/stat', reaped=True) / _TICK
        except OSError:
            continue
    threads = Counter()
    for task in os.listdir(f'/proc/{jvm}/task'):
        try:
            with open(f'/proc/{jvm}/task/{task}/comm') as f:
                name = re.sub(r'\d+', 'N', f.read().strip())
            threads[name] += _stat_ticks(f'/proc/{jvm}/task/{task}/stat', reaped=False) / _TICK
        except OSError:
            continue
    out = subprocess.run(['jstat', '-compiler', str(jvm)], capture_output=True, text=True,
                         check=True).stdout.split('\n')
    row = dict(zip(out[0].split(), out[1].split()))
    return {'cpu': cpu, 'threads': threads,
            'compiles': int(row['Compiled']), 'jit_s': float(row['Time'])}


def delta(a: dict, b: dict, top: int) -> dict:
    threads = {k: round(v, 2) for k, v in (b['threads'] - a['threads']).most_common(top)}
    return {'cpu_s': {k: round(b['cpu'][k] - a['cpu'][k], 3)
                      for k in ('driver_python', 'jvm', 'python_workers')},
            'jvm_threads_s': threads,
            'jit': {'compiles': b['compiles'] - a['compiles'],
                    'jit_s': round(b['jit_s'] - a['jit_s'], 3)}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('workload')
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--passes', type=int, default=5)
    ap.add_argument('--top', type=int, default=12, help='thread names to print per pass')
    args = ap.parse_args()

    from perfbench.run import Ctx
    from perfbench.workloads import WORKLOADS

    run_dir = tempfile.mkdtemp(prefix='pass_cpu-')
    os.environ['SPARK_GRAFT_LOCAL_DIR'] = os.path.join(run_dir, 'local')
    os.environ['PYTHONPATH'] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get('PYTHONPATH', '').split(os.pathsep) if p])
    spark = None
    try:
        from geostructures_spark.plans.session import get_session
        ctx = Ctx(args.seed, os.cpu_count(), run_dir)
        spark = ctx.spark = get_session(
            app='pass_cpu', cores=ctx.cores,
            extra_conf={'spark.sql.warehouse.dir': os.path.join(run_dir, 'warehouse')})
        wl = WORKLOADS[args.workload](ctx)
        wl.materialize(os.path.join(run_dir, 'inputs'))
        for _ in range(wl.warmup_passes):
            wl.run_pass()
        jvm = _jvm_pid()
        ops = []
        for i in range(args.passes):
            before = snapshot(jvm)
            ops += wl.run_pass()
            print(json.dumps({'pass': i, **delta(before, snapshot(jvm), args.top)}), flush=True)
        print(json.dumps({'workload': args.workload, 'seed': args.seed,
                          'passes': args.passes, 'failed': wl.check(ops)}))
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == '__main__':
    sys.exit(main())
