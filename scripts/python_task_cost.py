"""Python-worker CPU per Spark task at the engine's Arrow UDF boundary.

Runs one engine pandas UDF (``vincenty_distance_udf``) over ``--partitions``
partitions of ``--rows`` rows in all, once to warm the workers and then
``--reps`` times, and prints one JSON line with the CPU seconds the PySpark
daemon and its workers spent per Python task. The CPU is read from ``/proc``
for this process's own descendants, as perfbench's tracer does, so the
worker layer is seen apart from the JVM and the driver.

    python scripts/python_task_cost.py [--cores 4] [--partitions 16]
                                       [--rows 1000] [--reps 5]

On a trivial UDF nearly all of the figure is fixed per-task work in the
worker (set-up, command deserialisation, Arrow framing), not row work.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.trace import descendants  # noqa: E402

_WORKER_ARGS = ('pyspark.daemon', 'pyspark.worker')


def python_worker_cpu_s() -> float:
    """User + system CPU seconds, reaped children included, of every live
    PySpark daemon and worker process below this one."""
    ticks = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f'/proc/{pid}/cmdline', 'rb') as f:
                argv = f.read().decode(errors='replace').split('\0')
            with open(f'/proc/{pid}/stat') as f:
                fields = f.read().rsplit(')', 1)[1].split()
        except OSError:
            continue
        if any(a in _WORKER_ARGS for a in argv):
            ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf('SC_CLK_TCK')


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('--cores', type=int, default=4)
    ap.add_argument('--partitions', type=int, default=16)
    ap.add_argument('--rows', type=int, default=1000)
    ap.add_argument('--reps', type=int, default=5)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from geostructures_spark.functions.geo import vincenty_distance_udf
    from geostructures_spark.plans.session import get_session

    spark = get_session(app='python_task_cost', cores=args.cores)
    vdist = vincenty_distance_udf()

    def job() -> None:
        # a new DataFrame per run: re-collecting one would reuse its
        # materialised shuffle stage and skip the Python stage
        df = (spark.range(0, args.rows, numPartitions=args.partitions)
              .select((F.col('id') % 360 - 180.0).alias('lon'),
                      (F.col('id') % 170 - 85.0).alias('lat')))
        df.select(vdist('lon', 'lat', F.lit(0.0), F.lit(0.0)).alias('d')).agg(F.sum('d')).collect()

    job()  # warm-up: start the daemon and the workers
    cpu0, t0 = python_worker_cpu_s(), time.perf_counter()
    for _ in range(args.reps):
        job()
    cpu1, wall = python_worker_cpu_s(), time.perf_counter() - t0
    tasks = args.reps * args.partitions
    print(json.dumps({
        'python': sys.version.split()[0], 'cores': args.cores,
        'partitions': args.partitions, 'rows': args.rows, 'reps': args.reps,
        'python_tasks': tasks,
        'worker_cpu_s': round(cpu1 - cpu0, 3),
        'worker_cpu_per_task_s': round((cpu1 - cpu0) / tasks, 4),
        'wall_per_job_s': round(wall / args.reps, 3),
    }))
    spark.stop()


if __name__ == '__main__':
    main()
