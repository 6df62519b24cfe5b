"""Generated-code churn of warm query passes.

Runs the 12 ``bench.HEADLINE`` queries (or, with ``--registry``, every
``__spark_entry__.queries()`` entry) once cold and then ``--passes`` more
times, building and collecting each query, and prints for every warm pass:

- the Janino compiles Spark ran (``CodegenMetrics.METRIC_COMPILATION_TIME``
  count): a warm query whose classes are still in the codegen cache compiles
  none;
- the milliseconds the JVM's JIT compilers spent (``CompilationMXBean``),
  which include re-compiling the bytecode of every freshly compiled class;
- the compiles of each query that compiled anything.

    python scripts/codegen_churn.py [sf_dir] [--registry] [--passes 2]
                                    [--cores 4]

``sf_dir`` defaults to the benchmark's checked-in sf0.01 tables, which hold
the six tables the headline queries read; ``--registry`` needs a directory
with all nine tables ``__spark_entry__._load`` reads (TESTDATA.md).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('sf_dir', nargs='?', default=os.path.join(REPO, 'perfbench', 'data', 'sf0.01'))
    ap.add_argument('--registry', action='store_true', help='run every registry query')
    ap.add_argument('--passes', type=int, default=2, help='warm passes after the cold one')
    ap.add_argument('--cores', type=int, default=4)
    args = ap.parse_args()

    import __spark_entry__ as em
    from bench import HEADLINE
    from geostructures_spark.plans.session import get_session

    spark = get_session(app='codegen_churn', cores=args.cores)
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    queries = em.queries()
    names = list(queries) if args.registry else list(HEADLINE)

    for p in range(args.passes + 1):
        c0, j0, t0 = compiles.getCount(), jit.getTotalCompilationTime(), time.time()
        per_query = {}
        for name in names:
            before = compiles.getCount()
            queries[name](spark, args.sf_dir).collect()
            per_query[name] = compiles.getCount() - before
        label = 'cold' if p == 0 else f'warm {p}'
        print(f'{label}: {len(names)} queries, {compiles.getCount() - c0} Janino compiles, '
              f'JIT {jit.getTotalCompilationTime() - j0} ms, {time.time() - t0:.1f} s')
        if p:
            for name, n in per_query.items():
                if n:
                    print(f'  {name:32s} {n}')
    spark.stop()


if __name__ == '__main__':
    main()
