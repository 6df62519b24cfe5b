"""Optimization-round profiling harness (guide §1.4: noop-sink isolation).

NOT part of the driver contract — bench.py is frozen; this file exists so
stage-level timings cited in OPTIMIZATION_r06.md are reproducible.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py [section]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def noop(df):
    df.write.format('noop').mode('overwrite').save()


def timed(spark, label, fn, n=2):
    best = float('inf')
    for _ in range(n):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    print(f'{label:45s} {best:7.3f}s')
    return best


def profile_minhash(spark, sf_dir):
    import __spark_entry__ as em
    from pyspark.sql import functions as F
    from geostructures_spark.operators.dedup import (
        _shingle_rows, minhash_signature, minhash_lsh_pairs)

    q = em.queries()['minhash_lsh_pairs']
    timed(spark, 'minhash_lsh_pairs full (collect)',
          lambda: q(spark, sf_dir).collect())
    em._load(spark, sf_dir, 'documents')
    docs = spark.table('documents')
    timed(spark, '  shingle rows (noop)',
          lambda: noop(_shingle_rows(docs, 5, 'doc_id', 'text')))
    sh = _shingle_rows(docs, 5, 'doc_id', 'text')
    timed(spark, '  shingle+md5 (noop)',
          lambda: noop(sh.withColumn('h', F.md5('shingle')).drop('shingle')))
    timed(spark, '  signature (noop)',
          lambda: noop(minhash_signature(docs, 4, 5)))
    timed(spark, '  pairs (noop)',
          lambda: noop(minhash_lsh_pairs(docs, n_bands=4, shingle_k=5,
                                         max_bucket=512)))


def profile_headline_noop(spark, sf_dir):
    """Each headline query through the noop sink (strips the .collect +
    driver-side result cost) for comparison with bench.py timings."""
    import __spark_entry__ as em
    qs = em.queries()
    import bench
    for name in bench.HEADLINE:
        timed(spark, f'{name} (noop)', lambda: noop(qs[name](spark, sf_dir)),
              n=3)


def main():
    sf_dir = os.environ.get('SPARK_GRAFT_SF_DIR', '/root/testdata/sf0.1')
    from geostructures_spark.plans.session import get_session
    spark = get_session(app='bench_extra')
    section = sys.argv[1] if len(sys.argv) > 1 else 'all'
    if section in ('all', 'minhash'):
        profile_minhash(spark, sf_dir)
    if section in ('noop',):
        profile_headline_noop(spark, sf_dir)
    spark.stop()


if __name__ == '__main__':
    main()
