"""The lazy zip-directory invalidation installed in PySpark worker processes
(geostructures_spark/plans/worker.py).

Each check runs in a fresh interpreter: the shim is decided once, when
``geostructures_spark`` is first imported, and the pytest process itself is
a plain user process that must keep the stock ``zipimport``.
"""

import json
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LAZY = sys.version_info < (3, 13)


def _run(code: str, *args: str, timeout: int = 120) -> dict:
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run([sys.executable, '-c', textwrap.dedent(code), *args],
                       capture_output=True, text=True, timeout=timeout, env=env, cwd=REPO)
    assert r.returncode == 0, r.stderr[-3000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


def test_worker_keeps_directory_until_archive_changes(tmp_path):
    zpath = tmp_path / 'lib.zip'
    out = _run("""
        import importlib, json, sys, zipfile
        import pyspark.worker  # noqa: F401  (this process acts as a worker)
        import zipimport
        import geostructures_spark
        shim = zipimport.zipimporter.invalidate_caches
        geostructures_spark.plans.worker.lazy_zip_invalidation()  # idempotent
        once = zipimport.zipimporter.invalidate_caches is shim
        zpath = sys.argv[1]
        with zipfile.ZipFile(zpath, 'w') as z:
            z.writestr('zmod_a.py', 'X = 1\\n')
        sys.path.insert(0, zpath)
        import zmod_a
        imp = sys.path_importer_cache[zpath]
        importlib.invalidate_caches()
        files = imp._files
        importlib.invalidate_caches()
        kept = imp._files is files
        with zipfile.ZipFile(zpath, 'a') as z:  # append in place
            z.writestr('zmod_b.py', 'X = 2\\n')
        importlib.invalidate_caches()
        import zmod_b
        print(json.dumps({'once': once, 'kept': kept, 'a': zmod_a.X, 'b': zmod_b.X,
                          'reread': imp._files is not files}))
    """, str(zpath))
    assert out == {'once': True, 'kept': LAZY, 'a': 1, 'b': 2, 'reread': True}


def test_plain_process_keeps_stock_zipimport():
    out = _run("""
        import json, zipimport
        stock = zipimport.zipimporter.invalidate_caches
        import geostructures_spark
        import geostructures_spark.operators.spatial_join  # noqa: F401
        geostructures_spark.plans.worker.lazy_zip_invalidation()
        print(json.dumps({'stock': zipimport.zipimporter.invalidate_caches is stock}))
    """)
    assert out == {'stock': True}


def test_spark_workers_install_it_driver_does_not():
    out = _run("""
        import json, os, sys, zipimport
        import pandas as pd
        from pyspark.sql import functions as F
        from geostructures_spark.kernels.geodesy import vincenty_distance
        from geostructures_spark.plans.session import get_session

        stock = zipimport.zipimporter.invalidate_caches
        spark = get_session(app='worker_imports', cores=2, shuffle_partitions=2)

        @F.pandas_udf('string')
        def probe(lon: pd.Series) -> pd.Series:
            # vincenty_distance pickles by reference: unpickling this UDF
            # imports the engine in the worker, as every engine UDF does
            import zipimport
            vincenty_distance(lon.to_numpy(), lon.to_numpy(), lon.to_numpy(), lon.to_numpy())
            shim = getattr(zipimport.zipimporter.invalidate_caches,
                           'lazy_zip_invalidation', False)
            lazy = sys.version_info < (3, 13)
            return pd.Series([f'{os.getpid()}:{shim}:{lazy}'] * len(lon), index=lon.index)

        rows = (spark.range(0, 64, numPartitions=8)
                .select(probe(F.col('id').cast('double')).alias('p'),
                        F.spark_partition_id().alias('part'))
                .distinct().collect())
        print(json.dumps({
            'parts': len({r.part for r in rows}),
            'worker_ok': all(r.p.split(':')[1] == r.p.split(':')[2] for r in rows),
            'driver_stock': zipimport.zipimporter.invalidate_caches is stock}))
        spark.stop()
    """, timeout=280)
    assert out['parts'] == 8
    assert out['worker_ok'], out
    assert out['driver_stock']
