"""SparkSession construction with the engine's scale defaults.

Local mode is the test/bench harness; the configs are chosen to behave the
same way on a multi-executor cluster (AQE on, skew-join handling on,
Arrow-batched Python UDF transport — SURVEY.md §4.2/§7).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ['get_session', 'DEFAULT_SHUFFLE_PARTITIONS']

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get('SPARK_GRAFT_SHUFFLE', '32'))

# Whole-stage codegen keeps compiled classes in an LRU keyed by the generated
# source text; Spark's default holds 100. The 12 headline queries generate
# 166 classes and the 129-query registry about 1,300, so with the default a
# warm pass evicted what the next query needed and recompiled 111-171
# classes (Janino, then the JIT again on the new bytecode). 2,048 holds the
# registry's working set; it is a static conf, fixed when the JVM starts.
# By default each class is named after its whole-stage codegen stage id.
# Under AQE that id follows the order in which a query's stages finish, so
# a warm run of bm25_topk, ngram_jaccard_pairs or dsir_logweights could
# name an identical class differently and compile it again (2-14 classes a
# run); `useIdInClassName=false` keeps the source, and so the key, stable.
CODEGEN_CACHE_MAX_ENTRIES = 2048


def get_session(app: str = 'geostructures_spark',
                cores: str | int | None = None,
                shuffle_partitions: int | None = None,
                extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: N for local[N]; defaults to $SPARK_GRAFT_CPUS or '*'.
    All settings hold for cluster mode too — nothing here is local-only.
    """
    cores = cores or os.environ.get('SPARK_GRAFT_CPUS', '*')
    shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder
        .master(f'local[{cores}]')
        .appName(app)
        .config('spark.sql.shuffle.partitions', str(shuffle))
        .config('spark.sql.session.timeZone', 'UTC')
        .config('spark.sql.codegen.cache.maxEntries', str(CODEGEN_CACHE_MAX_ENTRIES))
        .config('spark.sql.codegen.useIdInClassName', 'false')
        # AQE: runtime re-plan, partition coalescing, skew-join splitting —
        # the backstop for hot-cell skew on top of explicit salting
        .config('spark.sql.adaptive.enabled', 'true')
        .config('spark.sql.adaptive.coalescePartitions.enabled', 'true')
        .config('spark.sql.adaptive.skewJoin.enabled', 'true')
        # Arrow transport for pandas UDFs (the engine's kernel boundary)
        .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
        .config('spark.sql.execution.arrow.maxRecordsPerBatch', '65536')
        # generous driver memory in local mode (single-JVM harness)
        .config('spark.driver.memory', os.environ.get('SPARK_GRAFT_DRIVER_MEM', '48g'))
        .config('spark.ui.enabled', 'false')
    )
    # shuffle/spill dirs on tmpfs when available: this sandbox's disk writes
    # ~140 MB/s, which would serialize every shuffle; a real deployment
    # configures executor local dirs on NVMe the same way
    shm = os.environ.get('SPARK_GRAFT_LOCAL_DIR', '/dev/shm/spark-local')
    try:
        os.makedirs(shm, exist_ok=True)
        builder = builder.config('spark.local.dir', shm)
    except OSError:
        pass
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel('WARN')
    return spark
